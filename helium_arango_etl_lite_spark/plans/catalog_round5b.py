"""Round-5 late additions: layout, sketches and robust statistics (its
ANN-recall, kNN-label and embedding-drift entries are in
catalog_similarity.py).

* ``zorder_layout_stats`` — Morton (Z-order) interleave of two
  dimensions as a clustering key, contrasted with a linear time layout:
  per-"file" min/max span fractions show Z-order bounding BOTH
  dimensions (the Delta/Iceberg OPTIMIZE ZORDER pruning argument —
  at 100 TB, file skipping is the first and cheapest "operator").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import EVENTS_NORM, load_events, load_table, register

# ---------------------------------------------------------------------------
# Z-order clustering key vs linear layout
# ---------------------------------------------------------------------------

_ZBITS = 4  # 16 buckets per dimension
_ZB = 1 << _ZBITS
_ZFILES_SHIFT = _ZB  # 256 zkeys / 16 files


def _zexpr(a: str, b: str) -> str:
    """Morton interleave of two {0..15} bucket ids: bit j of ``a`` lands
    at position 2j+1, bit j of ``b`` at 2j. Pure integer div/mod, so the
    expression is identical in Spark SQL and DuckDB."""
    terms = []
    for j in range(_ZBITS):
        terms.append(f"((({a} div {1 << j}) % 2) * {1 << (2 * j + 1)})")
        terms.append(f"((({b} div {1 << j}) % 2) * {1 << (2 * j)})")
    return " + ".join(terms)


def _zorder_sql() -> str:
    z = _zexpr("ubk", "hbk").replace(" div ", " // ")
    return f"""WITH {EVENTS_NORM},
base AS (SELECT user_id,
                CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hb
         FROM events_norm),
st AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
              min(hb) AS hmin, max(hb) AS hmax
       FROM base),
bb AS (SELECT user_id, hb, umin, umax, hmin, hmax,
              ((user_id - umin) * {_ZB}) // (umax - umin + 1) AS ubk,
              ((hb - hmin) * {_ZB}) // (hmax - hmin + 1) AS hbk
       FROM base, st),
bz AS (SELECT *, ({z}) AS zkey FROM bb),
zf AS (SELECT 'zorder' AS layout, (zkey // {_ZFILES_SHIFT})::BIGINT AS file_id,
              count(*)::BIGINT AS n_rows,
              round((max(user_id) - min(user_id) + 1)::DOUBLE
                    / (any_value(umax) - any_value(umin) + 1), 4) AS u_span_frac,
              round((max(hb) - min(hb) + 1)::DOUBLE
                    / (any_value(hmax) - any_value(hmin) + 1), 4) AS t_span_frac
       FROM bz GROUP BY 1, 2),
lf AS (SELECT 'time' AS layout, hbk::BIGINT AS file_id,
              count(*)::BIGINT AS n_rows,
              round((max(user_id) - min(user_id) + 1)::DOUBLE
                    / (any_value(umax) - any_value(umin) + 1), 4) AS u_span_frac,
              round((max(hb) - min(hb) + 1)::DOUBLE
                    / (any_value(hmax) - any_value(hmin) + 1), 4) AS t_span_frac
       FROM bz GROUP BY 1, 2)
SELECT * FROM zf UNION ALL SELECT * FROM lf"""


@register(
    "zorder_layout_stats",
    _zorder_sql(),
    doc="Z-order (Morton) clustering key over (user_id, event-hour) vs a "
        "linear time layout, evaluated by the statistic that matters for "
        "pruning: per-'file' min/max SPAN FRACTION of each dimension. "
        "Rows are range-assigned to 16 files by Z-key (2 high bits per "
        "dim) or by time bucket; Z-order files bound BOTH dims at ~1/4 "
        "span while time files bound only time — i.e. a predicate on "
        "EITHER column skips ~3/4 of Z-ordered files, which at 100 TB is "
        "the cheapest operator there is (Delta/Iceberg OPTIMIZE ZORDER "
        "rationale). Plan: one scalar min/max aggregate broadcast back, "
        "then pure integer bit arithmetic (div/mod — identical in "
        "DuckDB) and two key-partitioned aggregations. No window, no "
        "sort, no driver collect.",
    tags=("layout", "zorder", "agg"),
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    base = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hb"),
    )
    st = base.agg(
        F.min("user_id").alias("umin"), F.max("user_id").alias("umax"),
        F.min("hb").alias("hmin"), F.max("hb").alias("hmax"),
    )
    b = (
        base.crossJoin(F.broadcast(st))
        .withColumn("ubk", F.expr(f"((user_id - umin) * {_ZB}) div (umax - umin + 1)"))
        .withColumn("hbk", F.expr(f"((hb - hmin) * {_ZB}) div (hmax - hmin + 1)"))
        .withColumn("zkey", F.expr(_zexpr("ubk", "hbk")))
    )

    def spans(df: DataFrame, layout: str, file_col) -> DataFrame:
        return (
            df.groupBy(file_col.cast("long").alias("file_id"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.round(
                    (F.max("user_id") - F.min("user_id") + 1)
                    / (F.first("umax") - F.first("umin") + 1),
                    4,
                ).alias("u_span_frac"),
                F.round(
                    (F.max("hb") - F.min("hb") + 1)
                    / (F.first("hmax") - F.first("hmin") + 1),
                    4,
                ).alias("t_span_frac"),
            )
            .select(
                F.lit(layout).alias("layout"),
                "file_id", "n_rows", "u_span_frac", "t_span_frac",
            )
        )

    return spans(b, "zorder", F.expr(f"zkey div {_ZFILES_SHIFT}")).unionAll(
        spans(b, "time", F.col("hbk"))
    )


# ---------------------------------------------------------------------------
# mergeable-sketch family: histogram quantiles + bloom join prefilter
# ---------------------------------------------------------------------------

_HQ_BINS = 128
_HQ_QUANTILES = (50, 90, 95, 99)

_HQ_SQL = f"""WITH pc AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
                         FROM lineitem),
st AS (SELECT min(pc) AS minc, max(pc) AS maxc, count(*)::BIGINT AS n FROM pc),
b AS (SELECT ((pc - minc) * {_HQ_BINS}) // (maxc - minc + 1) AS bin,
             minc, maxc, n
      FROM pc, st),
bins AS (SELECT bin, count(*)::BIGINT AS cnt,
                any_value(minc) AS minc, any_value(maxc) AS maxc,
                any_value(n) AS n
         FROM b GROUP BY 1),
cum AS (SELECT bin, minc, maxc, n,
               sum(cnt) OVER (ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)::BIGINT AS cum
        FROM bins),
qv AS (SELECT unnest([{", ".join(str(q) for q in _HQ_QUANTILES)}]) AS q),
hits AS (SELECT qv.q, cum.bin, cum.minc, cum.maxc, cum.n
         FROM cum, qv WHERE 100 * cum.cum >= qv.q * cum.n)
SELECT q,
       min(bin)::BIGINT AS bin,
       round((any_value(minc)
              + (min(bin) * (any_value(maxc) - any_value(minc) + 1))
                // {_HQ_BINS}) / 100.0, 2) AS est_price
FROM hits GROUP BY 1"""


@register(
    "agg_histogram_quantiles",
    _HQ_SQL,
    doc="Mergeable-histogram quantile estimation (p50/p90/p95/p99 of "
        "l_extendedprice): integer-cent prices bin into 128 fixed-width "
        "buckets derived from a one-row min/max broadcast, per-bin "
        "counts partial-aggregate map-side (the sketch: O(bins) state "
        "per partition, cell-wise mergeable like the CMS/HLL entries), "
        "and the quantile readout is a cumulative sum over <=128 rows — "
        "bounded, like the ntile offset maps, never corpus-sized. The "
        "estimate is the bin's lower edge, exactly reproducible in "
        "integer arithmetic cross-engine. This is the shuffle-cheap "
        "complement to the exact agg_percentiles entry: at 100 TB the "
        "exact form sorts, the sketch ships 128 longs per partition.",
    tags=("agg", "sketch", "quantiles"),
)
def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc")
    )
    st = li.agg(
        F.min("pc").alias("minc"), F.max("pc").alias("maxc"),
        F.count("*").cast("long").alias("n"),
    )
    b = li.crossJoin(F.broadcast(st)).withColumn(
        "bin", F.expr(f"((pc - minc) * {_HQ_BINS}) div (maxc - minc + 1)")
    )
    bins = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("cnt"),
        F.first("minc").alias("minc"), F.first("maxc").alias("maxc"),
        F.first("n").alias("n"),
    )
    # bounded cumulative: <= _HQ_BINS rows ever enter this window
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.withColumn("cum", F.sum("cnt").over(w).cast("long"))
    qv = spark.createDataFrame([(q,) for q in _HQ_QUANTILES], "q int")
    hits = cum.crossJoin(F.broadcast(qv)).filter(
        100 * F.col("cum") >= F.col("q") * F.col("n")
    )
    return hits.groupBy("q").agg(
        F.min("bin").cast("long").alias("bin"),
        F.round(
            (
                F.first("minc")
                + F.expr(
                    f"(min(bin) * (first(maxc) - first(minc) + 1)) div {_HQ_BINS}"
                )
            )
            / 100.0,
            2,
        ).alias("est_price"),
    )


_BF_BITS = 65536
_BF_HASHES = 3


def _bf_hash_sql(expr: str, i: int) -> str:
    from ..functions.hashing import hash32_oracle_sql

    salted = expr + " || ':bf" + str(i) + "'"
    return f"({hash32_oracle_sql(salted)} % {_BF_BITS})"


def _bloom_sql() -> str:
    build_hashes = ", ".join(
        _bf_hash_sql("o_orderkey::VARCHAR", i) for i in range(_BF_HASHES)
    )
    probe_hashes = ", ".join(
        f"{_bf_hash_sql('l.l_orderkey::VARCHAR', i)} AS h{i}"
        for i in range(_BF_HASHES)
    )
    word_joins = " ".join(
        f"LEFT JOIN words w{i} ON w{i}.widx = pr.h{i} // 32"
        for i in range(_BF_HASHES)
    )
    probe_pass = " AND ".join(
        f"(coalesce(w{i}.wv, 0) & (1::BIGINT << (pr.h{i} % 32))) <> 0"
        for i in range(_BF_HASHES)
    )
    return f"""WITH build AS (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT'),
bits_t AS (SELECT DISTINCT unnest([{build_hashes}]) AS bit FROM build),
words AS (SELECT bit // 32 AS widx,
                 bit_or(1::BIGINT << (bit % 32)) AS wv
          FROM bits_t GROUP BY 1),
truth AS (SELECT DISTINCT o_orderkey FROM build),
pr AS (SELECT l.l_orderkey, {probe_hashes} FROM lineitem l),
probe AS (SELECT pr.l_orderkey,
                 ({probe_pass}) AS bloom_pass,
                 t.o_orderkey IS NOT NULL AS is_match
          FROM pr
          {word_joins}
          LEFT JOIN truth t ON t.o_orderkey = pr.l_orderkey)
SELECT count(*)::BIGINT AS n_probe,
       sum(CASE WHEN is_match THEN 1 ELSE 0 END)::BIGINT AS n_true,
       sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END)::BIGINT AS n_pass,
       sum(CASE WHEN bloom_pass AND NOT is_match THEN 1 ELSE 0 END)::BIGINT
         AS n_false_pos,
       round(sum(CASE WHEN bloom_pass AND NOT is_match THEN 1 ELSE 0 END)
             / greatest(1, sum(CASE WHEN NOT is_match THEN 1 ELSE 0 END))::DOUBLE,
             6) AS fp_rate
FROM probe"""


@register(
    "join_bloom_prefilter",
    _bloom_sql(),
    doc="Explicit Bloom-filter join prefilter, measured: the build side "
        "(urgent orders) hashes each key into 3 positions of a 64 Ki-bit "
        "filter PACKED into 32-bit words (<= 2048 (widx, word) rows, "
        "bit_or-aggregated — ~the size Spark's own runtime bloom filter "
        "broadcasts); the probe side tests each position with a "
        "broadcast hash lookup of its word + one AND mask — O(1) per "
        "row. (The first cut broadcast the set-bit POSITIONS as one "
        "array and used array_contains — a linear scan over ~50k "
        "elements per probe per hash that soaked 7.6 us/row at x100; "
        "the packed-word form is the fix, re-soaked 13.6x faster at "
        "x100 with identical pass counts — SCALE_SOAK.md.) "
        "Passing rows survive BEFORE any shuffle, which is the entire "
        "economics of runtime filtering at 100 TB. The query reports "
        "what a deployment must monitor: probe count, true matches (no "
        "false negatives by construction — pinned by n_pass >= n_true), "
        "bloom passes, and the observed false-positive rate. Hashes are "
        "the repo's md5-derived hash32, so DuckDB reproduces every bit.",
    tags=("join", "sketch", "prefilter"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash32

    def bf_hash(col, i: int):
        return hash32(F.concat(col.cast("string"), F.lit(f":bf{i}"))) % _BF_BITS

    build = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    bits_t = build.select(
        F.explode(
            F.array(*[bf_hash(F.col("o_orderkey"), i) for i in range(_BF_HASHES)])
        ).alias("bit")
    ).distinct()
    words = bits_t.groupBy(F.expr("bit div 32").alias("widx")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT))"))
        .alias("wv")
    )
    truth = build.distinct().withColumnRenamed("o_orderkey", "t_orderkey")

    pr = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        *[bf_hash(F.col("l_orderkey"), i).alias(f"h{i}") for i in range(_BF_HASHES)],
    )
    for i in range(_BF_HASHES):
        wi = words.select(
            F.col("widx").alias(f"widx{i}"), F.col("wv").alias(f"wv{i}")
        )
        pr = pr.join(
            F.broadcast(wi),
            F.expr(f"h{i} div 32") == F.col(f"widx{i}"),
            "left",
        )
    pass_expr = None
    for i in range(_BF_HASHES):
        bit_set = (
            F.coalesce(F.col(f"wv{i}"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(h{i} % 32 AS INT))")
            )
            != 0
        )
        pass_expr = bit_set if pass_expr is None else (pass_expr & bit_set)
    probe = pr.join(
        F.broadcast(truth),
        F.col("l_orderkey") == F.col("t_orderkey"),
        "left",
    ).select(
        "l_orderkey",
        pass_expr.alias("bloom_pass"),
        F.col("t_orderkey").isNotNull().alias("is_match"),
    )
    return probe.agg(
        F.count("*").cast("long").alias("n_probe"),
        F.sum(F.col("is_match").cast("long")).cast("long").alias("n_true"),
        F.sum(F.col("bloom_pass").cast("long")).cast("long").alias("n_pass"),
        F.sum((F.col("bloom_pass") & ~F.col("is_match")).cast("long"))
        .cast("long")
        .alias("n_false_pos"),
        F.round(
            F.sum((F.col("bloom_pass") & ~F.col("is_match")).cast("long"))
            / F.greatest(
                F.lit(1), F.sum((~F.col("is_match")).cast("long"))
            ),
            6,
        ).alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# HLL set algebra: union by register max, intersection by inclusion-exclusion
# ---------------------------------------------------------------------------


def _hll_algebra_sql() -> str:
    from ..operators.aggregates import HLL_M, HLL_NUMERATOR

    est = (
        f"CASE WHEN raw <= {2.5 * HLL_M!r} AND ({HLL_M} - nb) > 0 "
        f"THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - nb)::DOUBLE) "
        f"ELSE raw END"
    )
    return f"""WITH tt AS (SELECT min(o_orderpriority) AS ta,
                 max(o_orderpriority) AS tb FROM orders),
base AS (SELECT CASE WHEN o_orderpriority = ta THEN 'a' ELSE 'b' END AS tag,
                o_custkey AS user_id
         FROM orders, tt WHERE o_orderpriority IN (ta, tb)),
h AS (SELECT tag, ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
      FROM base),
p AS (SELECT tag, hv % {HLL_M} AS b,
             CASE WHEN hv // {HLL_M} = 0 THEN 55
                  ELSE 55 - length(bin(hv // {HLL_M})) END AS rho
      FROM h),
regs_ab AS (SELECT tag, b, max(rho) AS r FROM p GROUP BY 1, 2),
regs AS (SELECT tag, b, r FROM regs_ab
         UNION ALL
         SELECT 'u' AS tag, b, max(r) AS r FROM regs_ab GROUP BY 2),
hll AS (SELECT tag, sum((1::BIGINT << (55 - r)))::BIGINT AS zp,
               count(*)::BIGINT AS nb
        FROM regs GROUP BY 1),
est AS (SELECT tag, {est} AS e
        FROM (SELECT tag, nb,
                     {HLL_NUMERATOR!r}
                       / ((zp + ({HLL_M} - nb) * (1::BIGINT << 55))::DOUBLE) AS raw
              FROM hll)),
ew AS (SELECT max(CASE WHEN tag = 'a' THEN e END) AS ea,
              max(CASE WHEN tag = 'b' THEN e END) AS eb,
              max(CASE WHEN tag = 'u' THEN e END) AS eu
       FROM est),
ex AS (SELECT count(DISTINCT CASE WHEN tag = 'a' THEN user_id END)::BIGINT AS n_a,
              count(DISTINCT CASE WHEN tag = 'b' THEN user_id END)::BIGINT AS n_b,
              count(DISTINCT CASE WHEN tag = 'a' THEN user_id END
                    )::BIGINT
                + count(DISTINCT CASE WHEN tag = 'b' THEN user_id END)::BIGINT
                - count(DISTINCT user_id)::BIGINT AS n_inter
       FROM base)
SELECT ex.n_a, ex.n_b, ex.n_inter,
       round(ew.ea, 4) AS hll_a,
       round(ew.eb, 4) AS hll_b,
       round(ew.eu, 4) AS hll_union,
       round(ew.ea + ew.eb - ew.eu, 4) AS hll_inter,
       round(abs(ew.ea + ew.eb - ew.eu - ex.n_inter::DOUBLE)
             / greatest(1, ex.n_inter)::DOUBLE, 4) AS rel_err
FROM ex, ew"""


@register(
    "agg_hll_set_algebra",
    _hll_algebra_sql(),
    doc="HLL register SET ALGEBRA over two customer segments (placed an "
        "URGENT order / placed a LOW order — partially overlapping): the "
        "union's registers are the CELL-WISE MAX of the two sketches "
        "(never the values — the property that lets pre-aggregated "
        "per-shard/per-day sketches answer cross-set questions at 100 TB "
        "without rescanning), and the intersection estimate follows by "
        "inclusion-exclusion |A|+|B|-|A U B|, reported beside the exact "
        "counts and relative error. All register arithmetic is the "
        "integer-exact HLL of agg_hll_distinct "
        "(operators/aggregates.py:hll_distinct), so the whole algebra "
        "sits under the driver's value hash.",
    tags=("agg", "sketch", "setops"),
)
def agg_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash64
    from ..operators.aggregates import HLL_M, HLL_NUMERATOR

    od = load_table(spark, sf_dir, "orders")
    tt = od.agg(
        F.min("o_orderpriority").alias("ta"),
        F.max("o_orderpriority").alias("tb"),
    )
    base = (
        od.crossJoin(F.broadcast(tt))
        .filter(
            (F.col("o_orderpriority") == F.col("ta"))
            | (F.col("o_orderpriority") == F.col("tb"))
        )
        .select(
            F.when(F.col("o_orderpriority") == F.col("ta"), F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("tag"),
            F.col("o_custkey").alias("user_id"),
        )
    )
    h = hash64(F.col("user_id").cast("string"))
    p = base.select(
        "tag",
        (h % HLL_M).alias("b"),
        F.when(F.floor(h / HLL_M) == 0, F.lit(55))
        .otherwise(F.lit(55) - F.length(F.bin(F.floor(h / HLL_M))).cast("long"))
        .alias("rho"),
    )
    regs_ab = p.groupBy("tag", "b").agg(F.max("rho").alias("r"))
    regs_u = regs_ab.groupBy("b").agg(F.max("r").alias("r")).select(
        F.lit("u").alias("tag"), "b", "r"
    )
    regs = regs_ab.select("tag", "b", "r").unionAll(regs_u)
    hll = regs.groupBy("tag").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - r AS INT))")
        ).alias("zp"),
        F.count(F.lit(1)).alias("nb"),
    )
    v_empty = F.lit(HLL_M) - F.col("nb")
    raw = F.lit(HLL_NUMERATOR) / (
        (F.col("zp") + v_empty * F.lit(1 << 55)).cast("double")
    )
    e = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v_empty > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_empty.cast("double")),
    ).otherwise(raw)
    ew = hll.select("tag", e.alias("e")).agg(
        F.max(F.when(F.col("tag") == "a", F.col("e"))).alias("ea"),
        F.max(F.when(F.col("tag") == "b", F.col("e"))).alias("eb"),
        F.max(F.when(F.col("tag") == "u", F.col("e"))).alias("eu"),
    )
    ex = base.agg(
        F.count_distinct(
            F.when(F.col("tag") == "a", F.col("user_id"))
        ).cast("long").alias("n_a"),
        F.count_distinct(
            F.when(F.col("tag") == "b", F.col("user_id"))
        ).cast("long").alias("n_b"),
        (
            F.count_distinct(F.when(F.col("tag") == "a", F.col("user_id")))
            + F.count_distinct(F.when(F.col("tag") == "b", F.col("user_id")))
            - F.count_distinct(F.col("user_id"))
        ).cast("long").alias("n_inter"),
    )
    return ex.crossJoin(F.broadcast(ew)).select(
        "n_a", "n_b", "n_inter",
        F.round(F.col("ea"), 4).alias("hll_a"),
        F.round(F.col("eb"), 4).alias("hll_b"),
        F.round(F.col("eu"), 4).alias("hll_union"),
        F.round(F.col("ea") + F.col("eb") - F.col("eu"), 4).alias("hll_inter"),
        F.round(
            F.abs(F.col("ea") + F.col("eb") - F.col("eu") - F.col("n_inter").cast("double"))
            / F.greatest(F.lit(1), F.col("n_inter")).cast("double"),
            4,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# exact median via iterative range refinement (selection without a sort)
# ---------------------------------------------------------------------------

_MED_BINS = 128

_MED_SQL = """WITH pc AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
                         FROM lineitem),
st AS (SELECT count(*)::BIGINT AS n, (count(*) + 1) // 2 AS k FROM pc),
r AS (SELECT pc.pc, row_number() OVER (ORDER BY pc.pc) AS rn FROM pc)
SELECT st.n, st.k, r.pc AS median_c,
       round(r.pc / 100.0, 2) AS median_price
FROM st JOIN r ON r.rn = st.k"""


@register(
    "agg_exact_median_refine",
    _MED_SQL,
    doc="EXACT global median (lower order statistic at rank (n+1)//2) "
        "WITHOUT a global sort: two 128-bin histogram passes narrow the "
        "candidate range by 128x each (every pass is a pushdown-filtered "
        "scan + map-side partial counts; only the <=128-row bin table "
        "reaches the driver), then the surviving sliver — expected "
        "n/16384 of the data — is finished with a TakeOrdered of its "
        "local rank. The oracle computes the same order statistic with "
        "a brute-force row_number, so the refinement is value-hash "
        "verified against the definition. This is the selection-"
        "algorithm complement to agg_histogram_quantiles (approximate, "
        "one pass) and agg_percentiles (exact, sort-based): at 100 TB "
        "an exact quantile is O(passes) cheap scans, never a sort. "
        "Driver involvement is bounded at O(bins) per pass (the same "
        "control-plane budget as the ntile offset maps); the final "
        "TakeOrdered is bounded by the sliver's local rank, which "
        "heavy value-skew can inflate — the histogram pass makes that "
        "skew visible before the finish step pays for it.",
    tags=("agg", "quantiles", "selection"),
)
def agg_exact_median_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")

    def ranged(lo_c: int, hi_c: int) -> DataFrame:
        # Conservative RAW-column pre-filter so the range reaches the
        # parquet scan as PushedFilters (a predicate on the computed
        # cents column would not push), then the exact cents filter on
        # top. round() is half-up, so [lo-1, hi+1] cents on the raw
        # price is a strict superset of the cents range.
        return (
            src.filter(
                (F.col("l_extendedprice") >= F.lit((lo_c - 1) / 100.0))
                & (F.col("l_extendedprice") <= F.lit((hi_c + 1) / 100.0))
            )
            .select(
                F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc")
            )
            .filter((F.col("pc") >= lo_c) & (F.col("pc") <= hi_c))
        )

    pc = src.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc")
    )
    st = pc.agg(
        F.count("*").cast("long").alias("n"),
        F.min("pc").alias("lo"), F.max("pc").alias("hi"),
    ).collect()[0]
    n, lo, hi = st["n"], st["lo"], st["hi"]
    k = (n + 1) // 2  # global rank of the lower median

    # Refinement passes: each histogram narrows [lo, hi] by ~1/BINS and
    # rebases k to a rank within the surviving bin. Loop until the range
    # is narrower than the bin count (then one bounded finish).
    while hi - lo + 1 > _MED_BINS:
        w = (hi - lo + _MED_BINS) // _MED_BINS  # ceil(range / BINS)
        hist = (
            ranged(lo, hi)
            .groupBy(((F.col("pc") - F.lit(lo)) / F.lit(w)).cast("long").alias("b"))
            .agg(F.count("*").alias("c"))
            .collect()  # <= BINS rows: bounded driver control plane
        )
        counts = {r["b"]: r["c"] for r in hist}
        cum = 0
        for b in sorted(counts):
            if cum + counts[b] >= k:
                k -= cum
                lo, hi = lo + b * w, min(hi, lo + b * w + w - 1)
                break
            cum += counts[b]
    # Finish: k-th smallest of the sliver = max of its k-row TakeOrdered.
    sliver = ranged(lo, hi)
    kth = sliver.orderBy("pc").limit(k).agg(F.max("pc").alias("median_c"))
    return kth.select(
        F.lit(n).cast("long").alias("n"),
        F.lit((n + 1) // 2).cast("long").alias("k"),
        F.col("median_c"),
        F.round(F.col("median_c") / 100.0, 2).alias("median_price"),
    )
