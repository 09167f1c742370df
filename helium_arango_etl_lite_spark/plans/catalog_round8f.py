"""Round-8 session-2 catalog, part 4: temporal-dimension lookup and a
second inequality index.

* ``join_scd2_lookup`` — the point-in-time dimension join every
  warehouse runs against an SCD2 table: each event resolves to the
  version whose [valid_from, valid_to) interval contains its
  timestamp. The oracle states the inequality join; Spark runs the
  union-sort-backfill form (one sorted pass, no range join) — the
  join_asof pattern applied to the dimension scd2_build constructs,
  closing the build->consume loop.
* ``agg_theil_index`` — Theil inequality index per event type,
  computed (like the rewritten Gini) from the (type, value) COUNT
  table: the distinct-value grid bounds all post-shuffle work by the
  value domain, not the corpus.

Reference parity note: the reference ETL has none of these; they
extend the analytics families (SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog_round8c import _SCD2_SQL, scd2_build
from .registry import EVENTS_NORM, load_events, register

# ---------------------------------------------------------------------------
# SCD2 point-in-time lookup (the consume side of scd2_build)
# ---------------------------------------------------------------------------

_SCD2_LOOKUP_SQL = f"""
WITH dim AS ({_SCD2_SQL}),
{EVENTS_NORM}
SELECT e.event_id, e.user_id, e.ts, dim.attr, dim.version
FROM events_norm e
JOIN dim ON dim.user_id = e.user_id
        AND dim.valid_from <= e.ts
        AND (dim.valid_to IS NULL OR e.ts < dim.valid_to)"""


@register(
    "join_scd2_lookup",
    _SCD2_LOOKUP_SQL,
    doc="Point-in-time lookup against the SCD2 dimension scd2_build "
        "constructs: each event resolves to the version active at its "
        "timestamp (valid_from <= ts < valid_to) — the canonical "
        "as-of-date dimension join. The oracle states the INEQUALITY "
        "join; Spark never runs one: dimension change rows and event "
        "rows union into one (user, ts)-sorted stream (dimension rows "
        "first at equal ts, then by version, so the event that caused "
        "a change sees the NEW version — exactly the interval "
        "semantics) and last(ignorenulls) backfills the active "
        "version — the join_asof pattern. ONE user-keyed shuffle "
        "carries the scd2 window, the union, and the backfill window "
        "(same key); no range join, no per-interval explode. Every "
        "event matches because its user's first event IS a change "
        "point — the oracle's inner join returns exactly one row per "
        "event, which the row-count gate verifies.",
    tags=("join", "etl", "temporal"),
)
def join_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = scd2_build(spark, sf_dir).select(
        "user_id",
        F.col("valid_from").alias("ts"),
        "attr",
        "version",
        F.lit(1).alias("is_dim"),
        F.lit(None).cast("long").alias("event_id"),
    )
    ev = load_events(spark, sf_dir).select(
        "user_id",
        "ts",
        F.lit(None).cast("string").alias("attr"),
        F.lit(None).cast("long").alias("version"),
        F.lit(0).alias("is_dim"),
        "event_id",
    )
    u = dim.unionByName(ev)
    # dim rows sort before events at the same ts (is_dim desc), and
    # among dim rows the later version wins (version asc: last() takes
    # the final non-null in frame order)
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(),
            F.col("is_dim").desc(),
            F.col("version").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        "user_id",
        "ts",
        "is_dim",
        "event_id",
        F.last("attr", ignorenulls=True).over(w).alias("attr"),
        F.last("version", ignorenulls=True).over(w).alias("version"),
    )
    return filled.filter(F.col("is_dim") == 0).select(
        "event_id", "user_id", "ts", "attr", "version"
    )


# ---------------------------------------------------------------------------
# Theil inequality index from the distinct-value count table
# ---------------------------------------------------------------------------

_THEIL_SQL = f"""
WITH {EVENTS_NORM},
e AS (SELECT event_type, round(value * 100)::BIGINT AS xc
      FROM events_norm),
pv AS (SELECT event_type, xc, count(*)::BIGINT AS k
       FROM e GROUP BY 1, 2),
s AS (SELECT event_type, sum(k)::BIGINT AS n, sum(k * xc)::BIGINT AS sx
      FROM pv GROUP BY 1)
SELECT pv.event_type,
       min(s.n)::BIGINT AS n,
       sum(floor(pv.k * (pv.xc * s.n / s.sx::DOUBLE)
                 * ln(pv.xc * s.n / s.sx::DOUBLE) * 1000000
                 + 0.5)::BIGINT)::BIGINT AS theil_sum6
FROM pv JOIN s USING (event_type)
GROUP BY 1"""


@register(
    "agg_theil_index",
    _THEIL_SQL,
    doc="Theil inequality index per event type, T = (1/n) sum (x/mu) "
        "ln(x/mu) — theil_sum6/(n*1e6) is T, 0 = equal, ln(n) = one "
        "holder. The decomposable complement to agg_gini_by_group "
        "(Theil splits into within/between-group terms; Gini does "
        "not), built on the SAME distinct-value-table discipline: one "
        "(type, value) partial-agg shuffle, totals and every term on "
        "the cents-domain-bounded grid. Each distinct value's term is "
        "fixed-pointed (floor(x*1e6+0.5), can be negative for x < mu — "
        "floor(+0.5) is round-half-up on both engines), so the "
        "per-type readout is a BIGINT sum no aggregation order can "
        "move. Values are cents >= 1, so ln is always finite.",
    tags=("agg", "analytics"),
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    e = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
    )
    pv = e.groupBy("event_type", "xc").agg(
        F.count(F.lit(1)).alias("k")
    )
    pv = pv.localCheckpoint(eager=False)  # feeds totals + the term scan
    s = pv.groupBy("event_type").agg(
        F.sum("k").alias("n"), F.sum(F.col("k") * F.col("xc")).alias("sx")
    )
    ratio = F.col("xc") * F.col("n") / F.col("sx").cast("double")
    term6 = F.floor(
        F.col("k") * ratio * F.log(ratio) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")
    return (
        pv.join(F.broadcast(s), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").cast("long").alias("n"),
            F.sum(term6).cast("long").alias("theil_sum6"),
        )
    )


# ---------------------------------------------------------------------------
# hyperparameter sweep: R models trained concurrently, one scan per step
# ---------------------------------------------------------------------------

_SWEEP_RATES = (0.2, 0.4, 0.8)  # even-final-digit rates: rate*g cannot
# land on a decimal tie at the 6th digit (the llm_logreg_train 0.4-not-
# 0.5 lesson applied to the whole grid)
_SWEEP_STEPS = 3


def _sweep_sql() -> str:
    from .catalog_round8b import _LR_FEAT_CTE, _lr_p

    parts = ["WITH " + _LR_FEAT_CTE]
    selects = []
    for ri, rate in enumerate(_SWEEP_RATES):
        parts.append(f""",
w{ri}_0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""")
        p = _lr_p()
        for t in range(_SWEEP_STEPS):
            parts.append(f""",
g{ri}_{t} AS (SELECT round(avg(({p} - y)), 6) AS g0,
                round(avg(({p} - y) * x1), 6) AS g1,
                round(avg(({p} - y) * x2), 6) AS g2,
                round(avg(({p} - y) * x3), 6) AS g3
         FROM feat, w{ri}_{t}),
w{ri}_{t + 1} AS (SELECT round(w0 - {rate} * g0, 6) AS w0,
                     round(w1 - {rate} * g1, 6) AS w1,
                     round(w2 - {rate} * g2, 6) AS w2,
                     round(w3 - {rate} * g3, 6) AS w3
              FROM w{ri}_{t}, g{ri}_{t})""")
        wf = f"w{ri}_{_SWEEP_STEPS}"
        parts.append(f""",
acc{ri} AS (SELECT round(avg(CASE WHEN ({p} >= 0.5) = (y > 0.5)
                              THEN 1.0 ELSE 0.0 END), 6) AS a
        FROM feat, {wf})""")
        selects.append(
            f"SELECT {rate!r}::DOUBLE AS rate, 0::BIGINT AS dim, w0 AS value,"
            f" 'weight' AS kind FROM {wf}"
        )
        for d, c in [(1, "w1"), (2, "w2"), (3, "w3")]:
            selects.append(
                f"SELECT {rate!r}::DOUBLE, {d}::BIGINT, {c}, 'weight' FROM {wf}"
            )
        selects.append(
            f"SELECT {rate!r}::DOUBLE, 4::BIGINT, a, 'accuracy' FROM acc{ri}"
        )
    parts.append("\n" + "\nUNION ALL ".join(selects))
    return "".join(parts)


@register(
    "llm_logreg_sweep",
    _sweep_sql(),
    doc=f"Hyperparameter sweep as ONE data pass per step: logistic "
        f"regression trained at {len(_SWEEP_RATES)} learning rates "
        f"{_SWEEP_RATES} simultaneously — each GD step computes ALL "
        "rates' gradients in a single partial-agg scan (12 rounded "
        "avgs in one Aggregate, one shuffle), because the expensive "
        "term in cluster training is the DATA PASS, not the per-row "
        "flops; a naive sweep runs R trainings = R*steps scans, this "
        "runs `steps` scans total regardless of grid size (the "
        "llm_logreg_train contract lifted to a model GRID — the "
        "driver holds R weight vectors between steps). Every rate has "
        "an even final digit so rate*gradient never lands on the "
        "6th-decimal round tie where Spark HALF_UP and DuckDB scaled-"
        "binary rounding diverge. Emits weights + train accuracy per "
        "rate; the oracle unrolls all three trajectories.",
    tags=("llm", "training", "iterative", "scale"),
)
def llm_logreg_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog_round8b import _lr_features, _lr_sigmoid
    from .registry import load_table

    feat = _lr_features(load_table(spark, sf_dir, "documents"))
    feat = feat.localCheckpoint(eager=True)
    ws = {ri: [0.0, 0.0, 0.0, 0.0] for ri in range(len(_SWEEP_RATES))}
    for _ in range(_SWEEP_STEPS):
        aggs = []
        for ri in range(len(_SWEEP_RATES)):
            p = _lr_sigmoid(ws[ri])
            d = p - F.col("y")
            aggs += [
                F.round(F.avg(d), 6).alias(f"g{ri}_0"),
                F.round(F.avg(d * F.col("x1")), 6).alias(f"g{ri}_1"),
                F.round(F.avg(d * F.col("x2")), 6).alias(f"g{ri}_2"),
                F.round(F.avg(d * F.col("x3")), 6).alias(f"g{ri}_3"),
            ]
        row = feat.agg(*aggs).collect()[0]  # ONE scan, all rates
        for ri, rate in enumerate(_SWEEP_RATES):
            ws[ri] = [
                round(ws[ri][d] - rate * row[f"g{ri}_{d}"], 6)
                for d in range(4)
            ]
    accs = feat.agg(
        *[
            F.round(
                F.avg(
                    F.when(
                        (_lr_sigmoid(ws[ri]) >= 0.5) == (F.col("y") > 0.5),
                        1.0,
                    ).otherwise(0.0)
                ),
                6,
            ).alias(f"a{ri}")
            for ri in range(len(_SWEEP_RATES))
        ]
    )
    out = None
    for ri, rate in enumerate(_SWEEP_RATES):
        for d in range(4):
            r = spark.range(1).select(
                F.lit(rate).cast("double").alias("rate"),
                F.lit(d).cast("long").alias("dim"),
                F.lit(ws[ri][d]).cast("double").alias("value"),
                F.lit("weight").alias("kind"),
            )
            out = r if out is None else out.unionAll(r)
        a = accs.select(
            F.lit(rate).cast("double").alias("rate"),
            F.lit(4).cast("long").alias("dim"),
            F.col(f"a{ri}").cast("double").alias("value"),
            F.lit("accuracy").alias("kind"),
        )
        out = out.unionAll(a)
    return out


# ---------------------------------------------------------------------------
# association rules: per-basket co-occurrence with support/confidence/lift
# ---------------------------------------------------------------------------

_MB_MIN = 5  # minimum pair count — the output bound

_MB_SQL = f"""
WITH {EVENTS_NORM},
b AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type
      FROM events_norm),
n AS (SELECT count(DISTINCT (user_id, day))::BIGINT AS n_baskets
      FROM b),
tc AS (SELECT event_type, count(*)::BIGINT AS n_t FROM b GROUP BY 1),
p AS (SELECT a.event_type AS ta, c.event_type AS tb
      FROM b a JOIN b c
        ON a.user_id = c.user_id AND a.day = c.day
       AND a.event_type < c.event_type),
pc AS (SELECT ta, tb, count(*)::BIGINT AS n_ab FROM p GROUP BY 1, 2)
SELECT pc.ta, pc.tb, pc.n_ab, x.n_t AS n_a, y.n_t AS n_b,
       n.n_baskets,
       floor(pc.n_ab * 1000000.0 / n.n_baskets + 0.5)::BIGINT
         AS support6,
       floor(pc.n_ab * 1000000.0 / x.n_t + 0.5)::BIGINT AS conf_ab6,
       floor(pc.n_ab * n.n_baskets * 1000000.0 / (x.n_t * y.n_t)
             + 0.5)::BIGINT AS lift6
FROM pc
JOIN tc x ON pc.ta = x.event_type
JOIN tc y ON pc.tb = y.event_type
CROSS JOIN n
WHERE pc.n_ab >= {_MB_MIN}"""


@register(
    "agg_market_basket",
    _MB_SQL,
    doc="Association rules over (user, day) baskets of event types: "
        "pair support, confidence A->B, and lift = P(AB)/(P(A)P(B)) — "
        "the classic market-basket/co-occurrence miner (lift > 1e6 "
        "fixed-point means the pair co-occurs above independence). "
        "DATAFLOW: ONE (user, day, type) distinct shuffle builds the "
        "basket table; the pair stage is a basket-keyed EQUI self-join "
        "whose per-basket fan-out is bounded by the type-alphabet "
        "(<= |T| choose 2 pairs per basket — never a corpus cross "
        "product), and supports/marginals are broadcast-sized "
        "aggregates of the basket table. EXACTNESS: counts are BIGINT; "
        "support/confidence/lift are fixed-pointed per OUTPUT row from "
        "integer ratios (floor(x*1e6+0.5) both engines) — no float "
        "aggregation anywhere. The min-count filter bounds the output "
        "at O(|T|^2).",
    tags=("agg", "analytics", "join"),
)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    b = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
    ).distinct()
    b = b.localCheckpoint(eager=False)  # feeds pairs + marginals + N
    n = b.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    tc = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = b.select("user_id", "day", F.col("event_type").alias("ta"))
    c = b.select("user_id", "day", F.col("event_type").alias("tb"))
    pc = (
        a.join(c, ["user_id", "day"])
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _MB_MIN)
    )
    x = tc.select(F.col("event_type").alias("ta"), F.col("n_t").alias("n_a"))
    y = tc.select(F.col("event_type").alias("tb"), F.col("n_t").alias("n_b"))
    out = (
        pc.join(F.broadcast(x), "ta")
        .join(F.broadcast(y), "tb")
        .crossJoin(F.broadcast(n))
    )

    def fp6(col):
        return F.floor(col + F.lit(0.5)).cast("long")

    return out.select(
        "ta", "tb", "n_ab", "n_a", "n_b", "n_baskets",
        fp6(F.col("n_ab") * 1_000_000.0 / F.col("n_baskets")).alias(
            "support6"
        ),
        fp6(F.col("n_ab") * 1_000_000.0 / F.col("n_a")).alias("conf_ab6"),
        fp6(
            F.col("n_ab") * F.col("n_baskets") * 1_000_000.0
            / (F.col("n_a") * F.col("n_b"))
        ).alias("lift6"),
    )


# ---------------------------------------------------------------------------
# seasonal-naive forecast backtest (the baseline every forecaster must beat)
# ---------------------------------------------------------------------------

_FC_LAG_H = 24  # seasonal-naive: predict this hour with yesterday's hour

_FC_SQL = f"""
WITH {EVENTS_NORM},
h AS (SELECT event_type,
             epoch(date_trunc('hour', ts))::BIGINT AS hs,
             count(*)::BIGINT AS c
      FROM events_norm GROUP BY 1, 2),
j AS (SELECT a.event_type, a.c AS actual, b.c AS fcast
      FROM h a JOIN h b
        ON b.event_type = a.event_type
       AND b.hs = a.hs - {_FC_LAG_H * 3600})
SELECT event_type,
       count(*)::BIGINT AS n_scored,
       sum(abs(actual - fcast))::BIGINT AS abs_err_sum,
       sum(actual - fcast)::BIGINT AS bias_sum,
       floor(sum(abs(actual - fcast)) * 1000000.0 / count(*) + 0.5)::BIGINT
         AS mae6,
       floor(sum(abs(actual - fcast)) * 1000000.0 / sum(actual) + 0.5)::BIGINT
         AS wape6
FROM j GROUP BY 1"""


@register(
    "events_forecast_backtest",
    _FC_SQL,
    doc=f"Seasonal-naive forecast backtest: predict each (type, hour) "
        f"count with the value {_FC_LAG_H} h earlier and score MAE / "
        "bias / WAPE per type — the baseline every forecasting model "
        "must beat, and the continuous-eval job a production "
        "forecaster runs on itself (consumes the seasonality "
        "events_acf/events_seasonal_profile measure). DATAFLOW: ONE "
        "time-bucket partial-agg shuffle over the fact table; the "
        "hourly series is O(#hours x types) from then on, so the "
        "lag self-join and per-type scores are broadcast-sized at any "
        "corpus scale. EXACTNESS: errors are BIGINT sums of integer "
        "count differences; MAE/WAPE are fixed-pointed at the per-type "
        "readout — no float accumulation.",
    tags=("temporal", "agg", "analytics"),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    h = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hr")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "event_type", F.unix_timestamp("hr").alias("hs"), "c"
        )
    )
    h = h.localCheckpoint(eager=False)  # actual + forecast sides
    b = h.select(
        F.col("event_type").alias("bt"),
        (F.col("hs") + F.lit(_FC_LAG_H * 3600)).alias("bhs"),
        F.col("c").alias("fcast"),
    )
    j = h.join(
        F.broadcast(b),
        (F.col("event_type") == F.col("bt")) & (F.col("hs") == F.col("bhs")),
    ).select("event_type", F.col("c").alias("actual"), "fcast")
    err = F.col("actual") - F.col("fcast")
    s = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.abs(err)).alias("abs_err_sum"),
        F.sum(err).alias("bias_sum"),
        F.sum("actual").alias("actual_sum"),
    )
    return s.select(
        "event_type",
        "n_scored",
        F.col("abs_err_sum").cast("long").alias("abs_err_sum"),
        F.col("bias_sum").cast("long").alias("bias_sum"),
        F.floor(
            F.col("abs_err_sum") * 1_000_000.0 / F.col("n_scored")
            + F.lit(0.5)
        ).cast("long").alias("mae6"),
        F.floor(
            F.col("abs_err_sum") * 1_000_000.0 / F.col("actual_sum")
            + F.lit(0.5)
        ).cast("long").alias("wape6"),
    )


# ---------------------------------------------------------------------------
# WebDataset tar shards: pack with the stdlib, index with a real parser
# ---------------------------------------------------------------------------

_TAR_SQL = """
WITH d AS (SELECT source, doc_id, text, strlen(text)::BIGINT AS sz
           FROM documents),
o AS (SELECT source, doc_id, sz, md5(text) AS payload_md5,
             512 + 512 * ((sz + 511) // 512) AS span
      FROM d)
SELECT source,
       doc_id::VARCHAR || '.txt' AS member,
       coalesce(sum(span) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS header_offset,
       sz AS size,
       payload_md5
FROM o"""


@register(
    "llm_webdataset_index",
    _TAR_SQL,
    doc="WebDataset tar-shard round-trip — the container large-scale "
        "training data actually ships in: pack one USTAR tar per "
        "source under applyInPandas (group = shard, the real sharding "
        "dataflow; stdlib writer, zeroed metadata for determinism), "
        "then index every shard with a FROM-SCRATCH 512-block header "
        "walk (octal size decode, ustar checksum VERIFIED with the "
        "spaces-for-checksum-field rule, truncation guard) that md5s "
        "the payload bytes it sliced out by offset arithmetic. The "
        "oracle never sees a tar byte: it recomputes each member's "
        "header offset from pure arithmetic (cumulative 512-block "
        "spans in doc_id order) and the md5 from the source text — "
        "hash agreement certifies the writer, the parser, AND "
        "byte-exact extraction in one check (write-with-stdlib / "
        "read-with-own-parser cross-validation, the parse_ppm "
        "discipline applied to the archive layer). SCALE: packing is "
        "one shard-key shuffle; indexing is map-only over shard blobs; "
        "member offsets make range-request streaming reads possible — "
        "the point of a WebDataset index.",
    tags=("llm", "multimodal", "storage", "scale"),
)
def llm_webdataset_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.shards import index_tar_shards, pack_tar_shards
    from .registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    shards = pack_tar_shards(docs)
    return index_tar_shards(shards)


_TAR_FETCH_SQL = """
WITH d AS (SELECT source, doc_id, text FROM documents)
SELECT source,
       doc_id::VARCHAR || '.txt' AS member,
       strlen(text)::BIGINT AS size,
       md5(text) AS payload_md5
FROM d"""


@register(
    "llm_webdataset_fetch",
    _TAR_FETCH_SQL,
    doc="The CONSUME side of llm_webdataset_index: range-read every "
        "member back out of its shard blob with pure JVM byte slicing "
        "— substring(shard, header_offset + 513, size) — and md5 the "
        "slice; the oracle md5s the original text, so hash agreement "
        "proves the (offset, size) index supports exact range-request "
        "reads with NO decoder in the read path (what a WebDataset "
        "loader does against object storage: GET bytes=offset..., "
        "never parse). The parser runs once to BUILD the index; every "
        "subsequent read is codegen'd JVM substring+md5. The "
        "index->shard join is keyed on the shard id (broadcast at this "
        "shard count; co-partitioned by shard id at fleet scale).",
    tags=("llm", "multimodal", "storage"),
)
def llm_webdataset_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.shards import index_tar_shards, pack_tar_shards
    from .registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    shards = pack_tar_shards(docs)
    shards = shards.localCheckpoint(eager=False)  # feeds index + fetch
    idx = index_tar_shards(shards)
    fetched = idx.join(
        F.broadcast(shards.select("source", "shard")), "source"
    ).select(
        "source",
        "member",
        "size",
        F.md5(
            F.expr("substring(shard, header_offset + 513, size)")
        ).alias("payload_md5"),
    )
    return fetched


# ---------------------------------------------------------------------------
# end-to-end curation: filter -> exact dedup -> rendezvous shard -> pack
# ---------------------------------------------------------------------------

_E2E_MIN_TOKENS = 25


def _e2e_sql() -> str:
    from .catalog_round7 import _SHARD_HS

    return f"""
WITH f AS (SELECT doc_id, text FROM documents
           WHERE len(string_split(text, ' ')) >= {_E2E_MIN_TOKENS}),
fp AS (SELECT doc_id, text, md5(text) AS fp FROM f),
k AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY 1),
u AS (SELECT fp.doc_id, fp.text FROM fp JOIN k USING (fp, doc_id)),
h AS (SELECT doc_id, text, {_SHARD_HS} AS hs FROM u),
s AS (SELECT doc_id, text,
             (list_position(hs, list_max(hs)) - 1)::BIGINT AS shard
      FROM h),
per AS (SELECT shard, count(*)::BIGINT AS n_members,
               sum(strlen(text))::BIGINT AS payload_bytes,
               sum(512 + 512 * ((strlen(text) + 511) // 512))::BIGINT
                 AS content
        FROM s GROUP BY 1)
SELECT shard, n_members, payload_bytes,
       (((content + 1024 + 10239) // 10240) * 10240)::BIGINT
         AS shard_bytes
FROM per"""


@register(
    "llm_curation_end_to_end",
    _e2e_sql(),
    doc="The whole curation chain in one plan: token-count quality "
        "filter -> exact-dedup (md5 collapse, min-doc_id keeper) -> "
        "rendezvous shard assignment (llm_shard_assign's argmax "
        "weights) -> pack each shard into a REAL USTAR tar "
        "(pack_tar_shards) -> report per-shard members / payload "
        "bytes / BLOB SIZE. The last column is the strongest check in "
        "the chain: Spark MEASURES length(shard blob) as written by "
        "the stdlib tar writer, while the oracle PREDICTS it by pure "
        "arithmetic (512-block member spans + 1024 trailer, rounded "
        "up to the 10240 record size) — agreement certifies every "
        "stage's row set AND the container's byte layout at once. "
        "SCALE: filter and dedup are one md5-keyed shuffle; shard "
        "assignment is map-only; packing is one shard-keyed group "
        "pass. This is the job a 100 TB corpus runs nightly.",
    tags=("llm", "dedup", "sampling", "storage", "scale"),
)
def llm_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash32
    from ..operators.llm.shards import pack_tar_shards
    from .catalog_round7 import N_SHARDS
    from .registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    f = docs.filter(
        F.size(F.split("text", " ")) >= _E2E_MIN_TOKENS
    ).select("doc_id", "text")
    fp = f.withColumn("fp", F.md5("text"))
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    u = fp.join(keep, ["fp", "doc_id"]).select("doc_id", "text")
    hs = F.array(
        *[
            hash32(
                F.concat(F.lit(f"shard{s}:"), F.col("doc_id").cast("string"))
            )
            for s in range(N_SHARDS)
        ]
    )
    assigned = u.select(
        (F.array_position(hs, F.array_max(hs)) - 1)
        .cast("long")
        .cast("string")
        .alias("shard_id"),
        "doc_id",
        "text",
    )
    shards = pack_tar_shards(assigned, key_col="shard_id")
    payload = assigned.groupBy(
        F.col("shard_id").alias("source")
    ).agg(F.sum(F.octet_length("text")).alias("payload_bytes"))
    return (
        shards.join(payload, "source")
        .select(
            F.col("source").cast("long").alias("shard"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("payload_bytes").cast("long").alias("payload_bytes"),
            F.length("shard").cast("long").alias("shard_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# corrupt-shard quarantine split
# ---------------------------------------------------------------------------

def _shard_quarantine_sql() -> str:
    from ..functions.hashing import hash32_oracle_sql

    h = hash32_oracle_sql("'q:' || source")
    return f"""
WITH s AS (SELECT source, count(*)::BIGINT AS n_docs
           FROM documents GROUP BY 1)
SELECT source,
       CASE WHEN {h} % 3 = 0 THEN 'ok' ELSE 'quarantined' END AS status,
       CASE {h} % 3 WHEN 0 THEN 'ok'
                    WHEN 1 THEN 'checksum'
                    ELSE 'truncated' END AS reason,
       CASE WHEN {h} % 3 = 0 THEN n_docs ELSE NULL END AS n_members
FROM s"""


@register(
    "llm_shard_quarantine",
    _shard_quarantine_sql(),
    doc="Corrupt-shard quarantine: pack real tar shards, corrupt a "
        "deterministic hash-keyed subset (one flipped header byte -> "
        "the ustar checksum guard; a blob cut mid-member -> the "
        "truncation guard), and index through the quarantining walker "
        "— one row per shard, 'ok' with the member count or "
        "'quarantined' with the reason naming the exact parser guard "
        "that fired. The oracle pins the reason PER CORRUPTION CLASS "
        "from the same hash arithmetic, so the entry verifies WHICH "
        "error path rejected each shard, not just that something "
        "failed — the archive-layer member of the failure-isolation "
        "family (JSONL PERMISSIVE split, PPM/WAV quarantine): at fleet "
        "scale one rotted shard costs one quarantine row, never the "
        "nightly indexing job.",
    tags=("llm", "multimodal", "storage", "dq"),
)
def llm_shard_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash32
    from ..operators.llm.shards import (
        corrupt_shards, index_tar_shards_quarantine, pack_tar_shards,
    )
    from .registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    shards = pack_tar_shards(docs).withColumn(
        "cls",
        (hash32(F.concat(F.lit("q:"), F.col("source"))) % 3).cast("int"),
    )
    return index_tar_shards_quarantine(corrupt_shards(shards, "cls"))
