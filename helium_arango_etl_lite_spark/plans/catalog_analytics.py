"""Analytics catalog: funnels, cumulative windows, and sampling surfaces
layered over the reference's property-graph schema.

The consumer-side queries over the reference's payment/witness graph as
first-class Spark plans: funnel conversion over event streams, running
balances, CUBE summaries, semi-join activity filters, and stratified
hash sampling. The graph algorithms themselves are in catalog_graph.py.

Cross-engine exactness notes (the driver hashes values):
- Running sums accumulate in INTEGER cents (exact, order-independent);
  the final ``/100.0`` is a single IEEE division both engines agree on.
- Everything else is integer counts, min/max on timestamps, or 2/6 dp
  rounded terminal aggregates (the established catalog convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash32, hash32_oracle_sql
from ..operators.llm.dedup import word_shingles_all
from .registry import EVENTS_NORM, load_events, load_table, register


@register(
    "window_running_sum",
    """SELECT o_custkey, o_orderkey,
              sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              ) / 100.0 AS running_spend
       FROM orders""",
    doc="Cumulative spend per account over time — the running-balance "
        "view of the reference's payment ledger (amounts are integer "
        "bones, follower.py:151; we mirror that by accumulating integer "
        "cents so the prefix sum is exact and order-independent). One "
        "shuffle on the partition key; at 100 TB the sort is per-key "
        "within partitions, no global sort.",
    tags=("window", "temporal"),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w) / F.lit(100.0)).alias("running_spend"),
    )


@register(
    "agg_cube",
    """SELECT l_returnflag, l_linestatus,
              count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
       FROM lineitem
       GROUP BY CUBE (l_returnflag, l_linestatus)""",
    doc="CUBE over (returnflag, linestatus): all 2^2 grouping sets in one "
        "pass — the OLAP rollup board. Spark expands the sets and keeps "
        "partial aggregation, so the fact table is scanned once; "
        "grouping-set expansion multiplies shuffle rows by 4, still tiny "
        "versus the scan at 100 TB.",
    tags=("agg", "olap"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "join_semi_urgent",
    """SELECT c_custkey, c_name
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderpriority = '1-URGENT')""",
    doc="Left-semi join: accounts with at least one urgent order — the "
        "existence filter behind 'active vertex' extraction (the "
        "reference keeps a vertex iff an edge references it, "
        "follower.py:147,156). Semi join keeps only the probe side's "
        "columns, dedups build keys before the shuffle, and Catalyst "
        "broadcasts the filtered build side when small.",
    tags=("join", "semi"),
)
def join_semi_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(
        o, c["c_custkey"] == o["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "agg_event_funnel",
    f"""WITH {EVENTS_NORM},
       v AS (SELECT user_id, min(ts) AS t1 FROM events_norm
             WHERE event_type = 'view' GROUP BY 1),
       c AS (SELECT e.user_id, min(e.ts) AS t2
             FROM events_norm e JOIN v ON e.user_id = v.user_id
             WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
       p AS (SELECT e.user_id, min(e.ts) AS t3
             FROM events_norm e JOIN c ON e.user_id = c.user_id
             WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
       SELECT (SELECT count(*) FROM v) AS n_view,
              (SELECT count(*) FROM c) AS n_click,
              (SELECT count(*) FROM p) AS n_purchase""",
    doc="Ordered three-stage funnel (view -> click -> purchase, strictly "
        "increasing timestamps): per-stage min-timestamp aggregation and "
        "re-join on user_id. All three stages shuffle on the same key, so "
        "AQE reuses one exchange partitioning; counts are exact integers. "
        "At 100 TB the stage frames are pre-filtered slices of one scan.",
    tags=("agg", "temporal", "funnel"),
)
def agg_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    en = load_events(spark, sf_dir)
    v = (
        en.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        en.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        en.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase")))
    )


@register(
    "llm_sample_stratified",
    "SELECT doc_id, lang FROM documents "
    f"WHERE {hash32_oracle_sql('doc_id::VARCHAR')} % 100 < "
    "CASE WHEN lang = 'en' THEN 10 ELSE 40 END",
    doc="Stratified deterministic sampling: per-stratum hash-threshold "
        "rates (down-sample the dominant language, keep more of the "
        "tail) — the corpus-rebalancing primitive for training-data "
        "mixes. Pure per-row predicate: no shuffle, no RNG state, "
        "reproducible on any cluster size, and the filter pushes down "
        "to the scan.",
    tags=("llm", "sampling"),
)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(40))
    bucket = hash32(F.col("doc_id").cast("string")) % 100
    return d.filter(bucket < rate).select("doc_id", "lang")


@register(
    "llm_length_histogram",
    """SELECT n_chars // 100 AS bucket,
              count(*) AS n_docs,
              round(avg(n_chars), 6) AS avg_chars
       FROM documents GROUP BY 1""",
    doc="Document-length histogram (100-char buckets) with per-bucket "
        "mean — the corpus length profile a pipeline inspects before "
        "choosing truncation/packing lengths. Integer bucketing keys, "
        "partial-aggregated counts; single shuffle of one row per "
        "(partition, bucket).",
    tags=("llm", "profile"),
)
def llm_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.expr("n_chars div 100").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


@register(
    "window_moving_avg",
    """WITH daily AS (
         SELECT o_orderdate AS day,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
         FROM orders GROUP BY 1)
       SELECT day,
              round(sum(cents) OVER w / (100.0 * count(*) OVER w), 6)
                AS ma7_revenue
       FROM daily
       WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    doc="7-day moving average of daily revenue: pre-aggregate to one row "
        "per day (the scale-bearing shuffle), then a rows-frame window "
        "over the tiny daily series. Integer-cent sums keep the frame "
        "arithmetic exact; one division + 6 dp round at the end. The "
        "post-agg series is small at ANY input scale, so the unpartitioned "
        "window is a deliberate single-task stage, not a bottleneck.",
    tags=("window", "temporal"),
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(cents).alias("cents")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        F.round(
            F.sum("cents").over(w) / (F.lit(100.0) * F.count(F.lit(1)).over(w)), 6
        ).alias("ma7_revenue"),
    )


@register(
    "join_outer_reconcile",
    """WITH a AS (SELECT o_orderkey FROM orders
                  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
       b AS (SELECT o_orderkey FROM orders WHERE o_totalprice >= 100000)
       SELECT CASE WHEN a.o_orderkey IS NULL THEN 'only_right'
                   WHEN b.o_orderkey IS NULL THEN 'only_left'
                   ELSE 'both' END AS status,
              count(*) AS n
       FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
       GROUP BY 1""",
    doc="Snapshot reconciliation: full-outer join two keyed extracts and "
        "bucket rows into only_left / only_right / both — the audit twin "
        "of the reference's duplicate-ignore upsert (follower.py:205-207 "
        "silently drops collisions; this op makes the delta visible). "
        "Shuffle-on-key join; at 100 TB both sides hash-partition on the "
        "same key so the join is co-located, and the CASE + count folds "
        "into the join's output without another shuffle.",
    tags=("join", "dq"),
)
def join_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        F.col("o_orderkey").alias("a_key")
    )
    b = o.filter(F.col("o_totalprice") >= 100000).select(
        F.col("o_orderkey").alias("b_key")
    )
    joined = a.join(b, a["a_key"] == b["b_key"], "full_outer")
    status = (
        F.when(F.col("a_key").isNull(), F.lit("only_right"))
        .when(F.col("b_key").isNull(), F.lit("only_left"))
        .otherwise(F.lit("both"))
    )
    return joined.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "agg_cohort_retention",
    f"""WITH {EVENTS_NORM},
       first_seen AS (SELECT user_id, min(ts) AS ft FROM events_norm GROUP BY 1)
       SELECT date_trunc('week', f.ft)::TIMESTAMP AS cohort_week,
              date_diff('day', date_trunc('week', f.ft),
                        date_trunc('week', e.ts)) // 7 AS week_offset,
              count(DISTINCT e.user_id) AS n_active
       FROM events_norm e JOIN first_seen f ON e.user_id = f.user_id
       GROUP BY 1, 2""",
    doc="Cohort retention matrix: users grouped by first-seen week, "
        "counted distinct in each subsequent activity week — the "
        "engagement analytic over the reference's timestamped edge "
        "stream (follower.py:154). Two shuffles on user_id (first-seen "
        "agg, then the re-join) that share one exchange partitioning; "
        "the distinct-count shuffles on the tiny (cohort, offset) key.",
    tags=("agg", "temporal", "cohort"),
)
def agg_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    en = load_events(spark, sf_dir)
    first_seen = en.groupBy("user_id").agg(F.min("ts").alias("ft"))
    j = en.join(first_seen, "user_id")
    cohort = F.date_trunc("week", F.col("ft"))
    offset = F.expr(
        "datediff(date_trunc('week', ts), date_trunc('week', ft)) div 7"
    ).cast("long")
    return (
        j.groupBy(
            # keep the week as a TIMESTAMP on both sides: DuckDB DATE and
            # Spark DateType render differently in the driver's pandas
            # canonicalisation ('2024-01-01' vs '2024-01-01 00:00:00')
            cohort.alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "llm_doc_pack",
    """WITH toks AS (
         SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
         FROM documents)
       SELECT doc_id, n_tokens,
              ((sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - 1) // 4096)::BIGINT AS pack_id
       FROM toks""",
    doc="Sequence packing: assign documents to fixed 4096-token context "
        "windows by integer prefix-sum over a deterministic order — the "
        "batch-construction step of a training-data pipeline. Token "
        "counts are exact integers so the running sum is "
        "order-independent arithmetic. The oracle form uses one global "
        "order; the scale form runs the identical window per "
        "hash-partition (pack ids namespaced by partition), keeping "
        "packing embarrassingly parallel at 100 TB.",
    tags=("llm", "packing"),
)
def llm_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = F.sum("n_tokens").over(w)
    # /4096 is a power-of-two division: exact in IEEE, floor == DuckDB //
    return toks.select(
        "doc_id",
        "n_tokens",
        F.floor((run - F.lit(1)) / F.lit(4096)).cast("long").alias("pack_id"),
    )


@register(
    "llm_bigram_topk",
    """WITH tok AS (SELECT string_split(text, ' ') AS a FROM documents),
       bg AS (SELECT unnest(list_transform(range(1, len(a)),
                                           i -> a[i] || ' ' || a[i + 1]))
                AS bigram FROM tok)
       SELECT bigram, count(*) AS freq
       FROM bg GROUP BY bigram
       ORDER BY freq DESC, bigram LIMIT 50""",
    doc="Corpus bigram head: adjacent-pair extraction as a zip_with over "
        "two shifted slices (array kernel — no per-position lambda "
        "lookups, which are ~50x slower), explode, partial-aggregated "
        "count, TakeOrderedAndProject top-k with deterministic "
        "tie-break. The n-gram statistics scan for tokenizer/quality "
        "work.",
    tags=("llm", "text", "topk"),
)
def llm_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bigrams = d.select(F.explode(word_shingles_all("text", 2)).alias("bigram"))
    freq = bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
    return freq.orderBy(F.desc("freq"), F.asc("bigram")).limit(50)


@register(
    "tpch_q1_pricing",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
              round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                AS sum_charge,
              round(avg(l_quantity), 6) AS avg_qty,
              round(avg(l_extendedprice), 6) AS avg_price,
              count(*) AS n
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY 1, 2""",
    doc="TPC-H Q1 shape (pricing summary): single-scan wide aggregation "
        "with per-row derived expressions folded into partial aggregates. "
        "The canonical whole-stage-codegen stress: one shuffle of a few "
        "grouped rows regardless of input scale; the shipdate predicate "
        "pushes to the parquet scan.",
    tags=("agg", "tpch"),
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
        F.round(F.sum(disc), 2).alias("sum_disc"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "tpch_q6_forecast",
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
              count(*) AS n_rows
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         AND l_shipdate < TIMESTAMP '1998-01-01'
         AND l_discount >= 0.05 AND l_discount <= 0.07
         AND l_quantity < 24""",
    doc="TPC-H Q6 shape (forecast revenue change): the canonical "
        "predicate-pushdown query — every filter (shipdate range, "
        "discount band, quantity cap) reaches the parquet scan as "
        "PushedFilters, the scan reads 4 columns of the wide table, and "
        "the whole plan is one scan + scalar aggregate with no shuffle "
        "of data rows (partial sums only). At 100 TB this is pure "
        "IO-bound scan speed.",
    tags=("agg", "tpch"),
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "tpch_q3_priority",
    """SELECT l.l_orderkey AS o_key,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
              o.o_orderdate
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
         AND o.o_orderdate < TIMESTAMP '1997-03-15'
         AND l.l_shipdate > TIMESTAMP '1997-03-15'
       GROUP BY 1, 3
       ORDER BY revenue DESC, o_key LIMIT 10""",
    doc="TPC-H Q3 shape (shipping priority): selective dim filter -> "
        "fact join chain -> grouped revenue -> top-k. The filtered "
        "customer side broadcasts; the orders-lineitem join shuffles on "
        "the shared orderkey; the LIMIT rides TakeOrderedAndProject "
        "(rounded revenue + key tie-break keeps the cut deterministic).",
    tags=("join", "agg", "tpch"),
)
def tpch_q3_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    j = c.join(o, c["c_custkey"] == o["o_custkey"]).join(
        li, o["o_orderkey"] == li["l_orderkey"]
    )
    return (
        j.groupBy(F.col("l_orderkey").alias("o_key"), F.col("o_orderdate"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_key"))
        .limit(10)
        .select("o_key", "revenue", "o_orderdate")
    )


@register(
    "tpch_q5_region_volume",
    """SELECT n.n_name,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
       FROM customer c
       JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
                      AND c.c_nationkey = s.s_nationkey
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       WHERE r.r_name = 'ASIA'
         AND o.o_orderdate >= TIMESTAMP '1996-01-01'
         AND o.o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY 1""",
    doc="TPC-H Q5 shape (local-supplier volume): five-way join where "
        "Catalyst's join reordering + broadcast selection matter — "
        "supplier/nation/region broadcast, the customer-supplier "
        "same-nation predicate rides the join, and only the "
        "orders-lineitem join shuffles. The plan a 1000-executor run "
        "needs: one big shuffle, everything else map-side.",
    tags=("join", "agg", "tpch"),
)
def tpch_q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return j.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


@register(
    "tpch_q4_order_priority",
    """SELECT o_orderpriority, count(*) AS n_orders
       FROM orders o
       WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
         AND o.o_orderdate < TIMESTAMP '1997-04-01'
         AND EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND l.l_shipdate > o.o_orderdate)
       GROUP BY 1""",
    doc="TPC-H Q4 shape (order priority checking): EXISTS decorrelated "
        "into a LEFT SEMI join on the shared orderkey with the non-equi "
        "shipdate>orderdate residual. The quarter filter pushes to the "
        "orders scan; the semi join never materializes lineitem columns "
        "and emits each order at most once regardless of its line count — "
        "at 100 TB the shuffle carries only (orderkey, dates).",
    tags=("join", "agg", "tpch"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    sel = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return sel.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "tpch_q18_large_orders",
    """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
              o.o_totalprice, round(b.sum_qty, 2) AS sum_qty
       FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
             FROM lineitem GROUP BY 1
             HAVING sum(l_quantity) > 250) b
       JOIN orders o ON o.o_orderkey = b.l_orderkey
       JOIN customer c ON c.c_custkey = o.o_custkey
       ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20""",
    doc="TPC-H Q18 shape (large-volume customers): pre-aggregate the fact "
        "table to per-order quantity, HAVING-filter to the rare heavy "
        "orders, then join the tiny survivor set back to orders/customer "
        "(AQE converts both joins to broadcasts at runtime) and take the "
        "deterministic top-20. The aggregate-before-join ordering is the "
        "scale decision: the join input shrinks from |lineitem| to "
        "|heavy orders|.",
    tags=("join", "agg", "topk", "tpch"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_raw"))
        .filter(F.col("sum_qty_raw") > 250)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", F.round("sum_qty_raw", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "agg_grouped_topn",
    """SELECT c_mktsegment, c_custkey, spend, rnk FROM (
         SELECT c.c_mktsegment, c.c_custkey,
                round(sum(o.o_totalprice), 2) AS spend,
                row_number() OVER (
                    PARTITION BY c.c_mktsegment
                    ORDER BY round(sum(o.o_totalprice), 2) DESC, c.c_custkey
                ) AS rnk
         FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
         GROUP BY 1, 2) t
       WHERE rnk <= 3""",
    doc="Grouped top-N (top-3 spenders per market segment): aggregate to "
        "(segment, customer) spend, then row_number within segment with a "
        "custkey tie-break so the cut is deterministic. The window "
        "partitions by the same low-cardinality key the aggregate "
        "shuffled on; rank ordering is on the ROUNDED measure in both "
        "engines so float noise cannot flip adjacent rows.",
    tags=("agg", "window", "topk"),
)
def agg_grouped_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("spend"), F.asc("c_custkey")
    )
    return per.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 3
    )


@register(
    "json_extract_props",
    f"""WITH {EVENTS_NORM}
       SELECT event_type,
              count(*) AS n_with_k,
              sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
              round(avg(json_extract_string(props, '$.k')::BIGINT), 6) AS avg_k
       FROM events_norm
       WHERE json_extract_string(props, '$.k') IS NOT NULL
       GROUP BY 1""",
    doc="Semi-structured extraction: parse the JSON props payload with an "
        "explicit schema (from_json, schema-first — the engine's "
        "PERMISSIVE ingest doctrine, SURVEY.md section 1.2) and aggregate "
        "the extracted field per event type. Parsing is per-row JVM work "
        "inside codegen; the aggregate shuffles only (type, partials). "
        "At 100 TB the win is parsing ONCE into columns at ingest — this "
        "operator is that ingest step's query form.",
    tags=("json", "agg"),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


@register(
    "argmin_cheapest_supplier",
    """SELECT l_partkey AS partkey, l_suppkey AS best_suppkey,
              floor(unit_cost * 10000) / 10000 AS best_cost
       FROM (SELECT l_partkey, l_suppkey,
                    min(l_extendedprice / l_quantity) AS unit_cost,
                    row_number() OVER (
                        PARTITION BY l_partkey
                        ORDER BY min(l_extendedprice / l_quantity), l_suppkey
                    ) AS rn
             FROM lineitem GROUP BY 1, 2) t
       WHERE rn = 1""",
    doc="TPC-H Q2's correlated scalar subquery (min cost per part) "
        "decorrelated Spark-first: aggregate to (part, supplier) unit "
        "cost, then argmin via row_number within part — ONE keyed shuffle "
        "chain, no float-equality self-join back onto the aggregate. "
        "Ordering ranks the raw double (exact IEEE compare, deterministic "
        "cross-engine) with a suppkey tie-break; the display truncation is "
        "floor(x*1e4)/1e4 — exact IEEE ops, bit-identical in both engines, "
        "immune to the round() half-way divergence.",
    tags=("agg", "window", "tpch"),
)
def argmin_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    return (
        unit.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("best_suppkey"),
            (F.floor(F.col("unit_cost") * 10000) / 10000).alias("best_cost"),
        )
    )


@register(
    "window_ntile_decile",
    """SELECT decile, count(*) AS n,
              round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
       FROM (SELECT c_acctbal,
                    ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
             FROM customer) t
       GROUP BY 1""",
    doc="Decile binning via ntile: global ordered window (single-task by "
        "nature) — acceptable for dimension-sized inputs like customer. "
        "The 100 TB fact-table form is the two-pass equivalent: "
        "approxQuantile cut-points on a sample, broadcast, then a "
        "pure-map bucket assignment (zero global sort); ntile here "
        "doubles as that path's exact oracle.",
    tags=("window", "agg"),
)
def window_ntile_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_acctbal", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
    )


@register(
    "tpch_q13_custdist",
    """SELECT n_orders, count(*) AS n_customers
       FROM (SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
             FROM customer c
             LEFT JOIN orders o
               ON o.o_custkey = c.c_custkey
              AND o.o_orderpriority <> '1-URGENT'
             GROUP BY 1) t
       GROUP BY 1""",
    doc="TPC-H Q13 shape (customer order distribution): LEFT OUTER join "
        "with a residual ON-clause predicate (the filter belongs to the "
        "join, NOT the customer side — zero-order customers must "
        "survive), per-customer count, then the count-of-counts "
        "histogram. Two keyed shuffles; the second input is |customers| "
        "rows and the third |distinct counts|.",
    tags=("join", "agg", "tpch"),
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count(o["o_orderkey"]).alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "agg_approx_distinct_scale",
    """SELECT o_orderpriority,
              count(DISTINCT o_custkey) AS exact_customers,
              true AS sketch_within_tol
       FROM orders GROUP BY 1""",
    doc="approx_count_distinct (HyperLogLog++) per order priority — the "
        "100 TB form of agg_count_distinct: fixed-size sketches merge in "
        "the partial aggregate, so the shuffle carries KBs per group "
        "instead of the distinct-key set. The raw estimate is "
        "engine-specific (DuckDB's HLL differs bit-for-bit), so the "
        "oracle-checked contract is the one that matters in production: "
        "the sketch lands within its advertised error band. The query "
        "emits the exact count (value-hashed against DuckDB) plus "
        "``sketch_within_tol`` = |approx-exact| <= 5%*exact (rsd=0.02, "
        "so 5% is 2.5 sigma — deterministically true on fixed data); "
        "the oracle asserts the same band from the exact side. The "
        "exact column is the verification harness — the production scan "
        "ships only the sketch.",
    tags=("agg", "approx"),
)
def agg_approx_distinct_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact_customers"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.02)
                - F.count_distinct("o_custkey")
            )
            <= 0.05 * F.count_distinct("o_custkey")
        ).alias("sketch_within_tol"),
    )


@register(
    "window_ntile_decile_scalable",
    """SELECT decile, count(*) AS n,
              round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi
       FROM (SELECT c_acctbal,
                    ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
             FROM customer) t
       GROUP BY 1""",
    doc="Decile binning with NO single-task window: the distributed "
        "exact-ntile path (operators/aggregates.py:distributed_ntile) — "
        "range repartition on the sort key, Arrow per-partition local "
        "ranks, driver-side partition offsets (#partitions rows, not "
        "#rows) broadcast back as a map. Bit-identical to SQL ntile "
        "(same oracle as window_ntile_decile) while every stage runs at "
        "full parallelism — the form that survives ranking a fact table.",
    tags=("window", "agg", "scale"),
)
def window_ntile_decile_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import distributed_ntile

    c = load_table(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    binned = distributed_ntile(c, ["c_acctbal", "c_custkey"], 10)
    return (
        binned.select(F.col("ntile").alias("decile"), "c_acctbal")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
    )


@register(
    "llm_doc_pack_scalable",
    """WITH toks AS (
         SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
         FROM documents)
       SELECT doc_id, n_tokens,
              ((sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - 1) // 4096)::BIGINT AS pack_id
       FROM toks""",
    doc="Sequence packing via the distributed prefix-sum "
        "(operators/aggregates.py:distributed_prefix_sum): bit-identical "
        "pack ids to llm_doc_pack (same oracle) but the running token "
        "total comes from range repartition + Arrow local cumsum + a "
        "broadcast partition-offset map — no single-task window, so "
        "packing a 100 TB corpus keeps every stage parallel.",
    tags=("llm", "packing", "scale"),
)
def llm_doc_pack_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import distributed_prefix_sum

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    run = distributed_prefix_sum(toks, ["doc_id"], "n_tokens", out_col="_run")
    return run.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("_run") - F.lit(1)) / F.lit(4096)).cast("long").alias("pack_id"),
    )
