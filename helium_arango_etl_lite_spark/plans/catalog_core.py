"""Core relational/aggregate query catalog (SURVEY.md sections 2.2-2.5).

Every operator the reference performs, re-anchored on the driver's
TPC-H-ish tables (FIXTURES.md F7 mapping) so DuckDB can oracle-check it.
The Helium-shaped versions of the same operators live in
``operators/graph.py`` and are unit-tested on synthetic block fixtures.

Float discipline: per-row IEEE-754 arithmetic is bit-identical across
engines, so row-level expressions are NOT rounded; only order-dependent
aggregates (sum/avg of doubles) are rounded (2dp money, 6dp averages) in
BOTH engines so summation-order noise cannot flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import canonical_md5_key
from ..functions.geo import geo_index_udf
from ..operators import aggregates as agg
from ..operators import relational as rel
from .registry import EVENTS_NORM, load_events, load_table, register
from .replay import scratch_dir


# --------------------------------------------------------------------------
# 2.2 projections / scalar expressions
# --------------------------------------------------------------------------

@register(
    "project_payment_edge",
    """SELECT 'accounts/' || CAST(l_suppkey AS VARCHAR) AS src,
              'accounts/' || CAST(l_partkey AS VARCHAR) AS dst,
              l_extendedprice AS amount,
              l_orderkey AS block
       FROM lineitem""",
    doc="Payment-edge projection (follower.py:148-155): project+rename+prefix.",
    tags=("projection",),
)
def project_payment_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        rel.concat_vertex_id("accounts", "l_suppkey").alias("src"),
        rel.concat_vertex_id("accounts", "l_partkey").alias("dst"),
        F.col("l_extendedprice").alias("amount"),
        F.col("l_orderkey").alias("block"),
    )


@register(
    "concat_vertex_id",
    """SELECT 'accounts/' || CAST(c_custkey AS VARCHAR) AS vertex_id, c_name
       FROM customer""",
    doc="Vertex-id prefix concat (follower.py:149-150, loaders.py:27).",
    tags=("projection",),
)
def concat_vertex_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        rel.concat_vertex_id("accounts", "c_custkey").alias("vertex_id"),
        "c_name",
    )


@register(
    "derived_arithmetic",
    """SELECT l_orderkey, l_linenumber,
              l_extendedprice * (1 - l_discount) AS disc_price,
              (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS charge
       FROM lineitem""",
    doc="Arithmetic derived column (follower.py:196 processing_time_s analog).",
    tags=("projection",),
)
def derived_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc.alias("disc_price"),
        (disc * (F.lit(1) + F.col("l_tax"))).alias("charge"),
    )


@register(
    "null_tolerant_struct",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
              COALESCE(CAST(json_extract_string(props, '$.k') AS INTEGER), -1) AS k_filled
       FROM events""",
    doc="Null-tolerant nested access (follower.py:194-198): from_json + NULL-as-absent.",
    tags=("projection", "json"),
)
def null_tolerant_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k int").getField("k")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.coalesce(k, F.lit(-1)).alias("k_filled"),
    )


@register(
    "hash_key_md5",
    """SELECT l_orderkey, l_linenumber,
              md5(concat_ws('|', l_orderkey, l_linenumber)) AS _key
       FROM lineitem""",
    doc="Deterministic MD5 row key (follower.py:293-294) — engine canonical "
        "form md5(concat_ws('|', cols)), JVM-side, no UDF.",
    tags=("projection", "key"),
)
def hash_key_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        canonical_md5_key("l_orderkey", "l_linenumber").alias("_key"),
    )


@register(
    "udf_geo_index",
    """SELECT p_partkey,
              'Point' AS geo_type,
              CASE WHEN p_partkey % 10 <> 0
                   THEN ((p_partkey // 18000) % 36000) / 100.0 - 180.0
                   ELSE 0.0 END AS lng,
              CASE WHEN p_partkey % 10 <> 0
                   THEN (p_partkey % 18000) / 100.0 - 90.0
                   ELSE 0.0 END AS lat
       FROM part""",
    doc="geo_index UDF (loaders.py:10-16): H3 hex -> GeoJSON point via "
        "Arrow-batched pandas UDF; null/invalid input -> [0,0] exactly as the "
        "reference's TypeError fallback. Oracle mirrors the deterministic "
        "fallback arithmetic (h3 not installed here).",
    tags=("udf",),
)
def udf_geo_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    # fake H3 hex: hex rendering of the part key; every 10th row NULL to
    # exercise the reference's null -> [0,0] path (loaders.py:13-15)
    hexes = F.when(F.col("p_partkey") % 10 != 0, F.lower(F.hex("p_partkey")))
    geo = geo_index_udf()(hexes)
    return p.select(
        "p_partkey",
        geo.getField("type").alias("geo_type"),
        geo.getField("coordinates").getItem(0).alias("lng"),
        geo.getField("coordinates").getItem(1).alias("lat"),
    )


@register(
    "regexp_extract_height",
    """SELECT doc_id, CAST(regexp_extract(source, 'src([0-9]+)', 1) AS BIGINT) AS src_id
       FROM documents""",
    doc="Filename height parse (loaders.py:45) as regexp_extract + cast.",
    tags=("projection", "regex"),
)
def regexp_extract_height(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("source", r"src([0-9]+)", 1).cast("long").alias("src_id"),
    )


@register(
    "dropna_rows",
    """SELECT event_id, event_type AS et FROM events WHERE event_type <> 'error'""",
    doc="dropna (loaders.py:35): NULLIF manufactures NULLs, na.drop removes them.",
    tags=("filter",),
)
def dropna_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    withnull = ev.select(
        "event_id", F.nullif("event_type", F.lit("error")).alias("et")
    )
    return rel.drop_null_rows(withnull)


# --------------------------------------------------------------------------
# 2.3 filters
# --------------------------------------------------------------------------

@register(
    "filter_type_dispatch",
    """SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'""",
    doc="Type-routing predicate (follower.py:145,160,177).",
    tags=("filter",),
)
def filter_type_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return rel.filter_type_dispatch(ev, "event_type", "purchase").select(
        "event_id", "user_id", "value"
    )


@register(
    "filter_retention_window",
    f"""WITH {EVENTS_NORM}
       SELECT event_id, user_id, ts FROM events_norm
       WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events_norm)""",
    doc="Retention window keep-side (follower.py:210-214, AQL delete): on a "
        "block-range-partitioned layout this prunes to a partition drop.",
    tags=("filter", "retention"),
)
def filter_retention_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    hi = ev.agg(F.max("ts").alias("mx"))
    return (
        ev.crossJoin(F.broadcast(hi))
        .filter(F.col("ts") >= F.col("mx") - F.expr("INTERVAL 7 DAYS"))
        .select("event_id", "user_id", "ts")
    )


@register(
    "filter_is_valid",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       WHERE l_returnflag = 'A'""",
    doc="Validity predicate (follower.py:187 is_valid carried for filtering).",
    tags=("filter",),
)
def filter_is_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag") == "A").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# --------------------------------------------------------------------------
# 2.4 flattening / joins / set ops
# --------------------------------------------------------------------------

@register(
    "explode_payments",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM orders""",
    doc="Nested array-of-struct explode (follower.py:163-176 payment_v2): "
        "collect_list(struct) per key then explode back — row-count "
        "conservation is the oracle.",
    tags=("explode",),
)
def explode_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    nested = o.groupBy("o_custkey").agg(
        F.collect_list(F.struct("o_orderkey", "o_totalprice")).alias("payments")
    )
    return nested.select(
        "o_custkey", F.explode("payments").alias("p")
    ).select(
        "o_custkey",
        F.col("p.o_orderkey").alias("o_orderkey"),
        F.col("p.o_totalprice").alias("o_totalprice"),
    )


@register(
    "explode_witnesses",
    """SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents""",
    doc="1-level array explode (follower.py:180-202 witnesses): tokenised "
        "documents stand in for the witness array.",
    tags=("explode",),
)
def explode_witnesses(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))


@register(
    "join_block_broadcast",
    """SELECT c_custkey, c_name, n_name
       FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    doc="Broadcast dimension join (follower.py:153-154 block header onto "
        "edges): explicit F.broadcast on the small side.",
    tags=("join", "broadcast"),
)
def join_block_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return c.join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_name", "n_name")


@register(
    "union_distinct_vertices",
    """SELECT DISTINCT vertex_id FROM (
         SELECT 'accounts/' || CAST(l_suppkey AS VARCHAR) AS vertex_id FROM lineitem
         UNION ALL
         SELECT 'accounts/' || CAST(l_partkey AS VARCHAR) FROM lineitem)""",
    doc="Vertex extraction: union + distinct (follower.py:147,156,162,173).",
    tags=("set",),
)
def union_distinct_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return rel.union_distinct(
        li.select(rel.concat_vertex_id("accounts", "l_suppkey").alias("vertex_id")),
        li.select(rel.concat_vertex_id("accounts", "l_partkey").alias("vertex_id")),
    )


@register(
    "dedup_by_key",
    f"""WITH {EVENTS_NORM}
       SELECT event_id, ts, user_id, event_type, value, props FROM (
         SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY event_id) AS rn
         FROM events_norm) WHERE rn = 1""",
    doc="Deterministic keep-one dedup (follower.py:205-207 duplicate-ignore): "
        "min-by aggregate (map-side combinable) instead of a window sort.",
    tags=("dedup",),
)
def dedup_by_key_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    out = rel.dedup_by_key(ev, ["user_id", "event_type"], "event_id")
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "anti_join_new_keys",
    f"""WITH {EVENTS_NORM},
       th AS (SELECT CAST(floor(max(event_id) * 9 / 10) AS BIGINT) AS t
              FROM events_norm)
       SELECT e.event_id, e.user_id, e.event_type
       FROM events_norm e, th
       WHERE e.event_id >= th.t
         AND NOT EXISTS (SELECT 1 FROM events_norm p
                         WHERE p.event_id < th.t AND p.user_id = e.user_id
                           AND p.event_type = e.event_type
                           AND date_trunc('hour', p.ts) = date_trunc('hour', e.ts))""",
    doc="Anti-join upsert semantics (onDuplicate=ignore, follower.py:205-207): "
        "incoming batch rows whose composite key (user, type, hour bucket) "
        "is unseen in the existing table.",
    tags=("join", "dedup"),
)
def anti_join_new_keys_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).withColumn("hour", F.date_trunc("hour", "ts"))
    th = ev.agg(F.floor(F.max("event_id") * 9 / 10).cast("long").alias("t"))
    tagged = ev.crossJoin(F.broadcast(th))
    incoming = tagged.filter(F.col("event_id") >= F.col("t"))
    existing = tagged.filter(F.col("event_id") < F.col("t"))
    return rel.anti_join_new_keys(
        incoming, existing, ["user_id", "event_type", "hour"]
    ).select("event_id", "user_id", "event_type")


@register(
    "join_inventory_enrich",
    """SELECT s_suppkey, s_name, s_acctbal, n_name
       FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey""",
    doc="Dimension enrichment join (inventory -> hotspots, follower.py:130-133).",
    tags=("join",),
)
def join_inventory_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return rel.enrichment_join(
        s, n, F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")


# --------------------------------------------------------------------------
# 2.5 aggregates / windows / sorts
# --------------------------------------------------------------------------

@register(
    "agg_payment_volume",
    """SELECT 'accounts/' || CAST(l_suppkey AS VARCHAR) AS src,
              'accounts/' || CAST(l_partkey AS VARCHAR) AS dst,
              round(sum(l_extendedprice), 2) AS total_amount,
              count(*) AS n_payments
       FROM lineitem GROUP BY 1, 2""",
    doc="Payment volume per account pair (SURVEY 2.5): hash agg with "
        "map-side partial aggregation; AQE handles skewed hot accounts.",
    tags=("agg",),
)
def agg_payment_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        rel.concat_vertex_id("accounts", "l_suppkey").alias("src"),
        rel.concat_vertex_id("accounts", "l_partkey").alias("dst"),
        F.col("l_extendedprice").alias("amount"),
    )
    vol = agg.payment_volume(edges, "src", "dst", "amount")
    return vol.select(
        "src", "dst",
        F.round("total_amount", 2).alias("total_amount"),
        "n_payments",
    )


@register(
    "agg_witness_quality",
    """SELECT l_returnflag, l_linestatus,
              round(avg(l_quantity), 6) AS avg_signal,
              min(l_quantity) AS min_signal,
              max(l_quantity) AS max_signal,
              round(avg(l_discount), 6) AS avg_snr
       FROM lineitem GROUP BY 1, 2""",
    doc="Witness link quality avg/min/max (follower.py:188-189 columns).",
    tags=("agg",),
)
def agg_witness_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = agg.link_quality(li, ["l_returnflag", "l_linestatus"], "l_quantity", "l_discount")
    return out.select(
        "l_returnflag", "l_linestatus",
        F.round("avg_signal", 6).alias("avg_signal"),
        "min_signal", "max_signal",
        F.round("avg_snr", 6).alias("avg_snr"),
    )


@register(
    "agg_count_distinct",
    """SELECT event_type, count(DISTINCT user_id) AS n_counterparties,
              count(*) AS n_events
       FROM events GROUP BY 1""",
    doc="Distinct counterparties (SURVEY 2.5); approx_count_distinct is the "
        "documented 100 TB swap-in.",
    tags=("agg",),
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_counterparties"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "agg_time_window",
    f"""WITH {EVENTS_NORM}
       SELECT date_trunc('hour', ts) AS bucket, count(*) AS n_events,
              round(sum(value), 2) AS total_value
       FROM events_norm GROUP BY 1""",
    doc="Tumbling time-bucket aggregation (per-block activity analog).",
    tags=("agg", "window"),
)
def agg_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    out = agg.time_bucketed_activity(ev, "ts", "value", "hour")
    return out.select("bucket", "n_events", F.round("total_value", 2).alias("total_value"))


@register(
    "topk_accounts",
    """SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent
       FROM orders GROUP BY 1
       ORDER BY total_spent DESC, o_custkey LIMIT 10""",
    doc="Top-k busiest accounts: Spark plans TakeOrderedAndProject (per-"
        "partition heap, no global sort). Rounded before ranking so FP "
        "summation order can't reorder the boundary.",
    tags=("agg", "topk"),
)
def topk_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    totals = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spent")
    )
    return agg.top_k(totals, [F.desc("total_spent"), F.asc("o_custkey")], 10)


@register(
    "window_latest_per_key",
    f"""WITH {EVENTS_NORM}
       SELECT event_id, user_id, ts, event_type, value FROM (
         SELECT *, row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
         FROM events_norm) WHERE rn = 1""",
    doc="Latest row per key (latest inventory per gateway, follower.py:130-133).",
    tags=("window",),
)
def window_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return agg.latest_per_key(ev, "user_id", "ts", "event_id").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )


@register(
    "window_lag_delta",
    f"""WITH {EVENTS_NORM}
       SELECT event_id, user_id,
              CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id)) AS DOUBLE) / 1000000.0 AS delta_s
       FROM events_norm""",
    doc="Per-key lag delta in seconds — the windowed general form of "
        "processing_time_s (follower.py:196).",
    tags=("window",),
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return agg.lag_delta_seconds(ev, "user_id", "ts", "event_id").select(
        "event_id", "user_id", "delta_s"
    )


@register(
    "agg_session_window",
    f"""WITH {EVENTS_NORM},
x AS (SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events_norm
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
y AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM y GROUP BY user_id, sid""",
    doc="Per-user session windows (30 min inactivity gap) via the native "
        "session_window operator — Spark merges/expands windows inside one "
        "shuffle-and-merge pass; the oracle is the classic gaps-and-islands "
        "rewrite. Streaming twin: stream_session_replay (the same gap "
        "semantics as a stateful stream, checked against the same "
        "gaps-and-islands oracle).",
    tags=("agg", "window", "session"),
)
def agg_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    sess = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return sess.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
        "total_value",
    )


@register(
    "agg_payment_volume_salted",
    """SELECT 'accounts/' || CAST(l_suppkey AS VARCHAR) AS src,
              'accounts/' || CAST(l_partkey AS VARCHAR) AS dst,
              round(sum(l_extendedprice), 2) AS total_amount,
              count(*) AS n_payments
       FROM lineitem GROUP BY 1, 2""",
    doc="Skew-resistant two-stage (salted) payment volume: same result "
        "contract as agg_payment_volume, but hot keys are split across "
        "salt_buckets reducers in stage 1 and recombined from tiny partials "
        "in stage 2 — the explicit aggregation-skew pattern for power-law "
        "key spaces (exchange hot accounts) at 100 TB.",
    tags=("agg", "skew"),
)
def agg_payment_volume_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        rel.concat_vertex_id("accounts", "l_suppkey").alias("src"),
        rel.concat_vertex_id("accounts", "l_partkey").alias("dst"),
        F.col("l_extendedprice").alias("amount"),
    )
    vol = agg.salted_payment_volume(edges, "src", "dst", "amount")
    return vol.select(
        "src", "dst",
        F.round("total_amount", 2).alias("total_amount"),
        "n_payments",
    )


@register(
    "agg_percentiles",
    """SELECT l_returnflag,
              quantile_cont(l_quantity, 0.5) AS p50_qty,
              quantile_cont(l_quantity, 0.95) AS p95_qty,
              quantile_cont(l_quantity, 0.99) AS p99_qty
       FROM lineitem GROUP BY 1""",
    doc="Exact grouped percentiles (latency/size distribution surface): "
        "Spark percentile == SQL quantile_cont (linear interpolation). At "
        "100 TB swap to approx_percentile (t-digest sketch, mergeable "
        "partials, no full sort) — same call shape.",
    tags=("agg", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("p50_qty"),
        F.percentile("l_quantity", 0.95).alias("p95_qty"),
        F.percentile("l_quantity", 0.99).alias("p99_qty"),
    )


@register(
    "agg_rollup",
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
              round(sum(l_extendedprice), 2) AS total
       FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    doc="ROLLUP hierarchy totals (flag, flag+status, grand total) in one "
        "pass — Spark expands grouping sets inside a single shuffle rather "
        "than one job per level.",
    tags=("agg", "olap"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("total"),
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "agg_pivot",
    f"""WITH {EVENTS_NORM}
       SELECT user_id,
              {', '.join(f"count(*) FILTER (event_type = '{t}') AS {t}" for t in EVENT_TYPES)}
       FROM events_norm GROUP BY 1""",
    doc="Pivot event counts to one column per type. Pivot values are "
        "DECLARED (not discovered) so the plan is a single aggregation "
        "with conditional counters — no extra distinct-scan job, stable "
        "schema at any scale.",
    tags=("agg", "olap", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    # a user with zero events of a type gets NULL from pivot but 0 from the
    # oracle's count FILTER — normalise to 0
    return ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count().na.fill(
        0, subset=EVENT_TYPES
    )


@register(
    "join_asof",
    f"""WITH {EVENTS_NORM},
       purch AS (
         SELECT user_id, ts,
                max_by(value, event_id) AS purchase_value,
                max(event_id) AS purchase_event
         FROM events_norm WHERE event_type = 'purchase'
         GROUP BY user_id, ts)
       SELECT e.event_id, e.user_id, e.ts, e.event_type,
              p.purchase_value, p.purchase_event
       FROM events_norm e ASOF LEFT JOIN purch p
         ON e.user_id = p.user_id AND e.ts >= p.ts""",
    doc="As-of join (operators/temporal.py): every event annotated with "
        "its user's latest prior-or-equal purchase. Spark lacks ASOF JOIN; "
        "the union + last-ignorenulls-window composition shuffles each row "
        "once (no range-join blow-up) — the 100 TB shape for "
        "point-in-time feature attachment. Oracle: native SQL ASOF JOIN.",
    tags=("join", "temporal"),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    en = load_events(spark, sf_dir)
    purch = (
        en.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("purchase_value"),
            F.max("event_id").alias("purchase_event"),
        )
    )
    joined = asof_join(
        en.select("event_id", "ts", "user_id", "event_type"),
        purch,
        key="user_id",
        value_cols=["purchase_value", "purchase_event"],
    )
    return joined.select(
        "event_id", "user_id", "ts", "event_type",
        "purchase_value", "purchase_event",
    )


@register(
    "join_range_window",
    f"""WITH {EVENTS_NORM},
       err AS (SELECT event_id, user_id, ts FROM events_norm
               WHERE event_type = 'error'),
       clk AS (SELECT user_id, ts FROM events_norm
               WHERE event_type = 'click')
       SELECT e.event_id, e.user_id,
              count(c.ts) AS n_recent_clicks
       FROM err e LEFT JOIN clk c
         ON e.user_id = c.user_id
        AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
       GROUP BY e.event_id, e.user_id""",
    doc="Keyed range join: clicks of the same user within the 10 minutes "
        "before each error event. The equi key (user) carries the shuffle; "
        "the range predicate refines inside each key group — no "
        "nested-loop join (plan stays SortMergeJoin/ShuffledHashJoin). For "
        "keyless range joins, bucketize time and equi-join on the bucket.",
    tags=("join", "temporal", "range"),
)
def join_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    en = load_events(spark, sf_dir)
    err = en.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("err_ts")
    )
    clk = en.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("clk_ts")
    )
    joined = err.join(
        clk,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("clk_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("clk_ts") < F.col("err_ts")),
        "left",
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count("clk_ts").alias("n_recent_clicks")
    )


@register(
    "dq_profile",
    """SELECT count(*) AS n_rows,
              count(l_orderkey) AS nn_orderkey,
              count(l_shipdate) AS nn_shipdate,
              min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
              min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
              count(DISTINCT l_returnflag) AS n_flags
       FROM lineitem""",
    doc="Data-quality profile in ONE pass: row/non-null counts, min/max "
        "ranges, low-cardinality distinct — the validation gate a pipeline "
        "runs before promoting a batch. All partial-aggregatable, single "
        "shuffle of one row per partition.",
    tags=("agg", "dq"),
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_orderkey").alias("nn_orderkey"),
        F.count("l_shipdate").alias("nn_shipdate"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_returnflag").alias("n_flags"),
    )


# --------------------------------------------------------------------------
# 2.6 streaming follow pipeline, driver-exposed (batch-mode replay)
# --------------------------------------------------------------------------


_FOLLOW_N = 120


def _chain_blocks(
    spark: SparkSession, endpoint: str, start: int, end: int, heights_per_partition: int = 16
) -> DataFrame:
    """Blocks of heights ``start..end``, txn envelopes nested, from the
    ``helium_chain`` batch reader: the input of one follower batch."""
    from ..sources.datasource import HeliumChainDataSource

    spark.dataSource.register(HeliumChainDataSource)
    return (
        spark.read.format("helium_chain")
        .option("endpoint", endpoint)
        .option("start", start).option("end", end)
        .option("heights_per_partition", heights_per_partition)
        .load()
    )


_FOLLOW_SQL = f"""WITH h AS (SELECT i.i AS h FROM generate_series(1, {_FOLLOW_N}) i(i)),
e AS (SELECT
        'accounts/acct' || (h % 97)::VARCHAR AS _from,
        'accounts/acct' || ((h * 7) % 89)::VARCHAR AS _to,
        'tx' || lpad(h::VARCHAR, 12, '0') AS hash,
        ((h * 37) % 100000 + 1)::BIGINT AS amount,
        h::BIGINT AS block,
        (1600000000 + h * 60)::BIGINT AS ts_s,
        (h // 7200)::BIGINT AS block_bucket
      FROM h)
SELECT _from, _to, hash, amount, block, ts_s AS "timestamp",
       md5(_from || '|' || _to || '|' || hash || '|' || amount::VARCHAR
           || '|' || block::VARCHAR || '|' || ts_s::VARCHAR) AS _key,
       block_bucket
FROM e"""


@register(
    "follow_replay",
    _FOLLOW_SQL,
    doc="End-to-end follow pipeline under the driver's value hash: ingest "
        f"blocks 1..{_FOLLOW_N} from the deterministic mock chain through "
        "the distributed Python DataSource, run the micro-batch dataflow "
        "(type dispatch -> explode -> project -> canonical MD5 key) TWICE "
        "into the bucketed idempotent sink — the replay must append "
        "nothing (Structured Streaming's at-least-once delivery composing "
        "to exactly-once table contents, follower.py:205-207) — then "
        "return the materialized payments table. The mock chain derives "
        "every field from the height (sources/datasource.py:62), so the "
        "oracle reproduces the whole pipeline, keys included, from "
        "generate_series.",
    tags=("streaming", "pipeline", "sink"),
)
def follow_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.follow import PAYMENTS, process_batch

    out = scratch_dir("follow_replay")

    process_batch(spark, _chain_blocks(spark, "mock://replay", 1, _FOLLOW_N), None, out)
    # replay the identical batch: the anti-join sink must add zero rows
    process_batch(spark, _chain_blocks(spark, "mock://replay", 1, _FOLLOW_N), None, out)
    pay = spark.read.parquet(f"{out}/{PAYMENTS}")
    return pay.select(
        "_from", "_to", "hash", "amount", "block", "timestamp", "_key",
        F.col("block_bucket").cast("long").alias("block_bucket"),
    )


_RECEIPTS_SQL = f"""WITH hh AS (SELECT i.i AS h FROM generate_series(3, {_FOLLOW_N}, 3) i(i)),
w AS (SELECT h, j.j AS w FROM hh, generate_series(0, 1) j(j)),
e AS (SELECT
        'hotspots/hs' || (h % 11)::VARCHAR AS _from,
        'hotspots/hs' || ((h * 5 + w) % 17)::VARCHAR AS _to,
        904.3::DOUBLE AS frequency,
        'SF9BW125' AS datarate,
        ((h + w) % 4 <> 0) AS is_valid,
        (-(70 + (h + w) % 30))::BIGINT AS signal,
        ([2.0, 5.5, 9.0][(h + w) % 3 + 1])::DOUBLE AS snr,
        (h * 1000000000 + (w + 1) * 500000000)::BIGINT AS ts,
        'pr' || lpad(h::VARCHAR, 12, '0') AS hash,
        h::BIGINT AS block,
        CASE WHEN h % 2 = 0 THEN 27::BIGINT END AS tx_power,
        CASE WHEN h % 2 = 0 THEN ((w + 1) * 500000000) / 1e9 END
          AS processing_time_s,
        (h // 7200)::BIGINT AS block_bucket
      FROM w)
SELECT _from, _to, frequency, datarate, is_valid, signal, snr,
       ts AS "timestamp", hash, block, tx_power, processing_time_s,
       md5(concat_ws('|',
           _from, _to, frequency::VARCHAR, datarate,
           is_valid::VARCHAR, signal::VARCHAR, snr::VARCHAR, ts::VARCHAR,
           hash, block::VARCHAR,
           coalesce(tx_power::VARCHAR, chr(0)),
           coalesce(processing_time_s::VARCHAR, chr(0)))) AS _key,
       block_bucket
FROM e"""


@register(
    "follow_replay_receipts",
    _RECEIPTS_SQL,
    doc="The witness-receipt half of the follow pipeline under the "
        "driver's value hash: the mixed mock chain carries one "
        "poc_receipts_v1 every third height (sources/datasource.py: "
        "_mock_receipt_txn), so the most complex reference transform — "
        "schema dispatch, path[0] read, witness explode, nullable "
        "receipt struct (tx_power/processing_time_s NULL when absent, "
        "follower.py:194-198), ns->s arithmetic, canonical MD5 key — "
        "runs end-to-end through the idempotent sink (written twice, "
        "replay adds nothing) and is reproduced field-for-field by the "
        "oracle from generate_series.",
    tags=("streaming", "pipeline", "sink"),
)
def follow_replay_receipts(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..streaming.follow import RECEIPTS, process_batch

    out = scratch_dir("follow_replay_rx")

    process_batch(spark, _chain_blocks(spark, "mock://mixed", 1, _FOLLOW_N), None, out)
    process_batch(spark, _chain_blocks(spark, "mock://mixed", 1, _FOLLOW_N), None, out)
    rec = spark.read.parquet(f"{out}/{RECEIPTS}")
    return rec.select(
        "_from", "_to", "frequency", "datarate", "is_valid", "signal",
        "snr", "timestamp", "hash", "block", "tx_power",
        "processing_time_s", "_key",
        F.col("block_bucket").cast("long").alias("block_bucket"),
    )


@register(
    "follow_replay_accounts",
    f"""WITH h AS (SELECT i.i AS h FROM generate_series(1, {_FOLLOW_N}) i(i)),
       k AS (SELECT 'acct' || (h % 97)::VARCHAR AS _key FROM h
             UNION
             SELECT 'acct' || ((h * 7) % 89)::VARCHAR FROM h)
       SELECT DISTINCT _key FROM k""",
    doc="The vertex half of the follow pipeline: distinct account keys "
        "(payer union payee, follower.py:147,156) materialized through "
        "the idempotent sink after a double replay — the engine's "
        "union_distinct_vertices end-to-end, oracle-reproduced from the "
        "mock chain's payer/payee congruences.",
    tags=("streaming", "pipeline", "vertices"),
)
def follow_replay_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..streaming.follow import ACCOUNTS, process_batch

    out = scratch_dir("follow_replay_ac")

    process_batch(spark, _chain_blocks(spark, "mock://replay", 1, _FOLLOW_N), None, out)
    process_batch(spark, _chain_blocks(spark, "mock://replay", 1, _FOLLOW_N), None, out)
    return spark.read.parquet(f"{out}/{ACCOUNTS}").select("_key")


@register(
    "rollup_replay",
    f"""WITH {EVENTS_NORM},
       e AS (SELECT date_trunc('hour', ts) AS bucket, event_type,
                    CAST(round(value * 100) AS BIGINT) AS value_c
             FROM events_norm)
       SELECT bucket, event_type, count(*)::BIGINT AS n_events,
              sum(value_c)::BIGINT AS sum_value, bucket::DATE AS bucket_day
       FROM e GROUP BY 1, 2""",
    doc="The continuous time-bucket rollup (streaming/rollup.py — the "
        "TimescaleDB continuous-aggregate pattern) under the driver's "
        "value hash: the events table is replayed as three disjoint "
        "micro-batches (event_id mod 3), each merged into the rollup "
        "table via the partition-pruned read-merge-dynamic-overwrite "
        "path, and the materialized table must equal a one-shot GROUP "
        "BY. Sums are integer cents, so the batch/merge re-association "
        "is exact — the merge path itself is what's being hashed. Cost "
        "per batch is proportional to the batch's day span, never the "
        "table size.",
    tags=("streaming", "rollup", "agg"),
)
def rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..streaming.rollup import _partials, merge_rollup

    ev = load_events(spark, sf_dir).withColumn(
        "value_c", F.round(F.col("value") * 100).cast("long")
    )
    out = scratch_dir("rollup_replay")
    for i in range(3):
        batch = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
        merge_rollup(
            spark,
            _partials(batch, "ts", "event_type", "value_c", "hour"),
            out,
            "event_type",
        )
    roll = spark.read.parquet(out)
    return roll.select(
        "bucket", "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("long").alias("sum_value"),
        F.col("bucket_day").alias("bucket_day"),
    )


_RET_START, _RET_END = 7000, 14500   # spans block buckets 0 / 1 / 2
_RET_WINDOW = 200                    # keep blocks >= 14300 -> drop bucket 0


@register(
    "follow_retention_replay",
    f"""WITH h AS (SELECT i.i AS h FROM generate_series({_RET_START}, {_RET_END}) i(i)
                   WHERE (i.i // 7200 + 1) * 7200 > {_RET_END} - {_RET_WINDOW}),
e AS (SELECT
        'accounts/acct' || (h % 97)::VARCHAR AS _from,
        'accounts/acct' || ((h * 7) % 89)::VARCHAR AS _to,
        'tx' || lpad(h::VARCHAR, 12, '0') AS hash,
        ((h * 37) % 100000 + 1)::BIGINT AS amount,
        h::BIGINT AS block,
        (1600000000 + h * 60)::BIGINT AS ts_s,
        (h // 7200)::BIGINT AS block_bucket
      FROM h)
SELECT _from, _to, hash, amount, block, ts_s AS "timestamp",
       md5(_from || '|' || _to || '|' || hash || '|' || amount::VARCHAR
           || '|' || block::VARCHAR || '|' || ts_s::VARCHAR) AS _key,
       block_bucket
FROM e""",
    doc="Retention as a metadata-only partition drop under the value "
        "hash (the reference's disabled AQL delete, follower.py:210-214, "
        "made cheap): ingest blocks spanning three block_bucket "
        "partitions, apply the retention window, and the surviving table "
        "must equal the oracle's closed-form 'every bucket whose entire "
        "range is below tip - window is gone' — no row-level rewrite "
        "anywhere (streaming/sink.py:apply_retention).",
    tags=("streaming", "retention", "sink"),
)
def follow_retention_replay(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..streaming.follow import PAYMENTS, process_batch
    from ..streaming.sink import apply_retention

    out = scratch_dir("follow_retention")

    process_batch(spark, _chain_blocks(spark, "mock://replay", _RET_START, _RET_END, 512), None, out)
    dropped = apply_retention(
        spark, f"{out}/{PAYMENTS}", tip_height=_RET_END, window=_RET_WINDOW
    )
    if dropped != [0]:
        # explicit raise, not assert: the invariant must survive python -O
        # (ADVICE r4) — a wrong partition drop would otherwise return a
        # wrong-but-hashable table
        raise RuntimeError(
            f"retention must drop exactly bucket [0], dropped {dropped!r}"
        )
    pay = spark.read.parquet(f"{out}/{PAYMENTS}")
    return pay.select(
        "_from", "_to", "hash", "amount", "block", "timestamp", "_key",
        F.col("block_bucket").cast("long").alias("block_bucket"),
    )


_Q_N = 200  # dump lines; every 7th is a truncated JSON line


@register(
    "quarantine_replay",
    f"""WITH h AS (SELECT i.i AS h FROM generate_series(1, {_Q_N}) i(i))
SELECT CASE WHEN h % 7 <> 0 THEN h END::BIGINT AS block,
       CASE WHEN h % 7 <> 0 THEN 'bh' || lpad(h::VARCHAR, 12, '0') END AS hash,
       (CASE WHEN h % 7 <> 0 THEN 1600000000 + h * 60 END)::BIGINT AS block_time,
       (CASE WHEN h % 7 <> 0 THEN 1 END)::BIGINT AS n_txns,
       CASE WHEN h % 7 = 0
            THEN '{{"height": ' || h::VARCHAR || ', "bro' END AS raw
FROM h""",
    doc="The ValidationError stand-in under the value hash: a JSON-lines "
        "block dump where every 7th line is truncated mid-object is "
        "read schema-first in PERMISSIVE mode (sources/jsonl.py "
        "read_blocks); split_corrupt must route exactly the broken lines "
        "— raw bytes preserved — to quarantine and parse every other "
        "line to typed columns (follower.py:58-69 re-expressed as "
        "quarantine-not-retry). One output row per input line: parsed "
        "fields for good rows, the verbatim raw line for quarantined "
        "ones.",
    tags=("source", "quarantine", "streaming"),
)
def quarantine_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from ..sources.jsonl import read_blocks, split_corrupt

    land = scratch_dir("quarantine_land")
    lines = []
    for h in range(1, _Q_N + 1):
        if h % 7 == 0:
            lines.append(f'{{"height": {h}, "bro')
        else:
            lines.append(json.dumps({
                "hash": f"bh{h:012d}",
                "height": h,
                "prev_hash": f"bh{h - 1:012d}",
                "time": 1_600_000_000 + h * 60,
                "transactions": [
                    {"hash": f"tx{h:012d}", "type": "payment_v1"}
                ],
            }, sort_keys=True))
    with open(os.path.join(land, "blocks_0001.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")

    good, quarantine = split_corrupt(read_blocks(spark, land))
    parsed = good.select(
        F.col("height").alias("block"),
        "hash",
        F.col("time").alias("block_time"),
        F.size("transactions").cast("long").alias("n_txns"),
        F.lit(None).cast("string").alias("raw"),
    )
    bad = quarantine.select(
        F.lit(None).cast("long").alias("block"),
        F.lit(None).cast("string").alias("hash"),
        F.lit(None).cast("long").alias("block_time"),
        F.lit(None).cast("long").alias("n_txns"),
        F.col("_corrupt_record").alias("raw"),
    )
    return parsed.unionByName(bad)


@register(
    "inventory_refresh_replay",
    """WITH idx AS (SELECT i.i AS i FROM generate_series(0, 149) i(i)
                    WHERE i.i % 9 <> 0),
       v AS (SELECT i, i * 1000 + 7 AS v FROM idx)
       SELECT 'addr' || i::VARCHAR AS _key,
              'own' || (i % 7)::VARCHAR AS owner,
              'hs-' || i::VARCHAR AS name,
              2000::BIGINT AS inventory_height,
              'Point' AS geo_type,
              ((v // 18000) % 36000) / 100.0 - 180.0 AS lng,
              (v % 18000) / 100.0 - 90.0 AS lat
       FROM v""",
    doc="The slowly-refreshed dimension under the value hash "
        "(follower.py:61-62,130-133 + loaders.py:19-47): two CSV drops "
        "land (heights 1000 and 2000), refresh_inventory_if_stale picks "
        "ONLY the newest by filename watermark, geo-enriches it (H3 hex "
        "-> GeoJSON via the Arrow-batched UDF; rows with a null location "
        "dropped, loaders.py:35), and bulk-replaces the hotspots "
        "dimension. The hex payload is the hex rendering of a known "
        "integer, so the oracle reproduces the fallback geo arithmetic "
        "exactly (same trick as udf_geo_index); the GeoJSON struct is "
        "flattened to scalar lng/lat for the driver compare.",
    tags=("source", "dimension", "udf"),
)
def inventory_refresh_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.service import refresh_inventory_if_stale

    land = scratch_dir("inventory/land")
    out = scratch_dir("inventory/dim")

    def write_drop(height: int, n: int) -> None:
        rows = ["address,owner,location,name"]
        for i in range(n):
            loc = "" if i % 9 == 0 else format(i * 1000 + 7, "x")
            rows.append(f"addr{i},own{i % 7},{loc},hs-{i}")
        path = os.path.join(land, f"gateway_inventory_{height}.csv")
        with open(path, "w") as f:
            f.write("\n".join(rows) + "\n")

    write_drop(1000, 100)   # stale drop: must NOT be loaded
    write_drop(2000, 150)   # newest drop by filename watermark
    new_height = refresh_inventory_if_stale(
        spark, os.path.join(land, "gateway_inventory_*.csv"), out,
        sync_height=3000, inventory_height=None,
    )
    if new_height != 2000:
        # explicit raise, not assert: survives python -O (ADVICE r4)
        raise RuntimeError(
            f"refresh must pick the newest drop (2000), got {new_height!r}"
        )
    dim = spark.read.parquet(f"{out}/hotspots")
    return dim.select(
        "_key", "owner", "name", "inventory_height",
        F.col("location_geo").getField("type").alias("geo_type"),
        F.col("location_geo").getField("coordinates").getItem(0).alias("lng"),
        F.col("location_geo").getField("coordinates").getItem(1).alias("lat"),
    )
