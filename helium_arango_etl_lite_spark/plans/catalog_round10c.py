"""Round-10 widening (session 3): CDC merge, spatial radius join,
physical co-location via bucketing, and two window/graph gaps.

* ``cdc_apply`` — change-data-capture log replay with COLUMN-level
  patches and tombstone resets: an update op carries only the columns
  it changes (the others NULL), a delete clears the key entirely, and
  the materialized row is the column-wise latest non-null patch among
  ops after the last tombstone. The MERGE-INTO shape every lakehouse
  ingest needs, expressed as one window + one grouped max-by-struct —
  no per-key iteration.
* ``stream_cdc_replay`` — the same merge as a STATEFUL STREAM
  (applyInPandasWithState, four scalars of state per key, tombstone =
  state reset), hash-verified against the identical batch oracle: the
  fourth member of the batch=stream equivalence family (totals, CUSUM,
  sessions, SCD2, now CDC).
* ``window_rolling_median`` — exact rolling median over a centered
  7-row window per series: Spark has no percentile-over-sliding-window,
  so the window is materialized as a sorted bounded array and the
  median is a PICK (element at floor((n-1)/2)), never an average — the
  readout is an exact BIGINT on both engines. The array is at most 7
  elements regardless of corpus size, so the "collect into a window"
  step is O(1) per row.
* ``graph_resource_allocation`` — Resource-Allocation link-prediction
  index RA(a,b) = sum over common neighbors w of 1/deg(w) (Zhou/Lu/
  Zhang 2009), the degree-penalized refinement of
  graph_common_neighbors: hub neighbors contribute less. Scores are
  exact integers (1e6 // deg summed — integer division, no floats).
* ``join_spatial_radius`` — 2D radius self-join via grid blocking: the
  spatial analog of join_interval_overlap. Cell width = radius, so
  every qualifying pair lands in one of the 9 cells around a point;
  one side explodes to its 3x3 neighborhood, the other stays on its
  home cell, and the exact integer distance test runs only inside
  cell-matched candidates — never an all-pairs cross. The oracle IS
  the all-pairs cross (fixture-sized), so the blocking is verified
  lossless.
* ``storage_bucket_join`` — physical co-location: both join sides are
  written as BUCKETED tables on the join key, so the sort-merge join
  that reads them back needs NO Exchange on either side (verified by a
  plan assertion in tests/test_round10c_ops.py). At 100 TB this is the
  difference between shuffling both fact tables per query and
  shuffling once at write time, amortized over every downstream join
  on the same key.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star join/storage/streaming
families (SURVEY.md section 2.8).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash32, hash32_oracle_sql
from .registry import EVENTS_NORM, load_events, load_table, register

# ---------------------------------------------------------------------------
# CDC merge: column-level patches, tombstone resets, one window + one agg
# ---------------------------------------------------------------------------

# Deterministic change log derived from events: ~1/7 of ops are
# tombstones; an upsert patches valc only when event_id % 3 != 0 and
# attr only when event_id is odd, so most rows are PARTIAL patches and
# the column-wise merge is actually exercised.
_CDC_LOG_SQL = f"""{EVENTS_NORM},
log AS (SELECT user_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS seq,
               CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op,
               CASE WHEN event_id % 7 <> 0 AND event_id % 3 <> 0
                    THEN round(value * 100)::BIGINT END AS valc,
               CASE WHEN event_id % 7 <> 0 AND event_id % 2 = 1
                    THEN event_type END AS attr
        FROM events_norm),
live AS (SELECT * FROM (
           SELECT l.*,
                  coalesce(max(CASE WHEN op = 'D' THEN seq END)
                           OVER (PARTITION BY user_id), 0) AS del_seq
           FROM log l)
         WHERE seq > del_seq)"""

_CDC_SQL = f"""WITH {_CDC_LOG_SQL}
SELECT user_id,
       max_by(valc, seq) FILTER (WHERE valc IS NOT NULL) AS last_valc,
       max_by(attr, seq) FILTER (WHERE attr IS NOT NULL) AS last_attr,
       max(seq)::BIGINT AS last_seq,
       count(*)::BIGINT AS n_live
FROM live GROUP BY 1"""


def _cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic CDC change log (shared by batch and stream)."""
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_del = F.col("event_id") % 7 == 0
    return ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.row_number().over(w).cast("long").alias("seq"),
        F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.when(
            ~is_del & (F.col("event_id") % 3 != 0),
            F.round(F.col("value") * 100).cast("long"),
        ).alias("valc"),
        F.when(~is_del & (F.col("event_id") % 2 == 1), F.col("event_type"))
        .alias("attr"),
    )


@register(
    "cdc_apply",
    _CDC_SQL,
    doc="Change-data-capture merge (lakehouse MERGE INTO): replay a log "
        "of column-level patches and tombstones into the final "
        "materialized table. A 'U' op patches only its non-null "
        "columns; a 'D' clears the key, so only ops AFTER the last "
        "tombstone count, and a key whose log ends in a tombstone is "
        "absent. One user_id-partitioned window pins per-key sequence "
        "and the last-tombstone cut WITHOUT a self-join (the max-over-"
        "partition rides the same shuffle as the sequence numbers); "
        "the column-wise latest-non-null is max(struct(seq, col)) — "
        "all JVM expressions, no per-key iteration. At 100 TB the one "
        "shuffle is by the merge key, exactly the partitioning the "
        "downstream table wants (see storage_bucket_join for keeping "
        "it). Streaming twin: stream_cdc_replay.",
    tags=("etl", "window", "cdc"),
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _cdc_log(spark, sf_dir)
    del_seq = F.max(F.when(F.col("op") == "D", F.col("seq"))).over(
        Window.partitionBy("user_id")
    )
    live = log.withColumn("del_seq", F.coalesce(del_seq, F.lit(0))).filter(
        F.col("seq") > F.col("del_seq")
    )

    def last_non_null(col: str):
        return F.max(
            F.when(F.col(col).isNotNull(), F.struct("seq", col))
        )[col]

    return live.groupBy("user_id").agg(
        last_non_null("valc").alias("last_valc"),
        last_non_null("attr").alias("last_attr"),
        F.max("seq").cast("long").alias("last_seq"),
        F.count(F.lit(1)).cast("long").alias("n_live"),
    )


@register(
    "stream_cdc_replay",
    _CDC_SQL,
    doc="The CDC merge as a STATEFUL STREAM, verified against the "
        "IDENTICAL batch oracle: the change log replays as three "
        "event-time-split micro-batches; applyInPandasWithState "
        "carries four scalars per key (current valc/attr patch state, "
        "last seq, live-op count), a tombstone resets them, and the "
        "reader keeps the last emission per key, dropping keys whose "
        "final n_live is 0. Joins the batch=stream equivalence family "
        "(totals, CUSUM, sessions, SCD2) — this member adds the DELETE "
        "path, which none of the others exercise. State is O(1) per "
        "key and never retains closed history "
        "(streaming/stateful.py:cdc_stream).",
    tags=("streaming", "stateful", "cdc"),
)
def stream_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import cdc_stream
    from .replay import last_emission, run_replay, time_thirds

    log = _cdc_log(spark, sf_dir)
    # one execution for min/max + all three slices (see catalog_round8)
    log = log.persist()
    outs = run_replay(
        spark,
        "stream_cdc",
        cdc_stream,
        [s.drop("ts_us") for s in time_thirds(log, "ts_us")],
    )
    log.unpersist()
    return (
        last_emission(outs, "user_id")
        .filter(F.col("n_live") > 0)
        .select("user_id", "last_valc", "last_attr", "last_seq", "n_live")
    )


# ---------------------------------------------------------------------------
# exact rolling median: sorted bounded window array, median is a PICK
# ---------------------------------------------------------------------------

_ROLLMED_SQL = f"""WITH {EVENTS_NORM},
hr AS (SELECT event_type, date_trunc('hour', ts) AS hour,
              sum(round(value * 100)::BIGINT)::BIGINT AS cents
       FROM events_norm GROUP BY 1, 2),
w AS (SELECT event_type, hour, cents,
             list_sort(list(cents) OVER win) AS lst,
             count(*) OVER win AS n_win
      FROM hr
      WINDOW win AS (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
SELECT event_type, hour, cents, n_win::BIGINT AS n_win,
       lst[((n_win - 1) // 2)::INTEGER + 1]::BIGINT AS med_cents
FROM w"""


@register(
    "window_rolling_median",
    _ROLLMED_SQL,
    doc="Exact rolling median of the hourly cents series per event type "
        "over a centered 7-row window — the robust-smoothing twin of "
        "window_moving_avg (a single spike hour moves the mean but not "
        "the median). Spark has no percentile-over-sliding-window, so "
        "the frame is materialized as sort_array(collect_list) over a "
        "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING frame — the array is "
        "<= 7 elements by construction at ANY corpus size (the window "
        "is over the hourly rollup, itself bounded by the time span), "
        "and the median is element_at(sorted, (n-1)/2 + 1): a PICK "
        "from existing BIGINTs, never an average, so the value is "
        "exact on both engines including the shorter edge windows.",
    tags=("window", "analytics"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    hr = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    win = (
        Window.partitionBy("event_type").orderBy("hour").rowsBetween(-3, 3)
    )
    lst = F.sort_array(F.collect_list("cents").over(win))
    n = F.count(F.lit(1)).over(win)
    med = F.element_at(
        lst, (F.floor((n - 1) / 2) + 1).cast("int")
    )
    return hr.select(
        "event_type",
        "hour",
        "cents",
        n.cast("long").alias("n_win"),
        med.cast("long").alias("med_cents"),
    )


# ---------------------------------------------------------------------------
# Resource-Allocation link prediction: degree-penalized common neighbors
# ---------------------------------------------------------------------------

_RA_SQL = """WITH edges0 AS (
         SELECT DISTINCT c.c_nationkey::INTEGER AS src,
                         s.s_nationkey::INTEGER AS dst
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         WHERE c.c_nationkey <> s.s_nationkey),
       nbr AS (SELECT src AS id, dst AS n FROM edges0
               UNION SELECT dst AS id, src AS n FROM edges0),
       deg AS (SELECT id, count(*) AS d FROM nbr GROUP BY 1)
SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS n_common,
       sum(1000000 // dn.d)::BIGINT AS ra6
FROM nbr a
JOIN nbr b ON a.n = b.n AND a.id < b.id
JOIN deg dn ON dn.id = a.n
GROUP BY 1, 2
HAVING count(*) >= 20"""


@register(
    "graph_resource_allocation",
    _RA_SQL,
    doc="Resource-Allocation link-prediction index over the undirected "
        "money-flow graph: RA(a,b) = sum over common neighbors w of "
        "1/deg(w) (Zhou, Lu & Zhang 2009) — the degree-penalized "
        "refinement of graph_common_neighbors, where a shared hub "
        "contributes almost nothing but a shared low-degree neighbor "
        "is strong evidence. Each neighbor's contribution is the exact "
        "integer 1e6 // deg (integer division on both engines — no "
        "transcendental, which is also why RA is implemented instead "
        "of Adamic-Adar's 1/ln(deg)). Same exploded-adjacency "
        "self-join + broadcast degree join as the Jaccard entry; the "
        "shared n_common >= 20 output cap is the hub-key dial.",
    tags=("graph", "similarity"),
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog_analytics import _money_flow_edges

    e0 = _money_flow_edges(spark, sf_dir)
    nbr = (
        e0.select(F.col("src").alias("id"), F.col("dst").alias("n"))
        .union(e0.select(F.col("dst").alias("id"), F.col("src").alias("n")))
        .distinct()
        .localCheckpoint(eager=False)  # feeds degrees + both join sides
    )
    deg = nbr.groupBy("id").agg(F.count(F.lit(1)).alias("d"))
    a, b = nbr.alias("a"), nbr.alias("b")
    dn = F.broadcast(
        deg.select(F.col("id").alias("n"), F.col("d").alias("dn"))
    )
    return (
        a.join(b, (F.col("a.n") == F.col("b.n")) & (F.col("a.id") < F.col("b.id")))
        .join(dn, F.col("a.n") == dn["n"])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(F.expr("1000000 div dn")).cast("long").alias("ra6"),
        )
        .filter(F.col("n_common") >= 20)
    )


# ---------------------------------------------------------------------------
# 2D radius self-join via grid blocking (the spatial range join)
# ---------------------------------------------------------------------------

_SP_R = 600  # radius; also the grid cell width (cell >= R => 3x3 covers)
_SP_R2 = _SP_R * _SP_R
_SP_SIDE = 100_000  # coordinate domain side

_SPATIAL_SQL = f"""WITH pts AS (
  SELECT c_custkey::BIGINT AS k,
         ({hash32_oracle_sql("'px|' || c_custkey::VARCHAR")} % {_SP_SIDE}) AS x,
         ({hash32_oracle_sql("'py|' || c_custkey::VARCHAR")} % {_SP_SIDE}) AS y
  FROM customer)
SELECT a.k AS key_a, b.k AS key_b,
       ((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist2
FROM pts a JOIN pts b ON a.k < b.k
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_SP_R2}"""


@register(
    "join_spatial_radius",
    _SPATIAL_SQL,
    doc=f"2D radius self-join (all point pairs within Euclidean distance "
        f"{_SP_R} on a {_SP_SIDE}^2 integer grid): the spatial analog "
        "of join_interval_overlap, via grid blocking. Cell width = "
        "radius, so any qualifying pair is in the same or an adjacent "
        "cell; ONE side explodes to its 3x3 cell neighborhood "
        "(bounded 9x fan-out), the other keeps its home cell, and the "
        "equi-join on (cell_x, cell_y) reduces candidates to local "
        "density before the exact integer dist^2 <= r^2 test — never "
        "an all-pairs cross (the ORACLE is the all-pairs cross, so the "
        "blocking is verified lossless). Each pair is found exactly "
        "once: the exploded side covers the home cell of the other. "
        "At 100 TB: candidates per point are bounded by the 9-cell "
        "population; a hot cell (urban clustering) gets the same "
        "max-cell-size salt cap as join_interval_overlap_capped — "
        "density, not data size, is the cost driver. Coordinates are "
        "hash-derived integers (fixture has no geo columns) so the "
        "distance test is exact on both engines.",
    tags=("join", "spatial"),
)
def join_spatial_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    key_s = F.col("c_custkey").cast("string")
    pts = cust.select(
        F.col("c_custkey").cast("long").alias("k"),
        (hash32(F.concat(F.lit("px|"), key_s)) % _SP_SIDE).alias("x"),
        (hash32(F.concat(F.lit("py|"), key_s)) % _SP_SIDE).alias("y"),
    ).withColumns(
        {
            "cx": F.expr(f"x div {_SP_R}"),
            "cy": F.expr(f"y div {_SP_R}"),
        }
    )
    pts = pts.localCheckpoint(eager=False)  # both join sides
    offs = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    a = (
        pts.withColumn("o", offs)
        .select(
            F.col("k").alias("ka"), F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            (F.col("cx") + F.col("o.dx")).alias("jx"),
            (F.col("cy") + F.col("o.dy")).alias("jy"),
        )
    )
    b = pts.select(
        F.col("k").alias("kb"), F.col("x").alias("xb"),
        F.col("y").alias("yb"), F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    dist2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(b, ["jx", "jy"])
        .filter((F.col("ka") < F.col("kb")) & (dist2 <= _SP_R2))
        .select(
            F.col("ka").alias("key_a"),
            F.col("kb").alias("key_b"),
            dist2.cast("long").alias("dist2"),
        )
    )


# ---------------------------------------------------------------------------
# bucketed co-located join: shuffle paid once at write, not per query
# ---------------------------------------------------------------------------

_BUCKET_SQL = """SELECT c_mktsegment,
       count(*)::BIGINT AS n_orders,
       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1"""

_N_BUCKETS = 8


@register(
    "storage_bucket_join",
    _BUCKET_SQL,
    doc=f"Physical co-location via bucketing: both join sides are "
        f"written as {_N_BUCKETS}-bucket tables on the join key "
        "(bucketBy + sortBy at write time), so the sort-merge join "
        "that reads them back requires NO Exchange on either side — "
        "tests/test_round10c_ops.py asserts the executed plan is "
        "exchange-free under a forced merge-join hint. The oracle is "
        "the plain logical join, so the bucketed physical layout is "
        "verified to change NOTHING about results. At 100 TB this is "
        "the central fact-table discipline: pay the partitioning "
        "shuffle once when the table lands, and every subsequent join "
        "or aggregation on the bucket key is map-side. The bucket "
        "files live in a per-PID scratch dir (wiped per run) and the "
        "table entries overwrite, so repeated runs are idempotent.",
    tags=("storage", "join", "physical"),
)
def storage_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    bo, bc = _bucketed_sides(spark, sf_dir)
    j = bo.hint("merge").join(bc, bo["o_custkey"] == bc["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


def _bucketed_sides(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Write orders + customer as bucketed tables and read them back.
    Shared by the catalog entry and the plan-assertion test."""
    from .replay import scratch_dir

    scratch = scratch_dir("bucket_tables")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    (
        o.write.format("parquet")
        .mode("overwrite")
        .bucketBy(_N_BUCKETS, "o_custkey")
        .sortBy("o_custkey")
        .option("path", os.path.join(scratch, "orders"))
        .saveAsTable("sg_bucket_orders")
    )
    (
        c.write.format("parquet")
        .mode("overwrite")
        .bucketBy(_N_BUCKETS, "c_custkey")
        .sortBy("c_custkey")
        .option("path", os.path.join(scratch, "customer"))
        .saveAsTable("sg_bucket_customer")
    )
    return spark.table("sg_bucket_orders"), spark.table("sg_bucket_customer")
