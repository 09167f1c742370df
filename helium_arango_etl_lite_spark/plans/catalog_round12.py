"""Round-12 catalog: the nearest-direction as-of join and RFM segments
(its persisted IVF-PQ entries are in catalog_similarity.py; the
streaming Count-Min Sketch, ``stream_heavy_hitters_replay``, is in
catalog_stream.py).

Reference parity note: the reference ETL (follower.py:55-294) maintains
no indexes, sketches, or sessions; these entries are scale-path
operators the 100 TB deployment needs beyond the reference's surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register

# ---------------------------------------------------------------------------
# nearest-direction as-of join: closest match either side, tie backward
# ---------------------------------------------------------------------------


def _asof_nearest_sql() -> str:
    from .registry import EVENTS_NORM

    return f"""WITH {EVENTS_NORM},
purch AS (
  SELECT user_id, ts,
         max_by(value, event_id) AS purchase_value,
         max(event_id) AS purchase_event
  FROM events_norm WHERE event_type = 'purchase'
  GROUP BY user_id, ts)
SELECT e.event_id, e.user_id, e.ts, e.event_type,
       CASE WHEN pb.ts IS NOT NULL
                 AND (pf.ts IS NULL OR e.ts - pb.ts <= pf.ts - e.ts)
            THEN pb.purchase_value ELSE pf.purchase_value END
         AS purchase_value,
       CASE WHEN pb.ts IS NOT NULL
                 AND (pf.ts IS NULL OR e.ts - pb.ts <= pf.ts - e.ts)
            THEN pb.purchase_event ELSE pf.purchase_event END
         AS purchase_event
FROM events_norm e
ASOF LEFT JOIN purch pb
  ON e.user_id = pb.user_id AND e.ts >= pb.ts
ASOF LEFT JOIN purch pf
  ON e.user_id = pf.user_id AND e.ts < pf.ts"""


@register(
    "join_asof_nearest",
    _asof_nearest_sql(),
    doc="As-of join, NEAREST direction (pandas merge_asof("
        "direction='nearest')): every event gets its user's CLOSEST "
        "purchase in either time direction, exact ties to the prior "
        "row. One shuffle, same as backward-only: both the backward "
        "last-ignorenulls fill and the forward first-ignorenulls fill "
        "run over the SAME (user, ts, side) sort — two frames inside "
        "one WindowExec after one Exchange — and the winner is a "
        "per-row distance comparison on the carried whole-row structs "
        "(operators/temporal.py:asof_join_nearest). The forward frame "
        "starts strictly after the current row, so an equal-timestamp "
        "purchase is only ever a backward match at distance zero — "
        "which the tie rule then always picks, keeping Spark and the "
        "oracle's (ASOF >= pb) + (ASOF < pf) + CASE identical at "
        "boundaries. Oracle: two native ASOF joins + the distance CASE.",
    tags=("join", "temporal"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join_nearest
    from .registry import load_events

    en = load_events(spark, sf_dir)
    purch = (
        en.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("purchase_value"),
            F.max("event_id").alias("purchase_event"),
        )
    )
    joined = asof_join_nearest(
        en.select("event_id", "ts", "user_id", "event_type"),
        purch,
        key="user_id",
        value_cols=["purchase_value", "purchase_event"],
    )
    return joined.select(
        "event_id", "user_id", "ts", "event_type",
        "purchase_value", "purchase_event",
    )


# ---------------------------------------------------------------------------
# RFM segmentation: three exact global quintiles, no single-task window
# ---------------------------------------------------------------------------


def _rfm_sql() -> str:
    from .registry import EVENTS_NORM

    return f"""WITH {EVENTS_NORM},
p AS (SELECT user_id, max(ts) AS last_p, count(*)::BIGINT AS freq,
             sum(round(value * 100)::BIGINT)::BIGINT AS monetary_c
      FROM events_norm WHERE event_type = 'purchase' GROUP BY 1),
s AS (SELECT user_id, freq, monetary_c,
             ntile(5) OVER (ORDER BY last_p, user_id) AS r_score,
             ntile(5) OVER (ORDER BY freq, user_id) AS f_score,
             ntile(5) OVER (ORDER BY monetary_c, user_id) AS m_score
      FROM p)
SELECT user_id, freq, monetary_c, r_score, f_score, m_score,
       (r_score * 100 + f_score * 10 + m_score)::INT AS segment
FROM s"""


@register(
    "events_rfm_segments",
    _rfm_sql(),
    doc="RFM customer segmentation (the classic recency/frequency/"
        "monetary marketing cut): per purchasing user, quintile scores "
        "on last-purchase time, purchase count, and integer-cents spend "
        "— each an EXACT global ntile(5) computed via "
        "operators/aggregates.distributed_ntile (range repartition + "
        "Arrow local ranks + broadcast offset map), so none of the "
        "three total-order rankings ever drags the user table through "
        "a single-task window; ties break on user_id so both engines "
        "rank identically. Three range shuffles over the PER-USER "
        "table (already one groupBy smaller than the event corpus) + "
        "two id joins; segment = r*100 + f*10 + m.",
    tags=("analytics", "events", "agg", "scale"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import distributed_ntile
    from .registry import load_events

    en = load_events(spark, sf_dir)
    p = (
        en.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_p"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("monetary_c"),
        )
    )
    p = p.localCheckpoint(eager=False)  # three ntile passes share it
    r = distributed_ntile(p.select("user_id", "last_p"), ["last_p", "user_id"], 5)
    f_ = distributed_ntile(p.select("user_id", "freq"), ["freq", "user_id"], 5)
    m = distributed_ntile(
        p.select("user_id", "monetary_c"), ["monetary_c", "user_id"], 5
    )
    out = (
        p.select("user_id", "freq", "monetary_c")
        .join(r.select("user_id", F.col("ntile").alias("r_score")), "user_id")
        .join(f_.select("user_id", F.col("ntile").alias("f_score")), "user_id")
        .join(m.select("user_id", F.col("ntile").alias("m_score")), "user_id")
    )
    return out.select(
        "user_id", "freq", "monetary_c", "r_score", "f_score", "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).cast("int").alias("segment"),
    )
