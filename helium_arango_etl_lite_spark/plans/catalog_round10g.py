"""Round-10 widening (session 3, fifth wave): the conversion-latency
readout (its rank-agreement entry is in catalog_similarity.py).

* ``events_conversion_latency`` — signup-to-purchase latency
  distribution: each purchase pairs with the user's most recent
  preceding signup (the events_attribution carry window, carrying the
  TIMESTAMP this time), and latencies bucket into hour-granularity
  bins capped at 24+ — the activation-funnel readout next to
  agg_event_funnel (which counts stage reach, not time-to-convert).
  One user-keyed window shuffle; the histogram is 26 rows at any
  corpus size.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star analytics family
(SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import EVENTS_NORM, load_events, register

# ---------------------------------------------------------------------------
# signup-to-purchase latency histogram
# ---------------------------------------------------------------------------

_LAT_CAP_H = 24

_LATENCY_SQL = f"""WITH {EVENTS_NORM},
tagged AS (SELECT user_id, ts, event_id, event_type,
                  last_value(CASE WHEN event_type = 'signup' THEN ts END
                             IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS last_signup
           FROM events_norm)
SELECT least(epoch_us(ts - last_signup) // 3600000000,
             {_LAT_CAP_H})::BIGINT AS hours,
       count(*)::BIGINT AS n
FROM tagged
WHERE event_type = 'purchase' AND last_signup IS NOT NULL
GROUP BY 1"""


@register(
    "events_conversion_latency",
    _LATENCY_SQL,
    doc="Signup-to-purchase conversion latency histogram: each purchase "
        "pairs with the user's most recent PRECEDING signup via the "
        "same last-non-null carry window as events_attribution "
        "(carrying the timestamp instead of the type; purchases "
        "before any signup are excluded, not guessed), and latencies "
        f"bucket at hour granularity capped at {_LAT_CAP_H}+ so the "
        "readout is bounded at any corpus size. The time-to-convert "
        "readout agg_event_funnel's stage counts do not give. "
        "Latency arithmetic is integer microseconds end to end; ONE "
        "user-keyed shuffle, shared shape with every sessionization "
        "entry.",
    tags=("analytics", "window", "events"),
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    tagged = ev.withColumn(
        "last_signup", F.last(signup_ts, ignorenulls=True).over(w)
    )
    lat_h = F.expr(
        "(unix_micros(ts) - unix_micros(last_signup)) div 3600000000"
    )
    return (
        tagged.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_signup").isNotNull()
        )
        .groupBy(
            F.least(lat_h, F.lit(_LAT_CAP_H)).cast("long").alias("hours")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
