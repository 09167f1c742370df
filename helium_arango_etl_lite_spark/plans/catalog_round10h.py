"""Round-10 widening (session 3, sixth wave): timed funnels, uncertainty
sampling and thumbnail resize (its random-projection and k-center entries
are in catalog_similarity.py).

* ``events_funnel_timed`` — STRICT ordered funnel with per-step time
  bounds (signup -> click within 1h -> purchase within 1h): the
  MATCH_RECOGNIZE-style sequential pattern agg_event_funnel's
  stage-reach counts cannot express, done with TWO stacked
  last-non-null carry windows over one user-keyed sort (carry the
  signup time into clicks to mark QUALIFIED clicks, carry the
  qualified-click time into purchases) — no self-join, no per-user
  UDF, one shuffle.
* ``llm_uncertainty_sample`` — margin-based uncertainty sampling over
  the shared per-(doc, class) NB score table: the active-learning rule
  for spending a labeling budget where the model is least sure; the
  margin is a difference of two fixed-point BIGINT scores, so the
  bottom-K selection is exact.
* ``llm_multimodal_resize`` — nearest-neighbor thumbnail resize over
  REAL decoded PNGs, with the oracle predicting the resized
  per-channel sums straight from the source text at the sampled
  pixel indices.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star analytics/multimodal
families (SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import EVENTS_NORM, load_events, load_table, register

# ---------------------------------------------------------------------------
# strict ordered funnel with per-step time bounds (two stacked carries)
# ---------------------------------------------------------------------------

_FUNNEL_STEP_US = 3_600_000_000  # 1 hour per step

_FUNNEL_TIMED_SQL = f"""WITH {EVENTS_NORM},
c1 AS (SELECT user_id, ts, event_id, event_type,
              last_value(CASE WHEN event_type = 'signup'
                              THEN epoch_us(ts) END IGNORE NULLS)
                OVER w AS signup_us
       FROM events_norm
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c2 AS (SELECT user_id, ts, event_id, event_type,
              last_value(CASE WHEN event_type = 'click'
                              AND signup_us IS NOT NULL
                              AND epoch_us(ts) - signup_us
                                  <= {_FUNNEL_STEP_US}
                              THEN epoch_us(ts) END IGNORE NULLS)
                OVER w AS qclick_us
       FROM c1
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
conv AS (SELECT DISTINCT user_id FROM c2
         WHERE event_type = 'purchase' AND qclick_us IS NOT NULL
           AND epoch_us(ts) - qclick_us <= {_FUNNEL_STEP_US})
SELECT (SELECT count(DISTINCT user_id) FROM events_norm
        WHERE event_type = 'signup')::BIGINT AS n_signup,
       (SELECT count(DISTINCT user_id) FROM c1
        WHERE event_type = 'click' AND signup_us IS NOT NULL
          AND epoch_us(ts) - signup_us <= {_FUNNEL_STEP_US})::BIGINT
         AS n_qualified_click,
       (SELECT count(*) FROM conv)::BIGINT AS n_converted"""


@register(
    "events_funnel_timed",
    _FUNNEL_TIMED_SQL,
    doc="STRICT ordered funnel with per-step time bounds — signup, "
        "then a click within 1 h of the carried signup, then a "
        "purchase within 1 h of the carried QUALIFIED click: the "
        "MATCH_RECOGNIZE-style sequential pattern agg_event_funnel's "
        "stage-reach counts cannot express (there, any click counts; "
        "here order AND timing gate each step). Implemented as TWO "
        "stacked last-non-null carry windows over ONE user-keyed "
        "sort — the signup time rides into clicks to mark qualified "
        "clicks, whose time rides into purchases — no self-join, no "
        "per-user UDF, one shuffle shared with the whole "
        "sessionization family. Three distinct-user counts read the "
        "same carried frame.",
    tags=("analytics", "window", "events"),
)
def events_funnel_timed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    us = F.unix_micros(F.col("ts"))
    c1 = ev.withColumn(
        "signup_us",
        F.last(
            F.when(F.col("event_type") == "signup", us), ignorenulls=True
        ).over(w),
    )
    qclick = (
        (F.col("event_type") == "click")
        & F.col("signup_us").isNotNull()
        & (us - F.col("signup_us") <= _FUNNEL_STEP_US)
    )
    c2 = c1.withColumn(
        "qclick_us",
        F.last(F.when(qclick, us), ignorenulls=True).over(w),
    )
    c2 = c2.localCheckpoint(eager=False)  # feeds all three readouts
    n_signup = (
        c2.filter(F.col("event_type") == "signup")
        .agg(F.countDistinct("user_id").alias("n"))
    )
    n_qc = (
        c2.filter(qclick)
        .agg(F.countDistinct("user_id").alias("n"))
    )
    n_conv = (
        c2.filter(
            (F.col("event_type") == "purchase")
            & F.col("qclick_us").isNotNull()
            & (us - F.col("qclick_us") <= _FUNNEL_STEP_US)
        )
        .agg(F.countDistinct("user_id").alias("n"))
    )
    return (
        n_signup.select(F.col("n").cast("long").alias("n_signup"))
        .crossJoin(
            n_qc.select(F.col("n").cast("long").alias("n_qualified_click"))
        )
        .crossJoin(
            n_conv.select(F.col("n").cast("long").alias("n_converted"))
        )
    )


# ---------------------------------------------------------------------------
# margin-based uncertainty sampling (active-learning labeling budget)
# ---------------------------------------------------------------------------

_UNC_K = 20


def _uncertainty_sql() -> str:
    from .catalog_round8d import _NB_FINAL_CTES

    return f"""{_NB_FINAL_CTES}
SELECT a.doc_id, a.lang AS pred_lang,
       (a.score6 - b.score6)::BIGINT AS margin6
FROM final a JOIN final b ON a.doc_id = b.doc_id AND b.rk = 2
WHERE a.rk = 1
ORDER BY margin6, a.doc_id LIMIT {_UNC_K}"""


@register(
    "llm_uncertainty_sample",
    _uncertainty_sql(),
    doc=f"Margin-based uncertainty sampling: the {_UNC_K} documents "
        "where the NB classifier's top-two class scores are closest — "
        "the active-learning selection rule for spending a labeling "
        "budget where the model is least sure (Lewis & Gale 1994's "
        "uncertainty sampling, margin variant). The margin is a "
        "difference of two fixed-point micro-nat BIGINTs (the scorer's "
        "integer dot products), so selection is exact and the "
        "(margin6, doc_id) order total. Rides the SHARED per-(doc, "
        "class) score table (_nb_class_scores) — the rk<=2 pivot is "
        "one self-join on the already-ranked frame, and the global "
        "bottom-K is a TakeOrderedAndProject, no corpus sort. "
        "Completes the labeling loop next to llm_eval_confusion "
        "(where is the model wrong) and llm_eval_calibration (does "
        "confidence rank it): this one says which rows to LABEL NEXT.",
    tags=("llm", "eval", "sampling"),
)
def llm_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog_round8d import _nb_class_scores

    s = _nb_class_scores(spark, sf_dir).localCheckpoint(eager=False)
    a = s.filter(F.col("rk") == 1).select(
        "doc_id", F.col("lang").alias("pred_lang"),
        F.col("score6").alias("s1"),
    )
    b = s.filter(F.col("rk") == 2).select(
        "doc_id", F.col("score6").alias("s2")
    )
    return (
        a.join(b, "doc_id")
        .select(
            "doc_id", "pred_lang",
            (F.col("s1") - F.col("s2")).cast("long").alias("margin6"),
        )
        .orderBy("margin6", "doc_id")
        .limit(_UNC_K)
    )


# ---------------------------------------------------------------------------
# nearest-neighbor thumbnail resize over REAL decoded PNGs
# ---------------------------------------------------------------------------

_RSZ_OUT = 4  # 8xH rasters -> 4x4 thumbnails


def _resize_sql() -> str:
    from ..operators.llm import multimodal as mm
    from .catalog_round9 import _PNG_ASCII, _PNG_ROW

    t = _RSZ_OUT
    return f"""
WITH d AS (SELECT doc_id, text,
                  least({mm.PNG_MAX_H}, length(text) // {_PNG_ROW}) AS h
           FROM documents
           WHERE length(text) >= {_PNG_ROW} AND {_PNG_ASCII}),
g AS (SELECT doc_id, text, h, ch,
             (((j * h) // {t}) * {mm.PNG_WIDTH}
              + (k * {mm.PNG_WIDTH}) // {t}) * 3 + ch + 1 AS i
      FROM d,
           (SELECT unnest(generate_series(0, {t - 1})) AS j),
           (SELECT unnest(generate_series(0, {t - 1})) AS k),
           (SELECT unnest(generate_series(0, 2)) AS ch))
SELECT doc_id AS media_id,
       {mm.PNG_WIDTH}::BIGINT AS src_w, h::BIGINT AS src_h,
       {t}::BIGINT AS out_w, {t}::BIGINT AS out_h,
       sum(CASE WHEN ch = 0 THEN ord(substr(text, i, 1)) END)::BIGINT
         AS sum_r,
       sum(CASE WHEN ch = 1 THEN ord(substr(text, i, 1)) END)::BIGINT
         AS sum_g,
       sum(CASE WHEN ch = 2 THEN ord(substr(text, i, 1)) END)::BIGINT
         AS sum_b
FROM g GROUP BY doc_id, h"""


@register(
    "llm_multimodal_resize",
    _resize_sql(),
    doc=f"REAL image resize over REAL decoded PNGs: each document's "
        "PNG (five filter types, zlib IDAT, per-chunk CRC — the "
        "decode_png fixture) decodes and nearest-neighbor resamples "
        f"to {_RSZ_OUT}x{_RSZ_OUT} (output cell (j,k) takes source "
        "pixel (j*h//4, k*w//4) — the floor convention that both "
        "down- and up-samples and is exactly replayable in SQL), and "
        "the oracle predicts the RESIZED per-channel sums straight "
        "from the source text with ord() at the sampled indices — a "
        "resampler off by one pixel in EITHER axis mismatches. The "
        "thumbnail/normalize stage every multimodal training "
        "pipeline runs after decode: map-only Arrow batches, zero "
        "shuffle, embarrassingly parallel across images "
        "(operators/llm/multimodal.py:png_resize_stats).",
    tags=("llm", "multimodal"),
)
def llm_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length("text") == F.length("text")  # ASCII: byte == char
    )
    return mm.png_resize_stats(
        mm.encode_png_from_text(docs), out_h=_RSZ_OUT, out_w=_RSZ_OUT
    )
