"""Round-10 widening (session 3, sixth wave): random projection, timed
funnels, uncertainty sampling, thumbnail resize and k-center coresets.

* ``llm_random_projection`` — Johnson-Lindenstrauss dimensionality
  reduction: project 64-d embeddings onto 16 seeded random hyperplanes
  (the SAME 6dp-literal matrix discipline as the LSH entries, so both
  engines fold identical doubles in identical order) and MEASURE the
  cosine distortion over a deterministic pair sample — the
  cost-reduction step before ANN at scale, shipped with its own error
  readout instead of a trust-me. Map-only: no shuffle anywhere except
  the 100-pair sample join.
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
* ``llm_kcenter_coreset`` — Gonzalez farthest-point k-center
  selection: each round one corpus scan against the broadcast
  selected set; the maxsim column is the coverage-radius curve and
  the oracle unrolls every greedy round.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star similarity/analytics/graph
families (SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.llm.similarity import cosine, dot, hyperplanes
from .registry import EVENTS_NORM, load_events, load_table, register

# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection + distortion readout
# ---------------------------------------------------------------------------

_JL_OUT_DIM = 16
_JL_IN_DIM = 64
_JL_SEED = 23
_JL_PAIRS = 100  # deterministic sample: (2i, 2i+1) for i < 100

_JL_COS4 = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


def _jl_planes() -> list[list[float]]:
    return hyperplanes(_JL_OUT_DIM, _JL_IN_DIM, _JL_SEED)


def _jl_sql() -> str:
    planes = _jl_planes()
    proj = ", ".join(
        "list_dot_product(v, ["
        + ", ".join(repr(x) for x in p)
        + "])"
        for p in planes
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT vec_id, v, [{proj}] AS pv FROM e
      WHERE vec_id < {2 * _JL_PAIRS})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_JL_COS4.format(a="a.v", b="b.v")} AS cos_orig,
       {_JL_COS4.format(a="a.pv", b="b.pv")} AS cos_proj,
       round(abs({_JL_COS4.format(a="a.v", b="b.v")}
                 - {_JL_COS4.format(a="a.pv", b="b.pv")}), 4) AS err
FROM p a JOIN p b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0"""


@register(
    "llm_random_projection",
    _jl_sql(),
    doc=f"Johnson-Lindenstrauss random projection: {_JL_IN_DIM}-d "
        f"embeddings project onto {_JL_OUT_DIM} seeded hyperplanes "
        "(6dp literals injected identically into both engines — the "
        "LSH-planes discipline — so each projected coordinate is the "
        "same sequential fold of the same doubles), and the entry "
        "MEASURES what the reduction costs: cosine before vs after "
        f"over {_JL_PAIRS} deterministic (2i, 2i+1) pairs, with the "
        "absolute error as a column. The compute-reduction step "
        "before ANN at 100 TB (a 4x narrower vector is 4x less "
        "scan/shuffle in every downstream similarity op) shipped "
        "with its error budget instead of a trust-me. The projection "
        "itself is MAP-ONLY whole-stage-codegen arithmetic; only the "
        "pair sample joins.",
    tags=("llm", "similarity", "eval"),
)
def llm_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _jl_planes()
    v = F.col("embedding").cast("array<double>")
    pv = F.array(
        *[
            dot(v, F.array(*[F.lit(x) for x in p]))
            for p in planes
        ]
    )
    p = emb.filter(F.col("vec_id") < 2 * _JL_PAIRS).select(
        "vec_id", v.alias("v"), pv.alias("pv")
    )
    a = p.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"), F.col("pv").alias("pa"),
    ).filter(F.col("id_a") % 2 == 0)
    b = p.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"), F.col("pv").alias("pb"),
    )
    co = F.round(cosine(F.col("va"), F.col("vb")), 4)
    cp = F.round(cosine(F.col("pa"), F.col("pb")), 4)
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a", "id_b",
            co.alias("cos_orig"), cp.alias("cos_proj"),
            F.round(F.abs(co - cp), 4).alias("err"),
        )
    )


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


# ---------------------------------------------------------------------------
# k-center coreset: Gonzalez farthest-point traversal
# ---------------------------------------------------------------------------

_KC_K = 6

_KC_COS4 = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


def _kcenter_sql() -> str:
    head = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s1 AS (SELECT vec_id, v, 1.0 AS ms FROM e WHERE vec_id = 0)"""
    parts = [head]
    prev = "s1"
    for r in range(2, _KC_K + 1):
        parts.append(f""",
r{r} AS (SELECT e.vec_id, e.v,
               max({_KC_COS4.format(a="e.v", b="s.v")}) AS ms
        FROM e JOIN {prev} s ON e.vec_id <> s.vec_id
        WHERE e.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY e.vec_id, e.v
        ORDER BY ms, e.vec_id LIMIT 1),
s{r} AS (SELECT vec_id, v, ms FROM {prev}
         UNION ALL SELECT vec_id, v, ms FROM r{r})""")
        prev = f"s{r}"
    ranked = " UNION ALL ".join(
        [f"SELECT 1 AS rank, vec_id, round(ms, 4) AS maxsim FROM s1"]
        + [
            f"SELECT {r} AS rank, vec_id, round(ms, 4) AS maxsim FROM r{r}"
            for r in range(2, _KC_K + 1)
        ]
    )
    return "".join(parts) + "\n" + ranked


@register(
    "llm_kcenter_coreset",
    _kcenter_sql(),
    doc=f"k-center coreset selection by farthest-point traversal "
        "(Gonzalez 1985; the geometric data-selection rule modern "
        "embedding-coverage samplers build on): starting from vector "
        f"0, each of {_KC_K - 1} rounds adds the point whose maximum "
        "cosine to the already-selected set is SMALLEST — the point "
        "the current coreset covers worst — so the selected set "
        "spreads to cover the embedding space and the final maxsim "
        "column IS the coverage radius curve. The geometry-based "
        "complement to llm_uncertainty_sample's model-based picks. "
        "Each round is ONE corpus scan joined to the broadcast "
        "selected set (<= 6 rows) with a TakeOrdered(1) — the scan "
        "count is k, never k*n pairs materialized. Similarities "
        "round to 4dp before the argmin on both engines; ties break "
        "on vec_id. The oracle unrolls every round, so the greedy "
        "recursion is verified, not just the final membership. For "
        "large k, the scan count is the dial — delivered in round 11 "
        "as llm_kcenter_coreset_batched (m picks per scan, "
        "ceil((k-1)/m) scans; operators/llm/similarity.py:"
        "kcenter_coreset is the shared traversal, this entry is its "
        "m=1 form).",
    tags=("llm", "similarity", "sampling"),
)
def llm_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.similarity import kcenter_coreset

    # m=1 IS pure Gonzalez — the traversal loop lives in similarity.py
    # since round 11 so the batched entry (llm_kcenter_coreset_batched,
    # catalog_round11.py) and this one share one implementation
    return kcenter_coreset(
        load_table(spark, sf_dir, "embeddings"), k=_KC_K, m=1
    )
