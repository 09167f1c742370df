"""Round-10 widening (session 3, second wave): l-diversity, marketing
attribution, Zipf's-law fit, and classifier evaluation.

* ``dq_l_diversity`` — the privacy readout k-anonymity cannot see:
  a class of 1000 identical quasi-identifiers is still a disclosure
  if all 1000 share one sensitive value. Counts distinct sensitive
  values per QI class and sweeps l-thresholds, mirroring
  dq_k_anonymity's shape (same QI tuple, same threshold-cross).
* ``events_attribution`` — last-touch marketing attribution: every
  purchase is credited to the user's most recent preceding touch
  event (click/view/signup), or 'direct' if none — ONE pass with a
  last-non-null-over-ordered-partition window (the as-of join shape,
  join_asof, applied stream-internally), then a channel rollup.
* ``llm_zipf_slope`` — Zipf's-law fit per language: OLS slope of
  ln(freq) on ln(rank) over the top-100 vocabulary. Per-term log
  coordinates are fixed-pointed to integers FIRST, so the OLS
  numerator/denominator are exact BIGINT sums and the slope is one
  bigint/bigint division — the corpus-health readout (slope ~ -1 is
  natural text; flatter suggests boilerplate/dedup artifacts).
* ``llm_eval_confusion`` — per-class precision/recall/F1 for the
  naive-Bayes language classifier (llm_naive_bayes_score), computed
  ENTIRELY in integer arithmetic: tp/fp/fn are counts and each ratio
  is a round-half-up rational ((2e6*tp + q) // (2q)) — no floats
  anywhere, so the eval is exact on both engines. Closes the
  train -> score -> MEASURE loop the retrieval evals (P/R@K, nDCG)
  close for search.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star graph/data-quality/eval
families (SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detln import ln_u6_select_items, with_ln_u6
from .registry import EVENTS_NORM, load_events, load_table, register

# ---------------------------------------------------------------------------
# l-diversity: distinct sensitive values per QI class, threshold sweep
# ---------------------------------------------------------------------------

_LDIV_THRESHOLDS = (2, 3, 5)

_LDIV_SQL = f"""
WITH cls AS (SELECT lang, source, n_chars // 100 AS len_bucket,
                    count(*)::BIGINT AS sz,
                    count(DISTINCT substr(md5(text), 1, 1))::BIGINT AS ndist
             FROM documents GROUP BY 1, 2, 3),
ls AS (SELECT unnest([{", ".join(str(v) for v in _LDIV_THRESHOLDS)}])::BIGINT AS l)
SELECT l,
       count(*)::BIGINT AS n_classes,
       sum(sz)::BIGINT AS n_rows,
       sum(CASE WHEN ndist < l THEN 1 ELSE 0 END)::BIGINT
         AS violating_classes,
       sum(CASE WHEN ndist < l THEN sz ELSE 0 END)::BIGINT AS rows_at_risk,
       min(ndist)::BIGINT AS achieved_l
FROM cls, ls GROUP BY l ORDER BY l"""


@register(
    "dq_l_diversity",
    _LDIV_SQL,
    doc="l-diversity sweep over the dq_k_anonymity QI tuple "
        "(lang, source, length bucket): a QI class counts as violating "
        "when its DISTINCT sensitive-value count (here a 16-valued "
        "content fingerprint nibble standing in for the sensitive "
        "column) is below l — the disclosure k-anonymity misses, since "
        "a large class whose members all share one sensitive value "
        "identifies it for everyone in the class (Machanavajjhala et "
        "al. 2007). Same scale shape as the k sweep: one QI-keyed "
        "partial-agg pass (count-distinct inside the class), then a "
        "3-row threshold cross over the class-sized table.",
    tags=("dq", "privacy"),
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cls = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).cast("long").alias("len_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct(F.substring(F.md5("text"), 1, 1)).alias("ndist"),
    )
    ls = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(v) for v in _LDIV_THRESHOLDS])
        ).alias("l")
    )
    viol = F.col("ndist") < F.col("l")
    return (
        cls.crossJoin(F.broadcast(ls))
        .groupBy("l")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("sz").cast("long").alias("n_rows"),
            F.sum(viol.cast("long")).cast("long").alias("violating_classes"),
            F.sum(F.when(viol, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
            F.min("ndist").cast("long").alias("achieved_l"),
        )
    )


# ---------------------------------------------------------------------------
# last-touch attribution: as-of join shape inside one event stream
# ---------------------------------------------------------------------------

_ATTR_SQL = f"""WITH {EVENTS_NORM},
tagged AS (SELECT user_id, ts, event_id, event_type, value,
                  last_value(CASE WHEN event_type IN
                                  ('click', 'view', 'signup')
                             THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS last_touch
           FROM events_norm)
SELECT coalesce(last_touch, 'direct') AS channel,
       count(*)::BIGINT AS conversions,
       sum(round(value * 100)::BIGINT)::BIGINT AS cents
FROM tagged WHERE event_type = 'purchase'
GROUP BY 1"""


@register(
    "events_attribution",
    _ATTR_SQL,
    doc="Last-touch marketing attribution: each purchase is credited "
        "to the user's most recent PRECEDING touch event (click / "
        "view / signup; 'direct' when the purchase is the user's "
        "first tracked action). The crediting is one last-non-null "
        "window over the user-ordered stream — the as-of join shape "
        "(join_asof) applied within a single stream rather than "
        "across two — so attribution costs exactly one user-keyed "
        "shuffle regardless of touch:conversion ratio; the channel "
        "rollup then runs on the purchases only. A purchase cannot "
        "credit itself: only touch types enter the carried value.",
    tags=("analytics", "window", "events"),
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view", "signup"),
        F.col("event_type"),
    )
    tagged = ev.withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("last_touch", F.lit("direct")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("conversions"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf slope: integer-OLS over fixed-pointed log-log coordinates
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100

# Both engines evaluate the SAME generated arithmetic for ln (ADVICE
# r10): functions/detln.py stages a range-reduced Horner atanh series
# out of IEEE + - * / only, so x6/y6 are bit-identical by construction
# instead of trusting libm and Math.log to agree near a .5 boundary.
_ZIPF_SQL = f"""
WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w
             FROM documents),
freq AS (SELECT lang, w, count(*)::BIGINT AS f FROM tok GROUP BY 1, 2),
ranked AS (SELECT lang, f,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY f DESC, w) AS rk
           FROM freq),
pts AS (SELECT lang, x6, y6 FROM
          (SELECT lang,
                  {ln_u6_select_items('rk', 'x6')},
                  {ln_u6_select_items('f', 'y6')}
           FROM ranked WHERE rk <= {_ZIPF_TOP}) lifted),
s AS (SELECT lang, count(*)::BIGINT AS n,
             sum(x6)::BIGINT AS sx, sum(y6)::BIGINT AS sy,
             sum(x6 * y6)::BIGINT AS sxy, sum(x6 * x6)::BIGINT AS sxx
      FROM pts GROUP BY 1)
SELECT lang, n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx)::DOUBLE, 6)
         AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx)::DOUBLE
              * sx) / (n * 1000000.0), 6) AS intercept_n
FROM s"""


@register(
    "llm_zipf_slope",
    _ZIPF_SQL,
    doc=f"Zipf's-law fit per language: OLS slope of ln(frequency) on "
        f"ln(rank) over the top-{_ZIPF_TOP} vocabulary — natural text "
        "sits near -1; a much flatter slope flags boilerplate or "
        "template floods, much steeper flags a collapsed vocabulary "
        "(complements llm_vocab_growth's Heaps-law curve). Each "
        "term's log-log coordinates are fixed-pointed to integer "
        "micro-units FIRST, so the OLS moments are exact BIGINT sums "
        "(aggregation order cannot move them) and the slope is one "
        "bigint-ratio division rounded at the end; the micro-unit ln "
        "itself is the shared deterministic series from "
        "functions/detln.py, evaluated by identical IEEE arithmetic "
        "in both engines, so no libm-vs-Math.log ulp can flip a "
        "coordinate (ADVICE r10). One corpus tokenize feeds a "
        "vocabulary-sized shuffle; the ranked window and the ln "
        f"stages run on the per-lang top-{_ZIPF_TOP} only.",
    tags=("llm", "text", "quality"),
)
def llm_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("f"), "w")
    )
    ranked = freq.withColumn("rk", rk).filter(F.col("rk") <= _ZIPF_TOP)
    pts = with_ln_u6(with_ln_u6(ranked, "rk", "x6"), "f", "y6").select(
        "lang", "x6", "y6"
    )
    s = pts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x6").alias("sx"),
        F.sum("y6").alias("sy"),
        F.sum(F.col("x6") * F.col("y6")).alias("sxy"),
        F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    return s.select(
        "lang",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx"))
            / (F.col("n") * F.lit(1_000_000.0)),
            6,
        ).alias("intercept_n"),
    )


# ---------------------------------------------------------------------------
# classifier eval: confusion counts + integer-exact P/R/F1 per class
# ---------------------------------------------------------------------------


def _r6(num: str, den: str) -> str:
    """Round-half-up fixed-point rational (2e6*num + den) // (2*den),
    rendered for DuckDB; exact integer arithmetic, no floats."""
    return f"((2000000 * ({num}) + ({den})) // (2 * ({den})))::BIGINT"


def _confusion_sql() -> str:
    from .catalog_round8d import _NB_SCORE_SQL

    return f"""
WITH scored AS ({_NB_SCORE_SQL}),
t AS (SELECT true_lang AS lang, count(*)::BIGINT AS n_true,
             sum(CASE WHEN correct THEN 1 ELSE 0 END)::BIGINT AS tp
      FROM scored GROUP BY 1),
p AS (SELECT pred_lang AS lang, count(*)::BIGINT AS n_pred
      FROM scored GROUP BY 1)
SELECT lang, tp,
       (coalesce(n_pred, 0) - tp)::BIGINT AS fp,
       (n_true - tp)::BIGINT AS fn,
       CASE WHEN coalesce(n_pred, 0) > 0
            THEN {_r6("tp", "n_pred")} END AS prec6,
       {_r6("tp", "n_true")} AS rec6,
       {_r6("2 * tp", "n_true + coalesce(n_pred, 0)")} AS f16
FROM t LEFT JOIN p USING (lang)"""


@register(
    "llm_eval_confusion",
    _confusion_sql(),
    doc="Per-class precision/recall/F1 for the naive-Bayes language "
        "classifier — the eval readout that closes the "
        "train (llm_naive_bayes_train) -> score (llm_naive_bayes_score) "
        "-> MEASURE loop. tp/fp/fn come from two class-sized "
        "aggregates over the scored corpus (true-side and pred-side; "
        "fp and fn are differences, no third pass), and every ratio "
        "is the round-half-up rational (2e6*num + den) // (2*den) — "
        "INTEGER arithmetic end to end, no transcendental, no float "
        "sum, so the eval is bit-exact on both engines. Classes the "
        "model never predicts KEEP their row (recall 0, precision "
        "NULL) via a left join from the true-side — dropping them "
        "inflates macro averages exactly when the classifier is at "
        "its worst (observed on the sf0.1 corpus, where the "
        "+1-smoothed model stops predicting two classes entirely). "
        "The fixture classifier is genuinely "
        "imperfect (short docs misclassify), so all three counts "
        "are exercised.",
    tags=("llm", "eval"),
)
def llm_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog_round8d import llm_naive_bayes_score

    scored = llm_naive_bayes_score(spark, sf_dir).localCheckpoint(
        eager=False
    )
    t = scored.groupBy(F.col("true_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.col("correct").cast("long")).alias("tp"),
    )
    p = scored.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )

    def r6(num, den):
        return F.expr(f"(2000000 * ({num}) + ({den})) div (2 * ({den}))")

    return (
        t.join(p, "lang", "left")
        .withColumn("n_pred0", F.coalesce("n_pred", F.lit(0)))
        .select(
            "lang",
            F.col("tp").cast("long").alias("tp"),
            (F.col("n_pred0") - F.col("tp")).cast("long").alias("fp"),
            (F.col("n_true") - F.col("tp")).cast("long").alias("fn"),
            F.when(F.col("n_pred0") > 0, r6("tp", "n_pred0"))
            .cast("long")
            .alias("prec6"),
            r6("tp", "n_true").cast("long").alias("rec6"),
            r6("2 * tp", "n_true + n_pred0").cast("long").alias("f16"),
        )
    )
