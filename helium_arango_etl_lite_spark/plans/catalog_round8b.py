"""Round-8 late catalog: robust stats, fuzzy verify, and distributed
training shapes.

* ``events_mad_outliers`` — median/MAD robust outlier detection per user,
  all in exact integer half/quarter-cents so the cross-engine hash is
  meaningful (the robust complement to ``events_anomaly_zscore``, whose
  mean/stddev both move with the outliers they are trying to flag).
* ``llm_logreg_train`` — full-batch gradient-descent logistic
  regression trained ON the cluster: each step is ONE partial-agg
  shuffle producing a (dim+1)-row gradient, the model lives driver-side
  as O(dim) literals (the ``llm_power_iteration`` contract applied to
  supervised training). The oracle unrolls the identical trajectory in
  SQL with the same 6dp per-step rounding.

Its banded-Levenshtein dedup verify (``llm_dedup_edit_verify``) is in
catalog_dedup.py.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star LLM-curation and analytics
families (SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import EVENTS_NORM, load_events, load_table, register

# ---------------------------------------------------------------------------
# robust outliers: median + MAD in exact integer arithmetic
# ---------------------------------------------------------------------------

# |x - med| > _MAD_MULT * MAD  <=>  2*dev2 > _MAD_MULT * mad4   (see below)
_MAD_MULT = 6

_MAD_SQL = f"""
WITH {EVENTS_NORM},
e AS (SELECT user_id, round(value * 100)::BIGINT AS xc FROM events_norm),
m1 AS (SELECT user_id, (2 * median(xc))::BIGINT AS med2 FROM e GROUP BY 1),
d AS (SELECT e.user_id, e.xc, m1.med2,
             abs(2 * e.xc - m1.med2)::BIGINT AS dev2
      FROM e JOIN m1 USING (user_id)),
m2 AS (SELECT user_id, (2 * median(dev2))::BIGINT AS mad4 FROM d GROUP BY 1)
SELECT d.user_id,
       count(*)::BIGINT AS n_events,
       min(d.med2)::BIGINT AS med2_c,
       min(m2.mad4)::BIGINT AS mad4_c,
       sum(CASE WHEN 2 * d.dev2 > {_MAD_MULT} * m2.mad4
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
       max(d.dev2)::BIGINT AS max_dev2_c
FROM d JOIN m2 ON d.user_id = m2.user_id
GROUP BY 1"""


@register(
    "events_mad_outliers",
    _MAD_SQL,
    doc="Robust per-user outlier detection: median + MAD (median absolute "
        "deviation), flagging |x - med| > 6*MAD. z-score monitors "
        "(events_anomaly_zscore) break down exactly when needed most — "
        "mean and stddev are dragged by the outliers themselves, masking "
        "all but the largest; median/MAD have a 50% breakdown point. "
        "EXACTNESS: medians of integers are half-integers, so everything "
        "is carried doubled — med2 = 2*median(cents), dev2 = |2x - med2|, "
        "mad4 = 2*median(dev2) (quarter-cents) — and the flag predicate "
        "2*dev2 > MULT*mad4 is pure BIGINT: the cross-engine hash can "
        "never flip on float interpolation. PLAN: both medians are "
        "whole-partition WINDOW aggregates over the same user_id "
        "partitioning, then the final groupBy reuses that partitioning — "
        "ONE shuffle and one scan end-to-end, no join-back of per-user "
        "tables (plan test pins one Exchange, zero joins). Per-group "
        "exact percentiles sort within a group; bounded per-user event "
        "counts keep that in-memory at any corpus size (the GLOBAL exact "
        "path is agg_exact_median_refine's range refinement).",
    tags=("temporal", "agg", "dq"),
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    e = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
    )
    w = Window.partitionBy("user_id")
    d = e.withColumn(
        "med2", (F.percentile("xc", F.lit(0.5)).over(w) * 2).cast("long")
    ).withColumn("dev2", F.abs(2 * F.col("xc") - F.col("med2")))
    d = d.withColumn(
        "mad4", (F.percentile("dev2", F.lit(0.5)).over(w) * 2).cast("long")
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("med2").cast("long").alias("med2_c"),
            F.min("mad4").cast("long").alias("mad4_c"),
            F.sum(
                F.when(
                    2 * F.col("dev2") > _MAD_MULT * F.col("mad4"), 1
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.max("dev2").cast("long").alias("max_dev2_c"),
        )
    )


# ---------------------------------------------------------------------------
# distributed full-batch logistic regression (GD as partial-agg shuffles)
# ---------------------------------------------------------------------------

_LR_STEPS = 3
_LR_RATE = 0.4  # 0.4*g never lands on a decimal tie (last digit in {0,2,4,6,8}); 0.5*g ties at the 7th digit whenever g's last digit is odd, where Spark HALF_UP and DuckDB's scaled-binary round diverge

# feature expressions, written ONCE per engine with identical shape:
#   y  = 1.0 if lang = 'en'
#   x1 = token count / 100      (exact: integer length arithmetic / 100.0)
#   x2 = char length / 1000
#   x3 = vowel fraction, rounded 4dp
_LR_FEAT_CTE = """
feat AS (SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                (length(text) - length(replace(text, ' ', '')) + 1)
                    / 100.0 AS x1,
                length(text) / 1000.0 AS x2,
                round((length(text)
                       - length(regexp_replace(text, '[aeiou]', '', 'g')))
                      / length(text)::DOUBLE, 4) AS x3
         FROM documents)"""


def _lr_p(w=("w0", "w1", "w2", "w3")) -> str:
    # sigmoid of the FIXED left-assoc dot product, rounded 6dp — the
    # association order is written identically in the Spark expression
    return (
        f"round(1 / (1 + exp(-({w[0]} + {w[1]} * x1 + {w[2]} * x2"
        f" + {w[3]} * x3))), 6)"
    )


def _lr_sql() -> str:
    parts = ["WITH " + _LR_FEAT_CTE + """,
w0_ AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""]
    p = _lr_p()
    for t in range(_LR_STEPS):
        parts.append(f""",
g{t} AS (SELECT round(avg(({p} - y)), 6) AS g0,
                round(avg(({p} - y) * x1), 6) AS g1,
                round(avg(({p} - y) * x2), 6) AS g2,
                round(avg(({p} - y) * x3), 6) AS g3
         FROM feat, w{t}_),
w{t + 1}_ AS (SELECT round(w0 - {_LR_RATE} * g0, 6) AS w0,
                     round(w1 - {_LR_RATE} * g1, 6) AS w1,
                     round(w2 - {_LR_RATE} * g2, 6) AS w2,
                     round(w3 - {_LR_RATE} * g3, 6) AS w3
              FROM w{t}_, g{t})""")
    wf = f"w{_LR_STEPS}_"
    parts.append(f""",
acc AS (SELECT round(avg(CASE WHEN ({p} >= 0.5) = (y > 0.5)
                              THEN 1.0 ELSE 0.0 END), 6) AS a
        FROM feat, {wf})
SELECT 0::BIGINT AS dim, w0 AS value, 'weight' AS kind FROM {wf}
UNION ALL SELECT 1::BIGINT, w1, 'weight' FROM {wf}
UNION ALL SELECT 2::BIGINT, w2, 'weight' FROM {wf}
UNION ALL SELECT 3::BIGINT, w3, 'weight' FROM {wf}
UNION ALL SELECT 4::BIGINT, a, 'accuracy' FROM acc""")
    return "".join(parts)


def _lr_features(docs: DataFrame) -> DataFrame:
    ln = F.length("text")
    return docs.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        ((ln - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
          + 1) / 100.0).alias("x1"),
        (ln / 1000.0).alias("x2"),
        F.round(
            (ln - F.length(F.regexp_replace("text", "[aeiou]", "")))
            / ln.cast("double"),
            4,
        ).alias("x3"),
    )


def _lr_sigmoid(w: list[float]):
    # the SAME left-assoc dot product as the oracle's _lr_p string
    z = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    return F.round(1 / (1 + F.exp(-z)), 6)


@register(
    "llm_logreg_train",
    _lr_sql(),
    doc=f"Distributed full-batch logistic regression ({_LR_STEPS} GD "
        f"steps, rate {_LR_RATE}): predict lang='en' from three exact "
        "text features (token count, char length, vowel fraction). THE "
        "TRAINING SHAPE: each step broadcasts the O(dim) model as plan "
        "literals and reduces the per-row gradient contributions in ONE "
        "partial-agg shuffle to a (dim+1)-row gradient — map-side "
        "combine does almost all the work, the driver holds only the "
        "weight vector between steps (llm_power_iteration's contract "
        "applied to supervised training; at 100 TB each step is one "
        "linear scan, and mini-batching is a hash-sample filter pushed "
        "into the same scan). DETERMINISM: gradients and weights round "
        "6dp each step on BOTH engines so summation-order noise (~1e-13) "
        "cannot compound across the trajectory; sigmoid inputs are exact "
        "doubles (integer-arithmetic features, fixed-association dot "
        "product), the exp() itself the same accepted libm contract as "
        "llm_power_iteration's sqrt. Emits the final weights plus train "
        "accuracy under the final model.",
    tags=("llm", "training", "iterative"),
)
def llm_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _lr_features(load_table(spark, sf_dir, "documents"))
    # three steps re-scan; checkpoint the tiny projected feature frame
    # once so each GD job reads 4 doubles/row, not the text column
    feat = feat.localCheckpoint(eager=True)
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(_LR_STEPS):
        p = _lr_sigmoid(w)
        g = feat.agg(
            F.round(F.avg(p - F.col("y")), 6),
            F.round(F.avg((p - F.col("y")) * F.col("x1")), 6),
            F.round(F.avg((p - F.col("y")) * F.col("x2")), 6),
            F.round(F.avg((p - F.col("y")) * F.col("x3")), 6),
        ).collect()[0]
        w = [
            round(wi - _LR_RATE * gi, 6) for wi, gi in zip(w, g)
        ]
    p = _lr_sigmoid(w)
    acc = feat.agg(
        F.round(
            F.avg(
                F.when((p >= 0.5) == (F.col("y") > 0.5), 1.0).otherwise(0.0)
            ),
            6,
        ).alias("a")
    )
    rows = [
        spark.range(1).select(
            F.lit(i).cast("long").alias("dim"),
            F.lit(wi).cast("double").alias("value"),
            F.lit("weight").alias("kind"),
        )
        for i, wi in enumerate(w)
    ]
    acc_row = acc.select(
        F.lit(4).cast("long").alias("dim"),
        F.col("a").cast("double").alias("value"),
        F.lit("accuracy").alias("kind"),
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.unionAll(acc_row)
