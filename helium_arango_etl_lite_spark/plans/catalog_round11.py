"""Round-11 catalog: vocabulary drift, the tolerant as-of join and the
CUPED readout (its batched k-center and persisted graph-ANN entries are
in catalog_similarity.py).

* ``llm_vocab_kl_drift`` — the first new consumer of
  ``functions/detln.py`` (built this round for the zipf fix): per-lang
  KL divergence between the train and holdout splits' unigram
  distributions, with every logarithm evaluated by the shared
  deterministic-ln pipeline so the KL numerators are exact BIGINT sums
  identical across engines — the distribution-drift check a training
  pipeline runs before trusting a split, complementing llm_psi_drift's
  binned-metric form with a vocabulary-level one.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star text and analytics families
(SURVEY.md section 2.8, BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load_table, register

# ---------------------------------------------------------------------------
# vocabulary KL drift between splits: exact integer KL via shared detln
# ---------------------------------------------------------------------------

_KL_TOP = 100      # union-vocab cap per lang (bounds state + broadcast)
_KL_HOLD_MOD = 10  # holdout = doc_id % 10 == 0 (the catalog's split rule)


def _vocab_kl_sql() -> str:
    from ..functions.detln import ln_u6_select_items

    return f"""
WITH tok AS (SELECT lang, (doc_id % {_KL_HOLD_MOD} = 0)::INT AS isq,
                    unnest(string_split(text, ' ')) AS w
             FROM documents),
cnt AS (SELECT lang, w,
               sum(CASE WHEN isq = 0 THEN 1 ELSE 0 END)::BIGINT AS cp,
               sum(isq)::BIGINT AS cq
        FROM tok GROUP BY 1, 2),
top AS (SELECT lang, w, cp, cq FROM (
          SELECT lang, w, cp, cq, row_number() OVER (
              PARTITION BY lang ORDER BY cp + cq DESC, w) AS rk
          FROM cnt) WHERE rk <= {_KL_TOP}),
lifted AS (SELECT lang, cp, cq, ln_p, ln_q FROM (
             SELECT lang, cp, cq,
                    {ln_u6_select_items('cp + 1', 'ln_p')},
                    {ln_u6_select_items('cq + 1', 'ln_q')}
             FROM top) t),
tots AS (SELECT lang, count(*)::BIGINT AS m_vocab,
                sum(cp + 1)::BIGINT AS np, sum(cq + 1)::BIGINT AS nq
         FROM top GROUP BY 1),
tl AS (SELECT lang, m_vocab, np, nq, ln_np, ln_nq FROM (
         SELECT lang, m_vocab, np, nq,
                {ln_u6_select_items('np', 'ln_np')},
                {ln_u6_select_items('nq', 'ln_nq')}
         FROM tots) t),
s AS (SELECT l.lang, any_value(t.m_vocab) AS m_vocab,
             any_value(t.np) AS np, any_value(t.nq) AS nq,
             sum((l.cp + 1) * (l.ln_p - t.ln_np - l.ln_q + t.ln_nq))::BIGINT
               AS num_pq,
             sum((l.cq + 1) * (l.ln_q - t.ln_nq - l.ln_p + t.ln_np))::BIGINT
               AS num_qp
      FROM lifted l JOIN tl t USING (lang) GROUP BY l.lang)
SELECT lang, m_vocab,
       round(num_pq / (np * 1000000.0E0), 6) AS kl_train_hold,
       round(num_qp / (nq * 1000000.0E0), 6) AS kl_hold_train
FROM s"""


@register(
    "llm_vocab_kl_drift",
    _vocab_kl_sql(),
    doc=f"Vocabulary-distribution drift between the train split "
        f"(doc_id % {_KL_HOLD_MOD} != 0) and the holdout: per-lang KL "
        "divergence BOTH directions over the add-1-smoothed top-"
        f"{_KL_TOP} union vocabulary — the pre-training sanity check "
        "that a split didn't concentrate a template flood or a "
        "vocabulary shift on one side (llm_psi_drift is the binned-"
        "metric twin; this is the token-distribution form, and "
        "llm_split_leakage_check the membership form). EXACTNESS: "
        "every ln comes from the shared deterministic pipeline "
        "(functions/detln.py — round 11's zipf fix, reused here as a "
        "primitive), so each KL numerator is an exact BIGINT sum of "
        "count x micro-nat terms, bit-identical across engines; the "
        "single double division + round happens once at the end. "
        "SCALE: one corpus tokenize feeds a vocabulary-sized shuffle; "
        f"the ln stages and the KL sum run on {_KL_TOP} rows per lang "
        "(the ranked-window input is the grouped vocabulary, not the "
        "corpus). Numerator terms stay under 2^53 for per-token "
        "counts below ~2^40; beyond that split the sum (documented "
        "dial, same class as the OLS moment bounds in llm_zipf_slope).",
    tags=("llm", "text", "quality", "dq"),
)
def llm_vocab_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.detln import with_ln_u6

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        (F.col("doc_id") % _KL_HOLD_MOD == 0).cast("int").alias("isq"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    cnt = tok.groupBy("lang", "w").agg(
        F.sum(F.when(F.col("isq") == 0, 1).otherwise(0))
        .cast("long")
        .alias("cp"),
        F.sum("isq").cast("long").alias("cq"),
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.desc(F.col("cp") + F.col("cq")), "w"
        )
    )
    top = cnt.withColumn("rk", rk).filter(F.col("rk") <= _KL_TOP)
    top = with_ln_u6(with_ln_u6(top, "cp + 1", "ln_p"), "cq + 1", "ln_q")
    tots = top.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("m_vocab"),
        F.sum(F.col("cp") + 1).cast("long").alias("np"),
        F.sum(F.col("cq") + 1).cast("long").alias("nq"),
    )
    tots = with_ln_u6(with_ln_u6(tots, "np", "ln_np"), "nq", "ln_nq")
    j = top.join(F.broadcast(tots), "lang")
    s = j.groupBy("lang").agg(
        F.first("m_vocab").alias("m_vocab"),
        F.first("np").alias("np"),
        F.first("nq").alias("nq"),
        F.sum(
            (F.col("cp") + 1)
            * (F.col("ln_p") - F.col("ln_np") - F.col("ln_q") + F.col("ln_nq"))
        ).cast("long").alias("num_pq"),
        F.sum(
            (F.col("cq") + 1)
            * (F.col("ln_q") - F.col("ln_nq") - F.col("ln_p") + F.col("ln_np"))
        ).cast("long").alias("num_qp"),
    )
    return s.select(
        "lang",
        "m_vocab",
        F.round(F.col("num_pq") / (F.col("np") * F.lit(1e6)), 6).alias(
            "kl_train_hold"
        ),
        F.round(F.col("num_qp") / (F.col("nq") * F.lit(1e6)), 6).alias(
            "kl_hold_train"
        ),
    )


# ---------------------------------------------------------------------------
# as-of join with staleness tolerance (pandas merge_asof(tolerance=))
# ---------------------------------------------------------------------------

_ASOF_TOL_MIN = 30  # max staleness of the attached purchase, minutes


def _asof_tol_sql() -> str:
    from .registry import EVENTS_NORM

    return f"""WITH {EVENTS_NORM},
purch AS (
  SELECT user_id, ts,
         max_by(value, event_id) AS purchase_value,
         max(event_id) AS purchase_event
  FROM events_norm WHERE event_type = 'purchase'
  GROUP BY user_id, ts)
SELECT e.event_id, e.user_id, e.ts, e.event_type,
       CASE WHEN p.ts IS NOT NULL
                 AND e.ts - p.ts <= INTERVAL {_ASOF_TOL_MIN} MINUTE
            THEN p.purchase_value END AS purchase_value,
       CASE WHEN p.ts IS NOT NULL
                 AND e.ts - p.ts <= INTERVAL {_ASOF_TOL_MIN} MINUTE
            THEN p.purchase_event END AS purchase_event
FROM events_norm e ASOF LEFT JOIN purch p
  ON e.user_id = p.user_id AND e.ts >= p.ts"""


@register(
    "join_asof_tolerance",
    _asof_tol_sql(),
    doc="As-of join with a staleness TOLERANCE — pandas "
        "merge_asof(tolerance=), QuestDB ASOF+window: every event gets "
        "its user's latest prior-or-equal purchase ONLY if that "
        f"purchase is at most {_ASOF_TOL_MIN} minutes old, else NULL "
        "(a feature older than the bound is a training-data bug, not "
        "a feature — the point-in-time-correctness guard). Correct by "
        "construction from the plain as-of: the as-of match is the "
        "CLOSEST prior row, so masking it by age can never miss a "
        "different qualifying row. Implementation rides the matched "
        "right timestamp through the SAME union + "
        "last-ignorenulls-window pass as join_asof — one shuffle per "
        "input row, no range-join blow-up, tolerance applied as a "
        "post-window mask (operators/temporal.py:asof_join). Oracle: "
        "native ASOF LEFT JOIN + the same age mask.",
    tags=("join", "temporal"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join
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
    joined = asof_join(
        en.select("event_id", "ts", "user_id", "event_type"),
        purch,
        key="user_id",
        value_cols=["purchase_value", "purchase_event"],
        tolerance=F.expr(f"INTERVAL {_ASOF_TOL_MIN} MINUTES"),
    )
    return joined.select(
        "event_id", "user_id", "ts", "event_type",
        "purchase_value", "purchase_event",
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout: exact integer moments
# ---------------------------------------------------------------------------


def _cuped_sql() -> str:
    from .registry import EVENTS_NORM

    return f"""WITH {EVENTS_NORM},
b AS (SELECT (min(floor(epoch(ts))::BIGINT)
              + max(floor(epoch(ts))::BIGINT)) // 2
        AS boundary FROM events_norm),
u AS (SELECT user_id,
             sum(CASE WHEN floor(epoch(ts))::BIGINT < (SELECT boundary FROM b)
                      AND event_type = 'purchase'
                 THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS x,
             sum(CASE WHEN floor(epoch(ts))::BIGINT >= (SELECT boundary FROM b)
                      AND event_type = 'purchase'
                 THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS y
      FROM events_norm GROUP BY user_id),
g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
             sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
             sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
      FROM u),
arm AS (SELECT (user_id % 2)::INTEGER AS arm, count(*)::BIGINT AS n_users,
               sum(x)::BIGINT AS sxa, sum(y)::BIGINT AS sya
        FROM u GROUP BY 1),
d AS (SELECT arm, n_users, sxa, sya,
            n::DOUBLE AS dn, sx::DOUBLE AS dsx, sy::DOUBLE AS dsy,
            sxy::DOUBLE AS dsxy, sxx::DOUBLE AS dsxx, syy::DOUBLE AS dsyy
     FROM arm, g)
SELECT arm, n_users,
       round(sya / n_users, 6) AS mean_post_cents,
       round(sya / n_users
             - (CASE WHEN dn * dsxx - dsx * dsx = 0 THEN NULL
                ELSE (dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx) END)
               * (sxa / n_users - dsx / dn), 6) AS mean_adj_cents,
       round(CASE WHEN dn * dsxx - dsx * dsx = 0 THEN NULL
             ELSE (dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx) END, 6)
         AS theta,
       round(CASE WHEN (dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy) = 0
             THEN NULL
             ELSE ((dn * dsxy - dsx * dsy) * (dn * dsxy - dsx * dsy))
                  / ((dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy)) END,
             6)
         AS var_reduction
FROM d"""


@register(
    "events_cuped",
    _cuped_sql(),
    doc="CUPED variance-reduced experiment readout (Deng et al. 2013, "
        "the industry-standard A/B adjustment): per-user pre-period "
        "purchase cents (before the corpus-midpoint boundary) is the "
        "covariate X, post-period cents the metric Y; theta = "
        "cov(X,Y)/var(X) is fit on ALL users pooled, and each arm "
        "(user_id % 2) reports its raw and adjusted post-period mean "
        "plus the variance-reduction factor rho^2. EXACTNESS: X/Y are "
        "integer cents, so every moment (n, sum x, sum y, sum xy, "
        "sum xx, sum yy) is an exact BIGINT — aggregation order "
        "cannot move them — and theta/means are a fixed chain of "
        "correctly-rounded double ops written identically in both "
        "engines; the boundary is one integer scalar from the corpus "
        "min/max epoch; degenerate inputs (var(X)=0 or var(Y)=0, e.g. "
        "all users identical pre-period spend) yield NULL theta/"
        "var_reduction via an explicit guard written identically in "
        "both engines, so DuckDB's version-dependent division-by-zero "
        "behavior (NULL vs IEEE inf under ieee_floating_point_ops) "
        "can never diverge. SCALE: one user-keyed shuffle builds the "
        "per-user pre/post table; the moment rollup is a partial-"
        "aggregated scalar; arms aggregate the same table — no second "
        "corpus scan, no window.",
    tags=("analytics", "events", "experiment"),
)
def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import load_events

    en = load_events(spark, sf_dir)
    bounds = en.agg(
        F.min(F.unix_timestamp("ts")).alias("lo"),
        F.max(F.unix_timestamp("ts")).alias("hi"),
    ).collect()[0]
    boundary = (int(bounds["lo"]) + int(bounds["hi"])) // 2
    cents = F.round(F.col("value") * 100).cast("long")
    is_purch = F.col("event_type") == "purchase"
    pre = F.when(
        (F.unix_timestamp("ts") < boundary) & is_purch, cents
    ).otherwise(F.lit(0))
    post = F.when(
        (F.unix_timestamp("ts") >= boundary) & is_purch, cents
    ).otherwise(F.lit(0))
    u = en.groupBy("user_id").agg(
        F.sum(pre).cast("long").alias("x"),
        F.sum(post).cast("long").alias("y"),
    )
    g = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    arm = u.groupBy((F.col("user_id") % 2).cast("int").alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("sxa"),
        F.sum("y").cast("long").alias("sya"),
    )
    j = arm.crossJoin(F.broadcast(g))
    dn, dsx, dsy, dsxy, dsxx, dsyy = (
        F.col(c).cast("double")
        for c in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    cov_n = dn * dsxy - dsx * dsy
    varx_n = dn * dsxx - dsx * dsx
    vary_n = dn * dsyy - dsy * dsy
    # Explicit degenerate-input guard (ADVICE r11): var(X)=0 must be NULL
    # by construction in BOTH engines — DuckDB's x/0 is version-dependent
    # (NULL historically, IEEE inf under ieee_floating_point_ops=true).
    theta = F.when(varx_n != 0, cov_n / varx_n)
    return j.select(
        "arm",
        "n_users",
        F.round(F.col("sya") / F.col("n_users"), 6).alias(
            "mean_post_cents"
        ),
        F.round(
            F.col("sya") / F.col("n_users")
            - theta
            * (F.col("sxa") / F.col("n_users") - dsx / dn),
            6,
        ).alias("mean_adj_cents"),
        F.round(theta, 6).alias("theta"),
        F.round(
            F.when(
                varx_n * vary_n != 0, (cov_n * cov_n) / (varx_n * vary_n)
            ),
            6,
        ).alias("var_reduction"),
    )
