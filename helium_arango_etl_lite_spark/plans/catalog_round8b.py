"""Round-8 late catalog: robust stats, graph density, fuzzy verify, and
distributed training shapes.

* ``events_mad_outliers`` — median/MAD robust outlier detection per user,
  all in exact integer half/quarter-cents so the cross-engine hash is
  meaningful (the robust complement to ``events_anomaly_zscore``, whose
  mean/stddev both move with the outliers they are trying to flag).
* ``graph_k_core`` — bounded-round k-core peeling of the mutual-kNN
  embedding graph: the density filter a curation pipeline runs to find
  vectors embedded in genuinely dense semantic regions (vs the chance
  pairings mutual-kNN alone admits). Both engines run the SAME fixed
  number of peel rounds, so the comparison needs no convergence
  argument.
* ``llm_dedup_edit_verify`` — the MinHash-LSH candidate stage verified
  by CHARACTER-level banded Levenshtein instead of token Jaccard: the
  detector for small-edit plagiarism/near-dup that token shingles
  under-score (reordered tokens score high Jaccard; character edits
  score low). Spark evaluates the banded O(L*t) threshold form; the
  oracle computes the full O(L^2) distance and applies the cap —
  cross-engine agreement certifies the banded algorithm itself.
* ``llm_logreg_train`` — full-batch gradient-descent logistic
  regression trained ON the cluster: each step is ONE partial-agg
  shuffle producing a (dim+1)-row gradient, the model lives driver-side
  as O(dim) literals (the ``llm_power_iteration`` contract applied to
  supervised training). The oracle unrolls the identical trajectory in
  SQL with the same 6dp per-step rounding.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star LLM-curation and analytics
families (SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.llm import dedup
from .catalog_llm import _MINHASH_PAIRS_SQL
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
# k-core peel of the mutual-kNN embedding graph (bounded rounds)
# ---------------------------------------------------------------------------

_KCORE_K = 2        # minimum degree to survive a peel round
_KCORE_ROUNDS = 16  # fixed round count — both engines run exactly this; 16
                    # covers fixpoint with margin on the driver data (12
                    # rounds at sf0.001, 7 at sf0.01 — pinned by test)

# mutual-kNN edge list (same construction as llm_semantic_clusters'
# oracle, k=3): both orientations of every mutual pair are present, so
# degree = count(*) grouped by src. Every CTE in the unrolled peel chain
# is MATERIALIZED: DuckDB inlines single-reference CTEs, and an inlined
# e{i} -> e{i-1} -> ... chain re-evaluates the all-pairs similarity join
# a number of times exponential in the round count (observed: OOM).
_MUTUAL_CTE = """
ev_ AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p_ AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
              round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
       FROM ev_ a JOIN ev_ b ON a.vec_id <> b.vec_id),
r_ AS (SELECT qid, nid,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, nid) AS rank
       FROM p_),
knn_ AS MATERIALIZED (SELECT qid, nid FROM r_ WHERE rank <= 3),
e0 AS MATERIALIZED (SELECT a.qid AS src, a.nid AS dst
       FROM knn_ a JOIN knn_ b ON a.qid = b.nid AND a.nid = b.qid)"""


def _kcore_sql() -> str:
    parts = ["WITH " + _MUTUAL_CTE]
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
a{i} AS MATERIALIZED (SELECT src AS v FROM {prev} GROUP BY src
         HAVING count(*) >= {_KCORE_K}),
e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev} e
         JOIN a{i} x ON e.src = x.v JOIN a{i} y ON e.dst = y.v)"""
        )
        prev = f"e{i}"
    parts.append(
        f""",
df_ AS (SELECT src, count(*)::BIGINT AS c FROM {prev} GROUP BY src)
SELECT ev_.vec_id,
       coalesce(df_.c, 0)::BIGINT AS core_degree,
       (df_.c IS NOT NULL) AS in_core
FROM ev_ LEFT JOIN df_ ON ev_.vec_id = df_.src"""
    )
    return "".join(parts)


@register(
    "graph_k_core",
    _kcore_sql(),
    doc=f"k-core peel (k={_KCORE_K}, {_KCORE_ROUNDS} fixed rounds) of the "
        "mutual-3-NN embedding graph: repeatedly remove vertices of "
        "degree < k, reporting who survives and their residual degree. "
        "Mutual-kNN already guards against hub chaining; the k-core on "
        "top is the standard density filter — vectors that survive sit "
        "in regions dense enough that several neighbours ALSO rank each "
        "other highly, the population worth semantic clustering or "
        "curriculum up-weighting (chains and isolated pairs peel away). "
        "DETERMINISM: both engines run exactly the same bounded round "
        "count — no fixpoint-detection asymmetry can diverge them; a "
        "round that removes nothing makes the rest no-ops, so bounded "
        "rounds EQUAL the fixpoint whenever the peel converges early "
        "(pinned by test on the driver data). PLAN: each round is one "
        "degree partial-agg plus two semi-joins against a vertex set "
        "that only SHRINKS, on eagerly-checkpointed edges (the "
        "dup_clusters lesson: multi-consumer first jobs re-derive lazy "
        "lineage); at 100 TB the kNN stage routes through the bucketed "
        "LSH join exactly as llm_semantic_clusters argues.",
    tags=("graph", "iterative", "llm"),
)
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    kn = similarity.knn_join(emb, k=3).select("qid", "nid")
    kn = kn.localCheckpoint(eager=False)  # consumed by both mutual sides
    edges = (
        kn.alias("a")
        .join(
            kn.alias("b"),
            (F.col("a.qid") == F.col("b.nid"))
            & (F.col("a.nid") == F.col("b.qid")),
        )
        .select(F.col("a.qid").alias("src"), F.col("a.nid").alias("dst"))
    )
    edges = edges.localCheckpoint(eager=True)
    for _ in range(_KCORE_ROUNDS):
        alive = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= _KCORE_K)
            .select(F.col("src").alias("v"))
        )
        edges = (
            edges.join(alive, edges.src == alive.v, "left_semi")
            .join(alive, edges.dst == alive.v, "left_semi")
        )
        # each round's edge set feeds a degree agg + two semi-joins next
        # round — eager, or every round re-derives the full peel lineage
        edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return (
        emb.select("vec_id")
        .join(deg, emb.vec_id == deg.src, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("core_degree"),
            F.col("c").isNotNull().alias("in_core"),
        )
    )


# ---------------------------------------------------------------------------
# character-level near-dup verify: banded Levenshtein over LSH candidates
# ---------------------------------------------------------------------------

# dup when lev(a,b) <= floor(0.2 * max(len_a, len_b))
# cap = floor(0.2 * maxlen) via INTEGER floordiv on both sides: DuckDB's
# ::BIGINT cast ROUNDS doubles ((0.2*449)::BIGINT = 90, floor = 89), so a
# float cap would diverge the engines on every length ending in 5-9
_EDIT_SQL = (
    "WITH cands AS (" + _MINHASH_PAIRS_SQL + """),
j AS (SELECT c.doc_a, c.doc_b, da.text AS ta, db.text AS tb,
             greatest(length(da.text), length(db.text)) * 2 // 10 AS cap
      FROM cands c
      JOIN documents da ON c.doc_a = da.doc_id
      JOIN documents db ON c.doc_b = db.doc_id)
SELECT doc_a, doc_b,
       length(ta)::BIGINT AS len_a,
       length(tb)::BIGINT AS len_b,
       CASE WHEN levenshtein(ta, tb) <= cap
            THEN levenshtein(ta, tb) ELSE -1 END::BIGINT AS lev_capped,
       (levenshtein(ta, tb) <= cap) AS is_dup
FROM j"""
)


@register(
    "llm_dedup_edit_verify",
    _EDIT_SQL,
    doc="MinHash-LSH candidates verified by CHARACTER-level edit "
        "distance: dup when lev(a,b) <= 0.2*max(len). Token-level "
        "Jaccard (llm_minhash_verify) is order-blind — a doc with the "
        "same vocabulary reshuffled scores ~1.0 Jaccard but a huge edit "
        "distance; character edits (typos, OCR noise, template fills) "
        "score low Jaccard impact but small edit distance. This entry is "
        "the second lens. COST CONTRACT: Spark evaluates the BANDED "
        "threshold form levenshtein(a, b, t) — O(L*t) per pair, "
        "returning -1 past the cap, so a pair of 1 MB docs costs "
        "0.2 MB*1 MB band cells, not the full quadratic — while the "
        "oracle computes the full O(L^2) distance and applies the cap "
        "afterwards: cross-engine hash agreement certifies the banded "
        "algorithm against the textbook definition, not just the "
        "pipeline plumbing. Candidate volume is LSH-bounded (band-keyed "
        "shuffle of (band_key, doc_id) only); texts join in once, by "
        "doc_id, co-partitioned.",
    tags=("llm", "dedup"),
)
def llm_dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog_llm import BANDS, NUM_HASHES, SEED

    docs = load_table(spark, sf_dir, "documents")
    cands = dedup.minhash_candidate_pairs(
        docs, num_hashes=NUM_HASHES, bands=BANDS, seed=SEED
    )
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")
    )
    j = (
        cands.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn(
            "cap",
            F.floor(
                F.greatest(F.length("ta"), F.length("tb")) * 2 / 10
            ).cast("int"),
        )
    )
    # per-row threshold needs the SQL form — the Python wrapper only
    # accepts an int literal; -1 means "past the cap" (banded early-out)
    lev = F.expr("levenshtein(ta, tb, cap)")
    return j.select(
        "doc_a",
        "doc_b",
        F.length("ta").cast("long").alias("len_a"),
        F.length("tb").cast("long").alias("len_b"),
        lev.cast("long").alias("lev_capped"),
        (lev >= 0).alias("is_dup"),
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


# ---------------------------------------------------------------------------
# streaming sessionization replay: stateful recursion vs gaps-and-islands
# ---------------------------------------------------------------------------

_SESS_GAP_US = 30 * 60 * 1_000_000  # 30 minutes, matching agg_session_window

_SESS_SQL = f"""
WITH {EVENTS_NORM},
e AS (SELECT user_id, ts, event_id, round(value * 100)::BIGINT AS xc
      FROM events_norm),
x AS (SELECT user_id, ts, xc,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
y AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
SELECT user_id, min(ts) AS session_start,
       count(*)::BIGINT AS n_events,
       sum(xc)::BIGINT AS total_cents
FROM y GROUP BY user_id, sid"""


@register(
    "stream_session_replay",
    _SESS_SQL,
    doc="Gap-based sessionization as a STREAMING stateful operator, "
        "hash-verified against the batch gaps-and-islands identity: "
        "events replay as three event-time-split micro-batches (the "
        "thirds of the time range, plans/replay.py), "
        "applyInPandasWithState carries "
        "ONLY the open session — four integers per user — and each "
        "batch emits its closed sessions finally plus the open one "
        "provisionally; the reader keeps the last emission per "
        "(user, session_start). The oracle is the classic lag()-based "
        "session rewrite with the SAME >= gap boundary the native "
        "session_window operator uses (agg_session_window), in integer "
        "cents so the hash cannot flip on float summation order. "
        "Cross-form triangle: native session_window (agg_session_window) "
        "= declarative windows (this oracle) = stateful recursion (this "
        "entry) — three independent expressions of one semantics "
        "(streaming/stateful.py:sessionize).",
    tags=("streaming", "stateful", "temporal"),
)
def stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import sessionize
    from .replay import last_emission, run_replay, time_thirds

    ev = load_events(spark, sf_dir)
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
    )
    # one execution for min/max + all three slices (see catalog_round8)
    base = base.persist()
    outs = run_replay(
        spark,
        "stream_session",
        lambda s: sessionize(s, _SESS_GAP_US),
        time_thirds(base, "ts_us"),
    )
    base.unpersist()
    return last_emission(outs, "user_id", "session_start_us").select(
        "user_id",
        F.timestamp_micros(F.col("session_start_us")).alias("session_start"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_cents").cast("long").alias("total_cents"),
    )
