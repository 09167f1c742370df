"""Round-11 catalog: the two engineering items the r10 verdict named
(its other asks were re-verification, bench re-baselining, and
bookkeeping — not operators).

* ``llm_kcenter_coreset_batched`` — the batching dial
  ``llm_kcenter_coreset``'s own docstring named: Gonzalez farthest-point
  traversal costs exactly one corpus scan per selected point, so a
  k=1024 coreset is 1024 scans; picking the m most-uncovered points per
  scan (maximin against the PRE-scan selected set, recomputed between
  scans) cuts that to ceil((k-1)/m) scans. The price is the standard
  batched-farthest-point relaxation: members of one batch are chosen
  without seeing each other, so within-batch picks can be mutually
  close where pure Gonzalez would have spread them — stated, not
  hidden; the oracle unrolls every scan so the exact batched recursion
  is certified, not just the final membership.

* ``llm_vocab_kl_drift`` — the first new consumer of
  ``functions/detln.py`` (built this round for the zipf fix): per-lang
  KL divergence between the train and holdout splits' unigram
  distributions, with every logarithm evaluated by the shared
  deterministic-ln pipeline so the KL numerators are exact BIGINT sums
  identical across engines — the distribution-drift check a training
  pipeline runs before trusting a split, complementing llm_psi_drift's
  binned-metric form with a vocabulary-level one.

* ``llm_ann_graph_persist`` — the deployment story for the graph-ANN
  index (r10 verdict item 6): ``llm_ann_graph_route_reuse`` amortizes
  the build within one session via an eager checkpoint, but a real
  pipeline builds nightly and routes all day, which requires the index
  to live in STORAGE. This entry (1) BUILDS the neighbour graph over
  the old corpus, (2) PERSISTS it through ``operators/storage.py`` as
  a src-bucketed sorted table plus the entry-point sample as a second
  table, (3) APPENDS an ingest batch's incremental edges (new
  out-edges + back-links only — the ``llm_ann_index_append`` contract,
  written with ``mode="append"`` into the same bucketed table), then
  (4) READS THE TABLES BACK and routes a query batch over the read
  edges via ``route_on_graph(entries=...)``. The oracle rebuilds the
  identical appended graph in SQL (shared generator with
  ``llm_ann_index_append``) and unrolls the full beam walk over it, so
  the driver hash certifies build→persist→append→route end to end.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star similarity family
(SURVEY.md section 2.8, BASELINE.json north star).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph_algorithms import undirected
from .catalog_round9 import (
    _GR_BEAM, _GR_EDGE_K, _GR_EMOD, _GR_ENTRIES, _GR_HOPS, _GR_K,
    _GR_QMOD, _GR_SEEDS, _gr_final_select, _gr_walk_ctes,
)
from .catalog_round10 import _APPEND_MOD, _ann_append_graph_parts
from .registry import load_table, register

# ---------------------------------------------------------------------------
# batched k-center coreset: m farthest points per corpus scan
# ---------------------------------------------------------------------------

_KCB_K = 7   # total coreset size: 1 seed + _KCB_SCANS * _KCB_M picks
_KCB_M = 3   # picks per scan
_KCB_SCANS = (_KCB_K - 1) // _KCB_M  # 2 scans (vs 6 for unbatched k=7)

_KCB_COS4 = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


def _kcenter_batched_sql() -> str:
    """Every scan unrolled: batch b selects the _KCB_M unselected
    points with the smallest max-cosine to the selected set AS OF the
    scan start (ties on vec_id); ranks within a batch follow the same
    (ms, vec_id) order, offset by the prior selection count."""
    head = """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s1 AS (SELECT vec_id, v, 1.0 AS ms FROM e WHERE vec_id = 0)"""
    parts = [head]
    prev = "s1"
    for b in range(1, _KCB_SCANS + 1):
        parts.append(f""",
r{b} AS (SELECT e.vec_id, e.v,
               max({_KCB_COS4.format(a="e.v", b="s.v")}) AS ms
        FROM e JOIN {prev} s ON e.vec_id <> s.vec_id
        WHERE e.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY e.vec_id, e.v
        ORDER BY ms, e.vec_id LIMIT {_KCB_M}),
s{b + 1} AS (SELECT vec_id, v, ms FROM {prev}
         UNION ALL SELECT vec_id, v, ms FROM r{b})""")
        prev = f"s{b + 1}"
    ranked = " UNION ALL ".join(
        ["SELECT 1 AS rank, vec_id, round(ms, 4) AS maxsim FROM s1"]
        + [
            f"SELECT ({1 + (b - 1) * _KCB_M} + row_number() OVER "
            f"(ORDER BY ms, vec_id))::INTEGER AS rank, vec_id, "
            f"round(ms, 4) AS maxsim FROM r{b}"
            for b in range(1, _KCB_SCANS + 1)
        ]
    )
    return "".join(parts) + "\n" + ranked


@register(
    "llm_kcenter_coreset_batched",
    _kcenter_batched_sql(),
    doc=f"BATCHED k-center coreset — the scan-count dial "
        "llm_kcenter_coreset's docstring reserved: instead of one "
        f"corpus scan per selected point, each of {_KCB_SCANS} scans "
        f"selects the {_KCB_M} unselected points whose maximum cosine "
        "to the selected-set-at-scan-start is smallest (ties on "
        f"vec_id), so a {_KCB_K}-point coreset costs "
        f"ceil(({_KCB_K}-1)/{_KCB_M}) = {_KCB_SCANS} scans instead of "
        f"{_KCB_K - 1} — at k=1024, m=32 that is 32 scans, not 1023. "
        "Relaxation stated plainly: batch members are chosen blind to "
        "each other (pure Gonzalez would re-score after every pick), "
        "so one batch can contain mutually-close points; coverage "
        "radius is >= the unbatched curve's. Each scan is one corpus "
        "pass joined to the broadcast selected set (<= k rows) ending "
        "in a TakeOrdered(m); never a k*n materialization. The oracle "
        "unrolls every scan and every within-batch rank, so the exact "
        "batched recursion is what the driver hash certifies "
        "(plans/catalog_round11.py).",
    tags=("llm", "similarity", "sampling", "scale"),
)
def llm_kcenter_coreset_batched(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.llm.similarity import kcenter_coreset

    return kcenter_coreset(
        load_table(spark, sf_dir, "embeddings"), k=_KCB_K, m=_KCB_M
    )


# ---------------------------------------------------------------------------
# persisted graph-ANN index: build -> storage -> append -> read -> route
# ---------------------------------------------------------------------------

_PERSIST_BUCKETS = 8


def _ann_persist_sql() -> str:
    head, union_sel = _ann_append_graph_parts()
    return (
        head
        + f""",
edges AS (SELECT DISTINCT src, dst FROM ({union_sel})),
nodes AS (SELECT vec_id AS nid, v AS nv,
                 sqrt(list_dot_product(v, v)) AS nn FROM e),
ent AS (SELECT vec_id AS nid FROM e WHERE vec_id % {_GR_EMOD} = 0),"""
        + _gr_walk_ctes(0, "p")
        + _gr_final_select("p")
    )


@register(
    "llm_ann_graph_persist",
    _ann_persist_sql(),
    doc="PERSISTED graph-ANN index — the build-nightly/route-all-day "
        "deployment (r10 verdict item 6), extending "
        "llm_ann_graph_route_reuse's within-session checkpoint to real "
        "storage: (1) build the neighbour graph over the old corpus "
        f"(vec_id % {_APPEND_MOD} != 0); (2) persist it via "
        "operators/storage.write_bucketed as a src-bucketed sorted "
        "external table (bucketing pre-hashes the per-hop frontier "
        "equi-join key; sorting buys row-group skipping on src) plus "
        "the entry-point sample as a second persisted table; (3) link "
        "an ingest batch with INCREMENTAL edges only — each new "
        "vector's bucketed top-k over the full corpus plus back-links, "
        "never an old-old edge, the llm_ann_index_append contract — "
        "appended into the SAME bucketed table with mode='append'; "
        "(4) read both tables back and beam-route a query batch "
        "(vec_id % "
        f"{_GR_QMOD} == 0) over the READ edges via "
        "route_on_graph(entries=...). The oracle rebuilds the "
        "identical appended graph (generator shared with "
        "llm_ann_index_append) and unrolls the full walk over it, so "
        "one driver hash certifies build->persist->append->route. "
        "SCALE: the persisted table is O(corpus x edge_k) rows written "
        "once per build + O(batch) per ingest; routing reads it "
        "bucket-pruned per hop instead of recomputing "
        f"(~412 s build vs ~free search at 500k vectors, r9 soak).",
    tags=("llm", "similarity", "graph", "storage", "scale"),
)
def llm_ann_graph_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.similarity import (
        build_route_graph, lsh_edges, route_on_graph,
    )
    from ..operators.storage import write_bucketed
    from .replay import scratch_dir
    from .catalog_llm import EMB_DIM, NEAR_DUP_PLANES

    scratch = scratch_dir("ann_graph_persist")
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % _APPEND_MOD != 0)
    new = emb.filter(F.col("vec_id") % _APPEND_MOD == 0)

    # (1) BUILD over the old corpus, (2) PERSIST edges + entry sample
    built = build_route_graph(
        old, edge_k=_GR_EDGE_K, seeds=_GR_SEEDS,
        num_planes=NEAR_DUP_PLANES, dim=EMB_DIM,
    )
    write_bucketed(
        built, "sg_ann_edges", ["src"], num_buckets=_PERSIST_BUCKETS,
        sort_cols=["src"], mode="overwrite",
        path=os.path.join(scratch, "edges"),
    )
    ent = emb.filter(F.col("vec_id") % _GR_EMOD == 0).select(
        F.col("vec_id").alias("nid")
    )
    ent.write.mode("overwrite").parquet(os.path.join(scratch, "entries"))

    # (3) APPEND the ingest batch's incremental edges (new out-edges +
    # back-links; disjoint from the old-old edges by construction, so
    # append + per-increment distinct == the oracle's global DISTINCT)
    increment = undirected(lsh_edges(
        new, _GR_EDGE_K, _GR_SEEDS, NEAR_DUP_PLANES, EMB_DIM, corpus=emb,
    ))
    write_bucketed(
        increment, "sg_ann_edges", ["src"], num_buckets=_PERSIST_BUCKETS,
        sort_cols=["src"], mode="append",
        path=os.path.join(scratch, "edges"),
    )

    # (4) READ BACK + ROUTE: the walk plans against the stored table
    edges_read = spark.table("sg_ann_edges")
    ent_read = spark.read.parquet(os.path.join(scratch, "entries"))
    return route_on_graph(
        emb, edges_read, k=_GR_K, hops=_GR_HOPS, beam=_GR_BEAM,
        n_entries=_GR_ENTRIES, query_mod=_GR_QMOD, query_rem=0,
        entries=ent_read,
    )


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
