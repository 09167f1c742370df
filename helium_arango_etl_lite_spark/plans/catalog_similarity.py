"""Similarity-search catalog: every entry tagged ``similarity`` or ``ann``
except the two graph link scores (catalog_graph.py) and the streaming ANN
ingest (catalog_stream.py).

Each entry pairs a Spark program over ``operators/llm/similarity.py`` with
a DuckDB oracle. Both sides are built from one copy of each building
block; ``catalog_graph`` and ``catalog_stream`` import the oracle
fragments they share with this family.

==============================  ===============================  ==========================
building block                  oracle fragment                  Spark side
==============================  ===============================  ==========================
rounded cosine                  ``_cos_sql``                     ``similarity._cos``
pinned hyperplanes as literals  ``_plane_lits``                  ``similarity.hyperplanes``
LSH sign-bit bucket             ``_bucketed_sql``                ``similarity.lsh_bucket``
exact pairs, per-query rank     ``_pairs_sql``, ``_ranked_sql``  ``similarity.knn_join``
exact top-k of a query sample   ``_EXACT_SAMPLE_SQL``            ``_exact_sample``
LSH bucketed k-NN               ``_bucketed_sql`` + pairs        ``_knn_bucketed``
recall@k overlay                ``_RECALL_TAIL``                 ``_recall_overlay``
IVF seeds, argmax cell          ``_ivf_seeds_sql``,              ``fixed_centroids``,
                                ``_ivf_asg_sql``                 ``ivf_assign_cells``
one Lloyd step                  ``_lloyd_c_sql``                 ``lloyd_refine``
PQ block L2, codes, LUTs        ``_block_l2_sql``,               ``similarity`` PQ kernels
                                ``_pq_codes_sql``
IVF-PQ build                    ``_ivf_pq_cand_sql``             ``_ivf_pq_build``
IVF-PQ query batch search       ``_ivf_pq_cand_sql``             ``_adc_search``
graph-ANN edges per plane       ``_edge_topk_sql``               ``similarity.lsh_edges``
graph-ANN beam walk             ``_gr_walk_ctes``                ``route_on_graph``
power-iteration steps           ``_pi_sql``                      ``_power_iterate``
==============================  ===============================  ==========================

The entries, by what they do:

* exact search and ranking quality: ``llm_topk_cosine``,
  ``llm_knn_join``, ``llm_dedup_embedding``, ``llm_hard_negatives``,
  ``llm_knn_label_accuracy``, ``llm_semantic_clusters``,
  ``llm_rrf_fusion``, ``llm_eval_pr_at_k``, ``llm_eval_ndcg``,
  ``llm_eval_rbo``, ``llm_mmr_diversify``;
* LSH: ``llm_ann_lsh``, ``llm_dedup_embedding_lsh``,
  ``llm_knn_join_bucketed``, ``llm_ann_recall``,
  ``llm_ann_recall_sampled``;
* IVF cells and k-means: ``llm_ann_ivf``, ``llm_semdedup``,
  ``llm_semdedup_capped``, ``llm_kmeans_iter``, ``llm_centroid_assign``,
  ``llm_ivf_cell_stats``;
* quantization: ``llm_quantize_int8``, ``llm_quantize_pq``,
  ``llm_ann_ivf_pq``, ``llm_pq_train_codebook``;
* the persisted IVF-PQ index: ``llm_ann_ivf_pq_persist``,
  ``llm_ann_ivf_pq_append``, ``llm_ann_ivf_pq_recall``,
  ``llm_ann_ivf_pq_recall_trained``, ``llm_ann_ivf_pq_recall_sweep``;
* graph-routed ANN: ``llm_ann_graph_route``,
  ``llm_ann_graph_route_reuse``, ``llm_ann_index_append``,
  ``llm_ann_graph_persist``;
* spectral directions, projection and coresets: ``llm_power_iteration``,
  ``llm_power_iteration_2``, ``llm_embedding_drift``,
  ``llm_random_projection``, ``llm_kcenter_coreset``,
  ``llm_kcenter_coreset_batched``.

Every similarity is rounded (4dp to rank neighbours, 6dp to assign cells)
before any argmax in both engines, and every tie breaks on the id, so
summation order cannot flip a boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash32_oracle_sql
from ..operators.graph_algorithms import undirected
from ..operators.llm import dedup, similarity, text
from ..operators.llm.similarity import (
    _adc, _as_double, _component_means, _cos, _embeddings, _pq_luts,
    _probe_ranks, _seed_codebook, append_route_graph, build_route_graph,
    cosine, dot, fixed_centroids, graph_route_topk, hyperplanes,
    ivf_assign_cells, ivf_pq_adc_search, ivf_pq_build, ivf_pq_encode,
    kcenter_coreset, knn_join_sampled, lloyd_refine, lsh_edges, norm,
    pq_train_blocks, route_on_graph,
)
from ..operators.storage import write_bucketed
from .catalog_llm import _BM25_TERMS, _bm25_sql
from .catalog_round6 import _round_half_up
from .registry import load_table, register
from .replay import scratch_dir

EMB_DIM = 64
LSH_SEED = 7
LSH_PLANES = 6
# fewer planes than the ANN query: near-dup recall needs coarser buckets
# (6 planes / 64 buckets split every true pair at this corpus size; 3
# planes / 8 buckets retain a usable candidate set — the standard LSH
# recall/candidate-volume dial)
NEAR_DUP_PLANES = 3
# Fixed-K centroid seed set — size independent of the corpus (the old
# `vec_id % 37` form grew with n; see similarity.fixed_centroids).
IVF_K = 32
_PQ_BLOCKS = 4
_PQ_CODES = 8
_IPQ_NPROBE = 2
_IPQ_QMOD = 50     # query batch: vec_id % 50 == 0 (10 queries at sf0.01)
_IPQ_TOPK = 5
_IPQ_BUCKETS = 4
_IPQ_LLOYD_ITERS = 1  # k-means refinement rounds inside ivf_pq_build


# ---------------------------------------------------------------------------
# oracle fragments
# ---------------------------------------------------------------------------

_E = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
_Q0 = "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)"


def _cos_sql(a: str, b: str, dp: int = 4) -> str:
    """Cosine of two DOUBLE[] expressions rounded to ``dp`` places, the
    oracle twin of ``similarity._cos``."""
    return (
        f"round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), {dp})"
    )


def _plane_lits(num_planes: int, seed: int, dim: int = EMB_DIM) -> list[str]:
    """``similarity.hyperplanes`` as DuckDB list literals: repr
    round-trips every double, so both engines use the same planes."""
    return [
        "[" + ", ".join(repr(x) for x in p) + "]"
        for p in hyperplanes(num_planes, dim, seed)
    ]


def _bucketed_sql(
    src: str, num_planes: int = NEAR_DUP_PLANES, seed: int = LSH_SEED
) -> str:
    """``src``'s rows with their LSH sign-bit bucket: bit j is set when
    ``v`` lies on the non-negative side of plane j (``lsh_bucket``)."""
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(v, {p}) >= 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(_plane_lits(num_planes, seed))
    )
    return f"SELECT vec_id, v, ({bits})::BIGINT AS bucket FROM {src}"


def _pairs_sql(src: str, b: str = "b", on: str = "", where: str = "") -> str:
    """Ordered pairs of distinct ``src`` vectors as (qid, nid, cos_sim);
    ``on`` prefixes the join condition, ``where`` follows it."""
    return f"""SELECT a.vec_id AS qid, {b}.vec_id AS nid,
             {_cos_sql('a.v', f'{b}.v')} AS cos_sim
      FROM {src} a JOIN {src} {b} ON {on}a.vec_id <> {b}.vec_id{where}"""


def _ranked_sql(pairs: str, cols: str = "qid, nid") -> str:
    """``pairs`` numbered by cosine within each query, ties to the lower
    nid."""
    return f"""SELECT {cols},
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, nid) AS rank
      FROM {pairs}"""


# ``ex``: the exact top-_IPQ_TOPK of the IVF-PQ query batch (the oracle of
# ``knn_join_sampled``)
_EXACT_SAMPLE_SQL = f"""px AS ({_pairs_sql('e', where=f' WHERE a.vec_id % {_IPQ_QMOD} = 0')}),
ex AS (SELECT qid, nid FROM (
    {_ranked_sql('px')}) WHERE rank <= {_IPQ_TOPK})"""


# per-query recall of the approximate top-k ``ap`` against the exact ``ex``
_RECALL_TAIL = """cex AS (SELECT qid, count(*)::BIGINT AS n_exact FROM ex GROUP BY 1),
cap AS (SELECT qid, count(*)::BIGINT AS n_approx FROM ap GROUP BY 1),
hit AS (SELECT ex.qid, count(*)::BIGINT AS n_hit
        FROM ex JOIN ap ON ex.qid = ap.qid AND ex.nid = ap.nid
        GROUP BY 1)
SELECT cex.qid, cex.n_exact,
       coalesce(cap.n_approx, 0)::BIGINT AS n_approx,
       coalesce(hit.n_hit, 0)::BIGINT AS n_hit,
       round(coalesce(hit.n_hit, 0)::DOUBLE / cex.n_exact, 4) AS recall_at_k
FROM cex
LEFT JOIN cap ON cap.qid = cex.qid
LEFT JOIN hit ON hit.qid = cex.qid"""


def _dup_pairs_sql(src: str, on: str = "") -> str:
    """Unordered pairs of ``src`` at cosine >= 0.45 as (vec_a, vec_b,
    cos_sim)."""
    cos = _cos_sql("a.v", "b.v")
    return f"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos_sim
FROM {src} a JOIN {src} b ON {on}a.vec_id < b.vec_id
WHERE {cos} >= 0.45"""


def _ivf_seeds_sql(c: str = "c", corpus: str = "e") -> str:
    """The IVF_K seed centroids: ``corpus`` rows in md5(id) order
    (``similarity.fixed_centroids``)."""
    return f"""{c} AS (SELECT vec_id AS cid, v AS cv FROM {corpus}
      ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {IVF_K})"""


def _ivf_asg_sql(
    asg: str = "asg", c: str = "c", corpus: str = "e", t: str = "e"
) -> str:
    """Each ``corpus`` vector's cell: the argmax of its 6dp cosine to the
    centroids ``c``, ties to the larger cid (``ivf_assign_cells``)."""
    rel = corpus if t == corpus else f"{corpus} {t}"
    return f"""{asg} AS (SELECT vec_id, cell FROM (
    SELECT {t}.vec_id, {c}.cid AS cell,
           row_number() OVER (PARTITION BY {t}.vec_id
               ORDER BY {_cos_sql(f'{t}.v', f'{c}.cv', 6)} DESC, {c}.cid DESC) AS rn
    FROM {rel}, {c}) WHERE rn = 1)"""


_IVF_CELLS = _ivf_seeds_sql() + ",\n" + _ivf_asg_sql()


def _lloyd_c_sql(corpus: str) -> str:
    """CTE chain producing the Lloyd-refined centroid relation ``c``
    from the md5-ordered seed set over ``corpus`` — the SQL unroll of
    one operators/llm/similarity.lloyd_refine iteration: E-step =
    rounded-cosine argmax (tie larger cid, the shared IVF rule), M-step
    = per-(cell, dim) mean rounded to 6dp before reuse (the same
    round(avg, 6) llm_kmeans_iter hashes), empty cells keep their seed
    centroid via the LEFT JOIN + coalesce.
    """
    return f"""{_ivf_seeds_sql('c0', corpus)},
{_ivf_asg_sql('asg0', 'c0', corpus, 't')},
mstep AS (SELECT cell, dim, round(avg(x), 6) AS m FROM (
    SELECT asg0.cell, unnest(t.v) AS x,
           unnest(generate_series(1, len(t.v))) AS dim
    FROM {corpus} t JOIN asg0 USING (vec_id)) GROUP BY 1, 2),
refined AS (SELECT cell AS cid, list(m ORDER BY dim) AS cv
            FROM mstep GROUP BY 1),
c AS (SELECT c0.cid, coalesce(refined.cv, c0.cv) AS cv
      FROM c0 LEFT JOIN refined USING (cid))"""


def _block_l2_sql(x: str, bi: int) -> str:
    """Squared L2 from block ``bi`` of ``x`` to that block of every
    codeword in ``cbs``, each rounded to 6dp. The block width is derived
    from the data (len(x) // blocks) in both engines, so a testdata dim
    change cannot desynchronize the oracle from the Spark side."""
    sub = f"(len({x}) // {_PQ_BLOCKS})"
    off = f"({bi} * {sub})"
    return (
        f"list_transform(generate_series(1, {_PQ_CODES}), c -> "
        f"round(list_sum(list_transform(generate_series(1, {sub}), "
        f"i -> ({x}[{off} + i] - cbs[c][{off} + i]) * ({x}[{off} + i] - cbs[c][{off} + i]))), 6))"
    )


_BLOCKS = range(_PQ_BLOCKS)
_PQ_DISTS = ", ".join(f"{_block_l2_sql('v', bi)} AS db_{bi}" for bi in _BLOCKS)
_PQ_LUTS = ", ".join(f"{_block_l2_sql('qv', bi)} AS lut_{bi}" for bi in _BLOCKS)


def _pq_codes_sql(cast: str = "") -> str:
    """Each block's code: the nearest codeword, ties to the lower code."""
    return ", ".join(
        f"list_position(db_{bi}, list_min(db_{bi})){cast} AS code_{bi}"
        for bi in _BLOCKS
    )


def _seed_cb_sql(corpus: str = "e") -> str:
    """The seed PQ codebook: the first _PQ_CODES vectors by id."""
    return f"""SELECT list(v ORDER BY vec_id) AS cbs
       FROM (SELECT vec_id, v FROM {corpus} ORDER BY vec_id LIMIT {_PQ_CODES})"""


def _ivf_pq_cand_sql(
    corpus: str, cb_sql: str | None = None, probe_all: bool = False
) -> str:
    """CTE chain from the refined centroid relation ``c`` (produced by
    :func:`_lloyd_c_sql`) through the ADC candidate relation ``cand``
    (qid, vec_id, adc_dist). ``corpus`` is the TRAINING relation —
    'e' for the full-corpus build, 'old' for the append lifecycle —
    and feeds only the codebook; encode (``asg``/``codes``) and the
    query/probe/LUT chain always run over ``e``, matching
    ivf_pq_encode's frozen-artifact contract. ``cb_sql`` overrides the
    default md5-seed codebook CTE body (the TRAINED codebook recall
    twin injects ``list(cv ORDER BY code) FROM tcb``). ``probe_all``
    ranks every cell per query and carries the rank as ``cell_rn``
    instead of keeping the _IPQ_NPROBE nearest (the recall sweep).
    """
    ranks = f"""SELECT qs.qid, c.cid,
           row_number() OVER (PARTITION BY qs.qid
               ORDER BY {_cos_sql('c.cv', 'qs.qv', 6)} DESC, c.cid DESC)"""
    probe = (
        f"{ranks} AS cell_rn\n    FROM qs, c" if probe_all
        else f"SELECT qid, cid FROM (\n    {ranks} AS rn\n    FROM qs, c) WHERE rn <= {_IPQ_NPROBE}"
    )
    adc = " + ".join(f"l.lut_{bi}[co.code_{bi}]" for bi in _BLOCKS)
    return f"""{_ivf_asg_sql()},
cb AS ({cb_sql or _seed_cb_sql(corpus)}),
d AS (SELECT vec_id, {_PQ_DISTS} FROM e, cb),
codes AS (SELECT vec_id, {_pq_codes_sql()} FROM d),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {_IPQ_QMOD} = 0),
probe AS ({probe}),
luts AS (SELECT qid, {_PQ_LUTS} FROM qs, cb),
cand AS (SELECT p.qid,{' p.cell_rn,' if probe_all else ''} a.vec_id,
                round({adc}, 6) AS adc_dist
         FROM probe p
              JOIN asg a ON a.cell = p.cid
              JOIN codes co ON co.vec_id = a.vec_id
              JOIN luts l ON l.qid = p.qid
         WHERE a.vec_id <> p.qid)"""


# ---------------------------------------------------------------------------
# Spark fragments
# ---------------------------------------------------------------------------


def _knn_bucketed(e: DataFrame, k: int) -> DataFrame:
    """LSH-candidate k-NN on the catalog's pinned planes."""
    return similarity.knn_join_bucketed(
        e, k=k, num_planes=NEAR_DUP_PLANES, seed=LSH_SEED, dim=EMB_DIM,
    )


def _recall_overlay(exact: DataFrame, approx: DataFrame) -> DataFrame:
    # Both sides are consumed twice (per-query count + the hit join) and
    # both arrive as expensive lazy plans (exact kNN / ADC search) —
    # pin each so the overlay reads one materialization instead of
    # executing the full search twice (the frames are queries x k rows,
    # control-plane-sized).
    exact = exact.localCheckpoint(eager=False)
    approx = approx.localCheckpoint(eager=False)
    n_ex = exact.groupBy("qid").agg(F.count("*").cast("long").alias("n_exact"))
    n_ap = approx.groupBy("qid").agg(F.count("*").cast("long").alias("n_approx"))
    hit = (
        exact.join(approx, ["qid", "nid"])
        .groupBy("qid")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    return (
        n_ex.join(n_ap, "qid", "left")
        .join(hit, "qid", "left")
        .select(
            "qid",
            "n_exact",
            F.coalesce(F.col("n_approx"), F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall_at_k"),
        )
    )


def _exact_sample(emb: DataFrame) -> DataFrame:
    """Exact top-_IPQ_TOPK of the IVF-PQ query batch, as (qid, nid)."""
    return knn_join_sampled(
        emb, k=_IPQ_TOPK, sample_mod=_IPQ_QMOD
    ).select("qid", "nid")


def _ranked_to_query0(emb: DataFrame, k: int) -> DataFrame:
    """The cosine top-k to vector 0 as (vec_id, rank)."""
    return similarity.cosine_topk(emb, query_id=0, k=k).select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), F.asc("vec_id")))
        .alias("rank"),
    )


# ---------------------------------------------------------------------------
# exact search, pairs and ranking quality
# ---------------------------------------------------------------------------


@register(
    "llm_topk_cosine",
    f"""WITH {_E},
{_Q0}
SELECT e.vec_id, {_cos_sql('e.v', 'q.qv')} AS cos_sim
FROM e, q WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id LIMIT 10""",
    doc="Brute-force exact cosine top-k to a query vector: broadcast the "
        "query, linear scan, TakeOrderedAndProject — no corpus shuffle. "
        "Similarity rounded to 4dp before ranking so summation order can't "
        "flip the boundary.",
    tags=("llm", "similarity"),
)
def llm_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(load_table(spark, sf_dir, "embeddings"), query_id=0, k=10)


@register(
    "llm_knn_join",
    f"""WITH {_E},
p AS ({_pairs_sql('e')}),
r AS ({_ranked_sql('p', 'qid, nid, cos_sim')})
SELECT qid, nid, cos_sim, rank FROM r WHERE rank <= 3""",
    doc="All-pairs k-NN self-join (k=3): every vector's nearest "
        "neighbours by cosine — the neighbourhood pass behind near-dup "
        "clustering and diversity sampling. engine='auto' (the default) "
        "runs the exact arrow GEMM while the corpus matrix is "
        "broadcastable and routes to the LSH-candidate bucketed form "
        "(llm_knn_join_bucketed) past 10M rows, so the operator never "
        "collects an unbounded corpus to the driver "
        "(operators/llm/similarity.py:knn_join).",
    tags=("llm", "similarity", "topk"),
)
def llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.knn_join(load_table(spark, sf_dir, "embeddings"), k=3)


@register(
    "llm_dedup_embedding",
    f"WITH {_E}\n{_dup_pairs_sql('e')}",
    doc="Embedding-cosine near-dup pairs (threshold 0.45): brute-force "
        "O(n^2) as the oracle baseline; LSH-bucket join is the scale path.",
    tags=("llm", "dedup", "similarity"),
)
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.45
    )


_HN_SHORTLIST = 10   # ANN shortlist depth per query
_HN_K = 3            # hard negatives kept per query
_HN_DUP_T = 0.98     # cosine at/above this = positive/duplicate, excluded
_HN_MOD = 4          # deterministic query sample: vec_id % 4 == 0


@register(
    "llm_hard_negatives",
    f"""WITH {_E},
p AS ({_pairs_sql('e', 'c', where=f' WHERE a.vec_id % {_HN_MOD} = 0')}),
r AS ({_ranked_sql('p', 'qid, nid, cos_sim')}),
s AS (SELECT * FROM r WHERE rank <= {_HN_SHORTLIST}),
n AS (SELECT qid, nid, cos_sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, nid) AS neg_rank
      FROM s WHERE cos_sim < {_HN_DUP_T})
SELECT qid, nid, cos_sim, neg_rank FROM n WHERE neg_rank <= {_HN_K}""",
    doc=f"Hard-negative mining for embedding/retrieval training: for a "
        f"deterministic query sample (vec_id % {_HN_MOD}), take the "
        f"exact top-{_HN_SHORTLIST} neighbour shortlist, drop "
        f"positives/near-dups (cos >= {_HN_DUP_T}), keep the "
        f"{_HN_K} hardest remaining — the highest-similarity TRUE "
        "negatives that make contrastive batches informative. Mining "
        "from the shortlist (not the full ranking) is the production "
        "contract: at 100 TB the shortlist comes from the same sampled "
        "GEMM scan knn_join_sampled uses (query sample broadcasts, one "
        "corpus scan, per-partition top-k, bounded merge — never "
        "corpus x corpus), and the dedup filter + rerank run on "
        f"<= {_HN_SHORTLIST} rows per query. Same 4dp half-away "
        "rounding and ascending-id tie-break as every kNN entry "
        "(operators/llm/similarity.py:knn_join_sampled).",
    tags=("llm", "similarity", "sampling"),
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    short = knn_join_sampled(emb, k=_HN_SHORTLIST, sample_mod=_HN_MOD)
    neg = short.filter(F.col("cos_sim") < _HN_DUP_T)
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid")
    )
    return (
        neg.select(
            "qid", "nid", "cos_sim",
            F.row_number().over(w).alias("neg_rank"),
        )
        .filter(F.col("neg_rank") <= _HN_K)
    )


ANN_RECALL_K = 3


@register(
    "llm_knn_label_accuracy",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
                             FROM embeddings),
p AS ({_pairs_sql('e')}),
r AS ({_ranked_sql('p')}),
nb AS (SELECT r.qid, e.label AS nlabel
       FROM r JOIN e ON e.vec_id = r.nid
       WHERE r.rank <= {ANN_RECALL_K}),
votes AS (SELECT qid, nlabel, count(*)::BIGINT AS cnt FROM nb GROUP BY 1, 2),
pred AS (SELECT qid, nlabel AS pred_label
         FROM (SELECT qid, nlabel,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY cnt DESC, nlabel) AS rn
               FROM votes)
         WHERE rn = 1)
SELECT e.label,
       count(*)::BIGINT AS n,
       sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)::BIGINT
         AS n_correct,
       round(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 4) AS acc
FROM pred p JOIN e ON e.vec_id = p.qid
GROUP BY 1""",
    doc="Embedding-quality probe: leave-one-out k-NN label agreement — "
        "each vector's label predicted by majority vote of its 3 exact "
        "nearest neighbours (ties break on smallest label), scored per "
        "class. The standard cheap proxy for 'do these embeddings "
        "encode the thing we care about' before they gate dedup or "
        "sampling decisions. Reuses the verified knn_join output; the "
        "overlay is a label join, a (qid, label) vote count, and a "
        "qid-partitioned argmax — every shuffle keyed and bounded by "
        "k*n rows (operators/llm/similarity.py:knn_join).",
    tags=("llm", "similarity", "evaluation"),
)
def llm_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    labels = e.select("vec_id", "label")
    knn = similarity.knn_join(e, k=ANN_RECALL_K).select("qid", "nid")
    nb = knn.join(
        labels.withColumnRenamed("vec_id", "nid").withColumnRenamed(
            "label", "nlabel"
        ),
        "nid",
    )
    votes = nb.groupBy("qid", "nlabel").agg(F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("qid").orderBy(F.desc("cnt"), F.asc("nlabel"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("nlabel").alias("pred_label"))
    )
    own = labels.withColumnRenamed("vec_id", "qid")
    return (
        pred.join(own, "qid")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum((F.col("pred_label") == F.col("label")).cast("long"))
            .cast("long")
            .alias("n_correct"),
            F.round(
                F.sum((F.col("pred_label") == F.col("label")).cast("long"))
                / F.count("*"),
                4,
            ).alias("acc"),
        )
    )


_MKNN_K = 3


@register(
    "llm_semantic_clusters",
    f"""
WITH RECURSIVE {_E},
p AS ({_pairs_sql('e')}),
r AS ({_ranked_sql('p')}),
knn AS (SELECT qid, nid FROM r WHERE rank <= {_MKNN_K}),
mutual AS (SELECT a.qid AS src, a.nid AS dst
           FROM knn a JOIN knn b ON a.qid = b.nid AND a.nid = b.qid),
reach(src, dst) AS (
    SELECT src, src FROM mutual
    UNION
    SELECT r2.src, m.dst FROM reach r2 JOIN mutual m ON r2.dst = m.src),
lab AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT e.vec_id,
       coalesce(l.cluster_id, e.vec_id) AS cluster_id,
       (coalesce(l.cluster_id, e.vec_id) = e.vec_id) AS is_representative
FROM e LEFT JOIN lab l ON l.vec_id = e.vec_id
""",
    doc=f"Semantic clustering of embeddings: mutual-{_MKNN_K}-NN graph "
        "(an edge only when BOTH endpoints rank each other top-k — the "
        "standard guard against hub vectors chaining unrelated clusters) "
        "-> connected components -> min-id representative. The embedding "
        "counterpart of llm_dedup_pipeline; at scale the kNN stage is the "
        "auto-routed knn_join (bucketed LSH past the broadcast bound) and "
        "the mutual filter is a self-join on the (qid,nid) pair — tiny vs "
        "the corpus. The full pipeline is soaked THROUGH the bucketed "
        "route at x100 vectors (SCALE_SOAK round-6 stretch: 216.9 s at "
        "200k, sub-linear x10->x100, recall@3 = 1.0 on the duplicated "
        "fixture — organic-data recall is whatever llm_ann_recall "
        "measures for the plane configuration).",
    tags=("llm", "similarity", "pipeline", "iterative"),
)
def llm_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    kn = similarity.knn_join(emb, k=_MKNN_K).select("qid", "nid")
    kn = kn.localCheckpoint(eager=False)  # consumed by both mutual sides
    mutual = kn.alias("a").join(
        kn.alias("b"),
        (F.col("a.qid") == F.col("b.nid")) & (F.col("a.nid") == F.col("b.qid")),
    ).select(F.col("a.qid").alias("doc_a"), F.col("a.nid").alias("doc_b"))
    labels = dedup.dup_clusters(mutual)
    return (
        emb.select("vec_id")
        .join(
            labels.withColumnRenamed("doc_id", "vec_id").withColumnRenamed(
                "cluster_id", "_cl"
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce(F.col("_cl"), F.col("vec_id")).alias("cluster_id"),
            (
                F.coalesce(F.col("_cl"), F.col("vec_id")) == F.col("vec_id")
            ).alias("is_representative"),
        )
    )


_RRF_N = 30   # per-system candidate depth
_RRF_K0 = 60  # the standard RRF dampening constant
_RRF_K = 10


def _rrf_sql() -> str:
    cos = f"""
SELECT e.vec_id AS doc_id, {_cos_sql('e.v', 'q.qv')} AS cos_sim
FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e,
     (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id LIMIT {_RRF_N}"""
    return f"""
WITH lexs AS ({_bm25_sql(_RRF_N)}),
lex AS (SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM lexs),
vecs AS ({cos}),
vec AS (SELECT doc_id,
               row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank
        FROM vecs),
allc AS (SELECT doc_id, (1000000000 // ({_RRF_K0} + rank))::BIGINT
                  AS contrib FROM lex
         UNION ALL
         SELECT doc_id, (1000000000 // ({_RRF_K0} + rank))::BIGINT
                  AS contrib FROM vec)
SELECT doc_id, count(*)::BIGINT AS n_systems, sum(contrib)::BIGINT AS rrf9
FROM allc GROUP BY doc_id
ORDER BY rrf9 DESC, doc_id LIMIT {_RRF_K}"""


@register(
    "llm_rrf_fusion",
    _rrf_sql(),
    doc="Hybrid retrieval by reciprocal-rank fusion: the BM25 top-30 "
        "(lexical) and the cosine top-30 to query vector 0 (dense) "
        "merge WITHOUT score calibration as sum of 1/(60 + rank) — "
        "the fusion step a hybrid search or hard-negative-mining "
        "pipeline runs over its candidate generators. Contributions "
        "are fixed-pointed per (system, rank) as floor(1e9/(60+rank)) "
        "BEFORE summing, so the fused score is an exact integer on "
        "both engines. SCALE: each ranker is the already-certified "
        "shuffle-free scan + TakeOrdered (llm_bm25_search / "
        "llm_topk_cosine); fusion itself touches only the top-N lists "
        "— broadcast-sized at ANY corpus size, rank windows run on 30 "
        "rows, never the corpus. The oracle replays both rankers and "
        "the integer fusion in one chain "
        "(operators/llm/similarity.py:rrf_fuse).",
    tags=("llm", "similarity", "text", "topk"),
)
def llm_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = text.bm25_search(docs, list(_BM25_TERMS), k=_RRF_N)
    # rank windows run over the top-N result (<= 30 rows), not the corpus
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rank"),
    )
    vecr = _ranked_to_query0(emb, _RRF_N).withColumnRenamed("vec_id", "doc_id")
    return similarity.rrf_fuse([lexr, vecr], k0=_RRF_K0, k=_RRF_K)


_PR_MAX_K = 100
_PR_STEP = 10
_PR_LABEL = 1  # "relevant" = embedding label 1


@register(
    "llm_eval_pr_at_k",
    f"""
WITH {_E},
{_Q0},
s AS (SELECT e.vec_id, {_cos_sql('e.v', 'q.qv')} AS cos_sim
      FROM e, q WHERE e.vec_id <> 0),
r AS (SELECT vec_id,
             row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
      FROM s),
m AS (SELECT r.rank,
             CASE WHEN l.label = {_PR_LABEL} THEN 1 ELSE 0 END AS rel
      FROM r JOIN embeddings l USING (vec_id)
      WHERE r.rank <= {_PR_MAX_K}),
run AS (SELECT rank, sum(rel) OVER (ORDER BY rank)::BIGINT AS tp FROM m),
np AS (SELECT count(*)::BIGINT AS n_pos FROM embeddings
       WHERE label = {_PR_LABEL} AND vec_id <> 0)
SELECT rank AS k, tp,
       floor(tp * 1000000.0 / rank + 0.5)::BIGINT AS precision6,
       floor(tp * 1000000.0 / n_pos + 0.5)::BIGINT AS recall6
FROM run, np
WHERE rank % {_PR_STEP} = 0
ORDER BY k""",
    doc=f"Precision@K / recall@K sweep (K = {_PR_STEP}..{_PR_MAX_K}) of "
        "the cosine ranking to query vector 0 against the embedding "
        f"labels (relevant = label {_PR_LABEL}) — the eval readout that "
        "closes the retrieval loop: rank (llm_topk_cosine), fuse "
        "(llm_rrf_fusion), MEASURE. tp@K is a running sum over the "
        f"top-{_PR_MAX_K} list only — the window runs on "
        f"{_PR_MAX_K} rows by construction, never the corpus (the "
        "ranked list is a TakeOrdered output), and the positive total "
        "is one global aggregate broadcast back. Ratios are "
        "fixed-pointed to 1e-6 AFTER the integer counts, so both "
        "engines agree exactly "
        "(operators/llm/similarity.py:precision_recall_at_k).",
    tags=("llm", "similarity", "evaluation", "quality"),
)
def llm_eval_pr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ranked = _ranked_to_query0(emb, _PR_MAX_K)
    # exclude the query vector: it can never be retrieved, so counting
    # it in the recall denominator would cap recall below 1 (mirrors
    # llm_eval_ndcg's gain-pool handling)
    positives = emb.filter(
        (F.col("label") == _PR_LABEL) & (F.col("vec_id") != 0)
    ).select("vec_id")
    cutoffs = list(range(_PR_STEP, _PR_MAX_K + 1, _PR_STEP))
    return similarity.precision_recall_at_k(ranked, positives, cutoffs)


_NDCG_MAX_K = 100
_NDCG_STEP = 10


def _ndcg_discounts() -> list[tuple[int, float]]:
    """rank -> 1/log2(rank+1), computed ONCE in Python and injected as
    literals into BOTH engines: repr() round-trips doubles exactly, so
    Spark and DuckDB multiply by bit-identical constants — no
    cross-engine transcendental (JVM log vs libm log) in either plan,
    the boundary-flip class the weighted-sample advice flagged removed
    at the source rather than 'made unlikely'."""
    import math

    return [
        (r, 1.0 / math.log2(r + 1)) for r in range(1, _NDCG_MAX_K + 1)
    ]


def _ndcg_sql() -> str:
    disc_rows = ", ".join(f"({r}, {d!r})" for r, d in _ndcg_discounts())
    return f"""
WITH disc(rank, disc) AS (VALUES {disc_rows}),
e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
{_Q0},
s AS (SELECT e.vec_id, e.label, {_cos_sql('e.v', 'q.qv')} AS cos_sim
      FROM e, q WHERE e.vec_id <> 0),
r AS (SELECT label,
             row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
      FROM s),
a AS (SELECT r.rank,
             floor(1000000.0 * r.label * d.disc + 0.5)::BIGINT AS c6
      FROM r JOIN disc d ON d.rank = r.rank
      WHERE r.rank <= {_NDCG_MAX_K}),
i0 AS (SELECT label,
              row_number() OVER (ORDER BY label DESC, vec_id) AS rank
       FROM e WHERE vec_id <> 0),
i AS (SELECT i0.rank,
             floor(1000000.0 * i0.label * d.disc + 0.5)::BIGINT AS c6
      FROM i0 JOIN disc d ON d.rank = i0.rank
      WHERE i0.rank <= {_NDCG_MAX_K}),
run AS (SELECT a.rank,
               sum(a.c6) OVER (ORDER BY a.rank)::BIGINT AS dcg6,
               sum(i.c6) OVER (ORDER BY a.rank)::BIGINT AS idcg6
        FROM a JOIN i ON i.rank = a.rank)
SELECT rank AS k, dcg6, idcg6,
       floor(1000000.0 * dcg6 / idcg6 + 0.5)::BIGINT AS ndcg6
FROM run WHERE rank % {_NDCG_STEP} = 0 ORDER BY k"""


@register(
    "llm_eval_ndcg",
    _ndcg_sql(),
    doc=f"nDCG@K sweep (K = {_NDCG_STEP}..{_NDCG_MAX_K}) of the cosine "
        "ranking to query vector 0 with GRADED relevance (the 0-9 "
        "embedding labels as gains) — the ranking-quality readout "
        "P/R@K can't give (llm_eval_pr_at_k sees only binary hits). "
        "DETERMINISM: the 1/log2(rank+1) discount table is computed "
        "once in Python and injected as repr-round-tripped literals "
        "into BOTH engines, so neither plan evaluates a transcendental "
        "— the JVM-vs-libm 1-ulp boundary-flip class is removed at the "
        "source; per-rank contributions are fixed-pointed BEFORE "
        "summing, making DCG/IDCG exact integer sums and nDCG an "
        "integer-ratio readout. SCALE: actual and ideal rankings are "
        f"both TakeOrdered top-{_NDCG_MAX_K}; the discount join is a "
        "100-row broadcast; running sums window over 100 rows, never "
        "the corpus (operators/llm/similarity.py:ndcg_at_k).",
    tags=("llm", "similarity", "evaluation", "quality"),
)
def llm_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ranked = _ranked_to_query0(emb, _NDCG_MAX_K)
    # exclude the query vector from the gain pool, mirroring the oracle's
    # ideal ranking (the query can't be its own retrieval result)
    labels = emb.filter(F.col("vec_id") != 0).select("vec_id", "label")
    cutoffs = list(range(_NDCG_STEP, _NDCG_MAX_K + 1, _NDCG_STEP))
    return similarity.ndcg_at_k(ranked, labels, _ndcg_discounts(), cutoffs)


_RBO_D = 10
_RBO_P = 0.9
# (1-p) * p^(d-1) / d, fixed as 12dp literals shared by both engines so
# neither side computes a transcendental.
_RBO_W = [
    round((1 - _RBO_P) * _RBO_P ** (d - 1) / d, 12)
    for d in range(1, _RBO_D + 1)
]


def _rbo_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    tf = f"""
SELECT doc_id, count(*)::BIGINT AS tf
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents)
WHERE tok IN ({terms})
GROUP BY doc_id ORDER BY tf DESC, doc_id LIMIT {_RBO_D}"""
    weights = ", ".join(
        f"({d}, {w!r})" for d, w in enumerate(_RBO_W, start=1)
    )
    return f"""
WITH lexs AS ({_bm25_sql(_RBO_D)}),
lex AS (SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM lexs),
tfs AS ({tf}),
tfr AS (SELECT doc_id,
               row_number() OVER (ORDER BY tf DESC, doc_id) AS rank
        FROM tfs),
common AS (SELECT greatest(l.rank, t.rank) AS first_d
           FROM lex l JOIN tfr t USING (doc_id)),
w AS (SELECT * FROM (VALUES {weights}) AS t(d, wt)),
ov AS (SELECT w.d, w.wt,
              (SELECT count(*) FROM common WHERE first_d <= w.d)::BIGINT
                AS overlap
       FROM w)
SELECT d::BIGINT AS d, overlap,
       round(sum(wt * overlap) OVER (ORDER BY d), 6)::DOUBLE AS rbo
FROM ov"""


@register(
    "llm_eval_rbo",
    _rbo_sql(),
    doc=f"Rank-Biased Overlap (p={_RBO_P}, depth {_RBO_D}) between the "
        "full BM25 ranking and a tf-only ranking of the SAME query "
        "terms — the top-weighted agreement measure for indefinite "
        "rankings (Webber, Moffat & Zobel 2010): rbo at depth d is "
        "the running sum of (1-p)p^(d-1)/d * overlap@d, and here it "
        "quantifies exactly how much the idf + length-normalization "
        "terms REORDER the head versus raw term counts. Overlap@d "
        "needs only each common doc's max(rank_a, rank_b); per-depth "
        "weights are injected as identical 12dp literals into both "
        "engines (the nDCG discount discipline), so every term is one "
        "literal*integer product — no transcendental, no float-sum "
        "ambiguity at 10 terms. SCALE: both rankers are shuffle-free "
        "scan + TakeOrdered; RBO itself touches two 10-row lists "
        "(left-joined per depth, so even disjoint rankings yield the "
        "full 10-row zero curve rather than an empty frame).",
    tags=("llm", "eval", "similarity"),
)
def llm_eval_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lex = text.bm25_search(docs, list(_BM25_TERMS), k=_RBO_D).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rl"),
    )
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), "doc_id")
        .limit(_RBO_D)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("tf"), F.asc("doc_id")))
            .alias("rv"),
        )
    )
    common = lex.join(tf, "doc_id").select(
        F.greatest("rl", "rv").alias("first_d")
    )
    w = spark.createDataFrame(
        list(enumerate(_RBO_W, start=1)), "d long, wt double"
    )
    # LEFT join so all depths survive a zero-overlap pair of rankings
    # (two disjoint top-10s are a legitimate — and interesting — result)
    ov = (
        w.join(
            F.broadcast(common), F.col("first_d") <= F.col("d"), "left"
        )
        .groupBy("d", "wt")
        .agg(F.count("first_d").cast("long").alias("overlap"))
    )
    run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return ov.select(
        "d",
        "overlap",
        F.round(F.sum(F.col("wt") * F.col("overlap")).over(run), 6)
        .alias("rbo"),
    )


_MMR_N = 12   # candidate pool (the distributed retrieval output)
_MMR_K = 5    # diversified results
_MMR_LAMBDA = 0.7


def _mmr_sql() -> str:
    lam, one_m = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 1)
    head = f"""WITH {_E},
{_Q0},
cand AS (SELECT e.vec_id, e.v,
                {_cos_sql("e.v", "q.qv")} AS rel
         FROM e, q WHERE e.vec_id <> 0
         ORDER BY rel DESC, e.vec_id LIMIT {_MMR_N}),
p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
             {_cos_sql("a.v", "b.v")} AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
s1 AS (SELECT vec_id, rel, {lam} * rel AS mmr FROM cand
       ORDER BY rel DESC, vec_id LIMIT 1)"""
    parts = [head]
    prev_sel = "SELECT vec_id FROM s1"
    for r in range(2, _MMR_K + 1):
        parts.append(
            f""",
r{r} AS (SELECT c.vec_id, c.rel,
               {lam} * c.rel - {one_m} * max(p.s) AS mmr
        FROM cand c JOIN p ON p.ia = c.vec_id
                          AND p.ib IN ({prev_sel})
        WHERE c.vec_id NOT IN ({prev_sel})
        GROUP BY c.vec_id, c.rel
        ORDER BY mmr DESC, c.vec_id LIMIT 1)"""
        )
        prev_sel = f"{prev_sel} UNION SELECT vec_id FROM r{r}"
    selects = ["SELECT 1 AS rank, vec_id, rel, round(mmr, 6) AS mmr FROM s1"]
    for r in range(2, _MMR_K + 1):
        selects.append(
            f"SELECT {r} AS rank, vec_id, rel, round(mmr, 6) AS mmr FROM r{r}"
        )
    return "".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@register(
    "llm_mmr_diversify",
    _mmr_sql(),
    doc=f"Maximal Marginal Relevance re-ranking (Carbonell & Goldstein "
        f"1998): greedily select {_MMR_K} of the top-{_MMR_N} cosine "
        f"candidates maximizing {_MMR_LAMBDA}*relevance - "
        f"{round(1 - _MMR_LAMBDA, 1)}*max-sim-to-selected — the "
        "diversification pass between retrieval and the user that "
        "stops near-duplicate hits from wasting result slots. Scale "
        "split is explicit: candidate generation is the distributed "
        "stage (here brute-force top-N; any ANN entry slots in), and "
        f"the greedy loop touches only the {_MMR_N}-row candidate "
        f"table — {_MMR_K - 1} rounds of one tiny join + one argmax "
        "each, never the corpus. All similarities round to 4dp "
        "before the MMR arithmetic so both engines combine identical "
        "doubles; the oracle unrolls every greedy round, verifying "
        "the recursion, not just the final membership.",
    tags=("llm", "similarity", "eval"),
)
def llm_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "v",
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_N)
        .localCheckpoint()  # pin the pool: it feeds K joins below
    )
    a = cand.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va")
    )
    b = cand.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb")
    )
    pairs = (
        a.join(b, F.col("ia") != F.col("ib"))
        .select(
            "ia", "ib",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("s"),
        )
        .localCheckpoint()
    )
    lam, one_m = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 1)
    first = (
        cand.orderBy(F.desc("rel"), "vec_id").limit(1)
        .select("vec_id", "rel", (F.lit(lam) * F.col("rel")).alias("mmr"))
        .collect()[0]
    )
    picked = [(1, first["vec_id"], first["rel"], first["mmr"])]
    sel_ids = [first["vec_id"]]
    for r in range(2, _MMR_K + 1):
        nxt = (
            cand.filter(~F.col("vec_id").isin(sel_ids))
            .join(
                pairs.filter(F.col("ib").isin(sel_ids)),
                F.col("vec_id") == F.col("ia"),
            )
            .groupBy("vec_id", "rel")
            .agg(
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(one_m) * F.max("s")
                ).alias("mmr")
            )
            .orderBy(F.desc("mmr"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        picked.append((r, nxt["vec_id"], nxt["rel"], nxt["mmr"]))
        sel_ids.append(nxt["vec_id"])
    out = spark.createDataFrame(
        picked, "rank int, vec_id long, rel double, mmr double"
    )
    return out.select(
        "rank", "vec_id", "rel", F.round("mmr", 6).alias("mmr")
    )


# ---------------------------------------------------------------------------
# LSH: sign-bit buckets of pinned random hyperplanes
# ---------------------------------------------------------------------------


@register(
    "llm_ann_lsh",
    f"""WITH {_E},
b AS ({_bucketed_sql('e', LSH_PLANES)}),
q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
SELECT b.vec_id, b.bucket, {_cos_sql('b.v', 'q.qv')} AS cos_sim
FROM b, q WHERE b.vec_id <> 0 AND b.bucket = q.qbucket
ORDER BY cos_sim DESC, b.vec_id LIMIT 5""",
    doc="ANN via random-hyperplane LSH (6 sign bits -> 64 buckets): "
        "candidates restricted to the query's bucket; at scale the bucket "
        "is a precomputed partition column, so the scan prunes to ~1/64.",
    tags=("llm", "similarity", "sketch"),
)
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_bucket_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_id=0, k=5, num_planes=LSH_PLANES, seed=LSH_SEED, dim=EMB_DIM,
    )


@register(
    "llm_dedup_embedding_lsh",
    f"""WITH {_E},
b AS ({_bucketed_sql('e')})
{_dup_pairs_sql('b', on='a.bucket = b.bucket AND ')}""",
    doc="Embedding near-dup via LSH bucket equality join (the 100 TB path "
        "for llm_dedup_embedding): shuffle on (bucket, id) instead of an "
        "O(n^2) cross product; exact-precision (cosine-verified), "
        "approximate-recall (same-bucket candidates only).",
    tags=("llm", "dedup", "similarity", "sketch"),
)
def llm_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_lsh(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.45, num_planes=NEAR_DUP_PLANES, seed=LSH_SEED, dim=EMB_DIM,
    )


@register(
    "llm_knn_join_bucketed",
    f"""WITH {_E},
b AS ({_bucketed_sql('e')}),
p AS ({_pairs_sql('b', 'c', on='a.bucket = c.bucket AND ')}),
r AS ({_ranked_sql('p', 'qid, nid, cos_sim')})
SELECT qid, nid, cos_sim, rank FROM r WHERE rank <= 3""",
    doc="The 100 TB shape of llm_knn_join: LSH-candidate approximate "
        "k-NN. Candidates = same sign-bit bucket (3 planes / 8 buckets), "
        "so the only joins are bucket equi-joins shuffled on (bucket, "
        "id) — no cross join, no driver collect — and the per-query "
        "top-k is a qid-partitioned row_number. Approximate recall by "
        "construction (neighbour lists may be shorter than k); exact "
        "precision (every emitted pair is cosine-verified) "
        "(operators/llm/similarity.py:knn_join_bucketed).",
    tags=("llm", "similarity", "topk", "sketch"),
)
def llm_knn_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_bucketed(load_table(spark, sf_dir, "embeddings"), k=3)


def _ann_recall_sql(sample_mod: int | None = None) -> str:
    k = ANN_RECALL_K
    qfilter = "" if sample_mod is None else f" AND a.vec_id % {sample_mod} = 0"
    return f"""WITH {_E},
p AS ({_pairs_sql('e', where=qfilter)}),
r AS ({_ranked_sql('p')}),
ex AS (SELECT qid, nid FROM r WHERE rank <= {k}),
bk AS ({_bucketed_sql('e')}),
pb AS ({_pairs_sql('bk', 'c', on='a.bucket = c.bucket AND ', where=qfilter)}),
rb AS ({_ranked_sql('pb')}),
ap AS (SELECT qid, nid FROM rb WHERE rank <= {k}),
{_RECALL_TAIL}"""


@register(
    "llm_ann_recall",
    _ann_recall_sql(),
    doc="Recall@k of the LSH-bucketed approximate k-NN "
        "(llm_knn_join_bucketed) against the exact brute-force top-k "
        "(llm_knn_join), per query vector: n_hit / n_exact over the "
        "(qid, nid) pair sets. This is the evaluation harness every "
        "approximate index needs before it replaces the exact path at "
        "scale — recall is a corpus property, not a constant. Both "
        "sides are the already-verified catalog operators; the overlay "
        "is three key-partitioned aggregations and two left joins on "
        "qid — no new shuffle shapes "
        "(operators/llm/similarity.py:knn_join,knn_join_bucketed).",
    tags=("llm", "similarity", "evaluation"),
)
def llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    exact = similarity.knn_join(e, k=ANN_RECALL_K).select("qid", "nid")
    approx = _knn_bucketed(e, ANN_RECALL_K).select("qid", "nid")
    return _recall_overlay(exact, approx)


ANN_SAMPLE_MOD = 4


@register(
    "llm_ann_recall_sampled",
    _ann_recall_sql(sample_mod=ANN_SAMPLE_MOD),
    doc="The 100 TB shape of llm_ann_recall: recall@k measured on a "
        "deterministic hash-sample of queries (vec_id % 4 == 0) scored "
        "EXACTLY against the FULL corpus. The exact side is "
        "knn_join_sampled, which inverts knn_join's broadcast — the "
        "small query-sample matrix broadcasts, each corpus partition "
        "GEMMs its rows against it and keeps a per-partition top-k per "
        "query, and a bounded candidate merge (|sample|*k*partitions "
        "rows) finishes exactly. Cost is LINEAR in corpus size and "
        "never collects the corpus, so the evaluation harness itself "
        "survives the scale it is meant to certify "
        "(operators/llm/similarity.py:knn_join_sampled).",
    tags=("llm", "similarity", "evaluation"),
)
def llm_ann_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    exact = knn_join_sampled(
        e, k=ANN_RECALL_K, sample_mod=ANN_SAMPLE_MOD
    ).select("qid", "nid")
    approx = (
        _knn_bucketed(e, ANN_RECALL_K)
        .filter(F.pmod(F.col("qid"), F.lit(ANN_SAMPLE_MOD)) == 0)
        .select("qid", "nid")
    )
    return _recall_overlay(exact, approx)


# ---------------------------------------------------------------------------
# IVF cells and k-means
# ---------------------------------------------------------------------------


@register(
    "llm_ann_ivf",
    f"""WITH {_E},
{_IVF_CELLS},
{_Q0},
probe AS (SELECT cid FROM c, q
          ORDER BY {_cos_sql('cv', 'qv', 6)} DESC, cid DESC LIMIT 2)
SELECT e.vec_id, asg.cell, {_cos_sql('e.v', 'q.qv')} AS cos_sim
FROM e JOIN asg USING (vec_id), q
WHERE asg.cell IN (SELECT cid FROM probe) AND e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id LIMIT 5""",
    doc="ANN via IVF: FIXED-K deterministic centroid subset (order by "
        "md5(id), take 32 — size independent of the corpus, so "
        "assignment is O(n*K) at any scale; the corpus-growing id%37 "
        "form is a test fixture only), broadcast argmax assignment, "
        "probe the 2 nearest cells, exact cosine within. At scale the "
        "cell id is a partition column -> a query scans ~nprobe/K of "
        "the corpus (operators/llm/similarity.py ivf_topk).",
    tags=("llm", "similarity", "ann"),
)
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_id=0, k=5, nprobe=2, num_centroids=IVF_K,
    )


@register(
    "llm_semdedup",
    f"""WITH {_E},
{_IVF_CELLS},
cells AS (SELECT e.vec_id, e.v, asg.cell FROM e JOIN asg USING (vec_id)),
dup AS (SELECT DISTINCT b.vec_id
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {_cos_sql('a.v', 'b.v')} >= 0.5)
SELECT cells.vec_id, cells.cell,
       CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM cells LEFT JOIN dup ON cells.vec_id = dup.vec_id""",
    doc="SemDeDup-style semantic dedup: IVF-cell clustering (same FIXED-K "
        "deterministic centroid assignment as llm_ann_ivf — the centroid "
        "count does not grow with the corpus), then within each cell drop "
        "every vector with a lower-id cell-mate at cosine >= 0.5 "
        "(operators/llm/similarity.py:semdedup). The pair search is "
        "cell-local, so the cross product is n/K-sized per cell and the "
        "shuffle keys are (cell, id) — the published SemDeDup recipe "
        "expressed as two joins and an argmax.",
    tags=("llm", "dedup", "similarity"),
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semdedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.5, num_centroids=IVF_K,
    )


SEMDEDUP_CAP = 16  # binds at sf0.01 (500 rows / 32 cells), so the driver
# value-hashes the salt-split path itself; at scale it bounds the pair
# stage at O(n * cap) regardless of cell skew


def _semdedup_capped_sql(cap: int, threshold: float = 0.35) -> str:
    """DuckDB mirror of ``semdedup(..., max_cell_size=cap)``: same
    fixed-K assignment as ``llm_semdedup`` plus the salt-split CTEs —
    salt = hash32(vec_id || ':sd') % ceil(cell_size / cap), exactly the
    Spark operator's arithmetic (similarity.py:semdedup). Threshold
    0.35 (vs the uncapped entry's 0.5) so dup pairs EXIST at sf0.01 —
    the capped result (39 dups) differs from uncapped (52), making the
    salt split value-visible to the driver hash, not just plan-visible."""
    salt = hash32_oracle_sql("vec_id::VARCHAR || ':sd'")
    return f"""WITH {_E},
{_IVF_CELLS},
cells0 AS (SELECT e.vec_id, e.v, asg.cell FROM e JOIN asg USING (vec_id)),
sz AS (SELECT cell, count(*) AS cn FROM cells0 GROUP BY cell),
cells AS (SELECT cells0.vec_id, cells0.v, cells0.cell,
                 {salt} % greatest(1, ceil(sz.cn / {cap}.0)::BIGINT) AS salt
          FROM cells0 JOIN sz USING (cell)),
dup AS (SELECT DISTINCT b.vec_id
        FROM cells a JOIN cells b
          ON a.cell = b.cell AND a.salt = b.salt AND a.vec_id < b.vec_id
        WHERE {_cos_sql('a.v', 'b.v')} >= {threshold})
SELECT cells.vec_id, cells.cell,
       CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM cells LEFT JOIN dup ON cells.vec_id = dup.vec_id"""


@register(
    "llm_semdedup_capped",
    _semdedup_capped_sql(SEMDEDUP_CAP),
    doc="llm_semdedup with the production cell-size cap: cells larger "
        f"than {SEMDEDUP_CAP} are salt-split into ceil(size/cap) "
        "sub-cells by an md5-derived hash of the id (oracle-expressible "
        "— the DuckDB mirror reproduces the split exactly), and pairing "
        "runs within a sub-cell only. Bounds the quadratic pair stage at "
        "O(n * cap) TOTAL regardless of cell skew — one mega-cell can no "
        "longer go quadratic (SCALE_SOAK.md: uncapped killed >580 s at "
        "100x, capped ~linear). Recall-only approximation: cross-salt "
        "pairs are missed, every emitted duplicate is still cosine-"
        "verified. The cap binds at sf0.01 (500 rows / 32 cells), so "
        "the driver hash covers the salt arithmetic itself "
        "(operators/llm/similarity.py:semdedup, max_cell_size).",
    tags=("llm", "dedup", "similarity", "scale"),
)
def llm_semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semdedup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.35, num_centroids=IVF_K, max_cell_size=SEMDEDUP_CAP,
    )


@register(
    "llm_kmeans_iter",
    f"""WITH {_E},
{_IVF_CELLS},
cells AS (SELECT e.vec_id, e.v, asg.cell FROM e JOIN asg USING (vec_id)),
comp AS (SELECT cell, unnest(v) AS x,
                unnest(generate_series(1, len(v))) AS dim
         FROM cells)
SELECT cell, dim, round(avg(x), 6) AS mean_val
FROM comp
GROUP BY 1, 2""",
    doc="One k-means M-step: recompute each centroid as the per-dimension "
        "mean of its assigned vectors (E-step = the same broadcast argmax "
        "assignment as llm_ann_ivf / llm_centroid_assign). The vector "
        "mean is a posexplode to (cell, dim, component) + one partial-agg "
        "shuffle keyed on (cell, dim) — O(K*d) output rows at any corpus "
        "size, so iterating to convergence is a fixed number of linear "
        "passes. Completes the IVF/semdedup story: this is how the "
        "injected fixed-K centroid set (SCALE_SOAK.md) gets learned.",
    tags=("llm", "similarity", "iterative"),
)
def llm_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embeddings(load_table(spark, sf_dir, "embeddings"))
    cents = fixed_centroids(e, IVF_K)
    assigned = ivf_assign_cells(e, cents)
    return _component_means(e.join(assigned, "vec_id"), "cell").select(
        "cell", (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("m").alias("mean_val"),
    )


@register(
    "llm_centroid_assign",
    f"""WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
  pos AS (SELECT unnest(range(1, {EMB_DIM + 1})) AS i),
  cent AS (SELECT label AS clabel, i, round(avg(v[i]), 6) AS cx
           FROM e, pos GROUP BY 1, 2),
  cvec AS (SELECT clabel, list(cx ORDER BY i) AS cv FROM cent GROUP BY 1),
  scored AS (SELECT e.vec_id, e.label, c.clabel,
               {_cos_sql('e.v', 'c.cv')} AS cos
             FROM e CROSS JOIN cvec c),
  best AS (SELECT vec_id, label, clabel,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, clabel) AS rn
           FROM scored)
  SELECT label, clabel AS assigned, count(*) AS n
  FROM best WHERE rn = 1 GROUP BY 1, 2""",
    doc="Per-label centroid (element-wise mean, one avg aggregate per "
        "position — single pass, no posexplode shuffle blow-up) + "
        "nearest-centroid assignment by cosine: the k-means E-step / "
        "embedding-space label-purity check of a curation pipeline. The "
        "k x dim centroid table broadcasts; each vector scores against k "
        "centroids in one map stage, so corpus scale only widens the "
        "scan. Centroids round to 6 dp (the order-dependent reduction), "
        "similarity to 4 dp with a label tie-break before argmax.",
    tags=("llm", "similarity", "clustering"),
)
def llm_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", norm(F.col("v")))  # once per row, not per centroid
    dim = EMB_DIM
    cent = (
        e.groupBy(F.col("label").alias("clabel"))
        .agg(
            *[
                F.round(F.avg(F.col("v")[i]), 6).alias(f"c{i}")
                for i in range(dim)
            ]
        )
        .select(
            "clabel", F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("cv")
        )
    )
    scored = e.crossJoin(F.broadcast(cent.withColumn("ncv", norm(F.col("cv"))))).select(
        "vec_id",
        "label",
        "clabel",
        _cos("v", "cv", "nrm", "ncv").alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("clabel"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return best.groupBy(
        "label", F.col("clabel").alias("assigned")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "llm_ivf_cell_stats",
    # _lloyd_c_sql already defines asg0 (the SEED assignment) and c (the
    # refined centroids); only the refined assignment is added here.
    f"""WITH {_E},
{_lloyd_c_sql('e')},
{_ivf_asg_sql('asgr')},
sz AS (SELECT 'seed' AS variant, cell, count(*)::BIGINT AS n
       FROM asg0 GROUP BY 2
       UNION ALL
       SELECT 'lloyd1' AS variant, cell, count(*)::BIGINT AS n
       FROM asgr GROUP BY 2),
rk AS (SELECT variant, n,
              row_number() OVER (PARTITION BY variant
                                 ORDER BY n, cell) AS rn,
              count(*) OVER (PARTITION BY variant) AS nc
       FROM sz)
SELECT variant,
       max(nc)::BIGINT AS n_cells,
       max(n)::BIGINT AS max_cell,
       max(CASE WHEN rn = (nc + 1) // 2 THEN n END)::BIGINT AS p50_cell,
       sum(n)::BIGINT AS n_vecs
FROM rk GROUP BY 1""",
    doc="IVF cell-balance report, driver-hashed: assign the corpus to "
        f"the {IVF_K} md5-ordered SEED centroids and to the Lloyd-"
        "refined set (same lloyd_refine kernel the production build "
        "uses), and emit per-variant nonempty-cell count, LARGEST cell, "
        "lower-median cell (row_number (n+1)//2 over (n, cell) — no "
        "interpolation, so both engines pick the identical row), and "
        "total vectors. The refinement's value proposition — 'one "
        "iteration trims the tail cell that sets worst-case probe-"
        "partition scan cost' (SCALE_SOAK round 13: -15-18%) — becomes "
        "a value-hashed catalog fact instead of a soak-table claim. "
        "Two O(n*K) broadcast assignment passes + two bounded K-row "
        "aggregations; the ranking window holds at most K rows per "
        "variant (operators/llm/similarity.py:ivf_assign_cells,"
        "lloyd_refine).",
    tags=("llm", "similarity", "scale", "evaluation"),
)
def llm_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    seed = fixed_centroids(e, IVF_K)
    refined = lloyd_refine(e, seed, iters=_IPQ_LLOYD_ITERS)

    def stats(cents, name: str) -> DataFrame:
        sizes = (
            ivf_assign_cells(e, cents)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        # bounded window: at most IVF_K rows per variant ever enter it
        rk = sizes.select(
            "n",
            F.row_number()
            .over(Window.orderBy("n", "cell"))
            .alias("rn"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("nc"),
        )
        return rk.agg(
            F.lit(name).alias("variant"),
            F.max("nc").cast("long").alias("n_cells"),
            F.max("n").cast("long").alias("max_cell"),
            F.max(
                F.when(
                    F.col("rn") == F.floor((F.col("nc") + 1) / 2), F.col("n")
                )
            ).cast("long").alias("p50_cell"),
            F.sum("n").cast("long").alias("n_vecs"),
        )

    return stats(seed, "seed").unionByName(stats(refined, "lloyd1"))


# ---------------------------------------------------------------------------
# quantization: int8, product quantization, ADC search, trained codebooks
# ---------------------------------------------------------------------------


@register(
    "llm_quantize_int8",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, len(embedding) AS dim
                 FROM embeddings),
       q AS (SELECT vec_id, v, dim,
                    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
             FROM e),
       r AS (SELECT vec_id, dim, scale,
                    list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
                                                ELSE round(x / scale) END) AS qv,
                    v
             FROM q)
       SELECT vec_id, round(scale, 6) AS scale,
              round(CASE WHEN scale = 0 THEN 0.0
                         ELSE sqrt(list_sum(list_transform(
                                  list_zip(v, qv),
                                  p -> pow(p[1] - p[2] * scale, 2.0)))
                              / dim::DOUBLE) END, 6) AS rmse,
              len(list_filter(qv, x -> abs(x) = 127)) AS n_saturated""" + """
       FROM r""",
    doc="Symmetric int8 embedding quantization with per-vector "
        "reconstruction RMSE and saturation count: the 4x index-compression "
        "pass before ANN serving. Pure map-side array math (transform / "
        "zip_with / sequential aggregate fold) — no shuffle at any scale; "
        "the fold order is index order in both engines "
        "(operators/llm/similarity.py:quantize_int8).",
    tags=("llm", "similarity", "multimodal"),
)
def llm_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))


@register(
    "llm_quantize_pq",
    f"""WITH {_E},
cb AS ({_seed_cb_sql()}),
d AS (SELECT vec_id, len(v) AS dim, {_PQ_DISTS} FROM e, cb)
SELECT vec_id, {_pq_codes_sql('::BIGINT')}, round(("""
    + " + ".join(f"list_min(db_{bi})" for bi in _BLOCKS)
    + ") / dim::DOUBLE, 4) AS mse FROM d",
    doc="Product quantization (IVF-PQ compression step): 64-dim vector -> "
        "4 sub-blocks, each snapped to the nearest of 8 codebook slices by "
        "L2; 256 bytes/vector becomes 4. Codebook = first-8-by-id (the "
        "deterministic seed a production index k-means-refines); assignment "
        "is map-only JVM expressions over literal arrays — zero shuffle.",
    tags=("llm", "similarity"),
)
def llm_quantize_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pq_quantize(
        load_table(spark, sf_dir, "embeddings"),
        n_blocks=_PQ_BLOCKS, n_codes=_PQ_CODES,
    )


@register(
    "llm_ann_ivf_pq",
    f"""WITH {_E},
cb AS ({_seed_cb_sql()}),
q AS (SELECT v AS qv FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)),
luts AS (SELECT {_PQ_LUTS} FROM cb, q),
d AS (SELECT vec_id, {_PQ_DISTS} FROM e, cb),
codes AS (SELECT vec_id, {_pq_codes_sql()} FROM d)
SELECT vec_id, round("""
    + " + ".join(f"lut_{bi}[code_{bi}]" for bi in _BLOCKS)
    + """, 6) AS adc_dist
FROM codes, luts
WHERE vec_id <> (SELECT min(vec_id) FROM e)
ORDER BY adc_dist ASC, vec_id ASC LIMIT 10""",
    doc="Asymmetric Distance Computation over PQ codes (the FAISS IVF-PQ "
        "query path): per block an 8-entry LUT of query-to-codebook L2 "
        "distances is built once driver-side; the corpus scan is 4 table "
        "lookups per vector over the 4-byte codes — never the floats — "
        "and top-k compiles to TakeOrderedAndProject (no global sort).",
    tags=("llm", "similarity"),
)
def llm_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"),
        k=10, n_blocks=_PQ_BLOCKS, n_codes=_PQ_CODES,
    )


_PQ_SUB = EMB_DIM // _PQ_BLOCKS


def _pq_train_cte(corpus: str = "e") -> str:
    """CTE chain training the per-block PQ codebook — the SQL unroll of
    operators/llm/similarity.pq_train_blocks: seed codebook rows
    (``cbrow``), block-L2 assignment of every vector against the seed
    (``d0``/``codes0`` — the shared _block_l2_sql distances, argmin tie
    lower code via list_position/list_min), per-(code, block-dim) means
    rounded to 6dp (``mb{bi}``/``tb{bi}``), and the recomposed
    ``tcb (code, cv)`` where empty codes keep their seed slice."""
    per_block = []
    for bi in _BLOCKS:
        off = bi * _PQ_SUB
        per_block.append(
            f"""mb{bi} AS (SELECT code, dim, round(avg(x), 6) AS m FROM (
    SELECT codes0.code_{bi} AS code,
           unnest(t.v[{off + 1}:{off + _PQ_SUB}]) AS x,
           unnest(generate_series(1, {_PQ_SUB})) AS dim
    FROM {corpus} t JOIN codes0 USING (vec_id)) GROUP BY 1, 2),
tb{bi} AS (SELECT code, list(m ORDER BY dim) AS blk FROM mb{bi} GROUP BY 1)"""
        )
    tcb_cols = " || ".join(
        f"coalesce(tb{bi}.blk, cbrow.cv[{bi * _PQ_SUB + 1}:"
        f"{bi * _PQ_SUB + _PQ_SUB}])"
        for bi in _BLOCKS
    )
    tcb_joins = " ".join(
        f"LEFT JOIN tb{bi} ON tb{bi}.code = cbrow.code" for bi in _BLOCKS
    )
    return (
        f"""cbrow AS (SELECT row_number() OVER (ORDER BY vec_id) AS code, v AS cv
       FROM (SELECT vec_id, v FROM {corpus} ORDER BY vec_id LIMIT {_PQ_CODES})),
cb0 AS (SELECT list(cv ORDER BY code) AS cbs FROM cbrow),
d0 AS (SELECT vec_id, {_PQ_DISTS} FROM {corpus}, cb0),
codes0 AS (SELECT vec_id, {_pq_codes_sql()} FROM d0),
"""
        + ",\n".join(per_block)
        + f""",
tcb AS (SELECT cbrow.code, {tcb_cols} AS cv
        FROM cbrow {tcb_joins})"""
    )


@register(
    "llm_pq_train_codebook",
    f"""WITH {_E},
{_pq_train_cte('e')}
SELECT code, dim::BIGINT AS dim, val FROM (
    SELECT code, unnest(cv) AS val,
           unnest(generate_series(1, len(cv))) AS dim
    FROM tcb)""",
    doc="Trained per-block PQ codebook, value-hashed component-wise "
        f"(code, dim, val — {_PQ_CODES} codes x {EMB_DIM} dims): one "
        "k-means iteration per block moves each code's block codeword "
        "to the mean of the subvectors it captures (assignment = the "
        "same rounded block-L2 argmin ivf_pq_encode ranks with; means "
        "round to 6dp so both engines carry identical codewords; empty "
        "codes keep their seed slice). Blocks train independently — "
        "the multiplicativity that gives 8^4 reconstructions from 32 "
        "codewords. This is the PQ analogue of the Lloyd IVF "
        "refinement and the lever the recall gate pointed at: recall@5 "
        "of the production config TRIPLES with this codebook "
        "(llm_ann_ivf_pq_recall_trained). Scale: one O(n*codes) "
        "broadcast scoring pass + per-block posexplode shuffles "
        "bounded at codes x block-dim rows "
        "(operators/llm/similarity.py:pq_train_blocks).",
    tags=("llm", "similarity", "ann", "iterative"),
)
def llm_pq_train_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    cb = _seed_codebook(e, _PQ_CODES)
    tcb = pq_train_blocks(e, cb, n_blocks=_PQ_BLOCKS, dim=EMB_DIM)
    return tcb.select(
        "code", F.posexplode("cv").alias("pos", "val")
    ).select("code", (F.col("pos") + 1).cast("long").alias("dim"), "val")


# ---------------------------------------------------------------------------
# the persisted IVF-PQ index: train -> persist -> load -> search, and recall
# ---------------------------------------------------------------------------

_IPQ_RANK_SQL = f"""SELECT qid, vec_id, rnk, adc_dist FROM (
    SELECT qid, vec_id, adc_dist,
           row_number() OVER (PARTITION BY qid
               ORDER BY adc_dist ASC, vec_id ASC)::INT AS rnk
    FROM cand) WHERE rnk <= {_IPQ_TOPK}"""


def _ivf_pq_build(emb: DataFrame):
    """(index, centroids, codebook) of the catalog's IVF-PQ config."""
    return ivf_pq_build(
        emb, num_centroids=IVF_K, n_blocks=_PQ_BLOCKS, n_codes=_PQ_CODES,
        dim=EMB_DIM, lloyd_iters=_IPQ_LLOYD_ITERS,
    )


def _ipq_queries(emb: DataFrame) -> DataFrame:
    """The query batch (qid, qv): every vec_id % _IPQ_QMOD == 0."""
    return emb.select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    ).filter(F.col("qid") % _IPQ_QMOD == 0)


def _adc_search(
    emb: DataFrame, index: DataFrame, cents: DataFrame, cb: DataFrame
) -> DataFrame:
    """ADC top-_IPQ_TOPK of the query batch over ``index``, probing the
    _IPQ_NPROBE nearest cells."""
    return ivf_pq_adc_search(
        _ipq_queries(emb), index, cents, cb, dim=EMB_DIM,
        n_blocks=_PQ_BLOCKS, nprobe=_IPQ_NPROBE, topk=_IPQ_TOPK,
    )


def _write_codes(index: DataFrame, table: str, scratch: str, mode: str) -> None:
    """Write encoded vectors PARTITIONED BY cell (probe filters prune
    cell directories) and BUCKETED BY vec_id (id joins stay pre-hashed)."""
    write_bucketed(
        index, table, ["vec_id"], num_buckets=_IPQ_BUCKETS,
        sort_cols=["vec_id"], mode=mode,
        path=os.path.join(scratch, "codes"), partition_cols=["cell"],
    )


def _persist_ivf_pq(
    index: DataFrame, cents: DataFrame, cb: DataFrame, table: str, scratch: str
) -> tuple[DataFrame, DataFrame]:
    """Persist an index with its centroids and codebook as side tables;
    returns the side tables read back."""
    _write_codes(index, table, scratch, "overwrite")
    cents.write.mode("overwrite").parquet(os.path.join(scratch, "centroids"))
    cb.write.mode("overwrite").parquet(os.path.join(scratch, "codebook"))
    return (
        index.sparkSession.read.parquet(os.path.join(scratch, "centroids")),
        index.sparkSession.read.parquet(os.path.join(scratch, "codebook")),
    )


@register(
    "llm_ann_ivf_pq_persist",
    f"""WITH {_E},
{_lloyd_c_sql('e')},
{_ivf_pq_cand_sql('e')}
{_IPQ_RANK_SQL}""",
    doc="PERSISTED IVF-PQ index (r11 verdict item 7): train the "
        f"{IVF_K}-cell IVF centroid set (md5-ordered fixed-K seeds + "
        f"{_IPQ_LLOYD_ITERS} Lloyd iteration — r12 verdict item 3: the "
        "k-means M-step balances cell sizes, which is what makes the "
        "nprobe/K scan fraction hold on skewed corpora; means round to "
        "6dp before reuse so both engines carry identical centroids) "
        "and the "
        f"{_PQ_CODES}-entry/{_PQ_BLOCKS}-block PQ codebook; encode the "
        "corpus to (vec_id, cell, codes); persist the encoded corpus "
        "via storage.write_bucketed PARTITIONED BY cell + BUCKETED BY "
        "vec_id (probe filters prune cell directories at plan time — "
        "PartitionFilters in the scan — and id joins stay pre-hashed), "
        "with the centroids/codebook as side tables; then LOAD "
        "everything back and ADC-search a query batch "
        f"(vec_id % {_IPQ_QMOD} == 0, top-{_IPQ_TOPK}, "
        f"nprobe={_IPQ_NPROBE}) using only read-back artifacts: the "
        "per-query LUT build touches the 8-row codebook, the scan "
        "reads ~nprobe/K of the corpus as 4-byte codes, never floats. "
        "All similarities/distances round before every argmax/argmin "
        "(ties: larger cid for cells, lower code for PQ, lower vec_id "
        "for rank) so both engines pick identical cells, codes, and "
        "ranks. SCALE: train is one O(n*K) broadcast pass + O(n*codes) "
        "encode; search cost is independent of build (probed "
        "partitions only) — the economics the persisted graph index "
        "already certifies, now for the quantized family.",
    tags=("llm", "similarity", "ann", "storage", "scale"),
)
def llm_ann_ivf_pq_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    scratch = scratch_dir("ivf_pq_persist")
    emb = load_table(spark, sf_dir, "embeddings")
    index, cents, cb = _ivf_pq_build(emb)
    cents_r, cb_r = _persist_ivf_pq(index, cents, cb, "sg_ivfpq_codes", scratch)
    # search against the stored index only
    return _adc_search(emb, spark.table("sg_ivfpq_codes"), cents_r, cb_r)


_IPQ_APP_MOD = 10  # ingest batch: vec_id % 10 == 0 (the graph-family split)


@register(
    "llm_ann_ivf_pq_append",
    f"""WITH {_E},
old AS (SELECT * FROM e WHERE vec_id % {_IPQ_APP_MOD} != 0),
{_lloyd_c_sql('old')},
{_ivf_pq_cand_sql('old')}
{_IPQ_RANK_SQL}""",
    doc="IVF-PQ INCREMENTAL INGEST — the daily half of the persisted-"
        "index lifecycle (llm_ann_ivf_pq_persist is the nightly half): "
        f"train centroids+codebook on the OLD corpus (vec_id % "
        f"{_IPQ_APP_MOD} != 0; seeds + {_IPQ_LLOYD_ITERS} Lloyd "
        "iteration over that corpus only) and persist its encoded "
        "codes; then "
        "encode the ingest batch against the FROZEN artifacts READ "
        "BACK from storage — never a codebook re-derived from the "
        "batch, which would silently make old and new codes "
        "incomparable (operators/llm/similarity.py:ivf_pq_encode, the "
        "kernel both halves share) — and APPEND it into the same "
        "cell-partitioned vec_id-bucketed table with mode='append'; "
        "finally ADC-search the query batch over the read-back UNION. "
        "Ingest cost is O(batch x K) encode + an append write touching "
        "only the batch's cell partitions — never a rebuild (the "
        "llm_ann_index_append economics, now for the quantized "
        "family). Oracle: centroids/codebook from the old subset, "
        "every vector encoded against them, identical probe/LUT/rank "
        "chain.",
    tags=("llm", "similarity", "ann", "storage", "scale"),
)
def llm_ann_ivf_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    scratch = scratch_dir("ivf_pq_append")
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % _IPQ_APP_MOD != 0)
    new = emb.filter(F.col("vec_id") % _IPQ_APP_MOD == 0)

    # NIGHTLY: train on the old corpus, persist index + artifacts
    index_old, cents, cb = _ivf_pq_build(old)
    cents_r, cb_r = _persist_ivf_pq(
        index_old, cents, cb, "sg_ivfpq_codes_app", scratch
    )
    # DAILY: encode the ingest batch against READ-BACK artifacts, append
    increment = ivf_pq_encode(
        new.select("vec_id", _as_double("embedding").alias("v")),
        cents_r, cb_r, n_blocks=_PQ_BLOCKS, dim=EMB_DIM,
    )
    _write_codes(increment, "sg_ivfpq_codes_app", scratch, "append")
    return _adc_search(emb, spark.table("sg_ivfpq_codes_app"), cents_r, cb_r)


# From the ADC candidate relation ``cand``: top-k per query, the exact
# top-k of the same query batch, and the recall overlay.
_IPQ_RECALL_SQL = f"""ap AS (SELECT qid, nid FROM (
    SELECT qid, vec_id AS nid,
           row_number() OVER (PARTITION BY qid
               ORDER BY adc_dist ASC, vec_id ASC) AS rnk
    FROM cand) WHERE rnk <= {_IPQ_TOPK}),
{_EXACT_SAMPLE_SQL},
{_RECALL_TAIL}"""


def _ivf_pq_recall(
    emb: DataFrame, index: DataFrame, cents: DataFrame, cb: DataFrame
) -> DataFrame:
    """Per-query recall of the ADC search over ``index`` against the
    exact top-k of the query batch."""
    approx = _adc_search(emb, index, cents, cb).select(
        "qid", F.col("vec_id").alias("nid")
    )
    return _recall_overlay(_exact_sample(emb), approx)


@register(
    "llm_ann_ivf_pq_recall",
    f"""WITH {_E},
{_lloyd_c_sql('e')},
{_ivf_pq_cand_sql('e')},
{_IPQ_RECALL_SQL}""",
    doc="Recall@k of the quantized production index (r12 verdict item "
        "2): the IVF-PQ ADC search — SAME ivf_pq_build artifacts as "
        f"llm_ann_ivf_pq_persist ({IVF_K} Lloyd-refined cells, "
        f"{_PQ_CODES}-code/{_PQ_BLOCKS}-block codebook, "
        f"nprobe={_IPQ_NPROBE}, top-{_IPQ_TOPK}; the build is "
        "deterministic, so the in-memory index equals the persisted "
        "one byte-for-byte) — overlaid per query with the exact "
        "brute-force top-k from knn_join_sampled, the "
        "inverted-broadcast exact kernel whose cost is linear in "
        "corpus size (the query sample broadcasts, each corpus "
        "partition GEMMs against it, a bounded candidate merge "
        "finishes exactly). Reconstruction MSE (llm_quantize_pq) "
        "grades the codebook; THIS grades the answers — an index "
        "lifecycle without a recall gate is unfinished "
        "(operators/llm/similarity.py:ivf_pq_build,ivf_pq_adc_search,"
        "knn_join_sampled). The pinned-floor test lives in "
        "tests/test_similarity_catalog.py.",
    tags=("llm", "similarity", "ann", "evaluation"),
)
def llm_ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _ivf_pq_recall(emb, *_ivf_pq_build(emb))


@register(
    "llm_ann_ivf_pq_recall_trained",
    f"""WITH {_E},
{_lloyd_c_sql('e')},
{_pq_train_cte('e')},
{_ivf_pq_cand_sql('e', cb_sql='SELECT list(cv ORDER BY code) AS cbs FROM tcb')},
{_IPQ_RECALL_SQL}""",
    doc="Recall@k of the IVF-PQ index with the TRAINED codebook — the "
        "controlled twin of llm_ann_ivf_pq_recall (identical Lloyd "
        "cells, nprobe, top-k, query sample; ONLY the codebook "
        "changes), so the delta between the two entries is the "
        "measured value of codebook training and nothing else. On the "
        "isotropic corpus at sf0.01 recall@5 goes 0.02 -> 0.06 at the "
        "production nprobe=2 and 0.08 -> 0.14 scanning every cell "
        "(SCALE_SOAK round 13) — the quantization loss the recall gate "
        "decomposed is what the training removes. Encode and ADC "
        "search reuse the exact kernels (the trained codebook keeps "
        "the (code, cv) shape, so nothing downstream changes) "
        "(operators/llm/similarity.py:pq_train_blocks,ivf_pq_encode,"
        "ivf_pq_adc_search).",
    tags=("llm", "similarity", "ann", "evaluation"),
)
def llm_ann_ivf_pq_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    # index frame unused: build() is lazy, so only cents/cb materialize
    _, cents, cb = _ivf_pq_build(emb)
    tcb = pq_train_blocks(e, cb, n_blocks=_PQ_BLOCKS, dim=EMB_DIM)
    index = ivf_pq_encode(e, cents, tcb, n_blocks=_PQ_BLOCKS, dim=EMB_DIM)
    return _ivf_pq_recall(emb, index, cents, tcb)


_SWEEP_NPROBES = (2, 8, 32)


def _ivf_pq_recall_sweep_sql() -> str:
    k = _IPQ_TOPK
    nps = ", ".join(str(p) for p in _SWEEP_NPROBES)
    return f"""WITH {_E},
{_lloyd_c_sql('e')},
{_ivf_pq_cand_sql('e', probe_all=True)},
nps AS (SELECT unnest([{nps}]) AS nprobe),
ap AS (SELECT nprobe, qid, vec_id AS nid FROM (
    SELECT nps.nprobe, cand.qid, cand.vec_id,
           row_number() OVER (PARTITION BY nps.nprobe, cand.qid
               ORDER BY cand.adc_dist ASC, cand.vec_id ASC) AS rnk
    FROM cand JOIN nps ON cand.cell_rn <= nps.nprobe)
    WHERE rnk <= {k}),
{_EXACT_SAMPLE_SQL},
qnp AS (SELECT nps.nprobe, ex.qid, ex.nid FROM nps, ex),
hits AS (SELECT qnp.nprobe, qnp.qid,
                count(ap.nid)::BIGINT AS n_hit
         FROM qnp
         LEFT JOIN ap ON ap.nprobe = qnp.nprobe AND ap.qid = qnp.qid
                     AND ap.nid = qnp.nid
         GROUP BY 1, 2)
SELECT nprobe::BIGINT AS nprobe,
       count(*)::BIGINT AS n_queries,
       round(avg(n_hit / {k}.0), 4) AS mean_recall
FROM hits GROUP BY 1"""


@register(
    "llm_ann_ivf_pq_recall_sweep",
    _ivf_pq_recall_sweep_sql(),
    doc="Recall-vs-nprobe decomposition in one hashed entry "
        f"(nprobe in {_SWEEP_NPROBES}): ONE candidate scan serves every "
        "probe width — the probe ranks ALL K cells per query, each "
        "candidate carries its cell's probe rank, and 'nprobe=p' is the "
        "FILTER cell_rn <= p joined against a 3-row nprobe frame, so "
        "the sweep costs one index scan + one bounded fan-out instead "
        "of three searches (the Expand trick aggregation rollups use, "
        "applied to index evaluation). The output is the curve that "
        "adjudicates probe loss vs quantization loss: on isotropic "
        "data recall rises ~linearly in nprobe to the quantization "
        "ceiling, then flattens — nprobe past that point buys scan "
        "cost, not answers. This is the capacity-planning query a "
        "100 TB deployment runs before picking nprobe/K economics "
        "(operators/llm/similarity.py:ivf_pq_build; the per-cell scan "
        "fraction claim in SCALE_SOAK rounds 12-13).",
    tags=("llm", "similarity", "ann", "evaluation"),
)
def llm_ann_ivf_pq_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    index, cents, cb = _ivf_pq_build(emb)
    qs = _ipq_queries(emb)

    # probe ranks ALL K cells per query (cell_rn 1..K) — one pass
    probe = _probe_ranks(qs.withColumn("qn", norm(F.col("qv"))), cents).select(
        "qid", "cid", F.col("rn").alias("cell_rn")
    )
    cand = index.join(F.broadcast(probe), index["cell"] == probe["cid"]).drop(
        "cid"
    )
    luts = _pq_luts(qs, cb, _PQ_BLOCKS, EMB_DIM // _PQ_BLOCKS)
    # one scan feeds every nprobe filter
    cand = _adc(cand, luts, _PQ_BLOCKS, "cell_rn").localCheckpoint(eager=False)

    nps = spark.createDataFrame(
        [(p,) for p in _SWEEP_NPROBES], "nprobe long"
    )
    ap = (
        cand.join(F.broadcast(nps), F.col("cell_rn") <= F.col("nprobe"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("nprobe", "qid").orderBy(
                    F.asc("adc_dist"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("rnk") <= _IPQ_TOPK)
        .select("nprobe", "qid", F.col("vec_id").alias("nid"))
    )
    hits = (
        nps.crossJoin(_exact_sample(emb))
        .join(ap, ["nprobe", "qid", "nid"], "left_outer")
        .groupBy("nprobe", "qid")
        .agg(F.count(ap["nid"]).cast("long").alias("n_hit"))
    )
    return hits.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg(F.col("n_hit") / F.lit(float(_IPQ_TOPK))), 4)
        .alias("mean_recall"),
    )


# ---------------------------------------------------------------------------
# graph-routed ANN: beam search over a bucketed-LSH neighbour graph
# ---------------------------------------------------------------------------

_GR_K = 5         # final neighbours per query
_GR_HOPS = 4      # fixed beam-search rounds (unrolled in the oracle)
_GR_BEAM = 12     # frontier width per query
_GR_ENTRIES = 6   # per-query entry points kept from the coarse layer
_GR_EMOD = 16     # coarse routing layer = vec_id % _GR_EMOD == 0
_GR_QMOD = 25     # queries = vec_id % _GR_QMOD == 0
_GR_EDGE_K = 8    # graph out-degree per plane table (bucketed top-k)
_GR_SEEDS = (7, 11)  # two independent LSH plane tables (see docstring)


def _edge_topk_sql(pairs: str, top: str, a_rel: str, c_rel: str) -> str:
    """``pairs``/``top`` CTEs: each bucketed ``a_rel`` vector's
    top-_GR_EDGE_K out-edges among the same-bucket ``c_rel`` vectors,
    the SQL twin of ``similarity.lsh_edges`` for one plane table."""
    return f"""{pairs} AS (SELECT a.vec_id AS src, c.vec_id AS dst,
               {_cos_sql('a.v', 'c.v')} AS cs
        FROM {a_rel} a JOIN {c_rel} c
          ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
{top} AS (SELECT src, dst FROM (
           SELECT src, dst, row_number() OVER (
               PARTITION BY src ORDER BY cs DESC, dst) AS rk
           FROM {pairs}) WHERE rk <= {_GR_EDGE_K})"""


def _gr_shared_ctes() -> str:
    """The CTEs every walk shares: embeddings, the two LSH plane
    tables, the union-distinct edge graph, the node table, and the
    coarse-layer sample."""
    table_ctes, table_sels = [], []
    for t, seed in enumerate(_GR_SEEDS):
        table_ctes.append(f"""
b{t} AS ({_bucketed_sql('e', seed=seed)}),
{_edge_topk_sql(f'ep{t}', f'ek{t}', f'b{t}', f'b{t}')}""")
        table_sels.append(f"SELECT src, dst FROM ek{t}")
    return f"""
WITH {_E},{",".join(table_ctes)},
edges AS (SELECT DISTINCT src, dst FROM (
           {" UNION ALL ".join(table_sels)})),
nodes AS (SELECT vec_id AS nid, v AS nv,
                 sqrt(list_dot_product(v, v)) AS nn FROM e),
ent AS (SELECT vec_id AS nid FROM e WHERE vec_id % {_GR_EMOD} = 0)"""


def _gr_walk_ctes(rem: int, p: str) -> str:
    """One batch's walk unrolled as CTEs (prefix ``p``): query table
    (vec_id % _GR_QMOD == rem), coarse entry layer, _GR_HOPS rounds of
    beam cut / visited exclusion / expansion / scoring / merge. The
    final merged-seen CTE is ``{p}s{_GR_HOPS}``."""
    cos = (f"round(list_dot_product({p}q.qv, n.nv) / ({p}q.qn * n.nn), 4)")
    hop_ctes = []
    for i in range(_GR_HOPS):
        # frontier = best unexpanded nodes: excluding already-expanded
        # nodes is what makes each hop explore new ground (see the
        # Spark twin's comment — without it the walk stalls one hop out)
        excl = "" if i == 0 else f"""
          WHERE NOT EXISTS (SELECT 1 FROM {p}ex{i - 1} e
                            WHERE e.query_id = {p}s{i}.query_id
                              AND e.nid = {p}s{i}.nid)"""
        ex = (
            f"{p}ex{i} AS (SELECT query_id, nid FROM {p}f{i})" if i == 0
            else
            f"{p}ex{i} AS (SELECT query_id, nid FROM {p}ex{i - 1}\n"
            f"           UNION ALL SELECT query_id, nid FROM {p}f{i})"
        )
        hop_ctes.append(f"""
{p}f{i} AS (SELECT query_id, nid FROM (
          SELECT query_id, nid, row_number() OVER (
              PARTITION BY query_id ORDER BY cos_sim DESC, nid) AS rk
          FROM {p}s{i}{excl}) WHERE rk <= {_GR_BEAM}),
{ex},
{p}x{i} AS (SELECT DISTINCT f.query_id, ed.dst AS nid
         FROM {p}f{i} f JOIN edges ed ON ed.src = f.nid),
{p}c{i} AS (SELECT x.query_id, x.nid, {cos} AS cos_sim
         FROM {p}x{i} x JOIN nodes n ON n.nid = x.nid
                     JOIN {p}q ON {p}q.query_id = x.query_id
         WHERE x.nid <> x.query_id),
{p}s{i + 1} AS (SELECT DISTINCT query_id, nid, cos_sim FROM (
              SELECT * FROM {p}s{i} UNION ALL SELECT * FROM {p}c{i}))""")
    return f"""
{p}q AS (SELECT vec_id AS query_id, v AS qv,
             sqrt(list_dot_product(v, v)) AS qn
      FROM e WHERE vec_id % {_GR_QMOD} = {rem}),
{p}sp AS (SELECT {p}q.query_id, ent.nid, {cos} AS cos_sim
       FROM {p}q CROSS JOIN ent JOIN nodes n ON n.nid = ent.nid
       WHERE ent.nid <> {p}q.query_id),
{p}s0 AS (SELECT query_id, nid, cos_sim FROM (
        SELECT query_id, nid, cos_sim, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, nid) AS rk
        FROM {p}sp) WHERE rk <= {_GR_ENTRIES}),{",".join(hop_ctes)}"""


def _gr_final_select(p: str, extra_cols: str = "") -> str:
    return f"""
SELECT {extra_cols}query_id, nid, cos_sim, rank FROM (
  SELECT query_id, nid, cos_sim, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, nid) AS rank
  FROM {p}s{_GR_HOPS})
WHERE rank <= {_GR_K}"""


@register(
    "llm_ann_graph_route",
    _gr_shared_ctes() + "," + _gr_walk_ctes(0, "") + _gr_final_select(""),
    doc=f"Graph-ROUTED ANN — the HNSW-class family member the LSH / IVF "
        "/ PQ entries don't cover (named an open gap by the r8 "
        "verdict). Three measured design decisions: (1) edges = the "
        f"UNION of {len(_GR_SEEDS)} independent bucketed-LSH top-"
        f"{_GR_EDGE_K} tables — one table is bucket-CONSTRAINED and "
        "caps even unbounded-BFS reachability of true neighbours at "
        "0.52, two tables lift it to 1.00 (the diversity role of "
        "NN-descent's random links); (2) per-query entry points from a "
        f"coarse routing layer (exact-score the id%{_GR_EMOD} sample, "
        f"keep the best {_GR_ENTRIES}) — HNSW's upper layers' role, "
        "without it the walk strands in the entry points' clusters; "
        f"(3) {_GR_HOPS} beam-search rounds (beam {_GR_BEAM}) that "
        "expand only NOT-YET-EXPANDED nodes — without the visited "
        "exclusion the beam re-expands the same top nodes and stalls "
        "one hop out. Final recall@5 vs exact kNN: 0.98 on an "
        "8-cluster fixture (tests pin >= 0.9). The ORACLE UNROLLS THE "
        "WALK: graph build, every hop's beam cut, visited exclusion, "
        "expansion, scoring, and merge are replayed in pure SQL, so "
        "the driver hash certifies the traversal itself, not just the "
        "output shape. SCALE: per-hop state is queries x beam "
        "(broadcast side); each hop costs one edges scan + one "
        "node-table equi-join — 2 x hops corpus scans TOTAL regardless "
        "of corpus size, vs per-query bucket/cell scans for LSH/IVF "
        "(operators/llm/similarity.py:graph_route_topk).",
    tags=("llm", "similarity", "topk", "graph", "scale"),
)
def llm_ann_graph_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_route_topk(
        load_table(spark, sf_dir, "embeddings"),
        k=_GR_K, hops=_GR_HOPS, beam=_GR_BEAM, n_entries=_GR_ENTRIES,
        entry_mod=_GR_EMOD, query_mod=_GR_QMOD, edge_k=_GR_EDGE_K,
        num_planes=NEAR_DUP_PLANES, seeds=_GR_SEEDS, dim=EMB_DIM,
    )


def _route_graph(emb: DataFrame) -> DataFrame:
    """The union of the _GR_SEEDS plane tables' top-_GR_EDGE_K edges."""
    return build_route_graph(
        emb, edge_k=_GR_EDGE_K, seeds=_GR_SEEDS,
        num_planes=NEAR_DUP_PLANES, dim=EMB_DIM,
    )


@register(
    "llm_ann_graph_route_reuse",
    _gr_shared_ctes()
    + ","
    + _gr_walk_ctes(0, "a")
    + ","
    + _gr_walk_ctes(1, "b")
    + _gr_final_select("a", "0 AS batch, ")
    + "\nUNION ALL"
    + _gr_final_select("b", "1 AS batch, "),
    doc="Graph-ANN BUILD AMORTIZATION — the r9 soak pinned the cost "
        "split: the neighbour-graph build is ~412 s at 500k vectors "
        "while routing is nearly free, so a production index must be "
        "built ONCE and serve many query batches. The operator is now "
        "split (similarity.py:build_route_graph / route_on_graph): "
        "this entry materializes one edge graph (eager localCheckpoint "
        "— the persist a real deployment writes to storage) and routes "
        f"TWO query batches over it (vec_id % {_GR_QMOD} == 0 and "
        "== 1), unioned with a batch tag. The second batch re-plans "
        "from the CHECKPOINTED edges RDD — zero LSH/bucket/top-k "
        "re-computation (the measured x100 behaviour is in "
        "SCALE_SOAK.md: second batch ~= search-only). The oracle "
        "unrolls BOTH beam walks over ONE shared edge CTE, so the "
        "driver hash certifies that both batches routed over the SAME "
        "graph. SCALE: per-hop state is (Q0+Q1) x beam broadcast rows; "
        "the build's 2 corpus scans happen once, not per batch "
        "(operators/llm/similarity.py:build_route_graph).",
    tags=("llm", "similarity", "topk", "graph", "scale"),
)
def llm_ann_graph_route_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    edges = _route_graph(emb).localCheckpoint(eager=True)  # the one build
    kw = dict(
        k=_GR_K, hops=_GR_HOPS, beam=_GR_BEAM, n_entries=_GR_ENTRIES,
        entry_mod=_GR_EMOD, query_mod=_GR_QMOD,
    )
    # Both query batches share ONE walk: every step of route_on_graph is
    # partitioned by query_id, so routing {rem 0} u {rem 1} together is
    # row-identical to two separate calls while paying the per-hop
    # checkpoint/job overhead once (this entry was job-count-bound:
    # 143 jobs for ~1k tiny tasks). The batch tag is recovered from the
    # id: batch = query_id % QMOD, which is 0/1 exactly for the two rems.
    b = route_on_graph(emb, edges, query_rem=(0, 1), **kw)
    return b.select(
        F.pmod(F.col("query_id"), F.lit(_GR_QMOD)).cast("int").alias("batch"),
        "*",
    )


_APPEND_MOD = 10  # new batch = vec_id % 10 == 0 (10% ingest)


def _ann_append_graph_parts() -> tuple[str, str]:
    """(CTE head, union-select body) of the append-graph oracle —
    shared between llm_ann_index_append (whose final select is the
    edge list itself) and llm_ann_graph_persist (which names the same
    union ``edges`` and unrolls a beam walk over it)."""
    parts, sels = [], []
    for t, seed in enumerate(_GR_SEEDS):
        parts.append(f"""
bo{t} AS ({_bucketed_sql('eo', seed=seed)}),
ba{t} AS ({_bucketed_sql('e', seed=seed)}),
bn{t} AS ({_bucketed_sql('en', seed=seed)}),
{_edge_topk_sql(f'op{t}', f'ok{t}', f'bo{t}', f'bo{t}')},
{_edge_topk_sql(f'np{t}', f'nk{t}', f'bn{t}', f'ba{t}')}""")
        sels.append(f"SELECT src, dst FROM ok{t}")
        sels.append(f"SELECT src, dst FROM nk{t}")
        sels.append(f"SELECT dst AS src, src AS dst FROM nk{t}")
    head = f"""
WITH {_E},
eo AS (SELECT * FROM e WHERE vec_id % {_APPEND_MOD} != 0),
en AS (SELECT * FROM e WHERE vec_id % {_APPEND_MOD} = 0),{",".join(parts)}"""
    return head, " UNION ALL ".join(sels)


def _ann_append_sql() -> str:
    head, union_sel = _ann_append_graph_parts()
    return f"""{head}
SELECT DISTINCT src, dst FROM ({union_sel})"""


@register(
    "llm_ann_index_append",
    _ann_append_sql(),
    doc="INCREMENTAL ANN index maintenance — the ingest path a "
        "production graph index runs, vs build_route_graph's full "
        f"rebuild: a new batch (vec_id % {_APPEND_MOD} == 0, 10% of "
        "the corpus) is linked into the OLD corpus's graph without "
        "recomputing a single old-old edge. Contract: old edges = the "
        "bucketed top-k build over the old subset; new out-edges = "
        "each new vector's bucketed top-k among the FULL corpus (same "
        "pinned planes — the asymmetric corpus= form of "
        "knn_join_bucketed); back-links = their reverses, which is "
        "what makes the new batch REACHABLE by later walks rather "
        "than only able to leave. Intentionally differs from a "
        "rebuild: old vectors keep their original neighbour lists (a "
        "rebuild might evict an old neighbour for a closer new one) — "
        "the standard freshness/cost trade of incremental index "
        "maintenance, stated rather than hidden. COST: O(|new| x "
        "bucket density) per ingest, never O(|old|^2) — continuous "
        "ingest amortizes like build-once/route-many does for queries. "
        "The oracle replays old build, asymmetric append, and "
        "back-link insertion per plane table in pure SQL "
        "(operators/llm/similarity.py:append_route_graph).",
    tags=("llm", "similarity", "graph", "scale"),
)
def llm_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    return append_route_graph(
        load_table(spark, sf_dir, "embeddings"), new_mod=_APPEND_MOD,
        edge_k=_GR_EDGE_K, seeds=_GR_SEEDS,
        num_planes=NEAR_DUP_PLANES, dim=EMB_DIM,
    )


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
    scratch = scratch_dir("ann_graph_persist")
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % _APPEND_MOD != 0)
    new = emb.filter(F.col("vec_id") % _APPEND_MOD == 0)

    # (1) BUILD over the old corpus, (2) PERSIST edges + entry sample
    write_bucketed(
        _route_graph(old), "sg_ann_edges", ["src"], num_buckets=_PERSIST_BUCKETS,
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
# spectral directions, drift, random projection and coresets
# ---------------------------------------------------------------------------

_PI_ITERS = 2
_PI_DP = 6

_COMP_CTE = """comp AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS dim,
                unnest(v) AS x
         FROM e)"""


def _pi_sql(comp: str, t: str = "") -> str:
    """CTEs ``s1{t}`` .. ``n{_PI_ITERS}{t}``: power iteration over the
    (vec_id, dim, x) relation ``comp`` from the all-ones vector, each
    step a vec-keyed score sum then a dim-keyed loading sum rounded to
    6dp (the oracle twin of :func:`_power_iterate`)."""
    dp = _PI_DP
    ctes = [f"s1{t} AS (SELECT vec_id, round(sum(x), {dp}) AS s FROM {comp} GROUP BY 1)"]
    for i in range(1, _PI_ITERS + 1):
        if i > 1:
            ctes += [
                f"v{i - 1}{t} AS (SELECT dim, round(u / nrm, {dp}) AS vd "
                f"FROM u{i - 1}{t}, n{i - 1}{t})",
                f"s{i}{t} AS (SELECT vec_id, round(sum({comp}.x * v{i - 1}{t}.vd), {dp}) AS s "
                f"FROM {comp} JOIN v{i - 1}{t} USING (dim) GROUP BY vec_id)",
            ]
        ctes += [
            f"u{i}{t} AS (SELECT dim, round(sum(s{i}{t}.s * {comp}.x), {dp}) AS u "
            f"FROM {comp} JOIN s{i}{t} USING (vec_id) GROUP BY dim)",
            f"n{i}{t} AS (SELECT sqrt(sum(u * u)) AS nrm FROM u{i}{t})",
        ]
    return ",\n".join(ctes)


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings as (vec_id, dim, x) rows, dim 1-based."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    return e.select(
        "vec_id", F.posexplode("v").alias("pos", "x")
    ).select("vec_id", (F.col("pos") + 1).cast("long").alias("dim"), "x")


def _power_iterate(comp: DataFrame) -> list[tuple[int, float]]:
    """_PI_ITERS distributed power-iteration steps over (vec_id, dim, x)
    rows starting from the all-ones vector; returns the normalised
    direction as [(dim, loading)]. Every data-sized stage is a
    partial-agg'd shuffle rounded at 6dp (cross-engine determinism);
    driver state is O(dim) and summed in sorted-dim order."""
    # v0 = all-ones, so <x_i, v0> is just the component sum
    s = comp.groupBy("vec_id").agg(F.round(F.sum("x"), _PI_DP).alias("s"))
    for i in range(_PI_ITERS):
        if i:
            v_df = comp.sparkSession.createDataFrame(vd, "dim long, vd double")
            s = (
                comp.join(F.broadcast(v_df), "dim")
                .groupBy("vec_id")
                .agg(F.round(F.sum(F.col("x") * F.col("vd")), _PI_DP).alias("s"))
            )
        u = (
            comp.join(s, "vec_id")
            .groupBy("dim")
            .agg(F.round(F.sum(F.col("s") * F.col("x")), _PI_DP).alias("u"))
        )
        # O(dim) rows: bounded driver-side collect, like the k-means /
        # PQ codebook control plane
        rows = sorted(u.collect(), key=lambda r: r["dim"])
        nrm = float(sum(r["u"] * r["u"] for r in rows)) ** 0.5
        vd = [(int(r["dim"]), _round_half_up(r["u"] / nrm, _PI_DP)) for r in rows]
    return vd


@register(
    "llm_power_iteration",
    f"""
WITH {_E},
{_COMP_CTE},
{_pi_sql('comp')}
SELECT dim::BIGINT AS dim, round(u / nrm, {_PI_DP}) AS loading
FROM u2, n2""",
    doc="Top principal direction of the embedding cloud by "
        f"{_PI_ITERS} distributed power-iteration steps (uncentered; "
        "init = all-ones so the sign and trajectory are deterministic): "
        "each step is score_i = <x_i, v> (vec-keyed partial-agg "
        "shuffle) then u_d = sum_i score_i * x_id (dim-keyed "
        "partial-agg shuffle) then an O(dim) renormalisation — the "
        "matrix A^T A is never materialised, state between steps is "
        "dim doubles on the driver (bounded control plane, same "
        "contract as the k-means centroid collect), and every "
        "data-sized stage is a linear scan. Intermediate scores and "
        "loadings round at 6dp on BOTH engines so partial-agg "
        "summation order cannot diverge the trajectories; the driver-"
        "side norm sums the collected dims in sorted-dim order so the "
        "Python reduction is order-deterministic too. Residual caveat "
        "(advisor, r6): rounding happens AFTER a float sum, so a value "
        "within ~5e-7 of a 6dp rounding tie could still land on "
        "different sides in the two engines and amplify through the "
        "second step — none of the driver fixtures sit near a tie, and "
        "a divergence would surface as a hash mismatch, not silent "
        "corruption. The spectral "
        "complement to llm_embedding_drift: a rotating top direction "
        "between snapshots flags representation drift that centroid "
        "deltas miss.",
    tags=("llm", "similarity", "iterative"),
)
def llm_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _components(spark, sf_dir).localCheckpoint(eager=False)  # reread per step
    return spark.createDataFrame(_power_iterate(comp), "dim long, loading double")


@register(
    "llm_power_iteration_2",
    f"""
WITH {_E},
{_COMP_CTE},
{_pi_sql('comp')},
vf AS (SELECT dim, round(u / nrm, {_PI_DP}) AS vd FROM u2, n2),
proj AS (SELECT vec_id, round(sum(comp.x * vf.vd), {_PI_DP}) AS p
         FROM comp JOIN vf USING (dim) GROUP BY vec_id),
comp2 AS (SELECT comp.vec_id, comp.dim,
                 round(comp.x - proj.p * vf.vd, {_PI_DP}) AS x
          FROM comp JOIN proj USING (vec_id) JOIN vf USING (dim)),
{_pi_sql('comp2', 'b')}
SELECT 1::BIGINT AS component, dim::BIGINT AS dim,
       round(u / nrm, {_PI_DP}) AS loading
FROM u2, n2
UNION ALL
SELECT 2::BIGINT, dim::BIGINT, round(u / nrm, {_PI_DP})
FROM u2b, n2b""",
    doc="Top TWO principal directions of the embedding cloud: the same "
        "2-step distributed power iteration as llm_power_iteration, "
        "then ONE rank-1 deflation (x' = x - <x, v1> v1 — a vec-keyed "
        "projection shuffle plus a broadcast of the O(dim) direction) "
        "and a second 2-step iteration on the deflated components. "
        "Drift monitoring over a PLANE catches rotations within the "
        "dominant subspace that the single-direction entry is blind "
        "to. Same scale contract: A^T A never materialises, driver "
        "state is 2 x dim doubles (sorted-dim deterministic sums), "
        "every data-sized stage is a linear partial-agg'd scan, and "
        "all intermediates round at 6dp on both engines (same residual "
        "tie caveat as llm_power_iteration).",
    tags=("llm", "similarity", "iterative"),
)
def llm_power_iteration_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consumed by both components
    comp = _components(spark, sf_dir).localCheckpoint(eager=False)
    l1 = _power_iterate(comp)
    v1_df = spark.createDataFrame(l1, "dim long, vd double")
    proj = (
        comp.join(F.broadcast(v1_df), "dim")
        .groupBy("vec_id")
        .agg(F.round(F.sum(F.col("x") * F.col("vd")), _PI_DP).alias("p"))
    )
    comp2 = (
        comp.join(proj, "vec_id")
        .join(F.broadcast(v1_df), "dim")
        .select(
            "vec_id", "dim",
            F.round(F.col("x") - F.col("p") * F.col("vd"), _PI_DP).alias("x"),
        )
        .localCheckpoint(eager=False)  # consumed twice per iteration
    )
    l2 = _power_iterate(comp2)
    out = [(1, d, v) for d, v in l1] + [(2, d, v) for d, v in l2]
    return spark.createDataFrame(out, "component long, dim long, loading double")


@register(
    "llm_embedding_drift",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                                 CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS half
                          FROM embeddings),
d AS (SELECT half, dim, sum(x) AS s, count(*)::BIGINT AS n
      FROM (SELECT half, unnest(v) AS x,
                   unnest(range(1, len(v) + 1)) AS dim
            FROM e)
      GROUP BY 1, 2),
m AS (SELECT dim,
             max(CASE WHEN half = 'a' THEN s END) AS sa,
             max(CASE WHEN half = 'b' THEN s END) AS sb,
             max(CASE WHEN half = 'a' THEN n END) AS na,
             max(CASE WHEN half = 'b' THEN n END) AS nb
      FROM d GROUP BY 1),
agg AS (SELECT any_value(na) AS n_a, any_value(nb) AS n_b,
               sum((sa / na) * (sb / nb)) AS dot,
               sqrt(sum(pow(sa / na, 2.0))) AS norm_a,
               sqrt(sum(pow(sb / nb, 2.0))) AS norm_b,
               sqrt(sum(pow(sa / na - sb / nb, 2.0))) AS l2,
               max(abs(sa / na - sb / nb)) AS max_shift
        FROM m)
SELECT n_a, n_b,
       round(dot / (norm_a * norm_b), 4) AS centroid_cosine,
       round(l2, 4) AS centroid_l2,
       round(max_shift, 4) AS max_dim_shift
FROM agg""",
    doc="Dataset-shift monitor: the two corpus halves (vec_id parity "
        "stands in for consecutive snapshots) reduced to per-dimension "
        "centroid sums, compared by centroid cosine, centroid L2, and "
        "the largest single-dimension mean shift — the cheap alarm a "
        "training-data pipeline runs between crawls before it trusts an "
        "embedding-gated dedup/sampling policy tuned on the previous "
        "snapshot. Shuffle shape is the kmeans M-step's: posexplode to "
        "(half, dim), ONE partial-aggregated shuffle whose output is "
        "2*dim rows regardless of corpus size, then an O(dim) scalar "
        "fold. Map-side combine does the heavy lifting; nothing "
        "corpus-sized moves.",
    tags=("llm", "similarity", "monitoring"),
)
def llm_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        F.when(F.pmod(F.col("vec_id"), F.lit(2)) == 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("half"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    d = (
        e.select("half", F.posexplode("v").alias("dim0", "x"))
        .groupBy("half", (F.col("dim0") + 1).alias("dim"))
        .agg(F.sum("x").alias("s"), F.count("*").cast("long").alias("n"))
    )
    m = d.groupBy("dim").agg(
        F.max(F.when(F.col("half") == "a", F.col("s"))).alias("sa"),
        F.max(F.when(F.col("half") == "b", F.col("s"))).alias("sb"),
        F.max(F.when(F.col("half") == "a", F.col("n"))).alias("na"),
        F.max(F.when(F.col("half") == "b", F.col("n"))).alias("nb"),
    )
    ma, mb = F.col("sa") / F.col("na"), F.col("sb") / F.col("nb")
    agg = m.agg(
        F.first("na").alias("n_a"),
        F.first("nb").alias("n_b"),
        F.sum(ma * mb).alias("dot"),
        F.sqrt(F.sum(F.pow(ma, F.lit(2.0)))).alias("norm_a"),
        F.sqrt(F.sum(F.pow(mb, F.lit(2.0)))).alias("norm_b"),
        F.sqrt(F.sum(F.pow(ma - mb, F.lit(2.0)))).alias("l2"),
        F.max(F.abs(ma - mb)).alias("max_shift"),
    )
    return agg.select(
        "n_a", "n_b",
        F.round(F.col("dot") / (F.col("norm_a") * F.col("norm_b")), 4).alias(
            "centroid_cosine"
        ),
        F.round(F.col("l2"), 4).alias("centroid_l2"),
        F.round(F.col("max_shift"), 4).alias("max_dim_shift"),
    )


_JL_OUT_DIM = 16
_JL_IN_DIM = 64
_JL_SEED = 23
_JL_PAIRS = 100  # deterministic sample: (2i, 2i+1) for i < 100


def _jl_sql() -> str:
    proj = ", ".join(
        f"list_dot_product(v, {p})"
        for p in _plane_lits(_JL_OUT_DIM, _JL_SEED, _JL_IN_DIM)
    )
    cos_v, cos_p = _cos_sql("a.v", "b.v"), _cos_sql("a.pv", "b.pv")
    return f"""
WITH {_E},
p AS (SELECT vec_id, v, [{proj}] AS pv FROM e
      WHERE vec_id < {2 * _JL_PAIRS})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {cos_v} AS cos_orig,
       {cos_p} AS cos_proj,
       round(abs({cos_v}
                 - {cos_p}), 4) AS err
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
    planes = hyperplanes(_JL_OUT_DIM, _JL_IN_DIM, _JL_SEED)
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


_KC_K = 6


def _kcenter_sql() -> str:
    head = f"""WITH {_E},
s1 AS (SELECT vec_id, v, 1.0 AS ms FROM e WHERE vec_id = 0)"""
    parts = [head]
    prev = "s1"
    for r in range(2, _KC_K + 1):
        parts.append(f""",
r{r} AS (SELECT e.vec_id, e.v,
               max({_cos_sql("e.v", "s.v")}) AS ms
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
    # m=1 IS pure Gonzalez — the traversal loop lives in similarity.py
    # so the batched entry (llm_kcenter_coreset_batched) and this one
    # share one implementation
    return kcenter_coreset(
        load_table(spark, sf_dir, "embeddings"), k=_KC_K, m=1
    )


_KCB_K = 7   # total coreset size: 1 seed + _KCB_SCANS * _KCB_M picks
_KCB_M = 3   # picks per scan
_KCB_SCANS = (_KCB_K - 1) // _KCB_M  # 2 scans (vs 6 for unbatched k=7)


def _kcenter_batched_sql() -> str:
    """Every scan unrolled: batch b selects the _KCB_M unselected
    points with the smallest max-cosine to the selected set AS OF the
    scan start (ties on vec_id); ranks within a batch follow the same
    (ms, vec_id) order, offset by the prior selection count."""
    head = f"""WITH {_E},
s1 AS (SELECT vec_id, v, 1.0 AS ms FROM e WHERE vec_id = 0)"""
    parts = [head]
    prev = "s1"
    for b in range(1, _KCB_SCANS + 1):
        parts.append(f""",
r{b} AS (SELECT e.vec_id, e.v,
               max({_cos_sql("e.v", "s.v")}) AS ms
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
        "(plans/catalog_similarity.py).",
    tags=("llm", "similarity", "sampling", "scale"),
)
def llm_kcenter_coreset_batched(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return kcenter_coreset(
        load_table(spark, sf_dir, "embeddings"), k=_KCB_K, m=_KCB_M
    )
