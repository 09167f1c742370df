"""Similarity search over embedding columns (SURVEY.md section 2.8).

Every index path is assembled from one copy of each kernel:

==============================  ==========================  =============================
kernel                          helper                      index paths that use it
==============================  ==========================  =============================
rounded cosine, norms hoisted   ``_cos``                    every JVM-side path
one query's top-k               ``_query_topk``             cosine_topk, lsh_bucket_topk
pairs at or above a threshold   ``_pairs_at_least``         embedding_near_dup_pairs,
                                                            embedding_near_dup_lsh,
                                                            semdedup
LSH sign-bit bucket             :func:`lsh_bucket`          lsh_bucket_topk,
                                                            embedding_near_dup_lsh,
                                                            knn_join_bucketed
per-query top-k window          ``_top_per_query``          knn_join_bucketed,
                                                            knn_join_sampled,
                                                            route_on_graph,
                                                            _knn_join_expr
GEMM exact top-k (numpy)        ``_gemm_topk``              knn_join, knn_join_sampled
IVF cell assignment (E-step)    :func:`ivf_assign_cells`    ivf_topk, semdedup,
                                                            lloyd_refine, ivf_pq_encode,
                                                            llm_kmeans_iter,
                                                            llm_ivf_cell_stats
per-key component mean (M-step) ``_component_means``       lloyd_refine, pq_train_blocks,
                                                            llm_kmeans_iter
PQ block squared L2             ``_l2`` + ``_block``        pq_quantize, pq_train_blocks,
                                                            ivf_pq_encode, ADC LUTs
PQ seed codebook                ``_seed_codebook``          ivf_pq_build, llm_pq_train_codebook
PQ code assignment              ``_pq_codes``               pq_train_blocks, ivf_pq_encode
IVF probe order                 ``_probe_ranks``            ivf_pq_adc_search,
                                                            llm_ann_ivf_pq_recall_sweep
ADC LUT and per-block lookup    ``_pq_luts``, ``_adc``      ivf_pq_adc_search,
                                                            llm_ann_ivf_pq_recall_sweep
LSH neighbour edges per seed    ``_lsh_edges``              build_route_graph,
                                                            append_route_graph
==============================  ==========================  =============================

The index paths: exact (:func:`cosine_topk`, :func:`knn_join`,
:func:`knn_join_sampled`), LSH (:func:`lsh_bucket_topk`,
:func:`embedding_near_dup_lsh`, :func:`knn_join_bucketed`), IVF
(:func:`ivf_topk`, :func:`semdedup`), PQ (:func:`pq_quantize`,
:func:`pq_adc_topk`), IVF-PQ (:func:`ivf_pq_build`,
:func:`ivf_pq_encode`, :func:`ivf_pq_adc_search`, trained by
:func:`lloyd_refine` and :func:`pq_train_blocks`), the routing graph
(:func:`build_route_graph`, :func:`append_route_graph`,
:func:`route_on_graph`, :func:`graph_route_topk`) and the k-center
coreset. :func:`rrf_fuse`, :func:`precision_recall_at_k` and
:func:`ndcg_at_k` grade rankings.

Embedding frames carry ``ID_COL`` and ``VEC_COL``; the rounding
precisions every engine and oracle share are the ``*_DP`` constants.
Dot products use zip_with + aggregate over DOUBLE — built-in JVM
expressions, no UDF; embeddings are cast float -> double first so the
DuckDB oracle (which computes in double) matches to ~1e-15.
"""

from __future__ import annotations

import functools
import logging
import random
import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

from ...functions.hashing import hash32
from ..graph_algorithms import undirected

_LOG = logging.getLogger(__name__)

ID_COL = "vec_id"  # id column of every embedding frame
VEC_COL = "embedding"  # vector column of every embedding frame
COS_DP = 4  # cosine similarity is rounded to this before ranking
ASSIGN_DP = 6  # centroid similarity is rounded to this before the argmax
DIST_DP = 6  # PQ block distances are rounded to this before the argmin
CENT_DP = 6  # refined centroid and codeword components
MSE_DP = 4  # pq_quantize's reconstruction error
#: knn_join's exact-route row threshold; None derives it from the byte
#: budget below and the corpus dim
MAX_BROADCAST_ROWS: int | None = None
BROADCAST_BUDGET_BYTES = 2 << 30
#: knn_join_sampled raises rather than broadcast a larger query sample
MAX_SAMPLE_ROWS = 1_000_000


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _embeddings(emb: DataFrame) -> DataFrame:
    """``(vec_id, v)``: the id and the vector as array<double>."""
    return emb.select(F.col(ID_COL), _as_double(VEC_COL).alias("v"))


def _id_rank_penalty(ids, round_dp: int):
    """Ascending-id tie-break folded into ONE sortable key (round 8).

    The GEMM kernels rank candidates by ``(rounded sim DESC, id ASC)``.
    Expressing that with a full-row ``np.lexsort`` costs
    O(rows * n log n) per batch AND materialises an ids matrix the size
    of the sims matrix — the dominant cost of the x100 hard-negatives
    soak. Instead, subtract a per-candidate penalty strictly smaller
    than one rounding quantum: ``rank(id) * eps`` with
    ``eps = 10^-round_dp / (n + 2)``. Distinct rounded sims differ by
    >= 10^-round_dp while the worst-case total penalty is
    ``n/(n+2) * 10^-round_dp`` — a margin of ``2/(n+2) * 10^-round_dp``
    (~2e-11 at n=10M), far above double ulp, so the composite key's
    order EQUALS the lexicographic order and ``argpartition`` +
    small-argsort selects the exact same top-k in O(n + k log k).
    Ranks (not raw ids) keep eps scale-independent: raw ids at 100 TB
    can exceed the 53-bit mantissa's room under a 1e-4 quantum.
    """
    import numpy as np

    n = len(ids)
    eps = (10.0 ** -round_dp) / (n + 2)
    rank = np.empty(n, dtype=np.float64)
    rank[np.argsort(ids, kind="stable")] = np.arange(n, dtype=np.float64)
    return rank * eps


def _topk_cols(key, kk: int):
    """Per-row top-``kk`` column indices of ``key`` (2-D), ordered
    descending — exact, via argpartition preselect + an O(kk log kk)
    argsort of only the preselected block. ``key`` must be a strict
    total order per row (see :func:`_id_rank_penalty`)."""
    import numpy as np

    if kk < key.shape[1]:
        part = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
    else:
        part = np.broadcast_to(
            np.arange(key.shape[1]), key.shape
        )
    sel = np.take_along_axis(key, part, axis=1)
    return np.take_along_axis(
        part, np.argsort(-sel, axis=1, kind="stable"), axis=1
    )


def _unit(m):
    """Rows of ``m`` scaled to unit L2 norm."""
    import numpy as np

    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _gemm_topk(q, qids, c, cids, cpen, kk: int):
    """Exact top-``kk`` corpus columns per query row, the kernel of both
    GEMM paths. ``q`` and ``c`` hold unit rows, so ``q @ c.T`` is the
    cosine; it is rounded half away from zero at ``COS_DP``,
    self-matches (equal ids) are masked to -inf, and ties break on
    ascending corpus id through ``cpen`` (:func:`_id_rank_penalty`), so
    the top-k is argpartition O(n), not a full-row lexsort O(n log n).
    Returns ``(sims, top)``."""
    import numpy as np

    scale = 10.0 ** COS_DP
    sims = q @ c.T
    sims = np.floor(np.abs(sims) * scale + 0.5) / scale * np.sign(sims)
    sims[qids[:, None] == cids[None, :]] = -np.inf
    return sims, _topk_cols(sims - cpen[None, :], kk)


def _infer_dim(e: DataFrame) -> int:
    """Embedding dimension of ``e.v`` from one sampled row (single-row job).

    Called only when the caller did not pass ``dim`` explicitly — a wrong
    hardcoded dim makes zip_with pad with nulls, every bucket id NULL, and
    the bucket join silently empty; inferring (or failing loudly on an
    empty frame) removes that silent-wrong-answer mode.
    """
    row = e.select(F.size(F.col("v")).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError(
            "cannot infer embedding dim from an empty DataFrame; pass dim="
        )
    return int(row["d"])


def _estimated_row_count(df: DataFrame) -> int | None:
    """Optimizer row-count estimate for ``df`` — no job, may be None.

    Reads the logical plan's statistics (exact when the source catalog
    has ANALYZE stats or the plan has a counting shape; None for a bare
    parquet scan, where only sizeInBytes is known). Used by
    :func:`knn_join` auto-routing so the route is free when stats exist
    and costs at most a bounded limit-probe when they don't.
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        opt = stats.rowCount()
        if opt.isDefined():
            return int(str(opt.get()))
    except Exception:  # pragma: no cover - JVM API drift
        return None
    return None


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product of two array<double> columns (JVM-side)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _cos(a, b, na, nb, dp: int = COS_DP) -> Column:
    """``round(a . b / (na * nb), dp)``: the rounded cosine every JVM path
    ranks by. The norms are passed in, so a caller computes each
    vector's norm once per row rather than once per pair; ``na=None``
    folds ``a``'s norm here instead. Each argument is a column name or a
    Column."""
    def col(c):
        return F.col(c) if isinstance(c, str) else c

    a, b = col(a), col(b)
    d = dot(a, b)  # built before norm(a): the plan text keeps its order
    return F.round(d / ((norm(a) if na is None else col(na)) * col(nb)), dp)


def hyperplanes(num_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Seeded random hyperplanes, rounded to 6dp so the same decimal
    literals parse to identical doubles in Spark and the SQL oracle."""
    rng = random.Random(seed)
    return [
        [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)] for _ in range(num_planes)
    ]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit_j = (vec . plane_j >= 0), bucket = sum bit<<j."""
    acc = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        acc = acc + F.shiftleft((dot(vec, p) >= 0).cast("long"), j)
    return acc


def _planes(e: DataFrame, num_planes: int, seed: int, dim: int | None):
    """The LSH hyperplanes for ``e``, inferring ``dim`` when not given."""
    return hyperplanes(num_planes, _infer_dim(e) if dim is None else dim, seed)


def fixed_centroids(e: DataFrame, k: int = 32) -> DataFrame:
    """Deterministic K-row ``(cid, cv)`` centroid subset of ``(vec_id,
    v)`` vectors whose size does NOT grow with the corpus — the
    scale-correct default for :func:`ivf_topk` / :func:`semdedup` (an
    ``id % mod`` subset keeps O(n/mod) centroids and makes assignment
    O(n^2/mod); SCALE_SOAK.md measured it super-linear at 10x).

    Selection is "order by md5(id), take K": a seeded uniform shuffle
    both engines reproduce exactly (oracle mirror: ``ORDER BY
    md5(id::VARCHAR), id LIMIT K``). ``orderBy().limit(K)`` compiles to
    TakeOrderedAndProject — per-partition top-K then a K-row merge, one
    linear pass, no global sort shuffle. :func:`lloyd_refine`
    k-means-refines this seed set; the assignment dataflow is identical
    either way.
    """
    return (
        e.orderBy(F.md5(F.col(ID_COL).cast("string")), F.col(ID_COL))
        .limit(k)
        .select(F.col(ID_COL).alias("cid"), F.col("v").alias("cv"))
    )


def _query_topk(
    e: DataFrame, query_id: int, k: int, key: str | None = None,
) -> DataFrame:
    """Top-``k`` rows of ``e`` (``vec_id, v`` and ``key``) by rounded
    cosine to row ``query_id``, ties on ascending id. With ``key``, only
    rows sharing the query's ``key`` are candidates.

    The query row is broadcast with its norm hoisted into it, so each
    scanned row costs one dot fold and one self-norm fold, and the top-k
    is a TakeOrderedAndProject — no shuffle of the corpus.
    """
    keys = [key] if key else []
    q = e.filter(F.col(ID_COL) == query_id).select(
        F.col("v").alias("qv"), *[F.col(c).alias("q" + c) for c in keys],
        norm(F.col("v")).alias("qn"),
    )
    cands = e.filter(F.col(ID_COL) != query_id).crossJoin(F.broadcast(q))
    for c in keys:
        cands = cands.filter(F.col(c) == F.col("q" + c))
    scored = cands.select(
        F.col(ID_COL), *keys,
        _cos("v", "qv", None, "qn").alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(ID_COL)).limit(k)


def cosine_topk(emb: DataFrame, query_id: int, k: int = 10) -> DataFrame:
    """Exact top-k by cosine similarity to the vector with id ``query_id``.

    Rounded to ``COS_DP`` before ranking (ties broken by id) so that
    engine-specific summation order cannot flip the boundary.
    """
    return _query_topk(_embeddings(emb), query_id, k)


def lsh_bucket_topk(
    emb: DataFrame, query_id: int, k: int = 5, num_planes: int = 6,
    seed: int = 7, dim: int | None = None,
) -> DataFrame:
    """ANN: candidates restricted to the query's LSH bucket, exact cosine
    within. At scale the bucket column is precomputed + partitioned-by, so
    this is a partition-pruned scan, not a full pass."""
    e = _embeddings(emb)
    planes = _planes(e, num_planes, seed, dim)
    e = e.withColumn("bucket", lsh_bucket(F.col("v"), planes))
    return _query_topk(e, query_id, k, "bucket")


def ivf_topk(
    emb: DataFrame, query_id: int, k: int = 5, nprobe: int = 2,
    centroids: DataFrame | None = None, num_centroids: int = 32,
) -> DataFrame:
    """IVF (inverted-file) ANN: one-pass centroid assignment, probe the
    ``nprobe`` nearest cells, exact cosine within the probed cells.

    Centroids default to :func:`fixed_centroids` — a deterministic
    ``num_centroids``-row subset whose size is independent of the corpus,
    so assignment stays O(n*K) at any scale (pass ``centroids`` to use a
    k-means-refined set instead; the dataflow is identical). Assignment
    is :func:`ivf_assign_cells` — a broadcast cross join against the tiny
    centroid set followed by a max(struct) argmax; the shuffle carries
    only ``(id, cell_sim, cell_id)`` triples, never the vectors. At
    100 TB the cell id becomes a partition column, so a query scans
    ~nprobe/K of the corpus; this is the standard IVF trade that LSH
    bucketing (``lsh_bucket_topk``) makes with hashes instead of learned
    cells.

    Probe similarities are rounded (``ASSIGN_DP``) with a larger-cid
    tiebreak, mirrored by the oracle's ORDER BY sim DESC, cid DESC.
    """
    e = _embeddings(emb)
    cents = centroids if centroids is not None else fixed_centroids(e, num_centroids)
    e = e.withColumn("nrm", norm(F.col("v")))  # once per row, not per centroid
    cells = e.join(ivf_assign_cells(e, cents), ID_COL)
    q = e.filter(F.col(ID_COL) == query_id).select(
        F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    probe = (
        cents.withColumn("ncv", norm(F.col("cv")))
        .crossJoin(F.broadcast(q))
        .select("cid", _cos("cv", "qv", "ncv", "qn", ASSIGN_DP).alias("qsim"))
        .orderBy(F.desc("qsim"), F.desc("cid"))
        .limit(nprobe)
        .select("cid")
    )
    cands = cells.join(
        F.broadcast(probe), cells["cell"] == probe["cid"]
    ).filter(F.col(ID_COL) != query_id)
    out = cands.crossJoin(F.broadcast(q)).select(
        F.col(ID_COL), F.col("cell"), _cos("v", "qv", "nrm", "qn").alias("cos_sim"),
    )
    return out.orderBy(F.desc("cos_sim"), F.asc(ID_COL)).limit(k)


def _pairs_at_least(
    e: DataFrame, threshold: float, keys: tuple[str, ...] = (),
) -> DataFrame:
    """``(vec_a, vec_b, cos_sim)`` for every pair ``vec_a < vec_b`` of
    ``e`` (``vec_id, v, nrm`` and ``keys``) that agrees on every key
    column and has rounded cosine >= ``threshold``.

    Without keys this is the brute-force O(n^2) pair join; key columns
    (an LSH bucket, an IVF cell and its salt) make it an equi-join whose
    shuffle keys are the keys, so pairs form only within a group. Norms
    come precomputed in ``nrm``: the per-pair work is one dot fold.
    """
    a = e.select(
        F.col(ID_COL).alias("vec_a"), F.col("v").alias("va"), *keys,
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col(ID_COL).alias("vec_b"), F.col("v").alias("vb"),
        *[F.col(c).alias(c + "_b") for c in keys], F.col("nrm").alias("nb"),
    )
    cond = functools.reduce(
        lambda x, y: x & y,
        [F.col(c) == F.col(c + "_b") for c in keys]
        + [F.col("vec_a") < F.col("vec_b")],
    )
    return (
        a.join(b, cond)
        .select("vec_a", "vec_b", _cos("va", "vb", "na", "nb").alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.45) -> DataFrame:
    """All pairs with cosine >= threshold. Brute-force O(n^2) — the oracle
    baseline; :func:`embedding_near_dup_lsh` is the same pair search
    restricted to LSH-bucket mates (same output contract, approximate
    recall)."""
    return _pairs_at_least(
        _embeddings(emb).withColumn("nrm", norm(F.col("v"))), threshold
    )


def embedding_near_dup_lsh(
    emb: DataFrame, threshold: float = 0.45, num_planes: int = 6,
    seed: int = 7, dim: int | None = None,
) -> DataFrame:
    """Near-dup pairs with the LSH-bucket equality join — the 100 TB shape.

    Replaces the brute-force O(n^2) cross product with an equi-join on the
    sign-bit bucket: the shuffle keys are (bucket, id), candidate pairs are
    only same-bucket, and exact cosine verifies each candidate. Approximate
    recall by construction (a true pair split across buckets is missed —
    raise recall with fewer planes or multiple plane tables); precision is
    exact because every emitted pair is cosine-verified.
    """
    e = _embeddings(emb)
    planes = _planes(e, num_planes, seed, dim)
    e = e.withColumn("bucket", lsh_bucket(F.col("v"), planes)).withColumn(
        "nrm", norm(F.col("v"))  # once per row, not per candidate pair
    )
    return _pairs_at_least(e, threshold, ("bucket",))


def _top_per_query(scored: DataFrame, k: int, query: str = "qid") -> DataFrame:
    """Per ``query``, the ``k`` best ``nid`` rows by ``cos_sim`` (ties on
    ascending nid), numbered 1..k in ``rank`` by a row_number window."""
    w = Window.partitionBy(query).orderBy(F.desc("cos_sim"), F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_join(emb: DataFrame, k: int = 3) -> DataFrame:
    """All-pairs k-NN self-join: for EVERY vector, its ``k`` nearest
    neighbours by cosine — the per-document neighbourhood pass curation
    pipelines run (near-dup clustering, diversity sampling, retrieval
    eval). Output ``(qid, nid, cos_sim, rank)``.

    The route is chosen WITHOUT a full corpus scan: the optimizer's
    row-count estimate when the catalog has one, else a bounded
    ``limit(threshold + 1)`` probe on the pruned id column (stops as
    soon as the threshold is exceeded; never pays a second full pass
    over the vectors). The threshold is a MEMORY budget, not a bare row
    count: when ``MAX_BROADCAST_ROWS`` is None it is derived as
    ``BROADCAST_BUDGET_BYTES // (dim * 8 + 16)`` — dim float64s plus id
    + rank-penalty per corpus row, with dim from a one-row probe —
    because the failure the guard prevents (a corpus matrix that
    doesn't fit the driver/executor broadcast) happens in BYTES: a
    4096-dim corpus exhausts a 2 GiB budget at ~65k rows, a 64-dim one
    at ~4M (r8 verdict item 4). The routing decision and its byte math
    are logged.

    At or below the threshold the corpus collects into ONE normalised
    numpy matrix broadcast to executors, and each Arrow batch of queries
    scores against it with a single GEMM (:func:`_gemm_topk`) — exact,
    Python runs matrix-at-a-time. Above it the route is
    :func:`knn_join_bucketed`, the LSH-candidate approximate form whose
    joins are all bucket equi-joins (no driver collect, no cross join):
    the exact form CANNOT scale past a broadcastable matrix by
    construction, so the engine degrades to documented-approximate
    instead of collecting 100 TB to the driver, and says so with a
    ``UserWarning`` (neighbour lists may be shorter than ``k``).

    Determinism: similarity rounds half-away-from-zero to ``COS_DP``
    before ranking, ties break on ascending neighbour id.
    """
    e = _embeddings(emb)
    max_rows = MAX_BROADCAST_ROWS
    if max_rows is None:
        first = e.select(F.size("v").alias("d")).first()
        d = int(first["d"]) if first and first["d"] else 1
        # bytes per broadcast corpus row: dim float64s + int64 id
        # + float64 rank penalty
        row_bytes = d * 8 + 16
        max_rows = max(1, BROADCAST_BUDGET_BYTES // row_bytes)
        budget_msg = (
            f"{max_rows} rows = budget {BROADCAST_BUDGET_BYTES} B / "
            f"{row_bytes} B-per-row (dim={d})"
        )
    else:
        budget_msg = f"{max_rows} rows (MAX_BROADCAST_ROWS)"
    est = _estimated_row_count(e)
    if est is None:
        # bounded probe: pruned id column, stops at threshold + 1
        est = e.select(ID_COL).limit(max_rows + 1).count()
    if est > max_rows:
        warnings.warn(
            f"knn_join: corpus (>{est - 1} rows) exceeds the "
            f"broadcast threshold [{budget_msg}]; routing "
            "exact->approximate (LSH-bucketed): neighbour lists "
            "may be shorter than k",
            UserWarning,
            stacklevel=2,
        )
        return knn_join_bucketed(emb, k=k)
    _LOG.info(
        "knn_join auto-route: exact arrow GEMM (corpus %d rows "
        "<= threshold [%s])", est, budget_msg,
    )
    return _knn_join_arrow(e, k)


# what the GEMM paths' mapInPandas emits: candidates, then ranked pairs
_CAND_SCHEMA = StructType(
    [
        StructField("qid", LongType(), False),
        StructField("nid", LongType(), False),
        StructField("cos_sim", DoubleType(), False),
    ]
)
_KNN_SCHEMA = StructType(
    _CAND_SCHEMA.fields + [StructField("rank", IntegerType(), False)]
)


def _knn_join_arrow(e: DataFrame, k: int) -> DataFrame:
    """:func:`knn_join`'s exact path over ``(vec_id, v)``: the corpus
    collects into one unit-row matrix broadcast to executors (rows x dim
    floats — fine up to ~10M rows) and every Arrow batch of queries is
    one :func:`_gemm_topk` against it."""
    import numpy as np
    import pandas as pd

    corpus = e.collect()  # the broadcastable corpus matrix (see knn_join)
    ids = np.array([r[ID_COL] for r in corpus], dtype=np.int64)
    mat = _unit(np.array([r["v"] for r in corpus], dtype=np.float64))
    # id-rank penalty computed ONCE at broadcast time (driver side), so
    # the per-batch kernel is argpartition-only (_id_rank_penalty)
    pen = _id_rank_penalty(ids, COS_DP)
    bc = e.sparkSession.sparkContext.broadcast((ids, mat, pen))

    def batches(it):
        nids, nmat, npen = bc.value
        for pdf in it:
            q = _unit(np.stack(pdf["v"].to_numpy()))
            qids = pdf[ID_COL].to_numpy(dtype=np.int64)
            sims, top = _gemm_topk(q, qids, nmat, nids, npen, k)
            yield pd.DataFrame(
                {
                    "qid": np.repeat(qids, k),
                    "nid": nids[top].ravel(),
                    "cos_sim": np.take_along_axis(sims, top, axis=1).ravel(),
                    "rank": np.tile(np.arange(1, k + 1, dtype=np.int32), len(qids)),
                }
            )

    return e.mapInPandas(batches, _KNN_SCHEMA)


def _knn_join_expr(emb: DataFrame, k: int) -> DataFrame:
    """JVM-only reference for :func:`knn_join`'s exact path: cross join,
    fold-based cosine and a per-query row_number window — quadratic
    expression work, kept so tests can check the GEMM path against it."""
    e = _embeddings(emb).withColumn("nrm", norm(F.col("v")))  # once per row
    a = e.select(
        F.col(ID_COL).alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn"),
    )
    b = e.select(
        F.col(ID_COL).alias("nid"), F.col("v").alias("nv"), F.col("nrm").alias("nn"),
    )
    scored = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", _cos("qv", "nv", "qn", "nn").alias("cos_sim"))
    )
    return _top_per_query(scored, k)


LSH_TARGET_BUCKET_ROWS = 512  # auto plane count aims for ~this bucket size
LSH_MAX_PLANES = 20


def _auto_planes(n_rows: int) -> int:
    """Plane count that keeps the EXPECTED bucket size near
    :data:`LSH_TARGET_BUCKET_ROWS`: the candidate join's pair volume is
    ~n^2 / 2^planes, so a FIXED plane count is quadratic in disguise —
    3 planes measured 44.4 s at 20k vectors where 10 planes took 4.0 s
    (SCALE_SOAK.md). ceil(log2(n / target)), clamped to [3, 20]."""
    need = max(1, (n_rows + LSH_TARGET_BUCKET_ROWS - 1) // LSH_TARGET_BUCKET_ROWS)
    return max(3, min(LSH_MAX_PLANES, (need - 1).bit_length()))


def knn_join_bucketed(
    emb: DataFrame, k: int = 3, num_planes: int | None = None, seed: int = 7,
    dim: int | None = None, corpus: DataFrame | None = None,
) -> DataFrame:
    """Approximate all-pairs k-NN via LSH-candidate generation — the
    100 TB shape of :func:`knn_join`. Same output contract (qid, nid,
    cos_sim, rank), approximate recall: each query ranks only candidates
    sharing its sign-bit bucket, so a query's neighbour list can be
    shorter than ``k`` and a true neighbour split across buckets is
    missed (raise recall with fewer planes or multiple plane tables).

    ``num_planes=None`` (default) derives the plane count from the
    corpus size via :func:`_auto_planes` (catalog-stats estimate when
    available, else one pruned-id-column count — a single cheap scan
    that configures the join it precedes): expected bucket size stays
    ~:data:`LSH_TARGET_BUCKET_ROWS`, so the candidate join's pair
    volume grows ~linearly with the corpus instead of quadratically.
    Pass an explicit ``num_planes`` to pin the bucket table (the
    oracle-checked catalog entries do, for cross-engine determinism).

    Everything is a bucket equi-join: one map pass stamps the bucket id,
    the candidate join shuffles on (bucket, id) — never a cross join,
    never a driver collect — and the per-query top-k is a row_number
    window partitioned by qid. At rest the bucket id is a partition
    column, so the candidate join is partition-local.

    ``corpus`` (optional) makes the join ASYMMETRIC: ``emb`` rows are
    the queries and ``corpus`` rows are the candidates (both bucketed
    with the SAME pinned planes, so a query meets exactly the corpus
    vectors sharing its sign-bit bucket). Used by
    :func:`append_route_graph` to link a NEW batch of vectors into an
    existing neighbour graph without recomputing old-old edges.
    """
    e = _embeddings(emb)
    c = e if corpus is None else _embeddings(corpus)
    if num_planes is None:
        est = _estimated_row_count(c)
        if est is None:
            est = c.select(ID_COL).count()
        num_planes = _auto_planes(est)
    planes = _planes(e, num_planes, seed, dim)

    def stamp(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", lsh_bucket(F.col("v"), planes)
        ).withColumn(
            "nrm", norm(F.col("v"))  # once per row, not per candidate pair
        )

    a = stamp(e).select(
        F.col(ID_COL).alias("qid"), F.col("v").alias("qv"), F.col("bucket"),
        F.col("nrm").alias("qn"),
    )
    b = stamp(c).select(
        F.col(ID_COL).alias("nid"), F.col("v").alias("nv"),
        F.col("bucket").alias("bucket_b"), F.col("nrm").alias("nn"),
    )
    scored = (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("qid") != F.col("nid")))
        .select("qid", "nid", _cos("qv", "nv", "qn", "nn").alias("cos_sim"))
    )
    return _top_per_query(scored, k)


def quantize_int8(df: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of an embedding column, with per-vector
    reconstruction error — the compression pass that shrinks an ANN serving
    index 4x before the similarity ops run on it.

    Pure map-side JVM array math (transform / aggregate fold): scale =
    max|x| / 127, q_i = round(x_i / scale), rmse over the sequential
    index-order fold — deterministic cross-engine, no shuffle at any
    scale. Degenerate all-zero vectors keep scale 0 and rmse 0.
    """
    v = _as_double(F.col(VEC_COL))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.transform(
        v, lambda x: F.when(scale == 0, F.lit(0.0)).otherwise(F.round(x / scale))
    )
    err2 = F.aggregate(
        F.zip_with(v, q, lambda x, qi: F.pow(x - qi * scale, F.lit(2.0))),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    dim = F.size(F.col(VEC_COL)).cast("double")
    return df.select(
        ID_COL,
        F.round(scale, 6).alias("scale"),
        F.round(
            F.when(amax == 0, F.lit(0.0)).otherwise(F.sqrt(err2 / dim)), 6
        ).alias("rmse"),
        F.size(F.filter(q, lambda x: F.abs(x) == 127)).alias("n_saturated"),
    )


def semdedup(
    emb: DataFrame, threshold: float = 0.5,
    centroids: DataFrame | None = None, num_centroids: int = 32,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster the corpus (here the IVF
    deterministic-centroid assignment from :func:`ivf_topk`), then mark as
    duplicate every vector that has a LOWER-id cell-mate with cosine >=
    ``threshold``. Returns one row per vector with its cell and keep flag.

    This is the scale shape of embedding near-dup: the O(n^2) pair search
    runs only WITHIN a cell (n/K rows each), so the shuffle keys are
    (cell, id) and the cross product never materialises corpus-wide. A
    production pass k-means-refines the centroids; the per-iteration
    dataflow is identical.

    Like :func:`ivf_topk`, centroids default to the fixed-K
    :func:`fixed_centroids` subset. Sizing: assignment costs O(n*K),
    intra-cell pairing O(n^2 / K) *if cells are balanced* — K ~ sqrt(n)
    balances the two, but balance matters more than K: the pair stage is
    quadratic in the LARGEST cell (measured 10x swings between same-K
    random subsets), so use k-means-learned centroids and cap/salt-split
    oversized cells in a production pass.

    ``max_cell_size`` is that production cap: cells larger than it are
    salt-split into ~ceil(size/cap) sub-cells by a hash of the id, and
    pairing runs within a sub-cell only. Bounds the pair stage at
    O(n * cap) TOTAL regardless of cell skew — one mega-cell can no
    longer go quadratic — at the price of missed cross-salt pairs
    (recall, not precision: every emitted duplicate is still
    cosine-verified). The reported ``cell`` stays the original cell id,
    so downstream grouping is unaffected.
    """
    e = _embeddings(emb)
    cents = centroids if centroids is not None else fixed_centroids(e, num_centroids)
    # norm once per row, reused by the K-centroid assignment scan and
    # the intra-cell pair stage
    e = e.withColumn("nrm", norm(F.col("v")))
    cells = e.join(ivf_assign_cells(e, cents), ID_COL)
    if max_cell_size is not None:
        # salt-split oversized cells: the pairing key becomes (cell,
        # salt) where salt = hash(id) % ceil(cell_size / cap). The size
        # frame is O(K') rows — broadcast-joined back onto the corpus.
        sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("_cn"))
        cells = (
            cells.join(F.broadcast(sizes), "cell")
            .withColumn(
                "_nsplit",
                F.greatest(
                    F.lit(1).cast("long"),
                    F.ceil(F.col("_cn") / F.lit(max_cell_size)).cast("long"),
                ),
            )
            .withColumn(
                # salt = md5-derived 32-bit hash of the id (":sd" domain
                # tag) mod nsplit — oracle-expressible (hash32_oracle_sql)
                # so a DuckDB mirror reproduces the split exactly; both
                # operands are non-negative, so pmod == %
                "_salt",
                F.pmod(
                    hash32(F.concat(F.col(ID_COL).cast("string"), F.lit(":sd"))),
                    F.col("_nsplit"),
                ),
            )
            .drop("_cn", "_nsplit")
        )
    else:
        cells = cells.withColumn("_salt", F.lit(0).cast("long"))
    # within-(cell, salt) pairs only; a < b keeps the earliest id in a group
    dup_b = (
        _pairs_at_least(cells, threshold, ("cell", "_salt"))
        .select(F.col("vec_b").alias(ID_COL))
        .distinct()
    )
    return (
        cells.join(dup_b.withColumn("dup", F.lit(1)), ID_COL, "left")
        .select(
            ID_COL,
            "cell",
            F.when(F.col("dup").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("keep"),
        )
    )


def _block(col: str, bi: int, sub: int) -> Column:
    """Block ``bi`` (``sub`` components) of an array column."""
    return F.slice(F.col(col), bi * sub + 1, sub)


def _l2(a: Column, b: Column) -> Column:
    """Squared L2 distance of two array columns rounded to ``DIST_DP``:
    the distance every PQ code choice and ADC lookup ranks by."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
        DIST_DP,
    )


def pq_quantize(
    emb: DataFrame, n_blocks: int = 4, n_codes: int = 8, dim: int | None = None,
) -> DataFrame:
    """Product quantization (the FAISS IVF-PQ memory-compression step):
    the vector is split into ``n_blocks`` contiguous sub-vectors, each
    assigned to the nearest of ``n_codes`` sub-codebook entries by L2;
    a d-dim float vector compresses to ``n_blocks`` small codes
    (64 x 4 bytes -> 4 bytes here — the difference between an ANN index
    that fits in cluster RAM at 100 TB and one that does not).

    Codebook: the first ``n_codes`` corpus vectors by id, sliced per
    block — deterministic and oracle-mirrorable (``ORDER BY id LIMIT
    n_codes``; :func:`pq_train_blocks` k-means-refines such a codebook
    the way :func:`lloyd_refine` refines IVF centroids; the assignment
    dataflow — the part that sees all 100 TB — is identical either way).

    Scale shape: the codebook collect is O(n_codes) rows (bounded,
    driver-side control like :func:`fixed_centroids`); assignment is
    per-row JVM expressions over literal arrays — map-only, zero
    shuffle. Distances round to ``DIST_DP`` before the argmin so Spark
    and the SQL oracle pick identical codes; ties break to the lowest
    code (first-occurrence ``array_position``).

    Output: ``(id, code_0..code_{B-1}, mse)`` where mse is the mean
    squared reconstruction error implied by the chosen codes.
    """
    e = _embeddings(emb)
    if dim is None:
        dim = _infer_dim(e)
    return _pq_assign(e, _pq_codebook(e, n_codes), n_blocks, dim)


def _pq_codebook(e: DataFrame, n_codes: int) -> list:
    """The first ``n_codes`` corpus rows by id (``ORDER BY id LIMIT
    n_codes``), collected in id order: :func:`pq_quantize`'s codebook."""
    cb_rows = sorted(e.orderBy(F.col(ID_COL)).limit(n_codes).collect(), key=lambda r: r[ID_COL])
    if len(cb_rows) < n_codes:
        raise ValueError(
            f"corpus has {len(cb_rows)} rows < n_codes={n_codes}"
        )
    return cb_rows


def _pq_assign(e: DataFrame, cb_rows: list, n_blocks: int, dim: int) -> DataFrame:
    """``(id, code_0..code_{B-1}, mse)`` of every vector of ``e`` against
    the collected codebook ``cb_rows`` (see :func:`pq_quantize`)."""
    if dim % n_blocks != 0:
        raise ValueError(f"dim={dim} not divisible by n_blocks={n_blocks}")
    sub = dim // n_blocks
    n_codes = len(cb_rows)
    cb = [list(r["v"]) for r in cb_rows]
    cols: list[Column] = [F.col(ID_COL)]
    min_dists: list[Column] = []
    for bi in range(n_blocks):
        darr = F.array(
            *[
                _l2(
                    _block("v", bi, sub),
                    F.array(*[F.lit(float(x)) for x in cb[c][bi * sub : (bi + 1) * sub]]),
                )
                for c in range(n_codes)
            ]
        )
        cols.append(
            F.array_position(darr, F.array_min(darr)).alias(f"code_{bi}")
        )
        min_dists.append(F.array_min(darr))
    total = min_dists[0]
    for m in min_dists[1:]:
        total = total + m
    cols.append(F.round(total / F.lit(float(dim)), MSE_DP).alias("mse"))
    return e.select(*cols)


def pq_adc_topk(
    emb: DataFrame, k: int = 10, query_id: int | None = None,
    n_blocks: int = 4, n_codes: int = 8,
) -> DataFrame:
    """ANN search over product-quantized codes via Asymmetric Distance
    Computation (the FAISS IVF-PQ query path): the query vector stays
    full-precision; per block a ``n_codes``-entry lookup table of
    L2 distances from the query sub-vector to every codebook entry is
    precomputed once, and each corpus vector's approximate distance is
    just ``n_blocks`` table lookups summed — the scan never touches the
    original floats.

    Scale shape: the LUT build is O(n_codes * dim) driver-side work on
    the already-bounded codebook (plus one 1-row collect for the query
    vector); the scan is map-only lookups over the 4-byte codes, and
    top-k compiles to TakeOrderedAndProject (per-partition heaps, K-row
    merge — no global sort). At 100 TB this is the difference between
    scanning 4 B/vector and 256 B/vector.

    Output: ``(id, adc_dist)`` for the k nearest by approximate
    distance, ties broken on ascending id.
    """
    e = _embeddings(emb)
    dim = _infer_dim(e)
    sub = dim // n_blocks
    cb_rows = _pq_codebook(e, n_codes)
    cb = [list(r["v"]) for r in cb_rows]
    if query_id is None:
        query_id = cb_rows[0][ID_COL]
    q_rows = e.filter(F.col(ID_COL) == query_id).limit(1).collect()
    if not q_rows:
        raise ValueError(f"query_id={query_id} not found")
    q = list(q_rows[0]["v"])
    codes = _pq_assign(e, cb_rows, n_blocks, dim)
    dist = F.lit(0.0)
    for bi in range(n_blocks):
        lut = [
            # (d*d, not d**2: libm pow is not guaranteed bit-identical to
            # multiplication, and the oracle multiplies)
            round(
                sum(
                    (q[bi * sub + i] - cb[c][bi * sub + i])
                    * (q[bi * sub + i] - cb[c][bi * sub + i])
                    for i in range(sub)
                ),
                DIST_DP,
            )
            for c in range(n_codes)
        ]
        dist = dist + F.element_at(
            F.array(*[F.lit(x) for x in lut]), F.col(f"code_{bi}").cast("int")
        )
    return (
        codes.filter(F.col(ID_COL) != query_id)
        .select(F.col(ID_COL), F.round(dist, DIST_DP).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(ID_COL))
        .limit(k)
    )


def knn_join_sampled(emb: DataFrame, k: int = 3, sample_mod: int = 4) -> DataFrame:
    """EXACT k-NN for a deterministic hash-sample of query vectors against
    the FULL corpus — the evaluation shape that stays linear at 100 TB.

    :func:`knn_join`'s exact path broadcasts the CORPUS matrix, so it is
    bounded by corpus size. Recall evaluation doesn't need every query:
    it needs an unbiased sample scored exactly. This operator inverts the
    broadcast — the (small) query sample (``id % sample_mod == 0``)
    collects and broadcasts, each corpus partition scores its rows
    against the sample with one GEMM (:func:`_gemm_topk`) and keeps a
    per-partition top-k PER QUERY, and a final qid-keyed aggregation
    merges the bounded candidate set (|sample| * k * n_partitions rows,
    never the corpus). Top-k is distributive, so the result is exactly
    ``knn_join(...)`` restricted to sampled qids — pinned by test.

    Same determinism contract as knn_join: similarity rounded
    half-away-from-zero at ``COS_DP`` before ranking, ties break on
    ascending neighbour id. Raises if the sample exceeds
    ``MAX_SAMPLE_ROWS`` instead of silently collecting too much.
    """
    import numpy as np
    import pandas as pd

    e = _embeddings(emb)
    sample = e.filter(F.pmod(F.col(ID_COL), F.lit(sample_mod)) == 0)
    qrows = sample.limit(MAX_SAMPLE_ROWS + 1).collect()
    if len(qrows) > MAX_SAMPLE_ROWS:
        raise ValueError(
            f"knn_join_sampled: query sample exceeds MAX_SAMPLE_ROWS="
            f"{MAX_SAMPLE_ROWS}; raise sample_mod (or the cap) so the "
            "broadcast side stays bounded"
        )
    if not qrows:
        # no id divisible by sample_mod (or empty input): an empty result
        # with the output schema, not a numpy AxisError from norm() over
        # a (0,)-shaped array
        return emb.sparkSession.createDataFrame(
            [],
            "qid long, nid long, cos_sim double, rank int",
        )
    qids = np.array([r[ID_COL] for r in qrows], dtype=np.int64)
    qmat = _unit(np.array([r["v"] for r in qrows], dtype=np.float64))
    bc = e.sparkSession.sparkContext.broadcast((qids, qmat))

    # Query-block tiling (round 8): the GEMM's |sample| x |batch| sims
    # matrix is the kernel's only unbounded memory — at a 50k-query
    # sample against 10k-row Arrow batches it is ~4 GB per task and 32
    # concurrent tasks thrash the box. Tiling the SAMPLE side bounds it
    # at q_block x |batch| (~160 MB) with bit-identical output: the
    # per-partition top-k per query is computed per block, and blocks
    # partition the queries, so no cross-block state exists.
    q_block = 2048

    def batches(it):
        sq, sm = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            c = _unit(np.stack(pdf["v"].to_numpy()))
            cids = pdf[ID_COL].to_numpy(dtype=np.int64)
            cpen = _id_rank_penalty(cids, COS_DP)  # once per batch
            for q0 in range(0, len(sq), q_block):
                bq, bm = sq[q0 : q0 + q_block], sm[q0 : q0 + q_block]
                kk = min(k, len(cids))
                sims, top = _gemm_topk(bm, bq, c, cids, cpen, kk)
                tops = np.take_along_axis(sims, top, axis=1)
                keep = np.isfinite(tops).ravel()
                yield pd.DataFrame(
                    {
                        "qid": np.repeat(bq, kk)[keep],
                        "nid": cids[top].ravel()[keep],
                        "cos_sim": tops.ravel()[keep],
                    }
                )

    cand = e.mapInPandas(batches, _CAND_SCHEMA)
    return _top_per_query(cand, k)


def graph_route_topk(
    emb: DataFrame, k: int = 5,
    hops: int = 3, beam: int = 8, n_entries: int = 4, entry_mod: int = 16,
    query_mod: int = 25, edge_k: int = 3, num_planes: int | None = None,
    seeds: tuple[int, ...] = (7, 11), dim: int | None = None,
) -> DataFrame:
    """Graph-ROUTED approximate nearest-neighbour search — the
    HNSW-class family member the LSH/IVF/PQ entries don't cover: a
    k-NN neighbourhood GRAPH is built once, and each query walks it
    with a bounded beam instead of scanning buckets or cells.

    Semantics (fixed and cross-engine deterministic, so a SQL oracle
    can replay the walk exactly):

    * graph edges = the UNION over ``seeds`` of each node's
      top-``edge_k`` bucketed-LSH neighbours (:func:`knn_join_bucketed`
      with pinned planes — the scale form whose oracle discipline is
      already established). Two independent plane tables matter: a
      single-table graph is bucket-CONSTRAINED, so true neighbours
      split across a bucket boundary are unreachable no matter how far
      the walk goes (measured reachability ceiling 0.52 one-table vs
      1.00 two-table on the clustered fixture) — the same diversity
      role NN-descent's random links play in real graph builds;
    * queries = nodes with ``id % query_mod == 0``;
    * COARSE ROUTING LAYER (the role of HNSW's upper layers): each
      query exactly scores the deterministic sample
      ``id % entry_mod == 0`` and keeps its ``n_entries`` best as
      per-query entry points. This layer is what makes the walk able
      to CROSS clusters — a pure kNN graph on separated clusters is
      disconnected, so global entry points strand the beam in the
      wrong cluster (measured recall 0.13 with fixed smallest-id
      entries on an 8-cluster fixture; 0.98 with all three fixes at
      the catalog dials);
    * ``hops`` rounds of beam search: take the ``beam`` best nodes seen
      so far per query (by rounded cosine desc, id asc), expand their
      out-edges, exactly-score the new candidates against the query,
      and merge into the seen set (self excluded);
    * result = per query the top-``k`` of everything seen, with rank.

    SCALE: the per-hop state is Q x beam rows (broadcast side); each
    hop is one edges-scan equi-join + one emb-scan equi-join to fetch
    candidate vectors — never a cross join, never a driver collect, and
    the number of corpus scans is fixed at 2 x hops (+1 for the coarse
    layer) regardless of corpus size. ``entry_mod`` dials the coarse
    layer exactly like an IVF centroid count — at fleet scale it grows
    with sqrt(n) so the probe stays a broadcast. Recall is measured
    against exact kNN in tests; cost is hops x beam x edge_k — the
    standard beam-search ANN trade-off dial.
    """
    edges = build_route_graph(
        emb, edge_k=edge_k, seeds=seeds, num_planes=num_planes, dim=dim,
    )
    return route_on_graph(
        emb, edges, k=k, hops=hops, beam=beam, n_entries=n_entries,
        entry_mod=entry_mod, query_mod=query_mod,
    )


def _lsh_edges(
    emb: DataFrame, edge_k: int, seeds: tuple[int, ...],
    num_planes: int | None, dim: int | None, corpus: DataFrame | None = None,
) -> DataFrame:
    """``(src, dst)``: the union over ``seeds`` of each ``emb`` row's
    top-``edge_k`` :func:`knn_join_bucketed` neighbours (in ``corpus``
    when given), one plane table per seed. May hold duplicates."""
    return functools.reduce(
        DataFrame.unionByName,
        [
            knn_join_bucketed(
                emb, k=edge_k, num_planes=num_planes, seed=s, dim=dim,
                corpus=corpus,
            ).select(F.col("qid").alias("src"), F.col("nid").alias("dst"))
            for s in seeds
        ],
    )


def build_route_graph(
    emb: DataFrame, edge_k: int = 3, seeds: tuple[int, ...] = (7, 11),
    num_planes: int | None = None, dim: int | None = None,
) -> DataFrame:
    """BUILD half of the graph-routed ANN: the (src, dst) neighbour
    graph — the union over ``seeds`` of each node's top-``edge_k``
    bucketed-LSH neighbours. This is the expensive side (the r9 scale
    soak measured build ~412 s vs search ~free at 500k vectors), so it
    is exposed separately: build once, ``persist()`` / eager-checkpoint
    the result, and route MANY query batches against it with
    :func:`route_on_graph` — the second batch pays search cost only
    (the amortization the r9 verdict asked for; certified by
    llm_ann_graph_route_reuse)."""
    edges = _lsh_edges(emb, edge_k, seeds, num_planes, dim).distinct()
    return edges.localCheckpoint(eager=False)  # scanned once per hop


def append_route_graph(
    emb: DataFrame, new_mod: int = 10,
    edge_k: int = 3, seeds: tuple[int, ...] = (7, 11),
    num_planes: int | None = None, dim: int | None = None,
) -> DataFrame:
    """INCREMENTAL index maintenance for the graph-routed ANN: link a
    NEW batch of vectors (``id % new_mod == 0``) into the graph built
    over the OLD corpus (the rest) WITHOUT recomputing old-old edges —
    the append path every production graph index (HNSW et al.) runs on
    ingest, vs the full rebuild :func:`build_route_graph` is.

    Deterministic contract (oracle-expressible):

    * old edges = :func:`build_route_graph` over the old subset only;
    * new out-edges = per seed, each new vector's bucketed top-
      ``edge_k`` neighbours among the FULL corpus (old + new, same
      pinned planes — a new vector may link to another new one);
    * back-links = the reverses of the new out-edges (the neighbour
      gains an edge pointing at the new vector — what keeps the new
      node REACHABLE by later walks, not just able to leave);
    * result = distinct union of the three sets.

    The appended graph intentionally differs from a full rebuild: old
    vectors keep their original top-k (a rebuild might evict an old
    neighbour for a closer new one); back-links are how the new batch
    becomes routable without touching old rankings. Cost: the append
    pays O(|new| x bucket density) — never O(|old|^2) — so continuous
    ingest amortizes exactly like build-once/route-many does for
    queries (SCALE_SOAK round 10)."""
    old = emb.filter(F.col(ID_COL) % new_mod != 0)
    new = emb.filter(F.col(ID_COL) % new_mod == 0)
    old_edges = build_route_graph(
        old, edge_k=edge_k, seeds=seeds, num_planes=num_planes, dim=dim,
    )
    new_out = _lsh_edges(new, edge_k, seeds, num_planes, dim, corpus=emb)
    return old_edges.unionByName(undirected(new_out)).distinct()


#: rows of walk state one checkpoint partition holds before a second is
#: added — ~40-byte (query_id, nid, cos_sim) rows, so 100k rows ≈ 4 MB.
WALK_STATE_ROWS_PER_PARTITION = 100_000


def walk_state_partitions(n_rows: int) -> int:
    """Partition count for the beam walk's per-hop state checkpoints:
    ceil(n_rows / WALK_STATE_ROWS_PER_PARTITION), clamped to [1, 4096].
    The state is queries x beam rows; at bench scale that is ~1k rows
    -> 1 partition (a 32-partition layout scheduled 32 near-empty tasks
    per downstream scan, r13), while a production batch of 1e6 queries
    x beam 8 gets 80 partitions instead of funnelling through one task
    (ADVICE r13 / VERDICT r13 item 5 — the hard ``coalesce(1)`` was a
    local-mode assumption)."""
    return max(1, min(4096, -(-n_rows // WALK_STATE_ROWS_PER_PARTITION)))


def route_on_graph(
    emb: DataFrame, edges: DataFrame, k: int = 5,
    hops: int = 3, beam: int = 8, n_entries: int = 4, entry_mod: int = 16,
    query_mod: int = 25, query_rem: int | tuple[int, ...] = 0,
    entries: DataFrame | None = None,
) -> DataFrame:
    """SEARCH half of the graph-routed ANN: coarse entry layer + beam
    walk over a prebuilt ``edges`` graph (see :func:`build_route_graph`
    and :func:`graph_route_topk` for semantics). ``query_rem`` selects
    the query batch (``id % query_mod == query_rem``) so successive
    batches can replay over ONE build. ``entries`` optionally supplies
    the coarse routing layer as a persisted single-column (``nid``)
    table — the build-nightly/route-all-day deployment persists BOTH
    halves of the index (edges + entry sample) and this is how the
    reader hands them back (r10 verdict item 6; see
    plans/catalog_round11.py:llm_ann_graph_persist); when None the
    sample is derived from ``emb`` by ``id % entry_mod == 0`` as
    before.

    ``query_rem`` may be a TUPLE of remainders: every step of the walk
    (entry scoring, beam selection, frontier expansion, final top-k) is
    partitioned by ``query_id``, so queries never interact and routing
    N batches through one walk returns row-for-row what N separate
    calls return — while paying the per-hop job/checkpoint overhead
    once instead of N times (optimization round 13: the two-batch
    replay entry was job-count-bound, 143 jobs for ~1k tiny tasks)."""
    rems = (query_rem,) if isinstance(query_rem, int) else tuple(query_rem)
    e = _embeddings(emb)
    nodes = e.select(
        F.col(ID_COL).alias("nid"), F.col("v").alias("nv"),
        norm(F.col("v")).alias("nn"),
    )
    queries = e.filter((F.col(ID_COL) % query_mod).isin(list(rems))).select(
        F.col(ID_COL).alias("query_id"), F.col("v").alias("qv"),
        norm(F.col("v")).alias("qn"),
    # O(query batch) rows, broadcast into score() once per hop plus the
    # entry layer — pin it so each consumer reads one materialization
    # instead of re-running the corpus scan + filter + norm (the frame
    # is control-plane-sized at any corpus scale; the CORPUS-sized
    # `nodes` frame is deliberately NOT cached here — see route's
    # docstring, the persisted-index entries hand it in from storage)
    ).localCheckpoint(eager=False)
    sample = (
        entries.select("nid")
        if entries is not None
        else e.filter(F.col(ID_COL) % entry_mod == 0).select(
            F.col(ID_COL).alias("nid")
        )
    )

    def score(cand: DataFrame) -> DataFrame:
        """(query_id, nid) -> + rounded cosine; both joins broadcast the
        tiny candidate/query side against the node table."""
        return (
            cand.join(nodes, "nid")
            .join(F.broadcast(queries), "query_id")
            .filter(F.col("nid") != F.col("query_id"))
            .select("query_id", "nid", _cos("qv", "nv", "qn", "nn").alias("cos_sim"))
        )

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("nid")
    )
    # coarse layer: every query scores the sample, keeps its best
    # n_entries as entry points (per-query, so the walk starts in the
    # right region of a clustered corpus)
    seen = (
        score(queries.select("query_id").crossJoin(F.broadcast(sample)))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_entries)
        .drop("rk")
    )
    # expanded = nodes whose out-edges were already followed for this
    # query; excluding them from the next frontier makes each hop
    # explore NEW ground (without it the top-beam re-expands the same
    # nodes every round and the walk stalls one hop from the entries)
    expanded = seen.select("query_id", "nid").limit(0)
    # Walk-state partition count, derived from the state SIZE instead of
    # a constant (ADVICE r13 / VERDICT r13 item 5): the per-hop state is
    # <= n_queries x (n_entries + hops x beam x edge-fanout) rows of
    # ~40 bytes.  At bench scale that is ~1k rows -> 1 partition (the
    # r13 finding: a 32-partition layout scheduled 32 near-empty tasks
    # per downstream scan); at a production batch of 1e6 queries the
    # count grows linearly so no single task funnels the whole state.
    # The count() runs once per walk and doubles as the materialization
    # of the lazily-checkpointed ``queries`` frame, which every hop's
    # score() broadcast was going to force anyway.
    n_queries = queries.count()
    state_parts = walk_state_partitions(n_queries * beam)
    for _ in range(hops):
        # EAGER checkpoints: the per-hop state is queries x beam rows
        # (tiny), but its LAZY lineage is a nested window/anti-join/
        # union tree that doubles per hop — materializing each round
        # keeps the driver's planning cost linear in hops (measured
        # 61 s -> ~8 s at sf0.01 on local[8]).
        seen = seen.coalesce(state_parts).localCheckpoint(eager=True)
        frontier = (
            seen.join(expanded, ["query_id", "nid"], "left_anti")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= beam)
            .select("query_id", "nid")
            # EAGER checkpoint of the hop's frontier (VERDICT r13 item
            # 3): ``expanded`` — the union of every prior frontier — is
            # consumed by the anti-join above on EVERY later hop, and
            # ``frontier`` itself by two consumers (the union and the
            # edge join below).  Round 13 removed this materialization
            # and each hop re-executed all earlier frontier window/
            # anti-join subtrees inside one big job: route regressed in
            # BOTH the driver window (2.03x raw) and the builder's own
            # clean stamp (1.21x raw) despite halved job counts.
            # Checkpointing the per-hop frontier (queries x beam rows —
            # strictly smaller than r12's full-``expanded`` checkpoint)
            # makes ``expanded`` a union of already-materialized RDDs:
            # one extra tiny job per hop buys zero recomputation.
            .localCheckpoint(eager=True)
        )
        expanded = expanded.unionByName(frontier)
        # No ``.distinct()`` on the candidate set (VERDICT r13 item 7 —
        # fewer exchanges per hop): duplicate (query_id, nid) candidates
        # (several frontier nodes sharing an out-neighbour) score to
        # IDENTICAL rows (same rounded cosine), and the dropDuplicates
        # below already folds them — the dedup exchange per hop bought
        # nothing but a stage. Scoring the few duplicates is broadcast-
        # join work, far cheaper than the exchange it replaces.
        new = (
            F.broadcast(frontier)
            .join(edges, frontier["nid"] == edges["src"])
            .select("query_id", F.col("dst").alias("nid"))
        )
        seen = (
            seen.unionByName(score(new))
            .dropDuplicates(["query_id", "nid"])
        )
    return _top_per_query(seen, k, "query_id")


def kcenter_coreset(
    emb: DataFrame, k: int, m: int = 1, seed_id: int = 0,
) -> DataFrame:
    """k-center coreset by (batched) farthest-point traversal
    (Gonzalez 1985). ``m=1`` is the pure greedy: each corpus scan adds
    the single point whose max cosine to the selected set is smallest
    (ties on id) — k-1 scans for a k-point coreset. ``m>1`` is the
    batched form (r10 verdict item 4): each scan adds the ``m`` most
    uncovered points judged against the selected set AS OF the scan
    start, cutting the scan count to ceil((k-1)/m) at the standard
    batched-farthest-point price — batch members are chosen blind to
    each other, so one batch can contain mutually-close points pure
    Gonzalez would have spread. Every scan is one corpus pass against
    the broadcast selected set (<= k rows) ending in a TakeOrdered(m);
    pairs are never materialized corpus-wide. Returns
    (rank, id, maxsim): rank in selection order (within a batch, by
    (maxsim, id)), maxsim = coverage at selection time — the radius
    curve. Scan count: ceil((k-1)/m) — the dial that makes k=1024
    affordable (m=32 -> 32 scans, not 1023). If ``k`` exceeds the
    corpus size the traversal stops when the corpus is exhausted and
    returns every vector (fewer than k rows) rather than spinning on
    empty scans (review r11 — the pre-refactor code crashed here)."""
    e = _embeddings(emb).localCheckpoint(eager=False)  # scanned once per batch
    seed_rows = e.filter(F.col(ID_COL) == seed_id).collect()
    if not seed_rows:  # empty corpus or absent seed (ADVICE r11)
        raise ValueError(
            f"kcenter_coreset: seed {ID_COL}={seed_id} not present in "
            "the corpus (or the corpus is empty)"
        )
    first = seed_rows[0]
    picked = [(1, int(first[ID_COL]), 1.0)]
    sel = [(int(first[ID_COL]), first["v"])]
    while len(picked) < k:
        take = min(m, k - len(picked))
        sel_df = F.broadcast(
            e.sparkSession.createDataFrame(
                sel, "sid long, sv array<double>"
            )
        )
        batch = (
            e.filter(~F.col(ID_COL).isin([s[0] for s in sel]))
            .crossJoin(sel_df)
            .groupBy(ID_COL)
            .agg(
                F.max(
                    F.round(cosine(F.col("v"), F.col("sv")), COS_DP)
                ).alias("ms")
            )
            .orderBy("ms", ID_COL)
            .limit(take)
            .join(e, ID_COL)
            .collect()
        )
        if not batch:  # k > corpus size: nothing left to select
            break
        # the limit->join can reorder the batch; rank follows the same
        # (ms, vec_id) order the unrolled oracle's row_number uses
        for row in sorted(batch, key=lambda r: (r["ms"], r[ID_COL])):
            picked.append(
                (len(picked) + 1, int(row[ID_COL]), float(row["ms"]))
            )
            sel.append((int(row[ID_COL]), row["v"]))
    out = e.sparkSession.createDataFrame(
        picked, "rank int, vec_id long, maxsim double"
    )
    return out.select("rank", ID_COL, F.round("maxsim", COS_DP).alias("maxsim"))


def rrf_fuse(rankings: list[DataFrame], k0: int = 60, k: int = 10) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of N ranked lists into one:
    ``score(d) = sum over systems of 1 / (k0 + rank_s(d))`` — the standard
    way hybrid retrieval merges a lexical (BM25) and a vector (cosine)
    ranking without score calibration, and the candidate-merge step a
    training-data curation pipeline runs before dedup/selection.

    Each input must carry ``(doc_id, rank)`` with rank 1-based. The
    contribution is fixed-pointed per (system, rank) as
    ``floor(1e9 / (k0 + rank))`` BEFORE summing, so the fused score is an
    exact integer — identical across engines regardless of float addition
    order. Ties break on ascending id.

    SCALE: ranked lists are top-N outputs (thousands of rows at most), so
    the outer joins are broadcast-sized by construction; the heavy work
    lives in the upstream rankers. No corpus-sized state here.
    """
    contrib = (
        F.floor(F.lit(1_000_000_000) / (F.lit(k0) + F.col("rank")))
        .cast("long")
        .alias("contrib")
    )
    parts = [r.select(F.col("doc_id"), contrib) for r in rankings]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    fused = allc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_systems"),
        F.sum("contrib").alias("rrf9"),
    )
    return fused.orderBy(F.desc("rrf9"), F.asc("doc_id")).limit(k)


def precision_recall_at_k(
    ranked: DataFrame, positives: DataFrame, cutoffs: list[int],
) -> DataFrame:
    """Precision@K / recall@K sweep for a ranked retrieval list against a
    binary relevance table — the eval readout any retrieval/dedup ranker
    ships with. ``ranked`` carries ``(vec_id, rank)`` (1-based, top-N
    only); ``positives`` carries the ids of ALL relevant items.

    tp@K is a running sum over the ranked list (a window over at most
    max(cutoffs) rows — the list is a top-N, never the corpus, so the
    single-partition window is bounded by construction); the positive
    total is one global aggregate broadcast back. Ratios are
    fixed-pointed to 1e-6 AFTER the integer counts, so both engines
    agree exactly.
    """
    max_k = max(cutoffs)
    pos = positives.select(F.col(ID_COL), F.lit(1).alias("rel"))
    marked = (
        ranked.filter(F.col("rank") <= max_k)
        .join(F.broadcast(pos), ID_COL, "left")
        .select("rank", F.coalesce(F.col("rel"), F.lit(0)).alias("rel"))
    )
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    run = marked.select(
        "rank", F.sum("rel").over(w).cast("long").alias("tp")
    )
    cuts = run.filter(
        F.col("rank").isin([int(c) for c in cutoffs])
    ).select(F.col("rank").alias("k"), "tp")
    n_pos = positives.agg(F.count(F.lit(1)).cast("long").alias("n_pos"))
    return (
        cuts.crossJoin(F.broadcast(n_pos))
        .select(
            "k",
            "tp",
            F.floor(F.col("tp") * 1_000_000.0 / F.col("k") + F.lit(0.5))
            .cast("long")
            .alias("precision6"),
            F.floor(
                F.col("tp") * 1_000_000.0 / F.col("n_pos") + F.lit(0.5)
            )
            .cast("long")
            .alias("recall6"),
        )
        .orderBy("k")
    )


def ndcg_at_k(
    ranked: DataFrame,
    labels: DataFrame,
    discounts: list[tuple[int, float]],
    cutoffs: list[int],
) -> DataFrame:
    """nDCG@K sweep with GRADED relevance — the ranking-quality readout
    for a retrieval/curation ranker when relevance isn't binary.

    ``ranked`` carries ``(vec_id, rank)`` (1-based top-N); ``labels``
    maps every ``vec_id`` to an integer gain ``label``; ``discounts`` is
    the ``rank -> 1/log2(rank+1)`` table PRECOMPUTED in Python and passed
    in as literals — the SQL oracle injects the same repr-round-tripped
    constants, so neither engine evaluates a transcendental and the
    JVM-vs-libm 1-ulp class is gone at the source. Per-rank
    contributions fixed-point to 1e-6 BEFORE summing (gain * discount
    is one double multiply on bit-identical operands), so DCG/IDCG are
    exact integer running sums and nDCG an integer-ratio readout.

    The ideal ranking re-ranks the LABEL table by gain descending —
    a TakeOrdered top-N like the actual ranking; all windows run over
    max(cutoffs) rows, never the corpus.
    """
    spark = ranked.sparkSession
    max_k = max(cutoffs)
    disc = spark.createDataFrame(discounts, "rank long, disc double")
    contrib = (
        F.floor(
            F.lit(1_000_000.0) * F.col("label") * F.col("disc")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("c6")
    )
    actual = (
        ranked.filter(F.col("rank") <= max_k)
        .join(labels, ID_COL)
        .join(F.broadcast(disc), "rank")
        .select("rank", contrib)
    )
    ideal = (
        labels.filter(F.col(ID_COL).isNotNull())
        .orderBy(F.desc("label"), F.asc(ID_COL))
        .limit(max_k)
        .select(
            F.col("label"),
            F.row_number()
            .over(Window.orderBy(F.desc("label"), F.asc(ID_COL)))
            .alias("rank"),
        )
        .join(F.broadcast(disc), "rank")
        .select("rank", contrib)
    )
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    run = (
        actual.join(
            ideal.select(F.col("rank"), F.col("c6").alias("ic6")), "rank"
        )
        .select(
            "rank",
            F.sum("c6").over(w).cast("long").alias("dcg6"),
            F.sum("ic6").over(w).cast("long").alias("idcg6"),
        )
    )
    return (
        run.filter(F.col("rank").isin([int(c) for c in cutoffs]))
        .select(
            F.col("rank").alias("k"),
            "dcg6",
            "idcg6",
            F.floor(
                F.lit(1_000_000.0) * F.col("dcg6") / F.col("idcg6")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("ndcg6"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# IVF and IVF-PQ index kernels
# ---------------------------------------------------------------------------


def ivf_assign_cells(e: DataFrame, cents: DataFrame) -> DataFrame:
    """The IVF E-step, the one copy every IVF path uses: assign every
    ``(vec_id, v)`` vector to its argmax-cosine ``(cid, cv)`` centroid
    cell — similarity rounded to ``ASSIGN_DP`` BEFORE the argmax, ties to
    the larger cid (a max over ``(asim, cid)`` structs), so every engine
    (and the SQL oracle's row_number mirror) picks identically. One
    O(n*K) broadcast pass + a per-vector partial-agg: the shuffle
    carries ``(id, asim, cid)`` triples, never the vectors. Returns
    ``(vec_id, cell)``."""
    return (
        e.withColumn("nrm", norm(F.col("v")))
        .crossJoin(F.broadcast(cents.withColumn("ncv", norm(F.col("cv")))))
        .select(ID_COL, "cid", _cos("v", "cv", "nrm", "ncv", ASSIGN_DP).alias("asim"))
        .groupBy(ID_COL)
        .agg(F.max(F.struct("asim", "cid"))["cid"].alias("cell"))
    )


def _component_means(df: DataFrame, key: str) -> DataFrame:
    """The M-step, ``(key, pos, m)``: per ``key``, the mean of each
    component of the array column ``v``, rounded to ``CENT_DP`` so both
    engines carry bit-identical centroids into the next assignment. A
    posexplode + one partial-agg shuffle keyed on ``(key, pos)``:
    O(rows*d) components in, O(keys*d) rows out."""
    return (
        df.select(key, F.posexplode("v").alias("pos", "x"))
        .groupBy(key, "pos")
        .agg(F.round(F.avg("x"), CENT_DP).alias("m"))
    )


def _mean_arrays(means: DataFrame, key: str, out: str) -> DataFrame:
    """``(key, out)``: :func:`_component_means` rows reassembled into one
    array per key in position order — array_sort(collect_list(struct)),
    no driver collect."""
    return (
        means.groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(key, F.transform("pm", lambda s: s["m"]).alias(out))
    )


def lloyd_refine(e: DataFrame, cents: DataFrame, iters: int = 1) -> DataFrame:
    """Lloyd-refine a ``(cid, cv)`` centroid frame over ``(vec_id, v)``
    vectors — the package's k-means (r12 verdict item 3: balanced cells
    are what make nprobe/K scan economics hold on skewed corpora; the
    md5-ordered seed set leaves cell sizes uncontrolled).

    Each iteration: E-step = :func:`ivf_assign_cells`; M-step =
    :func:`_component_means` per cell, reassembled into arrays by
    :func:`_mean_arrays`. Empty cells keep their previous centroid.
    Fully declarative — no driver collect at all. Scale shape: every
    iteration is O(n*K) assignment + one shuffle of O(n*d) components
    partial-aggregated to O(K*d) rows.
    """
    for _ in range(iters):
        means = _component_means(e.join(ivf_assign_cells(e, cents), ID_COL), "cell")
        refined = _mean_arrays(means, "cell", "rcv").select(
            F.col("cell").alias("cid"), "rcv"
        )
        cents = cents.join(refined, "cid", "left").select(
            "cid", F.coalesce("rcv", "cv").alias("cv")
        )
    return cents


def _seed_codebook(e: DataFrame, n_codes: int) -> DataFrame:
    """``(code, cv)``: the first ``n_codes`` vectors by id as the PQ seed
    codebook, codes 1-based to match array_position/list_position."""
    return e.orderBy(ID_COL).limit(n_codes).select(
        F.row_number().over(Window.orderBy(ID_COL)).alias("code"),
        F.col("v").alias("cv"),
    )


def _pq_codes(e: DataFrame, cb: DataFrame, n_blocks: int, sub: int) -> DataFrame:
    """``(vec_id, code_0..code_{B-1})``: per block, the ``(code, cv)``
    codebook entry nearest by rounded block L2, ties to the lower code
    (a min over ``(dist, code)`` structs). One broadcast scoring pass
    against the small codebook + one per-vector partial aggregation."""
    scored = e.crossJoin(F.broadcast(cb)).select(
        ID_COL,
        "code",
        *[
            _l2(_block("v", bi, sub), _block("cv", bi, sub)).alias(f"d_{bi}")
            for bi in range(n_blocks)
        ],
    )
    return scored.groupBy(ID_COL).agg(
        *[
            F.min(F.struct(F.col(f"d_{bi}"), F.col("code")))["code"]
            .alias(f"code_{bi}")
            for bi in range(n_blocks)
        ]
    )


def pq_train_blocks(
    e: DataFrame, cb: DataFrame, n_blocks: int = 4, dim: int | None = None,
) -> DataFrame:
    """One k-means iteration PER BLOCK on a PQ codebook — the product-
    quantization analogue of :func:`lloyd_refine`: each code's block-
    ``bi`` codeword moves to the mean of the subvectors assigned to it
    (assignment = :func:`_pq_codes`, the exact rule
    :func:`ivf_pq_encode` ranks with), means rounded to ``CENT_DP`` so
    the oracle carries bit-identical codewords. Blocks train
    INDEPENDENTLY (that is what makes PQ codes multiplicative: 8 codes x
    4 blocks = 4096 distinct reconstructions from 32 codewords), so the
    returned frame keeps the ``(code, cv)`` shape — ``cv``'s block
    ``bi`` slice is block ``bi``'s trained codeword — and every
    downstream kernel (encode / LUT / ADC) runs unchanged on it. Codes
    that capture no vectors in a block keep their seed slice.

    Measured on the isotropic synthetic corpus (sf0.01, SCALE_SOAK
    round 13): recall@5 of the production config triples (0.02 -> 0.06
    at nprobe=2; 0.08 -> 0.14 scanning every cell) — the quantization
    loss the recall gate exposed is exactly what this trains away.

    Scale shape: one O(n*codes) broadcast scoring pass (shared with
    encode) + n_blocks posexplode partial-agg shuffles bounded at
    codes x dim/n_blocks output rows each; the codebook never leaves
    the executors.
    """
    if dim is None:
        dim = _infer_dim(e)
    sub = dim // n_blocks
    ecb = e.join(_pq_codes(e, cb, n_blocks, sub), ID_COL)
    out = cb
    for bi in range(n_blocks):
        blk = ecb.select(
            F.col(f"code_{bi}").alias("code"), _block("v", bi, sub).alias("v")
        )
        out = out.join(
            _mean_arrays(_component_means(blk, "code"), "code", f"blk_{bi}"),
            "code", "left",
        )
    # O(codes) rows consumed by BOTH the encode pass and the ADC LUT —
    # pin the training result so each consumer doesn't re-run the
    # scoring pass + n_blocks posexplode shuffles (opt round 13: the
    # recall_trained plan carried the whole training subtree twice,
    # 132 Exchange nodes / 64 scans in one plan before this)
    return out.select(
        "code",
        F.flatten(
            F.array(
                *[
                    F.coalesce(F.col(f"blk_{bi}"), _block("cv", bi, sub))
                    for bi in range(n_blocks)
                ]
            )
        ).alias("cv"),
    ).localCheckpoint(eager=False)


def ivf_pq_build(
    emb: DataFrame, num_centroids: int = 32, n_blocks: int = 4,
    n_codes: int = 8, dim: int | None = None, lloyd_iters: int = 0,
):
    """TRAIN + ENCODE for the persisted IVF-PQ index: returns
    ``(index, cents, cb)`` where ``index`` is the encoded corpus
    ``(vec_id, code_0..code_{B-1}, cell)`` ready for
    ``storage.write_bucketed(partition_cols=["cell"])``, ``cents`` the
    ``(cid, cv)`` IVF centroid frame (:func:`fixed_centroids` seeds;
    ``lloyd_iters`` > 0 k-means-refines the seed set via
    :func:`lloyd_refine`, which bounds the largest cell — the persisted
    production index sets 1), and ``cb`` the ``(code, cv)`` PQ codebook
    with 1-based codes matching array_position/list_position.

    Scale shape: one O(n*K) broadcast argmax pass for cells + one
    O(n*codes) broadcast pass for codes (:func:`ivf_pq_encode`); both
    round before their arg-extremum (ties: larger cid, lower code) so
    the oracle picks identically. Each Lloyd iteration adds one more
    O(n*K) assignment + one O(n*d) component shuffle partial-aggregated
    to O(K*d) rows. Shared by ``llm_ann_ivf_pq_persist`` and the
    round-12 soak.
    """
    e = _embeddings(emb)
    if dim is None:
        dim = _infer_dim(e)
    cents = fixed_centroids(e, num_centroids)
    if lloyd_iters > 0:
        # consumed by the encode AND persisted/read separately: pin the
        # refinement result so each consumer doesn't re-run the E/M pass
        cents = lloyd_refine(e, cents, iters=lloyd_iters).localCheckpoint(eager=False)
    # n_codes rows consumed by encode + ADC LUT (+ codebook training in
    # the trained-recall twin): pin so each consumer doesn't re-run the
    # corpus sort/limit (see pq_train_blocks)
    cb = _seed_codebook(e, n_codes).localCheckpoint(eager=False)
    index = ivf_pq_encode(e, cents, cb, n_blocks=n_blocks, dim=dim)
    return index, cents, cb


def ivf_pq_encode(
    e: DataFrame, cents: DataFrame, cb: DataFrame, n_blocks: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Encode ``(vec_id, v)`` vectors against FROZEN index artifacts —
    the daily-ingest half of the persisted-index lifecycle: new vectors
    must be assigned/quantized with the centroids and codebook the
    index was TRAINED with (typically read back from storage), never a
    codebook re-derived from the ingest batch (which would silently
    make old and new codes incomparable). :func:`ivf_pq_build` is this
    function applied to training-time artifacts.

    Cells come from :func:`ivf_assign_cells` and codes from
    :func:`_pq_codes`; both round before the extremum, mirroring the
    oracle's row_number/list_position. Map-only against two broadcast
    frames — zero shuffles besides the per-vector groupBys' partial
    aggregation.
    """
    if dim is None:
        dim = _infer_dim(e)
    codes = _pq_codes(e, cb, n_blocks, dim // n_blocks)
    return ivf_assign_cells(e, cents).join(codes, ID_COL).select(
        ID_COL, *[f"code_{bi}" for bi in range(n_blocks)], "cell"
    )


def _probe_ranks(qs: DataFrame, cents: DataFrame) -> DataFrame:
    """``(qid, cid, rn)``: every ``(cid, cv)`` centroid ranked per
    ``(qid, qv, qn)`` query by rounded cosine (``ASSIGN_DP``), ties to
    the larger cid — the IVF probe order. The K-row centroid frame is
    broadcast against the query batch; the window holds K rows per
    query."""
    w = Window.partitionBy("qid").orderBy(F.desc("qsim"), F.desc("cid"))
    return (
        qs.crossJoin(F.broadcast(cents.withColumn("ncv", norm(F.col("cv")))))
        .select("qid", "cid", _cos("cv", "qv", "ncv", "qn", ASSIGN_DP).alias("qsim"))
        .withColumn("rn", F.row_number().over(w))
    )


def _pq_luts(qs: DataFrame, cb: DataFrame, n_blocks: int, sub: int) -> DataFrame:
    """``(qid, code, ld_0..ld_{B-1})``: the ADC lookup table, one rounded
    block L2 per (query, codebook entry, block) against the broadcast
    codebook."""
    return qs.crossJoin(F.broadcast(cb)).select(
        "qid",
        "code",
        *[
            _l2(_block("qv", bi, sub), _block("cv", bi, sub)).alias(f"ld_{bi}")
            for bi in range(n_blocks)
        ],
    )


def _adc(cand: DataFrame, luts: DataFrame, n_blocks: int, *keep: str) -> DataFrame:
    """``(qid, *keep, vec_id, adc_dist)`` for ``(qid, vec_id,
    code_0..)`` candidates: one broadcast LUT join per block, the
    ``n_blocks`` lookups summed left to right and rounded to
    ``DIST_DP``; a query never scores itself."""
    for bi in range(n_blocks):
        # LUT-side key columns get block-local aliases (q{bi}/c{bi}) so
        # the join never leaves a duplicate code_{bi} in the candidate
        # frame — downstream name-based references stay unambiguous
        lb = luts.select(
            F.col("qid").alias(f"q{bi}"),
            F.col("code").alias(f"c{bi}"),
            f"ld_{bi}",
        )
        cand = cand.join(
            F.broadcast(lb),
            (F.col("qid") == F.col(f"q{bi}"))
            & (F.col(f"code_{bi}") == F.col(f"c{bi}")),
        ).drop(f"q{bi}", f"c{bi}")
    adc = F.lit(0.0)
    for bi in range(n_blocks):
        adc = adc + F.col(f"ld_{bi}")
    return cand.filter(F.col(ID_COL) != F.col("qid")).select(
        "qid", *keep, ID_COL, F.round(adc, DIST_DP).alias("adc_dist")
    )


def ivf_pq_adc_search(
    queries: DataFrame, codes: DataFrame, cents: DataFrame, cb: DataFrame,
    dim: int, n_blocks: int = 4, nprobe: int = 2, topk: int = 5,
) -> DataFrame:
    """ADC search over a (typically read-back) IVF-PQ index.

    ``queries`` is ``(qid, qv)`` full-precision query vectors; ``codes``
    / ``cents`` / ``cb`` are the stored index artifacts (the caller
    reads them back — this function never touches the original corpus
    floats, the asymmetric-distance contract).

    Plan shape, scale-first: (1) probe — :func:`_probe_ranks`, top-
    ``nprobe`` cells per query; (2) a bounded O(K) collect of the
    DISTINCT probed cells becomes a literal IN filter, so the index scan
    prunes unprobed cell PARTITIONS at plan time (PartitionFilters — the
    point of persisting partitioned by cell); (3) the per-query LUT
    (:func:`_pq_luts`, ``queries x codes`` rows) is materialized once
    and broadcast into one join per block (:func:`_adc`); (4) per-
    candidate distance is ranked per query by (adc_dist, vec_id) —
    TakeOrdered semantics via row_number <= topk. Returns ``(qid,
    vec_id, rnk, adc_dist)``.
    """
    qs = queries.select("qid", "qv", norm(F.col("qv")).alias("qn"))
    probe = (
        _probe_ranks(qs, cents)
        .filter(F.col("rn") <= nprobe)
        .select("qid", "cid")
        .localCheckpoint(eager=True)  # consumed twice: cell list + join
    )
    probed_cells = sorted(
        r["cid"] for r in probe.select("cid").distinct().collect()
    )
    # consumed once per block join: materialize the O(queries x codes)
    # LUT once instead of re-scanning the query batch + codebook
    # n_blocks times
    luts = _pq_luts(qs, cb, n_blocks, dim // n_blocks).localCheckpoint(eager=False)
    cand = codes.filter(F.col("cell").isin(probed_cells)).join(
        F.broadcast(probe), codes["cell"] == probe["cid"]
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc(ID_COL))
    return (
        _adc(cand, luts, n_blocks)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("qid", ID_COL, "rnk", "adc_dist")
    )
