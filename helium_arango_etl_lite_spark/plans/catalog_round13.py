"""Round-13 catalog: recall evaluation for the persisted quantized ANN
path + the batch=stream quantile sketch (r12 verdict items 2 and 5).

* ``llm_ann_ivf_pq_recall`` — recall@k of the IVF-PQ ADC search against
  the exact brute-force top-k, per query (r12 verdict item 2): the
  persisted quantized index became the production-shaped ANN path in
  round 12, but its only in-catalog quality measure was reconstruction
  MSE (``llm_quantize_pq``), which is a codebook property, not an
  answer-quality one. This entry runs the SAME build (shared
  ``ivf_pq_build`` kernel, same K/blocks/codes/nprobe/topk/Lloyd
  parameters as ``llm_ann_ivf_pq_persist`` — the artifacts are
  deterministic, so the in-memory index is identical to the persisted
  one) and overlays its ADC top-k with the exact top-k from
  ``knn_join_sampled`` (the inverted-broadcast exact kernel that stays
  linear in corpus size). The recall floor is pinned by test
  (tests/test_round13_ops.py) so a regression in the quantizer or the
  probe policy fails the suite, not just drifts a number.

* ``stream_quantiles_replay`` — the mergeable 128-bin histogram sketch
  (``agg_histogram_quantiles``) maintained in ``applyInPandasWithState``
  per-bin state across three micro-batches (r12 verdict item 5): the
  CMS heavy-hitters pattern (catalog_round12) applied to quantiles —
  bin increments are MAP-SIDE COMBINED before the state store so the
  stateful input is bounded at the bin count per batch, state holds
  exactly the bin table, and the replayed sketch must hash-equal the
  one-shot batch sketch. The oracle IS the batch entry's SQL —
  batch=stream equivalence extended from sums/CUSUM/CDC/CMS to
  quantile sketches.

* ``stream_hll_replay`` — the from-first-principles HLL registers of
  ``agg_hll_distinct`` maintained in per-register state: the CMS/
  histogram twins certify SUM-mergeable state; HLL registers merge by
  MAX — idempotent and order-free (duplicate batch delivery cannot
  corrupt the sketch, pinned by test), extending batch=stream along a
  second merge-algebra axis.

* ``llm_ivf_cell_stats`` — the Lloyd cell-balance claim driver-hashed:
  max/median/total cell sizes of the seed assignment vs the refined
  assignment in one output, so the "refinement trims the tail cell"
  statement is certified by value hash, not just a soak table.

* ``llm_pq_train_codebook`` / ``llm_ann_ivf_pq_recall_trained`` — the
  lever the recall gate pointed at: one k-means iteration per PQ block
  (``pq_train_blocks``), codebook value-hashed component-wise, and a
  controlled recall twin differing from ``llm_ann_ivf_pq_recall`` ONLY
  in the codebook — measured at sf0.01 it triples production-config
  recall (0.02 -> 0.06 at nprobe=2; 0.08 -> 0.14 scanning every cell).

* ``llm_ann_ivf_pq_recall_sweep`` — the probe/quantization
  decomposition as one hashed curve (nprobe 2/8/32 from ONE candidate
  scan: candidates carry their cell's probe rank, each nprobe is a
  filter against a 3-row frame — the capacity-planning query that
  picks nprobe/K economics before a deployment).

Reference parity note: the reference ETL (follower.py:55-294) has no
index-evaluation or sketch surface; these entries are scale-path
operators beyond the reference's 633-LoC feature set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog_llm import EMB_DIM, IVF_K
from .catalog_round5 import (
    _adc_lut_sql, _pq_block_sql, _PQ_BLOCKS, _PQ_CODES,
)
from .catalog_round5b import _HQ_BINS, _HQ_QUANTILES, _HQ_SQL, _recall_overlay
from .catalog_round12 import (
    _COS6, _IPQ_LLOYD_ITERS, _IPQ_NPROBE, _IPQ_QMOD, _IPQ_TOPK,
    _ivf_pq_cand_sql, _lloyd_c_sql,
)
from .registry import load_table, register
from .replay import last_emission, run_replay

# ---------------------------------------------------------------------------
# recall@k for the quantized index (r12 verdict item 2)
# ---------------------------------------------------------------------------


def _recall_tail_sql() -> str:
    """From the ADC candidate relation ``cand``: top-k per query, exact
    brute-force top-k on the same query sample, and the per-query
    recall overlay — the tail both recall oracles share."""
    k = _IPQ_TOPK
    return f"""ap AS (SELECT qid, nid FROM (
    SELECT qid, vec_id AS nid,
           row_number() OVER (PARTITION BY qid
               ORDER BY adc_dist ASC, vec_id ASC) AS rnk
    FROM cand) WHERE rnk <= {k}),
px AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
              round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
       FROM e a JOIN e b ON a.vec_id <> b.vec_id
       WHERE a.vec_id % {_IPQ_QMOD} = 0),
ex AS (SELECT qid, nid FROM (
    SELECT qid, nid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, nid) AS rank
    FROM px) WHERE rank <= {k}),
cex AS (SELECT qid, count(*)::BIGINT AS n_exact FROM ex GROUP BY 1),
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


def _ivf_pq_recall_sql() -> str:
    return (
        f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_lloyd_c_sql('e')},
{_ivf_pq_cand_sql('e')},
{_recall_tail_sql()}"""
    )


@register(
    "llm_ann_ivf_pq_recall",
    _ivf_pq_recall_sql(),
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
        "tests/test_round13_ops.py.",
    tags=("llm", "similarity", "ann", "evaluation"),
)
def llm_ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.similarity import (
        _as_double, ivf_pq_adc_search, ivf_pq_build, knn_join_sampled,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    index, cents, cb = ivf_pq_build(
        emb, num_centroids=IVF_K, n_blocks=_PQ_BLOCKS, n_codes=_PQ_CODES,
        dim=EMB_DIM, lloyd_iters=_IPQ_LLOYD_ITERS,
    )
    qs = emb.select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    ).filter(F.col("qid") % _IPQ_QMOD == 0)
    approx = ivf_pq_adc_search(
        qs, index, cents, cb, dim=EMB_DIM, n_blocks=_PQ_BLOCKS,
        nprobe=_IPQ_NPROBE, topk=_IPQ_TOPK,
    ).select("qid", F.col("vec_id").alias("nid"))
    exact = knn_join_sampled(
        emb, k=_IPQ_TOPK, sample_mod=_IPQ_QMOD
    ).select("qid", "nid")
    return _recall_overlay(exact, approx)


# ---------------------------------------------------------------------------
# batch=stream for quantile sketches (r12 verdict item 5)
# ---------------------------------------------------------------------------


@register(
    "stream_quantiles_replay",
    _HQ_SQL,
    doc="Streaming quantile sketch (r12 verdict item 5): the mergeable "
        f"{_HQ_BINS}-bin histogram of agg_histogram_quantiles maintained "
        "in applyInPandasWithState per-bin state across three parquet "
        "micro-batches (l_orderkey % 3). A fixed-edge histogram IS a "
        "depth-1 Count-Min Sketch whose 'hash' is the bin function, so "
        "the stream reuses cms_cells_stream literally (d=0, b=bin) — "
        "the same state operator now certifies two sketch families. "
        "Each batch's rows are MAP-SIDE COMBINED to per-bin partial "
        f"counts before the state store (<= {_HQ_BINS} rows per batch "
        "regardless of row volume; exact — bin counts are additive), "
        "state holds exactly the touched bins, and the last update-mode "
        "emission per bin is the sketch. Bin edges are the train-time "
        "min/max (the production contract for a streaming histogram: "
        "edges are configuration, counts are state); the p50/90/95/99 "
        "readout is the batch entry's bounded <=128-row cumulative "
        "window, and the oracle IS the batch entry's SQL — the "
        "batch=stream equivalence family (totals, CUSUM, CDC, rollup, "
        "CMS) extended to quantile sketches "
        "(streaming/stateful.py:cms_cells_stream).",
    tags=("streaming", "stateful", "sketch", "agg", "quantiles"),
)
def stream_quantiles_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import cms_cells_stream

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
    )
    # train-time edges: one bounded 1-row aggregate, pinned so the
    # producer and the readout share identical arithmetic
    st = li.agg(
        F.min("pc").alias("minc"), F.max("pc").alias("maxc"),
        F.count("*").cast("long").alias("n"),
    ).localCheckpoint(eager=True)

    binned = li.crossJoin(F.broadcast(st)).withColumn(
        "bin", F.expr(f"((pc - minc) * {_HQ_BINS}) div (maxc - minc + 1)")
    ).persist()  # one execution for all three batch slices
    outs = run_replay(
        spark,
        "stream_hq",
        cms_cells_stream,
        [
            binned.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) == i)
            # map-side combine BEFORE the state store: each batch ships
            # <= _HQ_BINS pre-summed bin counts, never one row per line
            .groupBy(
                F.lit(0).cast("int").alias("d"),
                F.col("bin").cast("int").alias("b"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            for i in range(3)
        ],
    )
    binned.unpersist()
    bins = last_emission(outs, "d", "b").select(
        F.col("b").cast("long").alias("bin"),
        F.col("c").cast("long").alias("cnt"),
    )
    # bounded readout: <= _HQ_BINS rows ever enter this window
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.crossJoin(F.broadcast(st)).withColumn(
        "cum", F.sum("cnt").over(w).cast("long")
    )
    qv = spark.createDataFrame([(qq,) for qq in _HQ_QUANTILES], "q int")
    hits = cum.crossJoin(F.broadcast(qv)).filter(
        100 * F.col("cum") >= F.col("q") * F.col("n")
    )
    return hits.groupBy("q").agg(
        F.min("bin").cast("long").alias("bin"),
        F.round(
            (
                F.first("minc")
                + F.expr(
                    f"(min(bin) * (first(maxc) - first(minc) + 1)) div {_HQ_BINS}"
                )
            )
            / 100.0,
            2,
        ).alias("est_price"),
    )


# ---------------------------------------------------------------------------
# batch=stream for HLL registers (max-mergeable sketch state)
# ---------------------------------------------------------------------------


def _hll_replay_sql() -> str:
    from .catalog_round5 import _HLL_SQL

    return _HLL_SQL


@register(
    "stream_hll_replay",
    _hll_replay_sql(),
    doc="Streaming HyperLogLog distinct counts: the from-first-"
        "principles m=64 HLL of agg_hll_distinct maintained in "
        "applyInPandasWithState per-REGISTER state across three parquet "
        "micro-batches (event_id % 3). This extends the batch=stream "
        "sketch family along a new axis: CMS cells and histogram bins "
        "merge by SUM; HLL registers merge by MAX — idempotent and "
        "order-free, so replaying or reordering batches can never "
        "change the converged register (a strictly stronger merge "
        "contract, pinned by test). Each batch is pre-reduced to per-"
        "register partial maxima before the state store (<= groups x 64 "
        "rows per batch regardless of event volume — the map-side-"
        "combine discipline), state holds exactly the touched "
        "registers, and the distinct-count readout (integer-exact Z "
        "sum, small-range correction) runs batch-side over the last "
        "emission per register via the SAME hll_estimate kernel the "
        "batch entry uses. Oracle IS the batch entry's SQL "
        "(streaming/stateful.py:hll_registers_stream, "
        "operators/aggregates.py:hll_registers,hll_estimate).",
    tags=("streaming", "stateful", "sketch", "agg"),
)
def stream_hll_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import hll_estimate, hll_registers
    from ..streaming.stateful import hll_registers_stream
    from .registry import load_events

    en = load_events(spark, sf_dir)
    outs = run_replay(
        spark,
        "stream_hll",
        hll_registers_stream,
        [
            # map-side combine BEFORE the state store: each batch ships
            # <= groups x m partial register maxima, never one row per
            # event (max-merge makes the pre-reduction exact)
            hll_registers(
                en.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
                group="event_type", value="user_id",
            ).select(
                F.col("event_type").alias("g"),
                F.col("b").cast("long").alias("b"),
                F.col("r").cast("long").alias("r"),
            )
            for i in range(3)
        ],
    )
    regs = last_emission(outs, "g", "b").select(
        F.col("g").alias("event_type"), "b", "r"
    )
    return hll_estimate(regs, en, group="event_type", value="user_id")


# ---------------------------------------------------------------------------
# Lloyd cell balance, driver-hashed (seed vs refined assignment)
# ---------------------------------------------------------------------------


def _cell_stats_sql() -> str:
    # _lloyd_c_sql already defines asg0 (the SEED assignment) and c (the
    # refined centroids); only the refined assignment is added here.
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_lloyd_c_sql('e')},
asgr AS (SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                   c.cid DESC) AS rn
    FROM e, c) WHERE rn = 1),
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
FROM rk GROUP BY 1"""


@register(
    "llm_ivf_cell_stats",
    _cell_stats_sql(),
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
    from ..operators.llm.similarity import (
        _as_double, fixed_centroids, ivf_assign_cells, lloyd_refine,
    )

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
# trained PQ sub-codebooks (the lever the recall gate pointed at)
# ---------------------------------------------------------------------------

_PQ_SUB = EMB_DIM // _PQ_BLOCKS


def _pq_train_cte(corpus: str = "e") -> str:
    """CTE chain training the per-block PQ codebook — the SQL unroll of
    operators/llm/similarity.pq_train_blocks: seed codebook rows
    (``cbrow``), block-L2 assignment of every vector against the seed
    (``d0``/``codes0`` — the shared _pq_block_sql distances, argmin tie
    lower code via list_position/list_min), per-(code, block-dim) means
    rounded to 6dp (``mb{bi}``/``tb{bi}``), and the recomposed
    ``tcb (code, cv)`` where empty codes keep their seed slice."""
    blocks = range(_PQ_BLOCKS)
    d0 = ", ".join(
        f"{_pq_block_sql(bi)} AS db_{bi}" for bi in blocks
    )
    codes0 = ", ".join(
        f"list_position(db_{bi}, list_min(db_{bi})) AS code_{bi}"
        for bi in blocks
    )
    per_block = []
    for bi in blocks:
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
        for bi in blocks
    )
    tcb_joins = " ".join(
        f"LEFT JOIN tb{bi} ON tb{bi}.code = cbrow.code" for bi in blocks
    )
    return (
        f"""cbrow AS (SELECT row_number() OVER (ORDER BY vec_id) AS code, v AS cv
       FROM (SELECT vec_id, v FROM {corpus} ORDER BY vec_id LIMIT {_PQ_CODES})),
cb0 AS (SELECT list(cv ORDER BY code) AS cbs FROM cbrow),
d0 AS (SELECT vec_id, {d0} FROM {corpus}, cb0),
codes0 AS (SELECT vec_id, {codes0} FROM d0),
"""
        + ",\n".join(per_block)
        + f""",
tcb AS (SELECT cbrow.code, {tcb_cols} AS cv
        FROM cbrow {tcb_joins})"""
    )


def _pq_train_codebook_sql() -> str:
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_pq_train_cte('e')}
SELECT code, dim::BIGINT AS dim, val FROM (
    SELECT code, unnest(cv) AS val,
           unnest(generate_series(1, len(cv))) AS dim
    FROM tcb)"""


@register(
    "llm_pq_train_codebook",
    _pq_train_codebook_sql(),
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
    from ..operators.llm.similarity import _as_double, pq_train_blocks

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    cb = (
        e.orderBy("vec_id")
        .limit(_PQ_CODES)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("code"),
            F.col("v").alias("cv"),
        )
    )
    tcb = pq_train_blocks(e, cb, n_blocks=_PQ_BLOCKS, dim=EMB_DIM)
    return tcb.select(
        "code", F.posexplode("cv").alias("pos", "val")
    ).select("code", (F.col("pos") + 1).cast("long").alias("dim"), "val")


def _ivf_pq_recall_trained_sql() -> str:
    return (
        f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_lloyd_c_sql('e')},
{_pq_train_cte('e')},
{_ivf_pq_cand_sql('e', cb_sql='SELECT list(cv ORDER BY code) AS cbs FROM tcb')},
{_recall_tail_sql()}"""
    )


@register(
    "llm_ann_ivf_pq_recall_trained",
    _ivf_pq_recall_trained_sql(),
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
    from ..operators.llm.similarity import (
        _as_double, ivf_pq_adc_search, ivf_pq_build, ivf_pq_encode,
        knn_join_sampled, pq_train_blocks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    # index frame unused: build() is lazy, so only cents/cb materialize
    _, cents, cb = ivf_pq_build(
        emb, num_centroids=IVF_K, n_blocks=_PQ_BLOCKS, n_codes=_PQ_CODES,
        dim=EMB_DIM, lloyd_iters=_IPQ_LLOYD_ITERS,
    )
    tcb = pq_train_blocks(e, cb, n_blocks=_PQ_BLOCKS, dim=EMB_DIM)
    index = ivf_pq_encode(e, cents, tcb, n_blocks=_PQ_BLOCKS, dim=EMB_DIM)
    qs = emb.select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    ).filter(F.col("qid") % _IPQ_QMOD == 0)
    approx = ivf_pq_adc_search(
        qs, index, cents, tcb, dim=EMB_DIM, n_blocks=_PQ_BLOCKS,
        nprobe=_IPQ_NPROBE, topk=_IPQ_TOPK,
    ).select("qid", F.col("vec_id").alias("nid"))
    exact = knn_join_sampled(
        emb, k=_IPQ_TOPK, sample_mod=_IPQ_QMOD
    ).select("qid", "nid")
    return _recall_overlay(exact, approx)


# ---------------------------------------------------------------------------
# recall-vs-nprobe sweep: the probe/quantization decomposition, hashed
# ---------------------------------------------------------------------------

_SWEEP_NPROBES = (2, 8, 32)


def _ivf_pq_recall_sweep_sql() -> str:
    blocks = range(_PQ_BLOCKS)
    k = _IPQ_TOPK
    nps = ", ".join(str(p) for p in _SWEEP_NPROBES)
    return (
        f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_lloyd_c_sql('e')},
asg AS (SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_COS6.format(a='e.v', b='c.cv')} DESC, c.cid DESC) AS rn
    FROM e, c) WHERE rn = 1),
cb AS (SELECT list(v ORDER BY vec_id) AS cbs
       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_PQ_CODES})),
d AS (SELECT vec_id, """
        + ", ".join(f"{_pq_block_sql(bi)} AS db_{bi}" for bi in blocks)
        + """ FROM e, cb),
codes AS (SELECT vec_id, """
        + ", ".join(
            f"list_position(db_{bi}, list_min(db_{bi})) AS code_{bi}"
            for bi in blocks
        )
        + f""" FROM d),
qs AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {_IPQ_QMOD} = 0),
probe AS (SELECT qs.qid, c.cid,
                 row_number() OVER (PARTITION BY qs.qid
                     ORDER BY {_COS6.format(a='c.cv', b='qs.qv')} DESC,
                              c.cid DESC) AS cell_rn
          FROM qs, c),
luts AS (SELECT qid, """
        + ", ".join(f"{_adc_lut_sql(bi)} AS lut_{bi}" for bi in blocks)
        + """ FROM qs, cb),
cand AS (SELECT p.qid, p.cell_rn, a.vec_id,
                round("""
        + " + ".join(f"l.lut_{bi}[co.code_{bi}]" for bi in blocks)
        + f""", 6) AS adc_dist
         FROM probe p
              JOIN asg a ON a.cell = p.cid
              JOIN codes co ON co.vec_id = a.vec_id
              JOIN luts l ON l.qid = p.qid
         WHERE a.vec_id <> p.qid),
nps AS (SELECT unnest([{nps}]) AS nprobe),
ap AS (SELECT nprobe, qid, vec_id AS nid FROM (
    SELECT nps.nprobe, cand.qid, cand.vec_id,
           row_number() OVER (PARTITION BY nps.nprobe, cand.qid
               ORDER BY cand.adc_dist ASC, cand.vec_id ASC) AS rnk
    FROM cand JOIN nps ON cand.cell_rn <= nps.nprobe)
    WHERE rnk <= {k}),
px AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
              round(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
       FROM e a JOIN e b ON a.vec_id <> b.vec_id
       WHERE a.vec_id % {_IPQ_QMOD} = 0),
ex AS (SELECT qid, nid FROM (
    SELECT qid, nid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, nid) AS rank
    FROM px) WHERE rank <= {k}),
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
    )


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
    from ..operators.llm.similarity import (
        _as_double, dot, ivf_pq_build, knn_join_sampled, norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    index, cents, cb = ivf_pq_build(
        emb, num_centroids=IVF_K, n_blocks=_PQ_BLOCKS, n_codes=_PQ_CODES,
        dim=EMB_DIM, lloyd_iters=_IPQ_LLOYD_ITERS,
    )
    qs = emb.select(
        F.col("vec_id").alias("qid"), _as_double("embedding").alias("qv")
    ).filter(F.col("qid") % _IPQ_QMOD == 0)

    # probe ranks ALL K cells per query (cell_rn 1..K) — one pass
    probe = (
        qs.withColumn("qn", norm(F.col("qv")))
        .crossJoin(F.broadcast(cents.withColumn("ncv", norm(F.col("cv")))))
        .select(
            "qid",
            "cid",
            F.round(
                dot(F.col("cv"), F.col("qv")) / (F.col("ncv") * F.col("qn")),
                6,
            ).alias("qsim"),
        )
        .withColumn(
            "cell_rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.desc("qsim"), F.desc("cid")
                )
            ),
        )
        .select("qid", "cid", "cell_rn")
    )

    sub = EMB_DIM // _PQ_BLOCKS

    def lut_dist(bi: int):
        qsl = F.slice(F.col("qv"), bi * sub + 1, sub)
        csl = F.slice(F.col("cv"), bi * sub + 1, sub)
        return F.round(
            F.aggregate(
                F.zip_with(qsl, csl, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda s, x: s + x,
            ),
            6,
        )

    luts = qs.crossJoin(F.broadcast(cb)).select(
        "qid",
        "code",
        *[lut_dist(bi).alias(f"ld_{bi}") for bi in range(_PQ_BLOCKS)],
    )
    cand = index.join(F.broadcast(probe), index["cell"] == probe["cid"]).drop(
        "cid"
    )
    for bi in range(_PQ_BLOCKS):
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
    for bi in range(_PQ_BLOCKS):
        adc = adc + F.col(f"ld_{bi}")
    cand = cand.filter(F.col("vec_id") != F.col("qid")).select(
        "qid", "cell_rn", "vec_id", F.round(adc, 6).alias("adc_dist")
    ).localCheckpoint(eager=False)  # one scan feeds every nprobe filter

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
    exact = knn_join_sampled(
        emb, k=_IPQ_TOPK, sample_mod=_IPQ_QMOD
    ).select("qid", "nid")
    hits = (
        nps.crossJoin(exact)
        .join(ap, ["nprobe", "qid", "nid"], "left_outer")
        .groupBy("nprobe", "qid")
        .agg(F.count(ap["nid"]).cast("long").alias("n_hit"))
    )
    return hits.groupBy("nprobe").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg(F.col("n_hit") / F.lit(float(_IPQ_TOPK))), 4)
        .alias("mean_recall"),
    )
