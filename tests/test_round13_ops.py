"""Targeted tests for the round-13 entries — oracle parity covers value
equality; these pin what the compare can't see: the recall gate's
deterministic value (so a quantizer/probe regression fails the suite
instead of silently drifting a number), and lloyd_refine's contract
(balances the largest cell, keeps empty cells' seed centroids, rounds
every component to the oracle's 6dp).
"""
from __future__ import annotations

import pyspark.sql.functions as F

from helium_arango_etl_lite_spark.operators.llm.similarity import (
    _as_double,
    dot,
    fixed_centroids,
    lloyd_refine,
    norm,
)
from helium_arango_etl_lite_spark.plans.catalog_llm import IVF_K
from helium_arango_etl_lite_spark.plans.catalog_round12 import _IPQ_QMOD, _IPQ_TOPK
from helium_arango_etl_lite_spark.plans.catalog_round13 import llm_ann_ivf_pq_recall
from helium_arango_etl_lite_spark.plans.registry import load_table

# Measured deterministic recall@5 of the production IVF-PQ config
# (nprobe=2/32 Lloyd-refined cells, 8-code/4-block codebook) at
# sf0.001: the corpus is ISOTROPIC synthetic data, so exact neighbours
# spread uniformly over cells and the probe ceiling is ~nprobe/K ≈ 6%;
# decomposition measured at sf0.01: nprobe=2 → 0.02, nprobe=8 → 0.10,
# nprobe=32 (scan everything) → 0.08 — past nprobe≈8 the untrained
# 12-bit PQ code dominates the loss, not the probe. The pin is exact
# because the whole build/search chain is deterministic; update it
# deliberately when the quantizer or probe policy changes.
_RECALL_SF0001_MEAN = 0.06
_RECALL_FLOOR = 0.04  # regression gate: ≥ 2/3 of the probe ceiling


def test_ivf_pq_recall_pinned(spark, sf_dir):
    rows = llm_ann_ivf_pq_recall(spark, sf_dir).collect()
    assert rows, "recall entry returned no queries"
    for r in rows:
        assert r["qid"] % _IPQ_QMOD == 0
        assert r["n_exact"] == _IPQ_TOPK
        assert 0 <= r["n_hit"] <= r["n_exact"]
        assert r["n_approx"] <= _IPQ_TOPK
        assert 0.0 <= r["recall_at_k"] <= 1.0
    mean = sum(r["recall_at_k"] for r in rows) / len(rows)
    assert mean >= _RECALL_FLOOR, f"recall regressed: {mean}"
    assert abs(mean - _RECALL_SF0001_MEAN) < 1e-9, (
        f"deterministic recall moved ({mean} != {_RECALL_SF0001_MEAN}) — "
        "quantizer/probe changed; re-measure and update the pin"
    )


def _cell_sizes(e, cents):
    asg = (
        e.withColumn("nrm", norm(F.col("v")))
        .crossJoin(F.broadcast(cents.withColumn("ncv", norm(F.col("cv")))))
        .select(
            "vec_id",
            "cid",
            F.round(
                dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("ncv")), 6
            ).alias("s"),
        )
        .groupBy("vec_id")
        .agg(F.max(F.struct("s", "cid"))["cid"].alias("cell"))
    )
    return {r["cell"]: r["n"] for r in
            asg.groupBy("cell").agg(F.count("*").alias("n")).collect()}


def test_lloyd_refine_balances_largest_cell(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    seed = fixed_centroids(e, IVF_K)
    refined = lloyd_refine(e, seed, iters=1)
    assert refined.count() == IVF_K, "refinement must keep all K centroids"
    before = _cell_sizes(e, seed)
    after = _cell_sizes(e, refined)
    assert sum(before.values()) == sum(after.values())  # every vector assigned
    assert max(after.values()) <= max(before.values()), (
        f"Lloyd grew the largest cell: {max(before.values())} -> "
        f"{max(after.values())}"
    )


def test_lloyd_refine_rounds_every_component(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    refined = lloyd_refine(e, fixed_centroids(e, IVF_K), iters=1)
    for r in refined.collect():
        for x in r["cv"]:
            assert abs(x * 1e6 - round(x * 1e6)) < 1e-6, (
                f"centroid component {x} not rounded to 6dp — the oracle "
                "carries round(avg, 6) means, so both engines must"
            )


def test_lloyd_refine_empty_cell_keeps_seed(spark):
    # two identical vectors both in the seed set: every point ties on
    # cosine and assigns to the LARGER cid, so the smaller's cell is
    # empty after the E-step and must keep its seed centroid
    e = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.9, 0.1])],
        "vec_id long, v array<double>",
    )
    seed = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "cid long, cv array<double>"
    )
    refined = {r["cid"]: list(r["cv"]) for r in
               lloyd_refine(e, seed, iters=1).collect()}
    assert refined[1] == [1.0, 0.0], "empty cell must keep its seed"
    assert refined[2] != [1.0, 0.0], "winning cell must move to the mean"


def test_stream_quantiles_equals_batch_sketch(spark, sf_dir):
    """The replayed histogram readout must be row-identical to the
    one-shot batch sketch — the batch=stream equivalence this entry
    certifies (same contract the CMS twin pins)."""
    from helium_arango_etl_lite_spark.plans.catalog_round5b import (
        agg_histogram_quantiles,
    )
    from helium_arango_etl_lite_spark.plans.catalog_stream import (
        stream_quantiles_replay,
    )

    stream_rows = sorted(
        (r["q"], r["bin"], r["est_price"])
        for r in stream_quantiles_replay(spark, sf_dir).collect()
    )
    batch_rows = sorted(
        (r["q"], r["bin"], r["est_price"])
        for r in agg_histogram_quantiles(spark, sf_dir).collect()
    )
    assert stream_rows == batch_rows


def test_stream_quantiles_state_input_is_bounded(spark, sf_dir):
    """Every micro-batch ships at most _HQ_BINS pre-combined bin rows
    into the state store — the map-side-combine bound that keeps the
    stateful input constant-size regardless of lineitem volume."""
    from helium_arango_etl_lite_spark.plans.catalog_round5b import _HQ_BINS
    from helium_arango_etl_lite_spark.plans.registry import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
    )
    st = li.agg(
        F.min("pc").alias("minc"), F.max("pc").alias("maxc"),
    )
    binned = li.crossJoin(F.broadcast(st)).withColumn(
        "bin", F.expr(f"((pc - minc) * {_HQ_BINS}) div (maxc - minc + 1)")
    )
    n_rows = li.count()
    for i in range(3):
        combined = (
            binned.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) == i)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        per_batch = combined.count()
        assert per_batch <= _HQ_BINS, per_batch
        assert per_batch < n_rows, "combine must shrink the batch"
        # bins inside the grid
        bad = combined.filter(
            (F.col("bin") < 0) | (F.col("bin") >= _HQ_BINS)
        ).count()
        assert bad == 0


def test_asof_reserved_names_rejected(spark):
    """The as-of joins inject _ts/_side/_vals/... scratch columns; user
    columns with those names would be silently shadowed (ADVICE r12), so
    both joins must refuse them loudly."""
    import pytest

    from helium_arango_etl_lite_spark.operators.temporal import (
        asof_join, asof_join_nearest,
    )

    ok = spark.createDataFrame([(1, 10, 5)], "k long, ts long, x long")
    bad = spark.createDataFrame([(1, 10, 5)], "k long, ts long, _vals long")
    with pytest.raises(ValueError, match="_vals"):
        asof_join(bad, ok, key="k", value_cols=["x"])
    with pytest.raises(ValueError, match="_fwd"):
        asof_join_nearest(ok, bad.withColumnRenamed("_vals", "_fwd"),
                          key="k", value_cols=["_fwd"])


def test_stream_hll_equals_batch_sketch(spark, sf_dir):
    """The replayed HLL readout must be row-identical to the one-shot
    batch sketch — batch=stream extended to the max-mergeable family."""
    from helium_arango_etl_lite_spark.plans.catalog_round5 import (
        agg_hll_distinct,
    )
    from helium_arango_etl_lite_spark.plans.catalog_stream import (
        stream_hll_replay,
    )

    stream_rows = sorted(
        (r["event_type"], r["n_exact"], r["n_hll"], r["rel_err"])
        for r in stream_hll_replay(spark, sf_dir).collect()
    )
    batch_rows = sorted(
        (r["event_type"], r["n_exact"], r["n_hll"], r["rel_err"])
        for r in agg_hll_distinct(spark, sf_dir).collect()
    )
    assert stream_rows == batch_rows


def test_hll_register_merge_is_idempotent(spark, sf_dir):
    """Max-merge is idempotent: replaying the SAME events twice must
    leave every register unchanged — the property that makes the
    streaming HLL immune to duplicate micro-batch delivery (stronger
    than the CMS sum, which double-counts on replay)."""
    from helium_arango_etl_lite_spark.operators.aggregates import (
        hll_registers,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_events

    en = load_events(spark, sf_dir)
    once = {
        (r["event_type"], r["b"]): r["r"]
        for r in hll_registers(en, "event_type", "user_id").collect()
    }
    twice = {
        (r["event_type"], r["b"]): r["r"]
        for r in hll_registers(
            en.unionByName(en), "event_type", "user_id"
        ).collect()
    }
    assert once == twice


# Deterministic recall@5 of the TRAINED-codebook twin at sf0.001. NOTE
# the comparison story lives at sf0.01 (50 hit-pairs): 0.02 -> 0.06 at
# nprobe=2, 0.08 -> 0.14 at nprobe=32. At sf0.001 the sample is 10
# queries x 5 = one-hit granularity, and the trained pin (0.04) sits
# one hit BELOW the untrained one (0.06) — sampling noise, not a
# training regression; do not "fix" one pin to match the other.
_RECALL_TRAINED_SF0001_MEAN = 0.04


def test_ivf_pq_recall_trained_pinned(spark, sf_dir):
    from helium_arango_etl_lite_spark.plans.catalog_round13 import (
        llm_ann_ivf_pq_recall_trained,
    )

    rows = llm_ann_ivf_pq_recall_trained(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_exact"] == _IPQ_TOPK
        assert 0.0 <= r["recall_at_k"] <= 1.0
    mean = sum(r["recall_at_k"] for r in rows) / len(rows)
    assert abs(mean - _RECALL_TRAINED_SF0001_MEAN) < 1e-9, (
        f"deterministic trained recall moved ({mean}) — quantizer "
        "changed; re-measure and update the pin"
    )


def test_pq_train_blocks_shape_and_rounding(spark, sf_dir):
    """The trained codebook keeps the (code, cv) contract: same code
    set, full-dim vectors, every non-seed component rounded to 6dp."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        pq_train_blocks,
    )
    from helium_arango_etl_lite_spark.plans.catalog_llm import EMB_DIM
    from helium_arango_etl_lite_spark.plans.catalog_round5 import (
        _PQ_BLOCKS, _PQ_CODES,
    )
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", _as_double("embedding").alias("v"))
    cb = (
        e.orderBy("vec_id").limit(_PQ_CODES)
        .select(F.row_number().over(Window.orderBy("vec_id")).alias("code"),
                F.col("v").alias("cv"))
    )
    rows = pq_train_blocks(e, cb, n_blocks=_PQ_BLOCKS, dim=EMB_DIM).collect()
    assert sorted(r["code"] for r in rows) == list(range(1, _PQ_CODES + 1))
    for r in rows:
        assert len(r["cv"]) == EMB_DIM
        for x in r["cv"]:
            assert abs(x * 1e6 - round(x * 1e6)) < 1e-6


def test_pq_train_blocks_empty_code_keeps_seed(spark):
    """All vectors identical + identical codewords: ties argmin to the
    LOWEST code, so the higher code captures nothing and must keep its
    seed slice while the winner moves to the (rounded) mean."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        pq_train_blocks,
    )

    e = spark.createDataFrame(
        [(i, [0.5, 0.5, 0.1, 0.1]) for i in range(1, 4)],
        "vec_id long, v array<double>",
    )
    cb = spark.createDataFrame(
        [(1, [0.5, 0.5, 0.1, 0.1]), (2, [0.5, 0.5, 0.1, 0.1])],
        "code long, cv array<double>",
    )
    out = {r["code"]: list(r["cv"]) for r in
           pq_train_blocks(e, cb, n_blocks=2, dim=4).collect()}
    assert out[1] == [0.5, 0.5, 0.1, 0.1]  # winner: mean == seed here
    assert out[2] == [0.5, 0.5, 0.1, 0.1]  # loser: seed slices kept


def test_recall_sweep_consistent_with_singleton_entry(spark, sf_dir):
    """The sweep's nprobe=2 row must reproduce the production recall
    entry's mean exactly (same artifacts, same queries — the sweep's
    single-scan trick may not change any answer), and every row keeps
    the full query sample."""
    from helium_arango_etl_lite_spark.plans.catalog_round13 import (
        _SWEEP_NPROBES, llm_ann_ivf_pq_recall, llm_ann_ivf_pq_recall_sweep,
    )

    sweep = {r["nprobe"]: r for r in
             llm_ann_ivf_pq_recall_sweep(spark, sf_dir).collect()}
    assert sorted(sweep) == sorted(_SWEEP_NPROBES)
    single = llm_ann_ivf_pq_recall(spark, sf_dir).collect()
    expected = round(sum(r["recall_at_k"] for r in single) / len(single), 4)
    assert abs(sweep[2]["mean_recall"] - expected) < 1e-9
    n_q = len(single)
    for r in sweep.values():
        assert r["n_queries"] == n_q
        assert 0.0 <= r["mean_recall"] <= 1.0
