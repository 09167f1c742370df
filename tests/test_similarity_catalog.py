"""Tests of the similarity catalog (plans/catalog_similarity.py). Oracle
parity covers value equality; these pin what the compare can't see: the
recall gates' deterministic values (so a quantizer/probe regression fails
the suite instead of silently drifting a number), and lloyd_refine's
contract (balances the largest cell, keeps empty cells' seed centroids,
rounds every component to the oracle's 6dp).
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
from helium_arango_etl_lite_spark.plans.catalog_similarity import (
    IVF_K,
    _IPQ_QMOD,
    _IPQ_TOPK,
    llm_ann_ivf_pq_recall,
)
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


# Deterministic recall@5 of the TRAINED-codebook twin at sf0.001. NOTE
# the comparison story lives at sf0.01 (50 hit-pairs): 0.02 -> 0.06 at
# nprobe=2, 0.08 -> 0.14 at nprobe=32. At sf0.001 the sample is 10
# queries x 5 = one-hit granularity, and the trained pin (0.04) sits
# one hit BELOW the untrained one (0.06) — sampling noise, not a
# training regression; do not "fix" one pin to match the other.
_RECALL_TRAINED_SF0001_MEAN = 0.04


def test_ivf_pq_recall_trained_pinned(spark, sf_dir):
    from helium_arango_etl_lite_spark.plans.catalog_similarity import (
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


def test_recall_sweep_consistent_with_singleton_entry(spark, sf_dir):
    """The sweep's nprobe=2 row must reproduce the production recall
    entry's mean exactly (same artifacts, same queries — the sweep's
    single-scan trick may not change any answer), and every row keeps
    the full query sample."""
    from helium_arango_etl_lite_spark.plans.catalog_similarity import (
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
