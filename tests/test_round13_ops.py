"""Targeted tests for the round-13 entries — oracle parity covers value
equality; these pin what the compare can't see: the trained PQ
codebook's contract (pq_train_blocks keeps the (code, cv) shape and
rounds to the oracle's 6dp), the batch=stream equivalence of the
quantile and HLL replays, and the as-of joins' reserved-name guard.
"""
from __future__ import annotations

import pyspark.sql.functions as F

from helium_arango_etl_lite_spark.operators.llm.similarity import _as_double
from helium_arango_etl_lite_spark.plans.registry import load_table


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


def test_pq_train_blocks_shape_and_rounding(spark, sf_dir):
    """The trained codebook keeps the (code, cv) contract: same code
    set, full-dim vectors, every non-seed component rounded to 6dp."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        pq_train_blocks,
    )
    from helium_arango_etl_lite_spark.plans.catalog_similarity import (
        EMB_DIM, _PQ_BLOCKS, _PQ_CODES,
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
