"""Targeted tests for the round-11 entries — oracle parity covers value
equality; these pin what the oracle compare can't see: the batched
k-center's relationship to the unbatched traversal, and that the
persisted ANN index really is (a) a bucketed stored table and (b)
equivalent to routing over the in-memory appended graph."""
from __future__ import annotations

import pyspark.sql.functions as F

from helium_arango_etl_lite_spark.plans.catalog_round11 import (
    _KCB_K,
    _KCB_M,
    _KCB_SCANS,
    llm_ann_graph_persist,
    llm_kcenter_coreset_batched,
)


def test_kcenter_batched_shape_and_first_pick(spark, sf_dir):
    """Ranks are contiguous 1.._KCB_K starting at seed vec 0; the
    coverage column is non-increasing only in the weak sense (the
    batch relaxation can locally reorder), but the FIRST pick of scan
    one must equal pure Gonzalez's rank-2 pick — both are the argmin
    of max-cos against the seed alone."""
    from helium_arango_etl_lite_spark.plans.catalog_round10h import (
        llm_kcenter_coreset,
    )

    batched = llm_kcenter_coreset_batched(spark, sf_dir).collect()
    assert [r["rank"] for r in sorted(batched, key=lambda r: r["rank"])] == (
        list(range(1, _KCB_K + 1))
    )
    by_rank = {r["rank"]: r for r in batched}
    assert by_rank[1]["vec_id"] == 0 and by_rank[1]["maxsim"] == 1.0

    pure = {r["rank"]: r for r in llm_kcenter_coreset(spark, sf_dir).collect()}
    assert by_rank[2]["vec_id"] == pure[2]["vec_id"]
    assert by_rank[2]["maxsim"] == pure[2]["maxsim"]


def test_kcenter_batched_scan_arithmetic():
    assert _KCB_SCANS == -(-(_KCB_K - 1) // _KCB_M)  # ceil((k-1)/m)
    assert 1 + _KCB_SCANS * _KCB_M == _KCB_K


def test_ann_persist_writes_bucketed_table_and_matches_memory(
    spark, sf_dir
):
    """After the entry runs, sg_ann_edges must be a real stored table
    with the declared bucket spec, and the routed result must equal
    routing the SAME query batch over the in-memory appended graph
    (append_route_graph) — persistence must not change semantics."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        append_route_graph,
        route_on_graph,
    )
    from helium_arango_etl_lite_spark.plans.catalog_llm import (
        EMB_DIM,
        NEAR_DUP_PLANES,
    )
    from helium_arango_etl_lite_spark.plans.catalog_round9 import (
        _GR_BEAM, _GR_EDGE_K, _GR_EMOD, _GR_ENTRIES, _GR_HOPS, _GR_K,
        _GR_QMOD, _GR_SEEDS,
    )
    from helium_arango_etl_lite_spark.plans.catalog_round10 import (
        _APPEND_MOD,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    got = llm_ann_graph_persist(spark, sf_dir).collect()

    desc = spark.sql("DESCRIBE EXTENDED sg_ann_edges").collect()
    desc_map = {r["col_name"]: r["data_type"] for r in desc}
    assert "Num Buckets" in desc_map, desc_map
    assert "src" in desc_map.get("Bucket Columns", ""), desc_map

    emb = load_table(spark, sf_dir, "embeddings")
    mem_edges = append_route_graph(
        emb, new_mod=_APPEND_MOD, edge_k=_GR_EDGE_K, seeds=_GR_SEEDS,
        num_planes=NEAR_DUP_PLANES, dim=EMB_DIM,
    )
    want = route_on_graph(
        emb, mem_edges, k=_GR_K, hops=_GR_HOPS, beam=_GR_BEAM,
        n_entries=_GR_ENTRIES, entry_mod=_GR_EMOD, query_mod=_GR_QMOD,
        query_rem=0,
    ).collect()

    assert sorted(
        [(r["query_id"], r["rank"], r["nid"], r["cos_sim"]) for r in got]
    ) == sorted(
        [(r["query_id"], r["rank"], r["nid"], r["cos_sim"]) for r in want]
    )


def test_ann_persist_rerun_is_idempotent(spark, sf_dir):
    """overwrite-then-append inside one call must yield the identical
    table/result when the entry runs twice (the driver and bench both
    re-run queries; a second run must not double the increment)."""
    a = llm_ann_graph_persist(spark, sf_dir)
    n_edges_1 = spark.table("sg_ann_edges").count()
    rows_1 = sorted(map(tuple, a.collect()))
    b = llm_ann_graph_persist(spark, sf_dir)
    assert spark.table("sg_ann_edges").count() == n_edges_1
    assert sorted(map(tuple, b.collect())) == rows_1


def test_vocab_kl_is_nonnegative_and_finite(spark, sf_dir):
    """Gibbs' inequality: with add-1 smoothing over a SHARED top-M
    support, both KL directions are >= 0 (and 0 only for identical
    distributions); smoothing guarantees finiteness. The integer
    micro-nat quantization can push a true-zero to at most a few
    micro-nats negative, never beyond."""
    from helium_arango_etl_lite_spark.plans.catalog_round11 import (
        llm_vocab_kl_drift,
    )

    rows = llm_vocab_kl_drift(spark, sf_dir).collect()
    assert rows, "no langs"
    for r in rows:
        assert r["kl_train_hold"] >= -1e-4, r
        assert r["kl_hold_train"] >= -1e-4, r
        assert r["kl_train_hold"] < 10 and r["kl_hold_train"] < 10, r
        assert 1 <= r["m_vocab"] <= 100


def test_asof_tolerance_masks_only_stale_matches(spark, sf_dir):
    """Tolerance must (a) change nothing when infinite, (b) null exactly
    the matches older than the bound — checked row-by-row against the
    plain as-of join plus the age predicate."""
    from pyspark.sql import functions as F

    from helium_arango_etl_lite_spark.operators.temporal import asof_join
    from helium_arango_etl_lite_spark.plans.registry import load_events

    en = load_events(spark, sf_dir)
    purch = (
        en.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("pv"))
    )
    left = en.select("event_id", "ts", "user_id").limit(2000)
    plain = asof_join(
        left, purch.withColumnRenamed("ts", "pts").withColumnRenamed(
            "pv", "pv"
        ).select(F.col("user_id"), F.col("pts").alias("ts"), "pv"),
        key="user_id", value_cols=["pv"],
    )
    # plain join with the right ts attached for the reference mask
    with_ts = asof_join(
        left,
        purch.select(
            "user_id", "ts", "pv", F.col("ts").alias("match_ts")
        ),
        key="user_id", value_cols=["pv", "match_ts"],
    )
    tol = asof_join(
        left, purch.select("user_id", "ts", "pv"),
        key="user_id", value_cols=["pv"],
        tolerance=F.expr("INTERVAL 30 MINUTES"),
    )
    ref = {
        r["event_id"]: (
            r["pv"]
            if r["match_ts"] is not None
            and (r["ts"] - r["match_ts"]).total_seconds() <= 1800
            else None
        )
        for r in with_ts.collect()
    }
    got = {r["event_id"]: r["pv"] for r in tol.collect()}
    assert got == ref
    # infinite tolerance == plain
    inf = asof_join(
        left, purch.select("user_id", "ts", "pv"),
        key="user_id", value_cols=["pv"],
        tolerance=F.expr("INTERVAL 100000 DAYS"),
    )
    assert {r["event_id"]: r["pv"] for r in inf.collect()} == {
        r["event_id"]: r["pv"] for r in plain.collect()
    }


def test_cuped_reduces_between_user_variance(spark, sf_dir):
    """CUPED's contract: theta is the pooled OLS slope, rho^2 in [0,1],
    and the adjustment preserves the OVERALL mean (sum over arms of
    n_a * adjusted deviations cancels by construction of theta on the
    pooled covariate)."""
    from helium_arango_etl_lite_spark.plans.catalog_round11 import (
        events_cuped,
    )

    rows = {r["arm"]: r for r in events_cuped(spark, sf_dir).collect()}
    assert set(rows) == {0, 1}
    vr = rows[0]["var_reduction"]
    assert rows[1]["var_reduction"] == vr
    assert 0.0 <= vr <= 1.0, vr
    assert rows[0]["theta"] == rows[1]["theta"]
    n0, n1 = rows[0]["n_users"], rows[1]["n_users"]
    raw = (
        n0 * rows[0]["mean_post_cents"] + n1 * rows[1]["mean_post_cents"]
    )
    adj = (
        n0 * rows[0]["mean_adj_cents"] + n1 * rows[1]["mean_adj_cents"]
    )
    assert abs(raw - adj) / max(abs(raw), 1.0) < 1e-6


def test_kcenter_exhausted_corpus_terminates(spark):
    """k > corpus size must return every vector and STOP — the refactor
    originally turned the old crash into an infinite empty-scan loop
    (review r11)."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        kcenter_coreset,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    rows = kcenter_coreset(emb, k=10, m=3).collect()
    assert len(rows) == 4
    assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4]


def test_asof_fill_carries_whole_matched_row(spark):
    """A NULL value in the NEWEST prior right row must yield NULL (the
    matched row's value), never a staler row's non-null value — the
    per-column fill bug (review r11); with tolerance the stale value
    must also not leak through as 'fresh'."""
    from pyspark.sql import functions as F

    from helium_arango_etl_lite_spark.operators.temporal import asof_join

    right = spark.createDataFrame(
        [("u", 100, 5), ("u", 200, None)],
        "k string, ts long, v int",
    )
    left = spark.createDataFrame([("u", 210)], "k string, ts long")
    got = asof_join(left, right, key="k", value_cols=["v"]).collect()
    assert got[0]["v"] is None, got  # matched row (ts=200) has v NULL

    tol = asof_join(
        left, right, key="k", value_cols=["v"], tolerance=F.lit(50)
    ).collect()
    assert tol[0]["v"] is None, tol  # and 5 (age 110 > 50) must not leak
