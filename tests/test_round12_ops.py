"""Targeted tests for the round-12 entries — oracle parity covers value
equality; these pin what the oracle compare can't see: that the
persisted IVF-PQ index really is a partition-pruned stored layout whose
search equals the recompute-everything path, and that the streaming CMS
keeps bounded state and matches the one-shot batch sketch cell-for-cell.
"""
from __future__ import annotations

import pyspark.sql.functions as F

from helium_arango_etl_lite_spark.plans.catalog_round12 import (
    _IPQ_QMOD,
    _IPQ_TOPK,
    llm_ann_ivf_pq_persist,
    stream_heavy_hitters_replay,
)


def _formatted_plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )


def test_ivf_pq_persist_scan_is_partition_pruned_and_bucketed(spark, sf_dir):
    df = llm_ann_ivf_pq_persist(spark, sf_dir)
    plan = _formatted_plan(df)
    scan = [
        block for block in plan.split("\n\n")
        if "sg_ivfpq_codes" in block and "PartitionFilters" in block
    ]
    assert scan, "stored index scan with PartitionFilters not found"
    assert "Bucketed: true" in scan[0]
    assert "INSET" in scan[0] or "cell" in scan[0].split("PartitionFilters")[1]


def test_ivf_pq_persist_output_shape(spark, sf_dir):
    rows = llm_ann_ivf_pq_persist(spark, sf_dir).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["qid"] % _IPQ_QMOD == 0
        assert r["vec_id"] != r["qid"], "query must not match itself"
        assert r["adc_dist"] >= 0.0
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _IPQ_TOPK
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists), f"ranks not by distance for {qid}"


def test_ivf_pq_persist_rerun_is_idempotent(spark, sf_dir):
    a = {
        (r["qid"], r["rnk"]): (r["vec_id"], r["adc_dist"])
        for r in llm_ann_ivf_pq_persist(spark, sf_dir).collect()
    }
    b = {
        (r["qid"], r["rnk"]): (r["vec_id"], r["adc_dist"])
        for r in llm_ann_ivf_pq_persist(spark, sf_dir).collect()
    }
    assert a == b


def test_ivf_pq_persist_search_matches_unpersisted_adc(spark, sf_dir):
    """For the query vec 0 (the one llm_ann_ivf_pq searches), the
    persisted-index ADC distances must equal pq_adc_topk's for every
    candidate that lies in vec 0's probed cells — same codebook, same
    codes, same LUT arithmetic; the only difference is the IVF probe
    restricting the candidate set."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        pq_adc_topk,
    )
    from helium_arango_etl_lite_spark.plans.catalog_round5 import (
        _PQ_BLOCKS, _PQ_CODES,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    persisted = {
        r["vec_id"]: r["adc_dist"]
        for r in llm_ann_ivf_pq_persist(spark, sf_dir).collect()
        if r["qid"] == 0
    }
    emb = load_table(spark, sf_dir, "embeddings")
    full = {
        r["vec_id"]: r["adc_dist"]
        for r in pq_adc_topk(
            emb, k=emb.count(), query_id=0,
            n_blocks=_PQ_BLOCKS, n_codes=_PQ_CODES,
        ).collect()
    }
    assert persisted, "query 0 returned no rows"
    for vid, d in persisted.items():
        assert abs(full[vid] - d) < 1e-9, (vid, full[vid], d)


def test_stream_cms_equals_batch_sketch(spark, sf_dir):
    """The replay's final output must be row-identical to the one-shot
    batch sketch — the batch=stream equivalence this entry certifies."""
    from helium_arango_etl_lite_spark.plans.catalog_round5 import (
        llm_heavy_hitters_cms,
    )

    stream_rows = [
        (r["token"], r["est_count"])
        for r in stream_heavy_hitters_replay(spark, sf_dir).collect()
    ]
    batch_rows = [
        (r["token"], r["est_count"])
        for r in llm_heavy_hitters_cms(spark, sf_dir).collect()
    ]
    assert stream_rows == batch_rows


def test_stream_cms_state_is_bounded(spark, sf_dir):
    """The state store holds at most depth*width cells — the sketch
    bound that makes streaming heavy hitters viable at 100 TB. Verified
    on the emitted cells: every (d, b) is inside the sketch grid and
    the cell count never exceeds it."""
    from helium_arango_etl_lite_spark.operators.llm.text import (
        cms_cell_increments, cms_token_buckets,
    )
    from helium_arango_etl_lite_spark.plans.catalog_round5 import (
        _CMS_D, _CMS_W,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table
    from helium_arango_etl_lite_spark.streaming.stateful import (
        cms_cells_stream,
    )
    from helium_arango_etl_lite_spark.plans.replay import run_replay

    docs = load_table(spark, sf_dir, "documents")
    cells = run_replay(
        spark,
        "stream_cms_test",
        cms_cells_stream,
        [
            cms_cell_increments(
                cms_token_buckets(
                    docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == i),
                    depth=_CMS_D, width=_CMS_W,
                ),
                depth=_CMS_D,
            )
            .groupBy(F.col("d").cast("int").alias("d"),
                     F.col("b").cast("int").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            for i in range(2)
        ],
    )
    distinct_cells = cells.select("d", "b").distinct().count()
    assert distinct_cells <= _CMS_D * _CMS_W
    bad = cells.filter(
        (F.col("d") < 0) | (F.col("d") >= _CMS_D)
        | (F.col("b") < 0) | (F.col("b") >= _CMS_W)
    ).count()
    assert bad == 0


def test_stream_cms_estimates_dominate_truth(spark, sf_dir):
    """CMS estimates are >= true counts by construction, through the
    streaming path too."""
    from helium_arango_etl_lite_spark.plans.registry import load_table

    est = {
        r["token"]: r["est_count"]
        for r in stream_heavy_hitters_replay(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    truth = {
        r["t"]: r["n"]
        for r in docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("t")
        )
        .groupBy("t").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("t").isin(list(est)))
        .collect()
    }
    for tok, e in est.items():
        assert e >= truth.get(tok, 0), (tok, e, truth.get(tok))


def test_ooo_update_fuses_sessions_across_batches():
    """The semantics the in-order operator cannot express: a late event
    landing BETWEEN two existing sessions fuses them into one."""
    import pandas as pd

    from helium_arango_etl_lite_spark.streaming.stateful import (
        make_ooo_session_update,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    gap = 30 * 60 * 1_000_000
    upd = make_ooo_session_update(gap)
    st = FakeState()
    m = 60 * 1_000_000

    # batch 0: two events 50 min apart -> TWO sessions
    out0 = list(
        upd(
            (7,),
            iter([pd.DataFrame({"ts_us": [0, 50 * m], "value_c": [10, 20]})]),
            st,
        )
    )[0]
    assert len(out0) == 2

    # batch 1: one LATE event at 25 min -> the two sessions FUSE
    out1 = list(
        upd(
            (7,),
            iter([pd.DataFrame({"ts_us": [25 * m], "value_c": [5]})]),
            st,
        )
    )[0]
    assert len(out1) == 1
    row = out1.iloc[0]
    assert row["session_start_us"] == 0
    assert row["session_end_us"] == 50 * m
    assert row["n_events"] == 3
    assert row["total_value_c"] == 35
    # state holds exactly one interval now
    starts, ends, ns, sums = st.get
    assert list(ns) == [3] and list(sums) == [35]


def test_ooo_replay_matches_native_session_window(spark, sf_dir):
    """Final OOO-replay rows == the native session_window batch answer
    (counts and starts; values in exact integer cents)."""
    from helium_arango_etl_lite_spark.plans.catalog_round12 import (
        stream_session_ooo_replay,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_events

    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_cents"])
        for r in stream_session_ooo_replay(spark, sf_dir).collect()
    }
    ev = load_events(spark, sf_dir)
    want = {
        (r["user_id"], r["session_start"]): (r["n"], r["cents"])
        for r in ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n",
            "cents",
        )
        .collect()
    }
    assert got == want


def test_asof_nearest_picks_closest_with_backward_ties(spark):
    """Synthetic grid: left rows at t=10,20,30; right rows at t=8,22.
    Nearest: t=10 -> 8 (d2 vs 12), t=20 -> 22 (d2 beats d12),
    t=30 -> 22. Tie case: left at t=15 (d7 both sides) -> backward (8)."""
    from helium_arango_etl_lite_spark.operators.temporal import (
        asof_join_nearest,
    )

    left = spark.createDataFrame(
        [(1, 10), (1, 15), (1, 20), (1, 30), (2, 5)],
        "k long, ts long",
    )
    right = spark.createDataFrame(
        [(1, 8, 80.0), (1, 22, 220.0)], "k long, ts long, val double"
    )
    got = {
        (r["k"], r["ts"]): r["val"]
        for r in asof_join_nearest(
            left, right, key="k", value_cols=["val"]
        ).collect()
    }
    assert got == {
        (1, 10): 80.0,
        (1, 15): 80.0,   # exact tie -> backward
        (1, 20): 220.0,
        (1, 30): 220.0,
        (2, 5): None,    # no right rows for key 2
    }


def test_asof_nearest_equal_ts_is_backward_distance_zero(spark):
    from helium_arango_etl_lite_spark.operators.temporal import (
        asof_join_nearest,
    )

    left = spark.createDataFrame([(1, 22)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 22, 220.0), (1, 23, 230.0)], "k long, ts long, val double"
    )
    rows = asof_join_nearest(
        left, right, key="k", value_cols=["val"]
    ).collect()
    assert rows[0]["val"] == 220.0


def test_rfm_scores_are_balanced_quintiles(spark, sf_dir):
    from helium_arango_etl_lite_spark.plans.catalog_round12 import (
        events_rfm_segments,
    )

    rows = events_rfm_segments(spark, sf_dir).collect()
    assert rows
    n = len(rows)
    for col in ("r_score", "f_score", "m_score"):
        counts: dict[int, int] = {}
        for r in rows:
            assert 1 <= r[col] <= 5
            counts[r[col]] = counts.get(r[col], 0) + 1
        # exact ntile semantics: bucket sizes differ by at most one
        assert max(counts.values()) - min(counts.values()) <= 1, (col, counts)
        assert sum(counts.values()) == n
    for r in rows:
        assert r["segment"] == r["r_score"] * 100 + r["f_score"] * 10 + r["m_score"]


def test_ivf_pq_append_encodes_against_frozen_artifacts(spark, sf_dir):
    """The appended table must equal a full-corpus encode against the
    OLD corpus's artifacts — and must NOT equal an encode that derives
    a fresh codebook from the ingest batch (the bug the frozen-artifact
    contract exists to prevent)."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        _as_double, ivf_pq_build, ivf_pq_encode,
    )
    from helium_arango_etl_lite_spark.plans.catalog_round12 import (
        _IPQ_APP_MOD, _IPQ_LLOYD_ITERS, llm_ann_ivf_pq_append,
    )
    from helium_arango_etl_lite_spark.plans.catalog_llm import EMB_DIM, IVF_K
    from helium_arango_etl_lite_spark.plans.registry import load_table

    llm_ann_ivf_pq_append(spark, sf_dir).collect()  # builds the table
    stored = {
        r["vec_id"]: (r["cell"], r["code_0"], r["code_1"], r["code_2"], r["code_3"])
        for r in spark.table("sg_ivfpq_codes_app").collect()
    }

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % _IPQ_APP_MOD != 0)
    _, cents, cb = ivf_pq_build(
        old, num_centroids=IVF_K, dim=EMB_DIM, lloyd_iters=_IPQ_LLOYD_ITERS
    )
    want = {
        r["vec_id"]: (r["cell"], r["code_0"], r["code_1"], r["code_2"], r["code_3"])
        for r in ivf_pq_encode(
            emb.select("vec_id", _as_double("embedding").alias("v")),
            cents, cb, dim=EMB_DIM,
        ).collect()
    }
    assert stored == want

    # the wrong way: codebook re-derived from the ingest batch itself
    new = emb.filter(F.col("vec_id") % _IPQ_APP_MOD == 0)
    _, cents_b, cb_b = ivf_pq_build(new, num_centroids=IVF_K, dim=EMB_DIM)
    wrong = {
        r["vec_id"]: (r["cell"], r["code_0"], r["code_1"], r["code_2"], r["code_3"])
        for r in ivf_pq_encode(
            new.select("vec_id", _as_double("embedding").alias("v")),
            cents_b, cb_b, dim=EMB_DIM,
        ).collect()
    }
    new_ids = set(wrong)
    assert any(stored[i] != wrong[i] for i in new_ids), (
        "batch-local artifacts happened to match frozen ones — fixture "
        "can no longer distinguish the contract"
    )


def test_asof_nearest_matches_pandas_merge_asof_third_engine(spark):
    """Third-engine check (the detln pattern): asof_join_nearest must
    reproduce pandas merge_asof(direction='nearest') — including exact
    ties, where BOTH pick the backward row — on randomized fixtures.
    Deterministic seeded draws rather than hypothesis: the Spark round
    trip per example is too slow for shrinking, so we batch many keys
    into one frame and compare all rows at once."""
    import random

    import pandas as pd

    rng = random.Random(12)
    left_rows, right_rows, seen = [], [], set()
    for k in range(40):
        for _ in range(rng.randint(0, 6)):
            left_rows.append((k, rng.randint(0, 100)))
        for _ in range(rng.randint(0, 5)):
            ts = rng.randint(0, 100)
            if (k, ts) not in seen:  # right unique per (key, ts)
                seen.add((k, ts))
                right_rows.append((k, ts, float(rng.randint(1, 999))))
    assert left_rows and right_rows

    from helium_arango_etl_lite_spark.operators.temporal import (
        asof_join_nearest,
    )

    left = spark.createDataFrame(left_rows, "k long, ts long")
    right = spark.createDataFrame(right_rows, "k long, ts long, val double")
    got = [
        (r["k"], r["ts"], r["val"])
        for r in asof_join_nearest(
            left, right, key="k", value_cols=["val"]
        ).collect()
    ]
    got.sort()

    lp = pd.DataFrame(left_rows, columns=["k", "ts"]).sort_values("ts")
    rp = pd.DataFrame(
        right_rows, columns=["k", "ts", "val"]
    ).sort_values("ts")
    m = pd.merge_asof(lp, rp, on="ts", by="k", direction="nearest")
    want = sorted(
        (int(r.k), int(r.ts), None if pd.isna(r.val) else float(r.val))
        for r in m.itertuples()
    )
    assert got == want
