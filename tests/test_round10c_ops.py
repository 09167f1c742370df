"""Targeted tests for the round-10 session-3 entries (CDC merge,
spatial radius join, bucketed join, rolling median) — the oracle-parity
suite already covers value equality; these pin the properties the
oracle compare can't see: physical plans, blocking losslessness, and
the delete/patch semantics on handcrafted logs."""
from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from helium_arango_etl_lite_spark.plans.catalog_round10c import (
    _SP_R2,
    _SP_SIDE,
    _bucketed_sides,
    join_spatial_radius,
    window_rolling_median,
)
from helium_arango_etl_lite_spark.functions.hashing import hash32


def test_bucket_join_plan_has_no_exchange(spark, sf_dir):
    """The whole point of bucketing: the sort-merge join over two
    tables bucketed on the join key must read both sides WITHOUT a
    shuffle. 'Exchange' in the executed plan means the bucketed layout
    was not used."""
    bo, bc = _bucketed_sides(spark, sf_dir)
    j = bo.hint("merge").join(bc, bo["o_custkey"] == bc["c_custkey"])
    j.collect()  # force planning + execution
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    # control: the same join over the unbucketed parquet DOES shuffle
    from helium_arango_etl_lite_spark.plans.registry import load_table

    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    jj = o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"])
    jj.collect()
    assert "Exchange" in jj._jdf.queryExecution().executedPlan().toString()


def test_spatial_blocking_is_lossless(spark, sf_dir):
    """Grid blocking must find EXACTLY the pairs the all-pairs cross
    finds — same fixture, brute-force in Spark (the DuckDB oracle is a
    separate check; this one isolates the blocking step)."""
    from helium_arango_etl_lite_spark.plans.registry import load_table

    cust = load_table(spark, sf_dir, "customer")
    key_s = F.col("c_custkey").cast("string")
    pts = cust.select(
        F.col("c_custkey").cast("long").alias("k"),
        (hash32(F.concat(F.lit("px|"), key_s)) % _SP_SIDE).alias("x"),
        (hash32(F.concat(F.lit("py|"), key_s)) % _SP_SIDE).alias("y"),
    )
    a = pts.select(
        F.col("k").alias("ka"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = pts.select(
        F.col("k").alias("kb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    d2 = (F.col("xa") - F.col("xb")) ** 2 + (F.col("ya") - F.col("yb")) ** 2
    brute = (
        a.crossJoin(b)
        .filter((F.col("ka") < F.col("kb")) & (d2 <= _SP_R2))
        .select("ka", "kb")
    )
    grid = join_spatial_radius(spark, sf_dir).select(
        F.col("key_a").alias("ka"), F.col("key_b").alias("kb")
    )
    assert grid.count() == grid.distinct().count()  # each pair once
    assert brute.exceptAll(grid).count() == 0
    assert grid.exceptAll(brute).count() == 0


def _run_cdc(spark, rows):
    """Run the cdc merge core over a handcrafted (user, seq, op, valc,
    attr) log — same expressions as cdc_apply, minus the fixture
    derivation."""
    from pyspark.sql import Window

    log = spark.createDataFrame(
        rows, "user_id long, seq long, op string, valc long, attr string"
    )
    del_seq = F.max(F.when(F.col("op") == "D", F.col("seq"))).over(
        Window.partitionBy("user_id")
    )
    live = log.withColumn("del_seq", F.coalesce(del_seq, F.lit(0))).filter(
        F.col("seq") > F.col("del_seq")
    )

    def last_non_null(col):
        return F.max(F.when(F.col(col).isNotNull(), F.struct("seq", col)))[col]

    out = live.groupBy("user_id").agg(
        last_non_null("valc").alias("last_valc"),
        last_non_null("attr").alias("last_attr"),
        F.max("seq").alias("last_seq"),
        F.count(F.lit(1)).alias("n_live"),
    )
    return {r["user_id"]: r.asDict() for r in out.collect()}


def test_cdc_column_patches_merge_independently(spark):
    """An update patches only its non-null columns: valc from seq 2
    survives an attr-only patch at seq 3."""
    got = _run_cdc(
        spark,
        [
            (1, 1, "U", None, "a"),
            (1, 2, "U", 10, None),
            (1, 3, "U", None, "b"),
        ],
    )
    assert got[1]["last_valc"] == 10
    assert got[1]["last_attr"] == "b"
    assert got[1]["last_seq"] == 3 and got[1]["n_live"] == 3


def test_cdc_tombstone_resets_and_final_delete_removes(spark):
    """A tombstone erases everything before it (user 1's pre-delete
    valc must NOT leak into the rebuilt row); a log ENDING in a
    tombstone removes the key entirely."""
    got = _run_cdc(
        spark,
        [
            (1, 1, "U", 99, "old"),
            (1, 2, "D", None, None),
            (1, 3, "U", None, "new"),
            (2, 1, "U", 5, "x"),
            (2, 2, "D", None, None),
        ],
    )
    assert got[1]["last_valc"] is None  # 99 died with the tombstone
    assert got[1]["last_attr"] == "new"
    assert got[1]["n_live"] == 1
    assert 2 not in got  # ends deleted => absent


def test_rolling_median_edge_windows(spark, sf_dir):
    """Edge rows see shorter windows (4..6 elements); the median must
    still be an element OF the window and n_win must never exceed 7."""
    rows = window_rolling_median(spark, sf_dir).collect()
    assert rows
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r["hour"])
        cents = [r["cents"] for r in series]
        for i, r in enumerate(series):
            lo, hi = max(0, i - 3), min(len(series), i + 4)
            window = sorted(cents[lo:hi])
            assert r["n_win"] == len(window) <= 7
            assert r["med_cents"] == window[(len(window) - 1) // 2]


def test_confusion_counts_are_consistent(spark, sf_dir):
    """Single-label multi-class identities: sum(tp)+sum(fn) =
    sum(tp)+sum(fp) = corpus size (every doc has exactly one true and
    one predicted class), and micro-precision == micro-recall."""
    from helium_arango_etl_lite_spark.plans.catalog_round10d import (
        llm_eval_confusion,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    rows = llm_eval_confusion(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    tp = sum(r["tp"] for r in rows)
    fp = sum(r["fp"] for r in rows)
    fn = sum(r["fn"] for r in rows)
    assert tp + fn == n_docs
    assert tp + fp == n_docs
    assert fp == fn  # micro-P == micro-R
    assert len(rows) == 5  # never-predicted classes keep their row
    for r in rows:  # bounds + exact rational check on one class
        q = r["tp"] + r["fp"]
        if q == 0:  # class never predicted: precision undefined
            assert r["prec6"] is None and r["tp"] == 0
            continue
        assert 0 <= r["prec6"] <= 1_000_000
        assert r["prec6"] == (2_000_000 * r["tp"] + q) // (2 * q)


def test_attribution_conserves_purchases(spark, sf_dir):
    """Every purchase is credited to exactly one channel; cents match
    the purchase total to the cent."""
    from helium_arango_etl_lite_spark.plans.catalog_round10d import (
        events_attribution,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_events

    rows = events_attribution(spark, sf_dir).collect()
    ev = load_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    total = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    ).collect()[0]
    assert sum(r["conversions"] for r in rows) == total["n"]
    assert sum(r["cents"] for r in rows) == total["cents"]
    assert {r["channel"] for r in rows} <= {
        "click", "view", "signup", "direct"
    }


def test_partition_prune_reads_only_surviving_dirs(spark, sf_dir):
    """The two-type predicate must prune at the DIRECTORY level: the
    scan plan carries PartitionFilters and every file actually read
    lives under a surviving event_type= directory."""
    from helium_arango_etl_lite_spark.plans.catalog_round10e import (
        _PRUNE_TYPES,
        _partitioned_events,
    )

    back = _partitioned_events(spark, sf_dir).filter(
        F.col("event_type").isin(*_PRUNE_TYPES)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan
    files = [
        r[0]
        for r in back.select(F.input_file_name()).distinct().collect()
    ]
    assert files
    for f in files:
        assert any(f"event_type={t}/" in f for t in _PRUNE_TYPES), f


def test_mmr_greedy_is_locally_optimal(spark, sf_dir):
    """Recompute the greedy objective from scratch (candidates + all
    pairwise sims, python floats): every rank-r pick must maximize
    lambda*rel - (1-lambda)*max-sim-to-selected over the remaining
    candidates, with the (mmr desc, vec_id) tie-break."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import cosine
    from helium_arango_etl_lite_spark.plans.catalog_round10e import (
        _MMR_LAMBDA,
        _MMR_N,
        llm_mmr_diversify,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    got = sorted(
        llm_mmr_diversify(spark, sf_dir).collect(), key=lambda r: r["rank"]
    )
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_N)
        .collect()
    )
    rel = {r["vec_id"]: r["rel"] for r in cand}
    vecs = {r["vec_id"]: r["v"] for r in cand}

    def cos4(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return round(num / (na * nb), 4)

    lam, one_m = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 1)
    selected: list = []
    for r in got:
        remaining = [v for v in rel if v not in selected]
        scored = []
        for c in remaining:
            if selected:
                ms = max(cos4(vecs[c], vecs[s]) for s in selected)
                scored.append((lam * rel[c] - one_m * ms, c))
            else:
                scored.append((lam * rel[c], c))
        best = max(scored, key=lambda t: (t[0], -t[1]))
        assert r["vec_id"] == best[1], (r["rank"], r["vec_id"], best)
        assert abs(r["mmr"] - round(best[0], 6)) < 1e-9
        selected.append(best[1])


def test_snapshot_diff_roundtrip_reproduces_new_state(spark, sf_dir):
    """Applying the diff ops to the OLD snapshot must reproduce the
    NEW snapshot exactly: upsert I/U rows, delete D keys."""
    import helium_arango_etl_lite_spark.plans.catalog_round10f as r10f
    from helium_arango_etl_lite_spark.plans.registry import load_events
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    cut = lo + (hi - lo) * 2 // 3
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def state(df):
        rows = (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias("attr"),
                F.round(F.col("value") * 100).cast("long").alias("cents"),
            )
            .collect()
        )
        return {r["user_id"]: (r["attr"], r["cents"]) for r in rows}

    old = state(ev.filter(F.unix_micros("ts") < cut))
    new = {
        k: v for k, v in state(ev).items() if v[0] != "error"
    }
    applied = dict(old)
    ops = r10f.cdc_snapshot_diff(spark, sf_dir).collect()
    assert ops  # the fixture exercises the diff
    kinds = {r["op"] for r in ops}
    # 'I' needs a user whose FIRST event lands after the 2/3 cut; at
    # sf0.001 every user's history spans the whole range, so only the
    # U and D paths are guaranteed by the fixture. The roundtrip below
    # verifies all paths that fired.
    assert {"U", "D"} <= kinds
    for r in ops:
        if r["op"] == "D":
            assert r["attr"] is None and r["cents"] is None
            applied.pop(r["user_id"])
        else:
            applied[r["user_id"]] = (r["attr"], r["cents"])
    assert applied == new


def test_markov_rows_are_distributions(spark, sf_dir):
    """Per-prev p6 must sum to 1e6 within per-cell rounding, and counts
    must conserve the number of transitions."""
    import helium_arango_etl_lite_spark.plans.catalog_round10f as r10f
    from helium_arango_etl_lite_spark.plans.registry import load_events

    rows = r10f.events_markov_transitions(spark, sf_dir).collect()
    by_prev: dict = {}
    for r in rows:
        by_prev.setdefault(r["prev"], []).append(r)
    for prev, cells in by_prev.items():
        total_p6 = sum(c["p6"] for c in cells)
        assert abs(total_p6 - 1_000_000) <= len(cells), prev
    n_users = load_events(spark, sf_dir).select("user_id").distinct().count()
    n_events = load_events(spark, sf_dir).count()
    assert sum(r["n"] for r in rows) == n_events - n_users  # lag drops 1/user


def test_schema_evolution_nullfills_old_batch(spark, sf_dir):
    """The merged read must expose the channel column with NULLs
    exactly on pre-cut rows."""
    import helium_arango_etl_lite_spark.plans.catalog_round10f as r10f
    from helium_arango_etl_lite_spark.plans.registry import load_events

    out = {r["event_type"]: r for r in
           r10f.storage_schema_evolution(spark, sf_dir).collect()}
    ev = load_events(spark, sf_dir)
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    cut = lo + (hi - lo) // 2
    per_type = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.unix_micros("ts") >= cut).cast("long")).alias("post"),
        )
        .collect()
    }
    for t, r in out.items():
        assert r["n"] == per_type[t]["n"]
        assert r["n_with_channel"] == per_type[t]["post"]  # NULLs = pre-cut


def test_conversion_latency_conserves_eligible_purchases(spark, sf_dir):
    """Histogram counts must sum to exactly the purchases that have a
    preceding signup, and every bucket must be in [0, 24]."""
    import helium_arango_etl_lite_spark.plans.catalog_round10g as r10g
    from helium_arango_etl_lite_spark.plans.registry import load_events
    from pyspark.sql import Window

    rows = r10g.events_conversion_latency(spark, sf_dir).collect()
    assert rows and all(0 <= r["hours"] <= 24 for r in rows)
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    eligible = (
        ev.withColumn(
            "s",
            F.last(
                F.when(F.col("event_type") == "signup", F.col("ts")),
                ignorenulls=True,
            ).over(w),
        )
        .filter((F.col("event_type") == "purchase") & F.col("s").isNotNull())
        .count()
    )
    assert sum(r["n"] for r in rows) == eligible


def test_rbo_overlap_is_monotone_and_bounded(spark, sf_dir):
    """overlap@d is non-decreasing, bounded by d, and rbo is a
    non-decreasing partial sum bounded by 1."""
    import helium_arango_etl_lite_spark.plans.catalog_round10g as r10g

    rows = sorted(
        r10g.llm_eval_rbo(spark, sf_dir).collect(), key=lambda r: r["d"]
    )
    assert [r["d"] for r in rows] == list(range(1, 11))
    prev_ov, prev_rbo = 0, 0.0
    for r in rows:
        assert prev_ov <= r["overlap"] <= r["d"]
        assert prev_rbo <= r["rbo"] <= 1.0
        prev_ov, prev_rbo = r["overlap"], r["rbo"]


def test_funnel_timed_counts_are_monotone(spark, sf_dir):
    """Each step requires the previous: qualified-click users are a
    subset of signup users; converted users a subset of those."""
    import helium_arango_etl_lite_spark.plans.catalog_round10h as r10h

    r = r10h.events_funnel_timed(spark, sf_dir).collect()[0]
    assert r["n_signup"] >= r["n_qualified_click"] >= r["n_converted"] >= 0
    assert r["n_signup"] > 0


def test_random_projection_errors_are_bounded(spark, sf_dir):
    """Cosines stay in [-1, 1] on both sides and err == |orig - proj|
    to 4dp; the mean distortion should be small but nonzero (the
    projection genuinely loses information at 16 of 64 dims)."""
    import helium_arango_etl_lite_spark.plans.catalog_round10h as r10h

    rows = r10h.llm_random_projection(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert -1.0 <= r["cos_orig"] <= 1.0
        assert -1.0 <= r["cos_proj"] <= 1.0
        assert abs(r["err"] - round(abs(r["cos_orig"] - r["cos_proj"]), 4)) < 1e-9
    errs = [r["err"] for r in rows]
    assert max(errs) > 0.0  # lossy, as it must be


def test_resize_nn_down_and_up_samples_exactly():
    """Handcrafted rasters: 4x4 -> 2x2 picks rows/cols {0,2}; 2x2 ->
    4x4 repeats each source pixel 2x2 (floor convention)."""
    import numpy as np

    from helium_arango_etl_lite_spark.operators.llm.multimodal import (
        resize_nn,
    )

    px = np.arange(16, dtype=np.uint8).reshape(4, 4, 1)
    small = resize_nn(px, 2, 2)
    assert small[:, :, 0].tolist() == [[0, 2], [8, 10]]
    up = resize_nn(small, 4, 4)
    assert up[:, :, 0].tolist() == [
        [0, 0, 2, 2], [0, 0, 2, 2], [8, 8, 10, 10], [8, 8, 10, 10]
    ]
    tall = resize_nn(np.arange(6, dtype=np.uint8).reshape(3, 2, 1), 4, 4)
    assert tall.shape == (4, 4, 1)  # 3 rows -> indices 0,0,1,2
    assert [r[0] for r in tall[:, :, 0].tolist()] == [0, 0, 2, 4]


def test_kcenter_recursion_is_locally_greedy(spark, sf_dir):
    """Recompute farthest-point traversal from scratch in python: each
    rank-r pick must have the SMALLEST max-cosine-to-selected among
    the remaining vectors ((ms, vec_id) tie-break), and the coverage
    curve (rank >= 2) must be non-decreasing."""
    import helium_arango_etl_lite_spark.plans.catalog_round10h as r10h
    from helium_arango_etl_lite_spark.plans.registry import load_table

    got = sorted(
        r10h.llm_kcenter_coreset(spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos4(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return round(num / (na * nb), 4)

    assert got[0]["vec_id"] == 0 and got[0]["maxsim"] == 1.0
    selected = [0]
    for r in got[1:]:
        best = min(
            (
                (max(cos4(emb[c], emb[s]) for s in selected), c)
                for c in emb
                if c not in selected
            ),
        )
        assert (r["maxsim"], r["vec_id"]) == (round(best[0], 4), best[1])
        selected.append(best[1])
    sims = [r["maxsim"] for r in got[1:]]
    assert sims == sorted(sims)  # coverage radius tightens monotonically
