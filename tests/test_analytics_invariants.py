"""Semantic invariants for the analytics catalog (catalog_analytics.py) —
properties the oracle hash-match can't express: funnel monotonicity,
packing feasibility, PageRank mass conservation, reconciliation
completeness. Run on the sf0.001 tables like the parity suite."""

from __future__ import annotations

from pyspark.sql import functions as F

from helium_arango_etl_lite_spark.plans.queries import QUERIES


def run(spark, sf_dir, name):
    return QUERIES[name].spark_fn(spark, sf_dir)


def test_funnel_stages_are_monotone(spark, sf_dir):
    """Each stage requires the previous one strictly earlier, so counts
    can only shrink down the funnel."""
    row = run(spark, sf_dir, "agg_event_funnel").collect()[0]
    assert row["n_view"] >= row["n_click"] >= row["n_purchase"]
    assert row["n_purchase"] >= 0


def test_doc_pack_ids_contiguous_and_bounded(spark, sf_dir):
    """Pack ids form a contiguous 0..max range and every pack except
    possibly the last holds > 4096 - max_doc tokens (no premature cut:
    chunked prefix-sum packing never leaves a pack short by more than
    one document)."""
    rows = run(spark, sf_dir, "llm_doc_pack").collect()
    packs = {}
    for r in rows:
        packs.setdefault(r["pack_id"], 0)
        packs[r["pack_id"]] += r["n_tokens"]
    ids = sorted(packs)
    assert ids == list(range(ids[-1] + 1))
    max_doc = max(r["n_tokens"] for r in rows)
    for pid in ids[:-1]:
        assert packs[pid] > 4096 - max_doc


def test_pagerank_is_a_distribution_up_to_dangling(spark, sf_dir):
    """Ranks are positive and total mass stays in (0, 1]: dangling nodes
    leak mass but nothing is created."""
    rows = run(spark, sf_dir, "graph_pagerank").collect()
    total = sum(r["pagerank"] for r in rows)
    assert all(r["pagerank"] > 0 for r in rows)
    assert 0 < total <= 1 + 1e-6
    # every nation appears exactly once
    assert len({r["nation_id"] for r in rows}) == len(rows)


def test_reconcile_partitions_the_union(spark, sf_dir):
    """only_left + both must equal |A|, only_right + both must equal |B|."""
    o = QUERIES["join_outer_reconcile"]
    counts = {r["status"]: r["n"] for r in o.spark_fn(spark, sf_dir).collect()}
    from helium_arango_etl_lite_spark.plans.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    n_a = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).count()
    n_b = orders.filter(F.col("o_totalprice") >= 100000).count()
    assert counts.get("only_left", 0) + counts.get("both", 0) == n_a
    assert counts.get("only_right", 0) + counts.get("both", 0) == n_b


def test_stratified_sample_respects_per_stratum_rates(spark, sf_dir):
    """The en stratum samples at ~10%, others at ~40%; hash sampling is
    deterministic so the test pins exact reproducibility, and rates are
    sanity-bounded (binomial tolerance on small strata)."""
    from helium_arango_etl_lite_spark.plans.registry import load_table

    s1 = {tuple(r) for r in run(spark, sf_dir, "llm_sample_stratified").collect()}
    s2 = {tuple(r) for r in run(spark, sf_dir, "llm_sample_stratified").collect()}
    assert s1 == s2  # deterministic

    docs = load_table(spark, sf_dir, "documents")
    totals = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sampled = {}
    for _, lang in s1:
        sampled[lang] = sampled.get(lang, 0) + 1
    en_rate = sampled.get("en", 0) / totals["en"]
    assert 0.0 <= en_rate <= 0.25
    rest_total = sum(v for k, v in totals.items() if k != "en")
    rest_sampled = sum(v for k, v in sampled.items() if k != "en")
    assert 0.2 <= rest_sampled / rest_total <= 0.6


def test_centroid_assign_counts_cover_corpus(spark, sf_dir):
    """Every vector gets exactly one assignment (argmax is total), so the
    confusion-matrix counts sum to the corpus size; diagonal mass above
    chance (1/k for k=10 labels) sanity-checks that centroids carry
    signal without assuming the synthetic labels are cleanly separable."""
    from helium_arango_etl_lite_spark.plans.registry import load_table

    rows = run(spark, sf_dir, "llm_centroid_assign").collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n"] for r in rows) == n_vecs
    diag = sum(r["n"] for r in rows if r["label"] == r["assigned"])
    assert diag / n_vecs > 1.0 / 10


def test_cube_totals_are_consistent(spark, sf_dir):
    """The grand-total cell equals the sum of the per-flag cells — the
    grouping-set lattice is internally consistent."""
    rows = run(spark, sf_dir, "agg_cube").collect()
    grand = [r for r in rows if r["l_returnflag"] is None and r["l_linestatus"] is None]
    per_flag = [
        r for r in rows
        if r["l_returnflag"] is not None and r["l_linestatus"] is None
    ]
    assert len(grand) == 1
    assert sum(r["n"] for r in per_flag) == grand[0]["n"]


def test_running_sum_is_prefix_monotone_per_key(spark, sf_dir):
    """Within one customer the running spend is nondecreasing in the
    window order (all amounts are positive)."""
    df = run(spark, sf_dir, "window_running_sum")
    from helium_arango_etl_lite_spark.plans.registry import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    joined = df.join(orders, "o_orderkey").collect()
    by_cust = {}
    for r in joined:
        by_cust.setdefault(r["o_custkey"], []).append(
            (r["o_orderdate"], r["o_orderkey"], r["running_spend"])
        )
    for seq in by_cust.values():
        seq.sort()
        spends = [s for _, _, s in seq]
        assert spends == sorted(spends)


def test_sentence_split_udtf_matches_posexplode(spark):
    """SURVEY §2.7's UDTF surface: the Python UDTF expansion must emit
    exactly the rows of the built-in posexplode equivalent (which remains
    the fast path; the UDTF form exists for imperative per-row logic)."""
    from pyspark.sql import functions as F

    from helium_arango_etl_lite_spark.operators.llm.text import sentence_split

    docs = spark.createDataFrame(
        [
            (1, "first sentence. second one. third"),
            (2, "only one"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = sorted(tuple(r) for r in sentence_split(docs).collect())
    want = sorted(
        tuple(r)
        for r in docs.select(
            "doc_id",
            F.posexplode(F.split("text", r"\. ")).alias("sent_idx", "sentence"),
        ).collect()
    )
    assert got == want
    assert (1, 1, "second one") in got


def test_knn_join_engines_agree(spark, sf_dir):
    """The GEMM-based Arrow engine and the JVM expression engine must
    produce identical neighbour sets, similarities, and ranks."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import knn_join
    from helium_arango_etl_lite_spark.plans.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(tuple(r) for r in knn_join(emb, k=3, engine="arrow").collect())
    b = sorted(tuple(r) for r in knn_join(emb, k=3, engine="expr").collect())
    assert a == b


def test_knn_join_auto_routes_by_corpus_size(spark, sf_dir):
    """engine='auto' must run the exact arrow GEMM while the corpus fits
    the broadcast budget and degrade to the bucketed LSH-candidate form
    (documented-approximate, no driver collect) above it."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        knn_join, knn_join_bucketed,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = sorted(tuple(r) for r in knn_join(emb, k=3, engine="arrow").collect())
    auto_small = sorted(tuple(r) for r in knn_join(emb, k=3, engine="auto").collect())
    assert auto_small == exact  # under the threshold: identical to exact

    routed = sorted(
        tuple(r)
        for r in knn_join(emb, k=3, engine="auto", max_broadcast_rows=1).collect()
    )
    bucketed = sorted(
        tuple(r) for r in knn_join_bucketed(emb, k=3).collect()
    )
    assert routed == bucketed  # over the threshold: the bucketed form
    # approximate contract: per-query neighbour lists are <= k and every
    # emitted pair carries a verified cosine
    from collections import Counter
    per_q = Counter(r[0] for r in routed)
    assert all(v <= 3 for v in per_q.values())


def test_ivf_injected_centroids_fixed_k(spark, sf_dir):
    """The scale path (SCALE_SOAK.md): with an injected fixed-K centroid
    frame, ivf_topk/semdedup run the identical dataflow against K cells
    regardless of corpus size — semdedup still covers the corpus 1:1 and
    ivf_topk still returns k neighbours."""
    from helium_arango_etl_lite_spark.operators.llm import similarity
    from helium_arango_etl_lite_spark.plans.queries import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.filter(F.col("vec_id") % 11 == 3)
        .limit(8)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
    )
    n = emb.count()
    sd = similarity.semdedup(emb, threshold=0.5, centroids=cents)
    assert sd.count() == n
    assert sd.select("cell").distinct().count() <= 8
    topk = similarity.ivf_topk(emb, query_id=0, k=5, centroids=cents)
    assert topk.count() == 5


def test_semdedup_cell_cap_bounds_pairing(spark, sf_dir):
    """max_cell_size salt-splits oversized cells before pairing. Recall
    can only DROP (fewer pairs compared -> keep flags are a superset of
    the uncapped keep set); a cap larger than every cell is the identity;
    coverage stays 1:1 either way."""
    from helium_arango_etl_lite_spark.operators.llm import similarity
    from helium_arango_etl_lite_spark.plans.queries import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    base = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in similarity.semdedup(emb, threshold=0.5).collect()
    }
    capped = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in similarity.semdedup(emb, threshold=0.5, max_cell_size=20).collect()
    }
    assert len(base) == len(capped) == n
    for vid, (cell, keep) in base.items():
        ccell, ckeep = capped[vid]
        assert ccell == cell  # the reported cell id is unchanged
        if keep == 1:
            assert ckeep == 1  # capping can only un-detect duplicates
    huge = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in similarity.semdedup(emb, threshold=0.5, max_cell_size=10**9).collect()
    }
    assert huge == base


def test_knn_join_auto_degradation_warns(spark, sf_dir):
    """Crossing max_broadcast_rows flips the contract exact->approximate;
    the routing must surface that (ADVICE r4) instead of silently
    returning possibly-short neighbour lists."""
    import warnings

    from helium_arango_etl_lite_spark.operators.llm.similarity import knn_join
    from helium_arango_etl_lite_spark.plans.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        knn_join(emb, k=3, engine="auto", max_broadcast_rows=1)
    assert any("exact->approximate" in str(w.message) for w in rec)

    # below the threshold: no degradation warning
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        knn_join(emb, k=3, engine="auto")
    assert not any("exact->approximate" in str(w.message) for w in rec)


def test_bucketed_dim_inference(spark, sf_dir):
    """dim defaults to inference from the data (ADVICE r4: a hardcoded
    wrong dim made every bucket id NULL and the join silently empty);
    inferred and explicit dim must agree, and an empty frame must raise
    instead of returning an empty result."""
    import pytest as _pytest

    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        knn_join_bucketed,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    inferred = sorted(tuple(r) for r in knn_join_bucketed(emb, k=3).collect())
    explicit = sorted(
        tuple(r) for r in knn_join_bucketed(emb, k=3, dim=64).collect()
    )
    assert inferred == explicit

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="empty"):
        knn_join_bucketed(empty, k=3)


def test_kmeans_centroids_injection(spark, sf_dir):
    """kmeans_centroids returns a K-row (cid, cv) frame that injects
    directly into the IVF family (r4 verdict task 5: 'learn the
    centroids, same dataflow'). K and dim must be preserved, empty
    cells must keep a non-null centroid, and semdedup/ivf_topk must
    accept the learned frame unchanged."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        ivf_topk, kmeans_centroids, semdedup,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=8, iterations=2)
    rows = cents.collect()
    assert len(rows) == 8
    assert all(r["cv"] is not None and len(r["cv"]) == 64 for r in rows)

    out = ivf_topk(emb, query_id=0, k=5, centroids=cents)
    assert out.count() == 5

    sd = semdedup(emb, threshold=0.35, centroids=cents, max_cell_size=16)
    assert sd.count() == emb.count()


def test_knn_join_broadcast_threshold_is_byte_budget(spark, sf_dir):
    """The auto-route threshold must be derived in BYTES (r8 verdict
    item 4): a high-dim corpus with few rows must route approximate
    under a small byte budget — the unit the broadcast actually fails
    in — while the same rows at default budget route exact."""
    import warnings as _w

    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        knn_join,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    dim = len(emb.first()["embedding"])
    # a budget that admits fewer rows than the corpus at this dim:
    # row_bytes = dim*8 + 16, so (n-1) rows' worth of budget must route
    # approximate even though the ROW count is tiny
    small_budget = (dim * 8 + 16) * (n - 1)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        knn_join(emb, k=3, engine="auto",
                 broadcast_budget_bytes=small_budget)
    msgs = [str(w.message) for w in rec]
    assert any("exact->approximate" in m for m in msgs)
    # the decision surfaces its byte math: budget and per-row bytes
    assert any(f"{small_budget} B" in m and "B-per-row" in m
               for m in msgs), msgs

    # same corpus, default 2 GiB budget: routes exact, no warning
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        knn_join(emb, k=3, engine="auto")
    assert not any("exact->approximate" in str(w.message) for w in rec)
