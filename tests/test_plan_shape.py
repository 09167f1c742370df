"""Physical-plan regression tests (the 100 TB contract).

Correctness tests prove the operators compute the right rows; these prove
Catalyst is allowed to execute them the way a large cluster needs:
filters reaching the parquet scan, column pruning, broadcast joins for
small dims, TakeOrderedAndProject for top-k (no global sort), and
partial+final hash aggregation. A regression here is a performance bug
even when every value still matches the oracle.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from helium_arango_etl_lite_spark.plans.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_is_valid")
    assert "PushedFilters: [" in plan
    # at least one real predicate reached the scan (not an empty list)
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no predicates pushed: {pushed!r}"


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "hash_key_md5")
    # the scan must read exactly the two key columns, not the full lineitem
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" in read and "l_linenumber" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_small_dim_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_block_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_accounts")
    assert "TakeOrderedAndProject" in plan


def test_topk_cosine_scans_against_one_broadcast_query(spark, sf_dir):
    """llm_topk_cosine (a query_mix query) scans the corpus once against
    the broadcast query row: top-10 by TakeOrderedAndProject, one
    BroadcastExchange carrying the query vector with its norm hoisted
    in, no hash shuffle, and one dot fold per scanned row in the
    projection above the nested-loop join."""
    plan = plan_of(spark, sf_dir, "llm_topk_cosine")
    assert re.search(
        r"\(\d+\) TakeOrderedAndProject\nInput [^\n]*\nArguments: 10, ", plan
    )
    assert len(re.findall(r"^\(\d+\) BroadcastExchange$", plan, re.M)) == 1
    assert re.search(
        r"\(\d+\) BroadcastExchange\nInput \[2\]: \[qv#\d+, qn#\d+\]", plan
    )
    assert "hashpartitioning" not in plan
    above = re.search(
        r"\+- Project \((\d+)\)\n\s*\+- BroadcastNestedLoopJoin", plan
    )
    assert above, plan
    proj = re.search(
        rf"\n\({above.group(1)}\) Project\nOutput [^\n]*", plan
    ).group(0)
    assert proj.count("zip_with(") == 1


def test_dedup_minhash_broadcast_joins_the_checkpointed_bands(spark, sf_dir):
    """llm_dedup_minhash (a query_mix query): both sides of the band
    self-join scan the one checkpointed (doc_id, band_key) frame, the join
    is a BroadcastHashJoin on band_key with the doc_id < doc_id
    condition, and the distinct is the plan's only hash shuffle."""
    plan = plan_of(spark, sf_dir, "llm_dedup_minhash")
    assert re.search(
        r"\(\d+\) BroadcastHashJoin\n"
        r"Left keys \[1\]: \[band_key#\d+\]\n"
        r"Right keys \[1\]: \[band_key#\d+\]\n"
        r"Join type: Inner\n"
        r"Join condition: \(doc_id#\d+L < doc_id#\d+L\)\n",
        plan,
    ), plan
    scans = re.findall(
        r"^\(\d+\) Scan ExistingRDD\n"
        r"Output \[2\]: \[doc_id#\d+L, band_key#\d+\]\n"
        r"Arguments: [^\n]*?(\w+RDD\[\d+\]) at localCheckpoint ",
        plan, re.M,
    )
    assert len(scans) == 2 and len(set(scans)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Exchange$", plan, re.M)) == 1
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1
    assert re.search(r"hashpartitioning\(doc_a#\d+L, doc_b#\d+L, ", plan)


def test_bm25_search_broadcasts_one_stats_row(spark, sf_dir):
    """llm_bm25_search (a query_mix query): the top-10 is a
    TakeOrderedAndProject, the single-row corpus-stats aggregate is the
    plan's one BroadcastExchange, and nothing is hash-partitioned."""
    plan = plan_of(spark, sf_dir, "llm_bm25_search")
    assert re.search(
        r"\(\d+\) TakeOrderedAndProject\nInput [^\n]*\nArguments: 10, ", plan
    )
    assert len(re.findall(r"^\(\d+\) BroadcastExchange$", plan, re.M)) == 1
    assert re.search(
        r"\(\d+\) BroadcastExchange\n"
        r"Input \[5\]: \[n_docs#\d+, avgdl#\d+, df0#\d+, df1#\d+, df2#\d+\]",
        plan,
    ), plan
    below = re.search(r"BroadcastExchange \(\d+\)\n\s*\+- HashAggregate \((\d+)\)", plan)
    assert below, plan
    agg = re.search(rf"\n\({below.group(1)}\) HashAggregate\nInput [^\n]*\nKeys: \[\]\n", plan)
    assert agg, plan
    assert "hashpartitioning" not in plan


def test_aggregation_is_partial_then_final(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_payment_volume")
    # map-side partial agg before the shuffle, final after: two HashAggregates
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan.lower() or "Functions [partial" in plan


def test_codegen_covers_hot_path(spark, sf_dir):
    # AQE finalizes the physical plan lazily, so codegen explain reports 0
    # subtrees pre-execution; plan without AQE for the static inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["project_payment_edge"].spark_fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("codegen")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in plan
    n = int(plan.split("Found ", 1)[1].split(" WholeStageCodegen", 1)[0])
    assert n >= 1, "hot path fell out of whole-stage codegen"


def test_anti_join_broadcasts_keys(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "anti_join_new_keys")
    assert "LeftAnti" in plan


def test_sink_layout_prunes_block_buckets(spark, tmp_path):
    """The retention/idempotence layout (block_bucket partition dirs) must
    give metadata-only pruning: a bucket-range filter reads only matching
    partitions (PartitionFilters), never the whole table."""
    from helium_arango_etl_lite_spark.streaming import idempotent_append

    out = str(tmp_path / "edges")
    df = spark.createDataFrame(
        [("k1", 100), ("k2", 8_000), ("k3", 15_000)], ["_key", "block"]
    )
    idempotent_append(spark, df, out, (100, 15_000)).result()

    from pyspark.sql import functions as F

    filtered = spark.read.parquet(out).filter(F.col("block_bucket") >= 2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "block_bucket" in pf  # pruning predicate reached the scan
    assert filtered.count() == 1


def test_follower_sink_plan_has_no_broadcast_and_a_ranged_probe(spark, tmp_path):
    """Under the follower's small-batch profile the payments sink's plan has
    no BroadcastExchange (each broadcast build would be a Spark job of its
    own), and the probe of existing keys is ranged at the scan:
    ``block_bucket`` in its PartitionFilters, ``block`` in its
    PushedFilters."""
    from helium_arango_etl_lite_spark.operators.graph import graph_documents
    from helium_arango_etl_lite_spark.session import scoped_conf
    from helium_arango_etl_lite_spark.sources.datasource import HeliumChainDataSource
    from helium_arango_etl_lite_spark.streaming import follow, sink

    spark.dataSource.register(HeliumChainDataSource)

    def read(what, lo, hi):
        return (
            spark.read.format("helium_chain")
            .option("endpoint", "mock://mixed")
            .option("what", what)
            .option("start", lo).option("end", hi)
            .load()
        )

    out = str(tmp_path / "store")
    follow.process_batch(spark, read("blocks", 1, 32), read("txns", 1, 32), out)
    with scoped_conf(spark, follow.SMALL_BATCH_PROFILE), graph_documents(
        read("blocks", 17, 48), read("txns", 17, 48)
    ) as (payments, _, _):
        new_rows = sink._new_rows(spark, payments, f"{out}/{follow.PAYMENTS}", (17, 48))
        buf = io.StringIO()
        with redirect_stdout(buf):
            new_rows.explain("formatted")
    plan = buf.getvalue()
    assert "LeftAnti" in plan
    assert "BroadcastExchange" not in plan
    # the node details follow the tree; the only parquet scan is the probe
    scans = [ln for ln in plan.splitlines() if re.match(r"\(\d+\) Scan parquet", ln)]
    assert len(scans) == 1, scans
    probe = plan.split(scans[0], 1)[1]
    partition_filters = probe.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    pushed_filters = probe.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "block_bucket" in partition_filters
    assert "GreaterThanOrEqual(block,17)" in pushed_filters
    assert "LessThanOrEqual(block,48)" in pushed_filters


def test_range_join_is_not_nested_loop(spark, sf_dir):
    """The keyed range join must ride its equi key through a hash/merge
    join with the range predicate as a residual filter — a
    BroadcastNestedLoopJoin here would be quadratic at scale."""
    plan = plan_of(spark, sf_dir, "join_range_window")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_semi_join_stays_semi_with_pushed_filter(spark, sf_dir):
    """The existence filter must execute as a semi join (build side dedups
    before probing) with the priority predicate pushed into the scan."""
    plan = plan_of(spark, sf_dir, "join_semi_urgent")
    assert "LeftSemi" in plan
    assert "1-URGENT" in plan.split("PushedFilters: [", 2)[-1].split("]", 1)[0] or \
        "o_orderpriority" in plan


def test_pagerank_iterations_broadcast_rank_vector(spark, sf_dir):
    """The rank-vector joins carry no broadcast hint (at a 100x-vertex
    graph the scale-safe shape is a node-id shuffle join) — but at this
    scale the optimizer must still pick broadcast from size stats, and
    never a nested-loop."""
    plan = plan_of(spark, sf_dir, "graph_pagerank")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_joins_broadcast_edge_set(spark, sf_dir):
    """The top-k edge set is tiny by construction; both triangle joins
    must broadcast it rather than shuffle or nested-loop."""
    plan = plan_of(spark, sf_dir, "graph_triangle_count")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_moving_avg_preaggregates_before_window(spark, sf_dir):
    """The 7-day moving average must reduce to one row per day (partial +
    final hash agg) BEFORE the unpartitioned window, so the single-task
    window stage sees a bounded series at any input scale."""
    plan = plan_of(spark, sf_dir, "window_moving_avg")
    assert plan.count("HashAggregate") >= 2
    assert "Window" in plan


def test_cube_expands_with_partial_aggregation(spark, sf_dir):
    """CUBE must execute as Expand + partial/final hash aggregation —
    one scan of the fact table for all four grouping sets."""
    plan = plan_of(spark, sf_dir, "agg_cube")
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2


def test_q6_filters_push_and_scan_prunes(spark, sf_dir):
    """TPC-H Q6: every predicate reaches the parquet scan and the scan
    reads only the 4 referenced columns of the wide fact table — the plan
    that makes the query pure scan bandwidth at scale."""
    plan = plan_of(spark, sf_dir, "tpch_q6_forecast")
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_extendedprice" in schema
    assert "l_orderkey" not in schema and "l_comment" not in schema
    assert "HashAggregate" in plan


def test_q4_exists_plans_as_semi_join_with_pushed_quarter(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q4_order_priority")
    assert "LeftSemi" in plan                    # EXISTS decorrelated, not a full join
    assert "GreaterThanOrEqual(o_orderdate" in plan  # quarter filter at the scan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "o_comment" not in read and "o_totalprice" not in read


def test_q18_aggregates_lineitem_before_joining(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q18_large_orders")
    # the per-order quantity aggregate must sit BELOW the orders join:
    # partial_sum appears, and the lineitem scan reads only key+quantity
    assert "partial_sum" in plan
    li_read = [
        line for line in plan.splitlines()
        if "ReadSchema" in line and "l_quantity" in line
    ]
    assert li_read and all("l_extendedprice" not in line for line in li_read)


def test_grouped_topn_windows_on_aggregated_rows(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_grouped_topn")
    # window runs after the (segment, custkey) aggregate, partitioned by
    # segment — no unpartitioned (single-task) window anywhere
    assert "row_number" in plan
    assert "partial_sum" in plan


def test_regex_scrub_is_scan_plus_project_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_regex_scrub")
    assert "Exchange hashpartitioning" not in plan  # zero shuffle
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "text" in read and "lang" not in read    # prunes to id+text


def test_q21_plans_semi_and_anti_over_late_set(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q21_waiting_supplier")
    # EXISTS -> left-semi, NOT EXISTS -> left-anti, both present; the
    # supplier dim broadcasts; the final top-10 avoids a global sort
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q16_not_in_compiles_to_broadcast_anti(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q16_supplier_variety")
    # NOT IN over non-null keys must become an anti join (NOT a
    # null-aware cartesian fallback), with the tiny bad-supplier side
    # broadcast; part's size/brand predicates reach its scan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "In(p_size" in plan


def test_q19_pushes_implied_single_side_predicates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q19_disjunctive_revenue")
    # the OR spans both sides so it stays a join residual, but each
    # side's implied disjunction (brand IN..., quantity range) is
    # derivable; at minimum the join must stay broadcast with pushed
    # part filters, never explode to SortMergeJoin
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip()


def test_q10_quarter_filter_reaches_orders_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q10_returned_items")
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "TakeOrderedAndProject" in plan


def test_decontaminate_probe_broadcasts_benchmark_grams(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_decontaminate")
    # the eval-set gram dictionary must be the build (broadcast) side so
    # the train scan never shuffles
    assert "BroadcastHashJoin" in plan


def test_repetition_score_is_map_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_repetition_score")
    assert "Exchange hashpartitioning" not in plan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "text" in read and "source" not in read


def test_distributed_ntile_has_no_single_task_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "window_ntile_decile_scalable")
    # the whole point: no Window operator anywhere — ntile is computed by
    # range-repartition (materialized inside the localCheckpoint feeding
    # the scan), Arrow local ranks, and a broadcast offset map
    assert "Window" not in plan
    assert "MapInPandas" in plan


def test_doc_pack_scalable_has_no_single_task_window(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_doc_pack_scalable")
    assert "Window" not in plan
    assert "MapInPandas" in plan


def test_q2_part_filter_semi_joins_before_agg(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q2_min_cost_supplier")
    # the part-type filter must prune lineitem BEFORE the (part, supp)
    # aggregation: a broadcast semi join below the first HashAggregate
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    semi_pos = plan.find("LeftSemi")
    agg_pos = plan.find("HashAggregate")
    assert semi_pos != -1 and agg_pos != -1
    # formatted plans print top-down: the aggregate node appears before
    # (above) the semi join that feeds it
    assert agg_pos < semi_pos


def test_q12_residual_predicate_stays_in_join(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q12_late_priority")
    # the shipdate year range pushes to the lineitem scan (scan order in
    # the plan is join-build dependent, so search every PushedFilters)
    pushed_all = " ".join(
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    )
    assert "GreaterThanOrEqual(l_shipdate" in pushed_all
    # ...while the two-sided lateness predicate survives as a join
    # condition (it references both tables, so it cannot push to a scan)
    join_cond = [
        ln for ln in plan.splitlines() if ln.strip().startswith("Join condition")
    ]
    assert any("o_orderdate" in ln and "l_shipdate" in ln for ln in join_cond)


def test_bm25_has_no_wide_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_bm25_search")
    # corpus stats reduce via a single-partition exchange of ONE row and
    # broadcast back; the scoring pass itself must never hash-partition
    # the documents table
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning(doc_id" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_quantize_int8_is_map_only(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_quantize_int8")
    # pure per-row array math: the only exchange allowed is load_table's
    # local-mode round-robin scan spread — never a hash/range shuffle
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    n_exchange = plan.count("+- Exchange") + plan.count(":- Exchange")
    n_spread = plan.count("RoundRobinPartitioning")
    assert n_exchange <= n_spread


def test_cross_dedup_is_anti_join_on_fingerprint(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_cross_dedup")
    assert "LeftAnti" in plan


def test_blocklist_filter_stays_jvm_side_without_explode(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_blocklist_filter")
    # F.exists over the token array: one boolean per row, no row fan-out,
    # no Python worker round-trip
    assert "Generate" not in plan
    assert "EvalPython" not in plan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "text" in read and "source" in read and "doc_id" not in read


def test_tfidf_windows_on_doc_key_with_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_tfidf_topk")
    # rank<=k must push below the window shuffle (Spark 3.5 WindowGroupLimit)
    # so each map task keeps only its local top-k per doc
    assert "WindowGroupLimit" in plan
    # window keyed on the max-cardinality doc_id, never a global sort
    assert "hashpartitioning(doc_id" in plan
    # the 1-row corpus-size aggregate broadcasts; dfreq broadcasts at this
    # scale (term dimension < threshold)
    assert "BroadcastNestedLoopJoin" in plan


def test_dataset_split_prunes_to_key_and_weight_columns(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "llm_dataset_split")
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "doc_id" in read and "n_chars" in read and "text" not in read


def test_degree_distribution_is_two_partial_aggs(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "graph_degree_distribution")
    # both the per-account degree count and the bucket histogram must
    # map-side combine before their exchanges
    assert plan.count("partial_count") >= 2
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "o_custkey" in read and "o_orderdate" not in read


def test_grouping_sets_expands_with_single_aggregate_pass(spark, sf_dir):
    # GROUPING SETS must compile to one Expand feeding a partial+final hash
    # aggregate — one scan and one shuffle for all four groupings, never a
    # union of per-grouping scans
    plan = plan_of(spark, sf_dir, "agg_grouping_sets")
    assert "Expand" in plan
    # formatted explain lists every node twice (tree + detail): one scan
    # node shows as exactly two occurrences
    assert plan.count("Scan parquet") == 2


def test_importance_sample_is_map_only(spark, sf_dir):
    # deterministic hash sampling is a scan + filter + project: no KEY
    # shuffle anywhere (the round-robin repartition load_table injects in
    # the splits<cores test env is not a key exchange and vanishes at scale)
    plan = plan_of(spark, sf_dir, "llm_importance_sample")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_time_range_window_single_shuffle_on_user(spark, sf_dir):
    # the RANGE frame evaluates in one sorted pass per user partition: the
    # only KEY exchange is the window's hashpartitioning on user_id
    plan = plan_of(spark, sf_dir, "window_time_range_sum")
    assert plan.count("hashpartitioning") == 1  # detail Arguments line only
    assert "user_id" in plan.split("hashpartitioning", 1)[1][:60]


def test_semdedup_broadcasts_centroids(spark, sf_dir):
    # the centroid set is fixed-K: assignment must be a broadcast
    # nested-loop/hash join, never a shuffled cross product of the corpus
    plan = plan_of(spark, sf_dir, "llm_semdedup")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_knn_bucketed_is_equi_join_only(spark, sf_dir):
    """The 100 TB k-NN form: candidate generation must be a bucket
    EQUI-join (hashable keys on both sides) — a cartesian/nested-loop
    candidate stage would re-create the all-pairs blow-up the operator
    exists to avoid — and the per-query top-k must be a qid-partitioned
    window, not a global sort."""
    plan = plan_of(spark, sf_dir, "llm_knn_join_bucketed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_ivf_topk_take_ordered(spark, sf_dir):
    """IVF ANN ends in TakeOrderedAndProject (per-partition top-k, K-row
    driver merge) — a global Sort before the limit would shuffle the
    whole candidate set."""
    plan = plan_of(spark, sf_dir, "llm_ann_ivf")
    assert "TakeOrderedAndProject" in plan


def test_fixed_centroids_take_ordered(spark, sf_dir):
    """fixed_centroids compiles to TakeOrderedAndProject — the K-row
    centroid seed must never trigger a full global sort of the corpus."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        _as_double, fixed_centroids,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    df = fixed_centroids(e, 8)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan


def test_seq_len_buckets_partial_aggregates(spark, sf_dir):
    # the histogram must partial-aggregate map-side: the shuffle carries
    # O(buckets) rows, not O(docs)
    plan = plan_of(spark, sf_dir, "llm_seq_len_buckets")
    assert plan.count("HashAggregate") >= 2


def test_oov_vocab_avoids_global_window(spark, sf_dir):
    """llm_oov_rate's top-100 vocabulary must compile to
    TakeOrderedAndProject (per-partition top-k + 100-row merge), never a
    global row_number window that drags every distinct token of the
    corpus through ONE task (the round-4 `weak` finding)."""
    plan = plan_of(spark, sf_dir, "llm_oov_rate")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_semdedup_capped_keeps_broadcast_shapes(spark, sf_dir):
    """The capped entry must keep the uncapped entry's scale shapes:
    centroid assignment broadcast (never a shuffled cross product) and
    the O(K)-row cell-size frame broadcast back onto the corpus."""
    plan = plan_of(spark, sf_dir, "llm_semdedup_capped")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # pairing is an equi-join on (cell, salt): no cartesian product may
    # survive for the pair stage (the only nested-loop join allowed is
    # the K-row centroid broadcast)
    assert plan.count("CartesianProduct") == 0


def test_zorder_layout_no_window_no_sort(spark, sf_dir):
    """zorder_layout_stats must be scalar-agg broadcast + integer bit
    arithmetic + two key-partitioned aggregations: the only nested-loop
    join allowed is the 1-row min/max stats broadcast, and nothing may
    compile to a Window or a global Sort — file clustering keys have to
    be assignable map-side at 100 TB."""
    plan = plan_of(spark, sf_dir, "zorder_layout_stats")
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats frame
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final per layout


def test_ann_recall_no_cartesian(spark, sf_dir):
    """llm_ann_recall overlays count-aggregations and qid equi-joins on
    the two verified k-NN operators; the approximate side must stay a
    bucket equi-join and no stage may fall back to a cartesian
    product."""
    plan = plan_of(spark, sf_dir, "llm_ann_recall")
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_stays_broadcast(spark, sf_dir):
    """join_bloom_prefilter's probe pass must be map-side: each of the 3
    word lookups and the truth check compile to broadcast hash joins
    over the probe scan — the probe side must never sort-merge or
    shuffle before the filter, because discarding probe rows BEFORE the
    shuffle is the entire point of a runtime filter. (No nested-loop
    join either: the first cut broadcast one array row and paid a
    linear array_contains scan per probe — the packed-word equi-join
    form is 13.6x faster at x100, SCALE_SOAK.md.)"""
    plan = plan_of(spark, sf_dir, "join_bloom_prefilter")
    assert plan.count("BroadcastHashJoin") >= 4  # 3 word lookups + truth
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_histogram_quantiles_bounded_window(spark, sf_dir):
    """agg_histogram_quantiles partial-aggregates the per-bin counts
    map-side (the mergeable sketch); the only window runs over <= 128
    bin rows. No corpus-sized sort or cartesian may appear."""
    plan = plan_of(spark, sf_dir, "agg_histogram_quantiles")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_aqe_converts_sortmerge_to_broadcast_at_runtime(spark, sf_dir):
    """Adaptive execution must stay ENABLED in this engine and must be
    able to re-plan: with static broadcast disabled (so the planner
    commits to a sort-merge join) but the ADAPTIVE broadcast threshold
    open, running the join lets AQE observe the real shuffle sizes and
    swap in a broadcast join at runtime. This is the runtime half of the
    skew/size story: at 100 TB the planner's size estimates are wrong
    exactly when it matters, and AQE is the correction."""
    from pyspark.sql import functions as F

    from helium_arango_etl_lite_spark.plans.registry import load_table

    before = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        df = orders.join(cust, orders.o_custkey == cust.c_custkey).groupBy(
            "c_nationkey"
        ).agg(F.count("*").alias("n"))
        static_plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in static_plan  # planner committed to SMJ
        df.collect()  # AQE finalizes the plan with real sizes
        final_plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final_plan
        assert "isFinalPlan=true" in final_plan
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_exact_median_refine_pushes_range_to_scan(spark, sf_dir):
    """agg_exact_median_refine's refinement scans must reach the parquet
    reader as PushedFilters: the range predicate is duplicated on the
    RAW price column (conservative superset) precisely because a filter
    on the computed cents column cannot push. The finish is a bounded
    TakeOrdered, never a global sort."""
    plan = plan_of(spark, sf_dir, "agg_exact_median_refine")
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_extendedprice" in pushed
    assert "TakeOrderedAndProject" in plan


def test_trigram_lm_broadcasts_model_and_vocab(spark, sf_dir):
    # the LM model is bounded by its top-M cap, never by the corpus —
    # the scoring join must be broadcast, and the 1-row vocab scalar a
    # broadcast nested loop, or a 100 TB corpus shuffles itself against
    # an 8k-row model
    plan = plan_of(spark, sf_dir, "llm_trigram_lm_score")
    assert plan.count("BroadcastHashJoin") >= 2  # trigram + context model
    assert "BroadcastNestedLoopJoin" in plan     # 1-row vocab crossJoin
    assert "SortMergeJoin" not in plan
    # model build is top-M, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_resample_interp_fuses_both_window_directions(spark, sf_dir):
    # prev (unbounded-preceding) and next (1-following) share partitioning
    # and ordering, so they must compile into ONE Window operator over one
    # exchange+sort — a second window pass would double the dominant
    # shuffle at scale
    plan = plan_of(spark, sf_dir, "events_resample_interp")
    # formatted explain prints each node twice (tree + detail); count the
    # tree form "Window (N)"
    assert plan.count("Window (") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # round-8: the per-(user,ts) pre-agg is localCheckpointed so the
    # bounds/grid branch and the union branch share ONE events scan —
    # no parquet scan of the fact table may remain in the visible plan
    # (both branches read the checkpointed RDD instead)
    assert plan.count("Scan parquet") == 0
    assert "ExistingRDD" in plan


def test_incremental_bloom_probes_via_broadcast_words(spark, sf_dir):
    # each of the 3 hash positions probes the packed word table via a
    # broadcast hash join — a shuffle join here would move the whole new
    # batch 3 times to meet a <= bits/32-row table
    plan = plan_of(spark, sf_dir, "llm_incremental_dedup_bloom")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
