"""Round-14 optimization invariants.

Pins the behaviours the r13 verdict asked for:

* the beam walk's per-hop state checkpoints size their partition count
  from the state's row count (no ``coalesce(1)`` constant on a frame
  whose size is batch-dependent — VERDICT r13 item 5 / ADVICE r13);
* the walk's batching (tuple ``query_rem``) still returns row-for-row
  what separate calls return, with the re-materialized frontier
  (VERDICT r13 item 3 — the fix must not change results);
* malformed SPARK_GRAFT_EXTRA_CONF entries are skipped, not applied as
  empty-string configs (ADVICE r13).
"""
from __future__ import annotations

from helium_arango_etl_lite_spark.operators.llm.similarity import (
    WALK_STATE_ROWS_PER_PARTITION,
    walk_state_partitions,
)


def test_walk_state_partitions_formula():
    # bench scale: ~80 queries x beam 8 = 640 rows -> one partition
    assert walk_state_partitions(640) == 1
    # exactly one partition's worth stays one partition
    assert walk_state_partitions(WALK_STATE_ROWS_PER_PARTITION) == 1
    # one row over rolls to two
    assert walk_state_partitions(WALK_STATE_ROWS_PER_PARTITION + 1) == 2
    # production batch: 1e6 queries x beam 8 -> 80 partitions, not 1
    assert walk_state_partitions(8_000_000) == 80
    # clamped: never 0, never unbounded
    assert walk_state_partitions(0) == 1
    assert walk_state_partitions(10**12) == 4096


def test_walk_batched_rems_equal_separate_calls(spark, sf_dir):
    from pyspark.sql import functions as F

    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        build_route_graph,
        route_on_graph,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_route_graph(emb, edge_k=3, seeds=(7, 11)).localCheckpoint()
    kw = dict(k=3, hops=2, beam=4, n_entries=2, entry_mod=16, query_mod=40)
    both = route_on_graph(emb, edges, query_rem=(0, 1), **kw)
    sep0 = route_on_graph(emb, edges, query_rem=0, **kw)
    sep1 = route_on_graph(emb, edges, query_rem=1, **kw)
    got = sorted(map(tuple, both.collect()))
    want = sorted(
        map(tuple, sep0.unionByName(sep1).collect())
    )
    assert got == want and len(got) > 0
    # the batch tag identity the catalog entry relies on
    tags = set(
        both.select(F.pmod("query_id", F.lit(40)).cast("int"))
        .distinct()
        .rdd.flatMap(lambda r: r)
        .collect()
    )
    assert tags <= {0, 1}


def test_parse_extra_conf_skips_malformed(capsys):
    from helium_arango_etl_lite_spark.session import parse_extra_conf

    pairs = parse_extra_conf(
        "spark.a=1; spark.no.equals ;=v; spark.b = x=y "
    )
    # valid pairs applied (value keeps everything after the first '='),
    # the '=' -less and empty-key entries skipped
    assert pairs == [("spark.a", "1"), ("spark.b", "x=y")]
    err = capsys.readouterr().err
    assert "ignoring malformed" in err and "spark.no.equals" in err
    assert "override from SPARK_GRAFT_EXTRA_CONF: spark.a=1" in err
