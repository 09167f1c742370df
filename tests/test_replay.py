"""The stream-replay runner (plans/replay.py): micro-batch i is slice i
whatever order the slice files were written in, the shuffle-partition
conf is scoped to the run, and a failed batch re-raises with no query
left running."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from helium_arango_etl_lite_spark.plans import replay

PARTS = "spark.sql.shuffle.partitions"


def _slices(spark, tag):
    """Three slices; slice i holds i + 1 rows tagged (tag, i)."""
    return [
        spark.createDataFrame(
            [(tag, i, j) for j in range(i + 1)], "src string, slice long, j long"
        )
        for i in range(3)
    ]


def _write_back_to_front(monkeypatch):
    """Make the runner write each source's three slices in reverse index
    order, so file write times run against the slice order."""
    real = replay.write_slice
    pending = []

    def deferred(df, src, i):
        pending.append((df, src, i))
        if i == 2:
            for args in reversed(pending):
                real(*args)
            pending.clear()

    monkeypatch.setattr(replay, "write_slice", deferred)


def _batches(outs):
    return sorted(
        (r["batch_id"], r["src"], r["slice"], r["j"]) for r in outs.collect()
    )


def test_batch_i_is_slice_i_one_source(spark, monkeypatch):
    _write_back_to_front(monkeypatch)
    outs = replay.run_replay(
        spark, "replay_order_1", lambda s: s, _slices(spark, "a"),
        output_mode="append",
    )
    assert _batches(outs) == [
        (i, "a", i, j) for i in range(3) for j in range(i + 1)
    ]


def test_batch_i_is_slice_i_two_sources(spark, monkeypatch):
    _write_back_to_front(monkeypatch)
    outs = replay.run_replay(
        spark, "replay_order_2", lambda a, b: a.unionByName(b),
        _slices(spark, "a"), _slices(spark, "b"),
        output_mode="append",
    )
    assert _batches(outs) == [
        (i, tag, i, j) for i in range(3) for tag in "ab" for j in range(i + 1)
    ]


def test_conf_scoped_and_restored(spark):
    prev = spark.conf.get(PARTS)
    spark.conf.set(PARTS, "3")
    try:
        seen = []

        def record(df, bid):
            seen.append(spark.conf.get(PARTS))
            return df

        replay.run_replay(
            spark, "replay_conf", lambda s: s.groupBy("src").count(),
            _slices(spark, "a"), per_batch=record,
        )
        assert seen == ["8", "8", "8"]
        state = os.path.join(
            tempfile.gettempdir(), "spark_graft_replay", str(os.getpid()),
            "replay_conf", "ckpt", "state", "0",
        )
        parts = sorted(int(d) for d in os.listdir(state) if d.isdigit())
        assert parts == list(range(8))
        assert spark.conf.get(PARTS) == "3"
    finally:
        spark.conf.set(PARTS, prev)


def test_failed_batch_reraises_and_stops(spark):
    prev = spark.conf.get(PARTS)

    def fail_on_slice_1(s):
        if s == 1:
            raise ValueError("slice 1 refused")
        return s

    refuse = F.udf(fail_on_slice_1, "long")
    with pytest.raises(Exception, match="slice 1 refused"):
        replay.run_replay(
            spark, "replay_fail",
            lambda s: s.withColumn("checked", refuse("slice")),
            _slices(spark, "a"), output_mode="append",
        )
    assert spark.conf.get(PARTS) == prev
    assert spark.streams.active == []
