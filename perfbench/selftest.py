"""The benchmark's own tests, at reduced size (about five minutes on 4 cores).

    python3 -m pytest perfbench/selftest.py -q

Run from the repository root. Every workload of BENCHMARK.json runs once
untraced and once traced at ``--seconds 1``; the runs must print every
metric with its unit, the traced span tree must be well-formed, and the
store checker must reject a store that lacks one witness edge.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import chain  # noqa: E402
import run  # noqa: E402
from spans import check_tree, self_time, children  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SEED = 7


def _leftovers(scratch: str) -> list[str]:
    """Command lines of live processes that name a run's scratch dir (the
    JVM names it in its warehouse setting)."""
    found = []
    for name in os.listdir("/proc"):
        if name.isdigit() and run._alive(int(name)):
            try:
                with open(f"/proc/{name}/cmdline", "rb") as f:
                    cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            except OSError:
                continue
            if scratch in cmd:
                found.append(cmd[:200])
    return found


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    out, err = p.communicate(timeout=180)
    assert p.returncode == 0, err[-2000:]
    # the run has ended every process it started, the JVM included
    assert _leftovers(os.path.join(ROOT, ".perfbench", f"run-{p.pid}")) == []
    lines = out.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.fixture(scope="module", params=[w["name"] for w in BENCH["workloads"]])
def runs(request):
    return request.param, _run(request.param, 0), _run(request.param, 1)


def test_result_line_has_every_metric(runs):
    _, (_, plain), (_, traced) = runs
    for result, declared in ((plain, BENCH["end_to_end"]), (traced, BENCH["per_layer"])):
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0
        assert result["attempted"] >= 1
        assert {m["name"]: m["unit"] for m in declared} == {
            k: v["unit"] for k, v in result["metrics"].items()
        }
    for m in BENCH["end_to_end"]:
        assert plain["metrics"][m["name"]]["value"] > 0, m["name"]


def test_report_names_the_workload_metrics(runs):
    workload, (report, _), _ = runs
    names = (
        ["blocks_per_s", "batch_p50_s", "batch_tail_s", "store_bytes_per_block"]
        if workload.startswith("follow_")
        else ["queries_per_min", "query_p50_s", "query_tail_s"]
    )
    for name in ["setup_s", "failed_frac", "peak_rss_mb", *names]:
        line = next((ln for ln in report if ln.split()[:1] == [name]), None)
        assert line is not None and "samples" in line, name


def test_traced_run(runs):
    workload, _, (_, traced) = runs
    spans = json.load(open(os.path.join(ROOT, ".perfbench", f"spans-{workload}-{SEED}.json")))
    assert spans and check_tree(spans) == []
    m = {k: v["value"] for k, v in traced["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.failed_tasks"] == 0
    if workload == "follow_tail":
        assert m["streaming.sink.jobs_per_batch"] > 0
        assert m["streaming.sink.replay_rows_inserted"] == 0
        assert m["streaming.sink.buckets_dropped"] == 1
        # the live heights' edges; their accounts are all in the history
        plan = run.workloads.tail_plan(SEED, 1)
        offered = chain.offered(plan["live_lo"], plan["end"])
        assert m["streaming.sink.rows_inserted"] == offered["payments"] + offered["poc_receipts"]
    else:
        for q in run.workloads.QUERY_MIX:
            assert m[f"query.{q}.execute_s"] > 0, q


def test_check_tree_flags_bad_spans():
    good = [
        {"id": 1, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "b", "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "c", "parent": 1, "start": 3.0, "end": 6.0},
    ]
    assert check_tree(good) == []
    assert self_time(good[0], children(good)) == pytest.approx(5.0)
    outside = good + [{"id": 4, "name": "d", "parent": 2, "start": 3.5, "end": 5.0}]
    assert any("outside its parent" in e for e in check_tree(outside))
    orphan = good + [{"id": 5, "name": "e", "parent": 9, "start": 1.0, "end": 2.0}]
    assert any("unknown parent" in e for e in check_tree(orphan))


def test_tail_percentile():
    assert run.tail([1.0] * 19) is None
    pct, value = run.tail([float(i) for i in range(40)])
    assert pct == 75.0 and value == 29.0  # ten samples lie beyond it


def test_checker_rejects_missing_witness_edge(tmp_path):
    import importlib

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from helium_arango_etl_lite_spark.session import get_spark

    follow = importlib.import_module("helium_arango_etl_lite_spark.streaming.follow")
    spark = get_spark(app_name="perfbench-selftest")
    try:
        lo, hi = 3 * chain.BUCKET + 1, 3 * chain.BUCKET + 60
        store = str(tmp_path / "store")
        follow.process_batch(spark, *chain.seed_frames(spark, lo, hi), store)
        heights = range(lo, hi + 1)
        assert chain.check_store(spark, store, set(heights), heights) == []

        receipts = spark.read.parquet(f"{store}/poc_receipts")
        victim = receipts.orderBy("_key").first()["_key"]
        planted = str(tmp_path / "planted")
        for table in ("payments", "accounts"):
            spark.read.parquet(f"{store}/{table}").write.parquet(f"{planted}/{table}")
        receipts.where(receipts["_key"] != victim).write.partitionBy("block_bucket").parquet(
            f"{planted}/poc_receipts"
        )
        errors = chain.check_store(spark, planted, set(heights), heights)
        assert len(errors) == 1 and errors[0].startswith("poc_receipts: 1 missing"), errors
    finally:
        run.stop_spark(spark)
