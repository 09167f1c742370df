"""Benchmark entry point.

    python3 perfbench/run.py --workload follow_tail --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints a human-readable report (every metric
with its unit and sample count), then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, measured without
tracing; with ``--trace 1`` they are its per-layer metrics. Exits non-zero
without a result when the program cannot be imported or the environment
is not the pinned one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from workloads import Context, median  # noqa: E402

# name -> unit; the order and names of BENCHMARK.json. Every workload
# reports every one: throughput counts blocks on follow_* and queries on
# query_mix. The median step (micro-batch or query) is printed and traced
# but not bounded: a run holds 3 batches or 10 queries of five kinds, and
# its median moved 0.17-0.31 of itself between seeds.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
_SINK = {
    "streaming.sink.append_payments_s": "s",
    "streaming.sink.append_poc_receipts_s": "s",
    "streaming.sink.append_accounts_s": "s",
    "streaming.sink.jobs_per_batch": "count",
    "streaming.sink.tasks_per_batch": "count",
    "streaming.sink.probe_files": "count",
    "streaming.sink.probe_bytes": "B",
    "streaming.sink.rows_inserted": "count",
    "streaming.sink.insert_ratio": "ratio",
    "streaming.sink.replay_rows_inserted": "count",
    "streaming.sink.files_written": "count",
    "streaming.sink.retention_s": "s",
    "streaming.sink.buckets_dropped": "count",
}
_SPARK = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.datasource.read_s": "s",
    "sources.datasource.rows": "count",
    "streaming.follow.process_batch_s": "s",
    "streaming.follow.trigger_gap_s": "s",
    **_SINK,
    "store_bytes_per_block": "B",
    **{
        f"query.{q}.{m}": u
        for q in workloads.QUERY_MIX
        for m, u in (("build_s", "s"), ("execute_s", "s"), ("stages", "count"), ("shuffle_bytes", "B"))
    },
    **_SPARK,
    # the end-to-end metrics and the median step as the traced run
    # measured them; tracing overhead is each minus the untraced run's
    # value at the same seed
    **{f"trace.{k}": u for k, u in {**END_TO_END, "step_p50_s": "s"}.items()},
}


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten samples
    beyond it, or None when fewer than 20 samples leave no such percentile
    at or above the median."""
    n = len(xs)
    if n < 20:
        return None
    pct = 100.0 * (n - 10) / n
    return pct, sorted(xs)[n - 11]


def _proc_state(pid: int) -> tuple[str, int] | None:
    """(state letter, parent pid) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[1])
    except (OSError, IndexError, ValueError):
        return None


def process_tree() -> set[int]:
    """This process and all its descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _proc_state(int(name))) is not None:
            parent[int(name)] = st[1]
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    return tree


def _alive(pid: int) -> bool:
    st = _proc_state(pid)
    return st is not None and st[0] not in "ZX"


def stop_spark(spark) -> None:
    """Stop the session and end the JVM and every process under it, waiting
    for each. ``spark.stop()`` alone leaves the JVM exiting on its own after
    this process has gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    except Exception as e:  # noqa: BLE001 - e.g. a py4j call cut by SIGTERM; the JVM is ended below
        print(f"perfbench: spark.stop() failed: {e}"[:300], file=sys.stderr)
    descendants = process_tree() - {os.getpid()}
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is ended below regardless
            pass
    if proc is not None:
        # the gateway server exits when its stdin closes
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        left = [p for p in descendants if _alive(p)]
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = [p for p in left if _alive(p)]
        if not left:
            break


class RssSampler(threading.Thread):
    """Peak resident set of this process and all its descendants (JVM and
    Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for p in process_tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_event.wait(0.2):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)
        self.peak = max(self.peak, self._tree_rss())


def pin_environment(root: str, scratch: str) -> None:
    """One scratch dir per run for stores, checkpoints, Spark local dirs,
    the warehouse and temp files; all cores of this host; a 2 GiB driver
    heap, ample for these inputs, so peak memory does not follow how far
    the JVM happens to grow an 8 GiB default heap."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    tmp = os.path.join(scratch, "tmp")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(scratch, "warehouse"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # Python workers import the program from the checkout
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    import tempfile

    tempfile.tempdir = tmp


def metrics_of(out, session_s: float, peak_rss: int) -> dict[str, float]:
    return {
        "setup_s": session_s + out.setup_s,
        "throughput_per_s": out.work / out.wall_s if out.wall_s > 0 else 0.0,
        "step_p50_s": median(out.latencies),
        "peak_rss_mb": peak_rss / 2**20,
    }


def traced_layers(tracer, out, e2e: dict[str, float], session_s: float) -> dict[str, float]:
    from spans import spark_total

    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update(out.layers)
    layers["session.get_spark_s"] = session_s
    layers["store_bytes_per_block"] = out.store_bytes_per_block or 0.0
    for name in _SPARK:
        # every span reads its own job group, so summing all spans counts
        # each job once
        layers[name] = spark_total(tracer.spans, name.split(".", 1)[1])
    for k, v in e2e.items():
        layers[f"trace.{k}"] = v
    return layers


def report(workload: str, out, e2e: dict[str, float]) -> list[str]:
    """The workload's end-to-end metrics under their own names, each with
    its unit and sample count."""
    n = len(out.latencies)
    t = tail(out.latencies)
    follow = workload.startswith("follow_")
    step = "batch" if follow else "query"
    rows = [("setup_s", e2e["setup_s"], "s", "1 (session start + set-up)")]
    if follow:
        rows.append(("blocks_per_s", e2e["throughput_per_s"], "blocks/s",
                     f"{out.work} blocks in {out.wall_s:.2f} s"))
    else:
        rows.append(("queries_per_min", 60 * e2e["throughput_per_s"], "1/min",
                     f"{out.work} queries in {out.wall_s:.2f} s"))
    rows.append((f"{step}_p50_s", e2e["step_p50_s"], "s", f"{n}"))
    rows.append((f"{step}_tail_s", t[1] if t else float("nan"), "s",
                 f"p{t[0]:.1f} of {n}" if t else
                 f"{n}: fewer than 20, no percentile >= p50 has 10 samples beyond it"))
    rows.append(("failed_frac", out.failed / max(1, out.attempted), "ratio",
                 f"{out.failed} of {out.attempted} operations"))
    rows.append(("peak_rss_mb", e2e["peak_rss_mb"], "MB", "1 (sampled every 0.2 s)"))
    if follow:
        rows.append(("store_bytes_per_block", out.store_bytes_per_block, "B", "1"))
    return [f"  {name:<22} {value:14.4f} {unit:<9} samples {samples}"
            for name, value, unit, samples in rows]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if os.environ.get("SPARK_GRAFT_EXTRA_CONF"):
        print("perfbench: refusing to run with SPARK_GRAFT_EXTRA_CONF set; "
              "the benchmark measures the committed configuration", file=sys.stderr)
        return 2
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import helium_arango_etl_lite_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {root}: {e}", file=sys.stderr)
        return 2

    # a run stopped from outside still ends the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs = os.path.join(root, ".perfbench")
    scratch = os.path.join(runs, f"run-{os.getpid()}")
    pin_environment(root, scratch)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        from helium_arango_etl_lite_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = workloads.OFF
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        ctx = Context(spark, args.seed, args.seconds, scratch, tracer)
        out = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            tracer.dump(os.path.join(runs, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        stop_spark(spark)
        rss.stop()
        shutil.rmtree(scratch, ignore_errors=True)

    e2e = metrics_of(out, session_s, rss.peak)
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"cpus {os.environ['SPARK_GRAFT_CPUS']}")
    print("\n".join(report(args.workload, out, e2e)))
    for err in out.errors:
        print(f"  FAILED: {err}")
    if args.trace:
        metrics, units = traced_layers(tracer, out, e2e, session_s), PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    print(json.dumps({
        "correct": not out.errors and out.failed == 0,
        "attempted": max(1, out.attempted),
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
