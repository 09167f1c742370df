"""Spans around calls into the program's layers, with Spark's own counters.

Each span runs under its own Spark job group, so the jobs a span started
can be read back from Spark's status store: jobs, stages, tasks, failed
tasks, input/shuffle/spill bytes and executor run/CPU time. Spans stay in
memory and are written as JSON when the run ends. Only the traced run
creates a :class:`Tracer`; the untraced run uses :data:`OFF`, whose spans
are no-ops, so end-to-end metrics are measured without this module's
cost.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description")


class _Off:
    """Tracing disabled: every hook is free."""

    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})

    def wrap(self, module, attr: str, name) -> None:
        pass

    def restore(self) -> None:
        pass


OFF = _Off()


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time ``name``; jobs started inside run under the span's job group.

        A top-level span reads its tree's Spark counters when it closes,
        while the status store still holds those jobs.
        """
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "attrs": attrs,
        }
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setLocalProperty(_GROUP_KEYS[0], f"perfbench-{span['id']}")
        self.sc.setLocalProperty(_GROUP_KEYS[1], name)
        stack.append(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            for k, v in zip(_GROUP_KEYS, saved):
                self.sc.setLocalProperty(k, v)
            self.spans.append(span)
            if span["parent"] is None:
                self._harvest(span)

    def wrap(self, module, attr: str, name) -> None:
        """Replace ``module.attr`` with a spanned version until :meth:`restore`.
        ``name(args)`` names the span from the call's arguments, keyed by
        parameter name."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name(_named(original, args, kwargs))):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def _harvest(self, top: dict) -> None:
        self._bus.waitUntilEmpty()
        tree = {top["id"]}
        for s in reversed(self.spans):  # children close before parents
            if s["parent"] in tree:
                tree.add(s["id"])
        for s in self.spans:
            if s["id"] in tree:
                s["spark"] = self._counters(f"perfbench-{s['id']}")

    def _counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(
            (
                "jobs", "stages", "tasks", "failed_tasks", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "output_records", "executor_run_s", "executor_cpu_s",
            ),
            0,
        )
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in info.stageIds:
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["output_records"] += sd.outputRecords()
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        return c

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _named(fn, args, kwargs) -> dict:
    names = fn.__code__.co_varnames[: fn.__code__.co_argcount]
    return {**dict(zip(names, args)), **kwargs}


# -- reading a span list ------------------------------------------------


def children(spans: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            out.setdefault(s["parent"], []).append(s)
    return out


def self_time(span: dict, kids: dict[int, list[dict]]) -> float:
    """Duration minus the part of it the span's children cover."""
    covered, cursor = 0.0, span["start"]
    for k in sorted(kids.get(span["id"], []), key=lambda s: s["start"]):
        lo, hi = max(k["start"], cursor), min(k["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return (span["end"] - span["start"]) - covered


def subtree(span: dict, kids: dict[int, list[dict]]) -> list[dict]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def spark_total(spans: list[dict], key: str) -> float:
    return sum(s.get("spark", {}).get(key, 0) for s in spans)


def check_tree(spans: list[dict]) -> list[str]:
    """Well-formedness: known parents, children inside their parents,
    non-negative self times."""
    by_id = {s["id"]: s for s in spans}
    kids = children(spans)
    errors = []
    for s in spans:
        if s["end"] < s["start"]:
            errors.append(f"span {s['id']} {s['name']} ends before it starts")
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            errors.append(f"span {s['id']} {s['name']} has unknown parent")
        if p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            errors.append(f"span {s['id']} {s['name']} lies outside its parent")
        if self_time(s, kids) < 0:
            errors.append(f"span {s['id']} {s['name']} has negative self time")
    return errors
