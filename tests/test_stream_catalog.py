"""Tests of the streaming catalog (plans/catalog_stream.py) and its
stateful kernels (streaming/stateful.py). Oracle parity covers each
entry's values; these pin the per-key update functions against a stub
``GroupState`` (no streaming harness), the cross-form agreements the
oracle compare cannot state, and that every stream runs through the one
replay runner."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F

from helium_arango_etl_lite_spark.plans.registry import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class StubState:
    """The slice of ``GroupState`` an update function touches."""

    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def test_stream_cusum_update_sorts_and_accumulates():
    """The stateful update closure must (a) sort a micro-batch's rows by
    (ts_us, event_id) before running the recursion, (b) carry state
    across calls, and (c) match the naive recursion over the
    concatenated ordered rows. Pure-pandas check with a stub GroupState
    — no streaming harness needed."""
    import pandas as pd

    from helium_arango_etl_lite_spark.streaming.stateful import (
        make_cusum_update,
    )

    mult, h = 3, 50
    upd = make_cusum_update(mult, h)
    mean_c = 10
    # batch 1 delivered UNSORTED; batch 2 continues the timeline
    b1 = pd.DataFrame(
        {"ts_us": [30, 10, 20], "event_id": [3, 1, 2],
         "xc": [100, 5, 5], "mean_c": [mean_c] * 3}
    )
    b2 = pd.DataFrame(
        {"ts_us": [40, 50], "event_id": [4, 5],
         "xc": [100, 0], "mean_c": [mean_c] * 2}
    )
    st = StubState()
    out1 = list(upd((7,), iter([b1]), st))[0]
    out2 = list(upd((7,), iter([b2]), st))[0]

    s, mx, alarms, first = 0, 0, 0, None
    for ts, x in [(10, 5), (20, 5), (30, 100), (40, 100), (50, 0)]:
        s = max(0, s + x - mult * mean_c)
        mx = max(mx, s)
        if s > h:
            alarms += 1
            first = first if first is not None else ts
    r = out2.iloc[0]
    assert out1.iloc[0]["n_events"] == 3 and r["n_events"] == 5
    assert r["n_alarms"] == alarms and alarms >= 1
    assert r["max_cusum"] == mx
    assert r["first_alarm_us"] == first


def test_session_update_closes_and_carries_state():
    import pandas as pd

    from helium_arango_etl_lite_spark.streaming.stateful import (
        make_session_update,
    )

    gap = 100
    upd = make_session_update(gap)
    st = StubState()
    # batch 1 UNSORTED: sessions [10,20] then [200] opens
    b1 = pd.DataFrame(
        {"ts_us": [200, 10, 20], "event_id": [3, 1, 2], "xc": [7, 1, 2]}
    )
    out1 = list(upd((9,), iter([b1]), st))[0]
    # closed session (10: n=2, cents=3) + provisional open (200: n=1, 7)
    assert out1.values.tolist() == [[9, 10, 2, 3], [9, 200, 1, 7]]
    # batch 2: extends the open session (gap 99 < 100), then a new one
    b2 = pd.DataFrame(
        {"ts_us": [299, 500], "event_id": [4, 5], "xc": [5, 11]}
    )
    out2 = list(upd((9,), iter([b2]), st))[0]
    assert out2.values.tolist() == [[9, 200, 2, 12], [9, 500, 1, 11]]
    # exact-gap boundary: ts - last == gap starts a NEW session
    b3 = pd.DataFrame({"ts_us": [600], "event_id": [6], "xc": [1]})
    out3 = list(upd((9,), iter([b3]), st))[0]
    assert out3.values.tolist() == [[9, 500, 1, 11], [9, 600, 1, 1]]


def test_session_replay_counts_match_native_operator(spark, sf_dir):
    """Cross-form triangle closure: the stateful replay's session count
    must equal the native session_window operator's (agg_session_window
    uses the same 30-min gap)."""
    n_stateful = QUERIES["stream_session_replay"].spark_fn(
        spark, sf_dir
    ).count()
    n_native = QUERIES["agg_session_window"].spark_fn(spark, sf_dir).count()
    assert n_stateful == n_native


def test_ooo_update_fuses_sessions_across_batches():
    """The semantics the in-order operator cannot express: a late event
    landing BETWEEN two existing sessions fuses them into one."""
    import pandas as pd

    from helium_arango_etl_lite_spark.streaming.stateful import (
        make_ooo_session_update,
    )

    gap = 30 * 60 * 1_000_000
    upd = make_ooo_session_update(gap)
    st = StubState()
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
    from helium_arango_etl_lite_spark.plans.catalog_stream import (
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


def test_stream_drivers_only_in_the_replay_runner():
    """Every catalog stream replay goes through plans/replay.py: no other
    module under plans/ builds its own stream query."""
    banned = ("readStream", "writeStream", "trigger(availableNow",
              'option("maxFilesPerTrigger"')
    offenders = []
    for p in glob.glob(os.path.join(REPO, "helium_arango_etl_lite_spark/plans/*.py")):
        if os.path.basename(p) == "replay.py":
            continue
        for lineno, line in enumerate(open(p, encoding="utf-8"), 1):
            offenders += [f"{p}:{lineno}: {b}" for b in banned if b in line]
    assert not offenders, "\n".join(offenders)
