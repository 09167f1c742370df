"""Stateful streaming kernels: the state the catalog's stream replays
carry across micro-batches (SURVEY.md section 2.6), one copy each.

Every operator emits in update mode and never times state out. The two
mergeable sketches fold with Spark's built-in streaming aggregation,
which keeps one row per key in the state store; the other seven fold
through one ``applyInPandasWithState`` helper (:func:`_fold` builds the
per-key update, :func:`_fold_by_user` makes the one call), because each
is an order-dependent recursion or emits per batch rather than per key.

Kernel map (operator: state per key; rows emitted per batch; engine):

* ``cms_cells_stream``: a ``(d, b)`` cell's count; each touched cell's
  running count; native ``sum``, since cells merge by sum.
* ``hll_registers_stream``: a ``(g, b)`` register's max rho; each
  touched register's running max; native ``max``, since registers merge
  by max.
* ``running_totals``: event count and value sum; the user's totals and
  the batch's own row count; Python, since ``batch_rows`` is per batch.
* ``cusum_monitor``: Page statistic, its max, alarm count, first alarm,
  row count; the user's counters; Python, since ``s = max(0, s + d)``
  runs in time order.
* ``sessionize``: the open session (start, last, n, cents); the sessions
  the batch closed (final) and the open one (provisional); Python, since
  each gap is tested against the previous event.
* ``scd2_stream``: current attr, version and its valid_from; the versions
  the batch closed (final) and the open one; Python, since change points
  are found in time order.
* ``cdc_stream``: patched valc/attr, last seq, live-op count; the key's
  materialized row; Python, since patches and tombstones apply in seq
  order.
* ``attribution_stream``: the last touch type; one credit row per
  purchase; Python, since the touch carries in seq order and the output
  is append-only.
* ``sessionize_ooo``: the user's full interval list; the user's whole
  session list; Python, since the interval merge takes any arrival
  order.

A reader keeps the last emission per key (``plans/replay.last_emission``),
except for attribution, whose rows are all final. The in-order operators
take their cross-batch order from the replay harness (time-split batches,
pinned file mtimes) and sort each batch's rows themselves; Arrow delivers
a key's rows in no particular order.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

def _fold(
    step: Callable[[object, tuple, pd.DataFrame], tuple[tuple, list]],
    init: tuple,
    out: StructType,
    order: str | list[str] | None = None,
):
    """The ``applyInPandasWithState`` update function of a fold by key.

    ``step(key, state, rows)`` gets the key, the key's carried state
    (``init`` for a key not seen before) and its rows of one micro-batch,
    sorted by ``order`` when given, and returns the new state and the
    rows to emit, as tuples in ``out``'s column order.
    """

    def update(key, pdfs, state: GroupState):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if order:
            pdf = pdf.sort_values(order, kind="mergesort")
        new, rows = step(key[0], state.get if state.exists else init, pdf)
        state.update(new)
        yield pd.DataFrame(rows, columns=out.fieldNames())

    return update


def _fold_by_user(
    events: DataFrame, update, out: StructType, state: StructType
) -> DataFrame:
    """Run ``update`` per ``user_id`` over a stream, in update mode with
    no state timeout."""
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out,
        stateStructType=state,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# mergeable sketches: Spark's streaming aggregation holds the state
# ---------------------------------------------------------------------------


def cms_cells_stream(increments: DataFrame) -> DataFrame:
    """Maintain a Count-Min Sketch over a stream of ``(d, b, c)`` cell
    increments: a cell's count is the sum of its increments, in any
    order, so the state is one running sum per ``(d, b)`` cell, bounded
    at depth x width keys. The producer pre-sums each batch per cell,
    which bounds the shuffle into the state store at depth x width rows
    per batch whatever the token volume. The latest emission per cell is
    the sketch; estimation and top-k run batch-side
    (``cms_estimate_topk``)."""
    return increments.groupBy("d", "b").agg(F.sum("c").alias("c"))


def hll_registers_stream(partials: DataFrame) -> DataFrame:
    """Maintain per-group HyperLogLog registers over a stream of
    ``(g, b, r)`` partial maxima: a register is the max rho ever seen for
    its bucket, and max is idempotent and order-free, so replaying or
    reordering batches cannot change a converged register. State is
    bounded at groups x m registers; the distinct-count readout
    (``operators/aggregates.hll_estimate``) runs batch-side over the
    latest emission per register."""
    return partials.groupBy("g", "b").agg(F.max("r").alias("r"))


# ---------------------------------------------------------------------------
# per-user folds in Python
# ---------------------------------------------------------------------------

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events_total", LongType(), False),
        StructField("total_value", DoubleType(), True),
        StructField("batch_rows", LongType(), False),
    ]
)

RUNNING_TOTALS_STATE = StructType(
    [
        StructField("n", LongType(), False),
        StructField("v", DoubleType(), True),
    ]
)


def _running_totals_step(k, state, pdf):
    n = state[0] + len(pdf)
    v = state[1] + float(pdf["value"].fillna(0.0).sum())
    return (n, v), [(k, n, round(v, 6), len(pdf))]


def running_totals(events: DataFrame) -> DataFrame:
    """Per-user running event count and ``value`` sum over an unbounded
    stream, emitted once per user per batch the user appears in, with
    that batch's row count."""
    return _fold_by_user(
        events.select("user_id", "value"),
        _fold(_running_totals_step, (0, 0.0), RUNNING_TOTALS_SCHEMA),
        RUNNING_TOTALS_SCHEMA,
        RUNNING_TOTALS_STATE,
    )


CUSUM_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("n_alarms", LongType(), False),
        StructField("max_cusum", LongType(), False),
        StructField("first_alarm_us", LongType(), True),
    ]
)

CUSUM_STATE = StructType(
    [
        StructField("s", LongType(), False),
        StructField("mx", LongType(), False),
        StructField("alarms", LongType(), False),
        StructField("first_us", LongType(), True),
        StructField("n", LongType(), False),
    ]
)


def make_cusum_update(mult: int, h: int):
    """Build the per-key CUSUM update fn (closure carries the dials).

    Runs the LITERAL Page recursion ``s = max(0, s + xc - mult*mean_c)``
    row-by-row in event-time order — the stateful computation the batch
    entry ``events_cusum_alarm`` expresses declaratively via the
    prefix-min identity. The two are verified HASH-IDENTICAL by the
    replay entry (plans/catalog_stream.py:stream_cusum_replay), which is
    the strongest cross-form check the repo has: same numbers from a
    recursion over micro-batch state and from two window functions.

    A null deviation contributes nothing to the state but the row still
    counts and the CURRENT s is still alarm-evaluated — matching how
    window sums skip nulls batch-side.
    """

    def step(k, state, pdf):
        s, mx, alarms, first_us, n = state
        for ts_us, xc, mean_c in zip(
            pdf["ts_us"].values, pdf["xc"].values, pdf["mean_c"].values
        ):
            n += 1
            if not pd.isna(xc):
                s = max(0, s + int(xc) - mult * int(mean_c))
            mx = max(mx, s)
            if s > h:
                alarms += 1
                if first_us is None:
                    first_us = int(ts_us)
        new = (int(s), int(mx), int(alarms), first_us, int(n))
        return new, [(k, n, alarms, mx, first_us)]

    return _fold(step, (0, 0, 0, None, 0), CUSUM_SCHEMA, ["ts_us", "event_id"])


def cusum_monitor(events: DataFrame, mult: int, h: int) -> DataFrame:
    """Streaming CUSUM drift monitor (calibrate-then-monitor shape):
    ``events`` carries precomputed per-row ``xc`` (integer cents) and
    ``mean_c`` (the calibration mean, joined onto the stream from the
    history table). State per user is five integers — O(keys), bounded
    forever, no timeline retained."""
    sel = events.select("user_id", "ts_us", "event_id", "xc", "mean_c")
    return _fold_by_user(sel, make_cusum_update(mult, h), CUSUM_SCHEMA, CUSUM_STATE)


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start_us", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_cents", LongType(), False),
    ]
)

SESSION_STATE = StructType(
    [
        StructField("start_us", LongType(), False),
        StructField("last_us", LongType(), False),
        StructField("n", LongType(), False),
        StructField("cents", LongType(), False),
    ]
)


def make_session_update(gap_us: int):
    """Build the per-key sessionization update fn (gap-based windows).

    The stateful analog of the native ``session_window`` operator
    (plans/catalog_core.py:agg_session_window): a new session starts
    when the inter-event gap is >= ``gap_us`` — the same boundary the
    gaps-and-islands oracle uses (``ts - lag(ts) >= INTERVAL``), so the
    recursion and the batch operator are hash-comparable.

    Emission contract (update mode): each micro-batch emits every
    session CLOSED inside it (final rows — a closed session can never
    be touched again) plus the still-OPEN session provisionally; a later
    batch that extends the open session re-emits the same
    (user_id, session_start_us) key with larger n_events, so readers
    keep the LAST emission per key (plans/catalog_stream.py:
    stream_session_replay takes max batch_id). State per user is four
    integers — the open session only; closed timelines are never
    retained.
    """

    def step(k, state, pdf):
        start, last, n, cents = state
        rows = []
        for ts_us, xc in zip(pdf["ts_us"].values, pdf["xc"].values):
            ts_us = int(ts_us)
            if start is None:
                start, last, n, cents = ts_us, ts_us, 1, int(xc)
            elif ts_us - last >= gap_us:
                rows.append((k, start, n, cents))  # closed: final
                start, last, n, cents = ts_us, ts_us, 1, int(xc)
            else:
                last, n, cents = ts_us, n + 1, cents + int(xc)
        rows.append((k, start, n, cents))  # open: provisional
        return (int(start), int(last), int(n), int(cents)), rows

    return _fold(step, (None, 0, 0, 0), SESSION_SCHEMA, ["ts_us", "event_id"])


def sessionize(events: DataFrame, gap_us: int) -> DataFrame:
    """Streaming gap-based sessionization with four integers of state per
    user (the OPEN session only); ``events`` carries ``ts_us`` micros and
    ``xc`` integer cents."""
    sel = events.select("user_id", "ts_us", "event_id", "xc")
    return _fold_by_user(sel, make_session_update(gap_us), SESSION_SCHEMA, SESSION_STATE)


SCD2_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("attr", StringType(), False),
        StructField("valid_from_us", LongType(), False),
        StructField("valid_to_us", LongType(), True),
        StructField("version", LongType(), False),
    ]
)

SCD2_STATE = StructType(
    [
        StructField("last_attr", StringType(), True),
        StructField("version", LongType(), False),
        StructField("cur_from_us", LongType(), False),
    ]
)


def _scd2_step(k, state, pdf):
    """A change point CLOSES the previous version (final — its valid_to
    can never move again) and opens a new one (provisional, valid_to
    NULL). Within a batch, later dispositions of the same version
    overwrite earlier ones, so each batch emits at most one row per
    touched version — the streaming dual of
    plans/catalog_round8c.py:scd2_build's change-point compression."""
    last_attr, version, cur_from = state
    rows: dict[int, tuple] = {}
    for ts_us, attr in zip(pdf["ts_us"].values, pdf["attr"].values):
        ts_us = int(ts_us)
        if last_attr is None or attr != last_attr:
            if last_attr is not None:
                rows[version] = (k, last_attr, cur_from, ts_us, version)
            version += 1
            cur_from = ts_us
            last_attr = attr
    rows[version] = (k, last_attr, cur_from, None, version)
    return (last_attr, int(version), int(cur_from)), list(rows.values())


def scd2_stream(events: DataFrame) -> DataFrame:
    """Streaming SCD2 build; ``events`` carries ``ts_us`` micros and the
    tracked attribute in ``attr``."""
    sel = events.select("user_id", "ts_us", "event_id", "attr")
    update = _fold(_scd2_step, (None, 0, 0), SCD2_SCHEMA, ["ts_us", "event_id"])
    return _fold_by_user(sel, update, SCD2_SCHEMA, SCD2_STATE)


CDC_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("last_valc", LongType(), True),
        StructField("last_attr", StringType(), True),
        StructField("last_seq", LongType(), False),
        StructField("n_live", LongType(), False),
    ]
)

CDC_STATE = StructType(
    [
        StructField("valc", LongType(), True),
        StructField("attr", StringType(), True),
        StructField("seq", LongType(), False),
        StructField("n", LongType(), False),
    ]
)


def _cdc_step(k, state, pdf):
    """An 'U' op patches only the columns it carries (NULL columns leave
    prior state intact — column-level change capture, not whole-row
    replace); a 'D' tombstone resets the key to empty so later upserts
    rebuild from scratch. Readers drop keys whose final n is 0 (deleted
    and never rebuilt) — the streaming dual of
    plans/catalog_round10c.py:cdc_apply."""
    valc, attr, seq, n = state
    for op, row_seq, row_valc, row_attr in zip(
        pdf["op"].values, pdf["seq"].values,
        pdf["valc"].values, pdf["attr"].values,
    ):
        if op == "D":
            valc, attr, n = None, None, 0
        else:
            n += 1
            if not pd.isna(row_valc):
                valc = int(row_valc)
            if not (row_attr is None or row_attr != row_attr):  # NaN-safe
                attr = row_attr
        seq = int(row_seq)
    return (valc, attr, int(seq), int(n)), [(k, valc, attr, int(seq), int(n))]


def cdc_stream(changes: DataFrame) -> DataFrame:
    """Streaming CDC merge; ``changes`` carries per-key monotone ``seq``,
    ``op`` in {'U','D'}, and nullable patch columns ``valc``/``attr``."""
    sel = changes.select("user_id", "seq", "op", "valc", "attr")
    update = _fold(_cdc_step, (None, None, 0, 0), CDC_SCHEMA, "seq")
    return _fold_by_user(sel, update, CDC_SCHEMA, CDC_STATE)


ATTR_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("channel", StringType(), False),
        StructField("cents", LongType(), False),
        StructField("seq", LongType(), False),
    ]
)

ATTR_STATE = StructType([StructField("last_touch", StringType(), True)])

_ATTR_TOUCHES = ("click", "view", "signup")


def _attr_step(k, state, pdf):
    """Every purchase emits ONE credit row (channel = carried touch or
    'direct') the moment it is seen; the batch twin is
    plans/catalog_round10d.py:events_attribution."""
    (last,) = state
    rows = []
    for et, seq, cents in zip(
        pdf["event_type"].values, pdf["seq"].values, pdf["cents"].values
    ):
        if et in _ATTR_TOUCHES:
            last = et
        elif et == "purchase":
            rows.append(
                (k, last if last is not None else "direct", int(cents), int(seq))
            )
    return (last,), rows


def attribution_stream(events: DataFrame) -> DataFrame:
    """Streaming last-touch attribution; ``events`` carries per-user
    monotone ``seq``, ``event_type`` and integer ``cents``."""
    sel = events.select("user_id", "seq", "event_type", "cents")
    update = _fold(_attr_step, (None,), ATTR_SCHEMA, "seq")
    return _fold_by_user(sel, update, ATTR_SCHEMA, ATTR_STATE)


SESSIONIZE_OOO_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start_us", LongType(), False),
        StructField("session_end_us", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_value_c", LongType(), False),
    ]
)

SESSIONIZE_OOO_STATE = StructType(
    [
        StructField("starts", ArrayType(LongType()), False),
        StructField("ends", ArrayType(LongType()), False),
        StructField("ns", ArrayType(LongType()), False),
        StructField("sums", ArrayType(LongType()), False),
    ]
)


def make_ooo_session_update(gap_us: int):
    """Build the per-user sessionize update fn (closure carries the gap).

    State is the user's FULL interval list [(start, end, n, sum_cents)]
    sorted by start; each micro-batch's events arrive as (ts, cents)
    points that are folded in by a classic interval merge: two sessions
    merge iff the later's start minus the earlier's end is < gap. This
    handles OUT-OF-ORDER arrival exactly — an event landing between two
    existing sessions can fuse them into one, which the built-in
    session_window + watermark pipeline would only get right within the
    watermark horizon. Each batch the user appears in emits the user's
    whole current session list; the replay keeps only the LAST
    emission per user, which is then a pure function of the complete
    event set — provably equal to the batch gaps-and-islands answer.

    State is bounded by the user's SESSION count, not the event count
    (n/sum accumulate; only boundaries are kept). A production deploy
    evicts closed sessions past the watermark; the replay keeps all so
    the batch equivalence is exact.
    """

    def step(k, state, pdf):
        items = list(zip(*state)) + [
            (int(t), int(t), 1, int(v))
            for t, v in zip(pdf["ts_us"], pdf["value_c"])
        ]
        items.sort()
        merged: list[tuple[int, int, int, int]] = []
        for s, e, n, v in items:
            if merged and s - merged[-1][1] < gap_us:
                ls, le, ln, lv = merged[-1]
                merged[-1] = (ls, max(le, e), ln + n, lv + v)
            else:
                merged.append((s, e, n, v))
        new = tuple([m[i] for m in merged] for i in range(4))
        return new, [(k, *m) for m in merged]

    return _fold(step, ([], [], [], []), SESSIONIZE_OOO_SCHEMA)


def sessionize_ooo(events: DataFrame, gap_us: int) -> DataFrame:
    """Per-user session windows over an unbounded stream, exact under
    out-of-order arrival (see :func:`make_ooo_session_update`). Input
    must provide ``user_id, ts_us, value_c``."""
    return _fold_by_user(
        events,
        make_ooo_session_update(gap_us),
        SESSIONIZE_OOO_SCHEMA,
        SESSIONIZE_OOO_STATE,
    )
