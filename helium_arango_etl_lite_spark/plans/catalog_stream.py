"""Streaming catalog: the 14 ``stream_*`` replays ("batch = stream").

Each entry replays its input as a file stream through
``plans/replay.run_replay`` (micro-batch ``i`` is slice ``i``) and reads
the result back; its DuckDB oracle is the one-shot batch answer, usually
the same SQL as the batch entry of the same semantics. Four families:

* per-user folds, one ``streaming/stateful.py`` operator each:
  ``stream_totals_replay`` (running totals), ``stream_cusum_replay``
  (the Page recursion), ``stream_session_replay`` and
  ``stream_session_ooo_replay`` (gap sessions, in time order and in any
  order), ``stream_scd2_replay`` (dimension versions),
  ``stream_cdc_replay`` (column patches and tombstones) and
  ``stream_attribution_replay`` (last-touch credit);
* mergeable sketches, folded by Spark's streaming ``sum``/``max``:
  ``stream_heavy_hitters_replay`` (Count-Min cells),
  ``stream_quantiles_replay`` (histogram bins) and ``stream_hll_replay``
  (HyperLogLog registers);
* Spark's built-in streaming state: ``stream_late_replay`` (watermark and
  late rows), ``stream_dedup_replay`` (dedup within a watermark) and
  ``stream_join_replay`` (stream-stream interval join);
* ``stream_ann_ingest_replay``: an ANN index linked batch by batch in
  ``foreachBatch``.

Update-mode entries keep each key's last emission
(``replay.last_emission``). Every value the oracle hashes is integer
cents or micros, so the state's accumulation order cannot flip it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggregates import hll_estimate, hll_registers
from ..operators.graph_algorithms import undirected
from ..operators.llm.similarity import lsh_edges
from ..operators.llm.text import (
    cms_cell_increments, cms_estimate_topk, cms_token_buckets,
)
from ..streaming.stateful import (
    attribution_stream, cdc_stream, cms_cells_stream, cusum_monitor,
    hll_registers_stream, running_totals, scd2_stream, sessionize,
    sessionize_ooo,
)
from .catalog_round5 import _CMS_D, _CMS_K, _CMS_SQL, _CMS_W, _HLL_SQL
from .catalog_round5b import _HQ_BINS, _HQ_QUANTILES, _HQ_SQL
from .catalog_round8 import _CUSUM_H, _CUSUM_MULT, _CUSUM_SQL
from .catalog_round8c import _SCD2_SQL
from .catalog_round10c import _CDC_SQL, _cdc_log
from .catalog_round10d import _ATTR_SQL
from .catalog_similarity import (
    EMB_DIM, NEAR_DUP_PLANES, _GR_EDGE_K, _GR_SEEDS, _bucketed_sql,
    _edge_topk_sql,
)
from .registry import EVENTS_NORM, load_events, load_table, register
from .replay import last_emission, run_replay, scratch_dir, time_thirds


# ---------------------------------------------------------------------------
# per-user folds: a Python state machine per key, checked against the
# batch form of the same semantics
# ---------------------------------------------------------------------------


@register(
    "stream_totals_replay",
    f"""WITH {EVENTS_NORM}
       SELECT user_id, count(*)::BIGINT AS n_events_total,
              sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT))::BIGINT
                AS total_value_c
       FROM events_norm GROUP BY 1""",
    doc="The custom stateful operator (streaming/stateful.py "
        "running_totals, applyInPandasWithState) under the driver's "
        "value hash: events replay as three parquet micro-batches "
        "(event_id mod 3, one file per trigger, availableNow; "
        "plans/replay.py), per-user state carries "
        "across batches, and each user's LAST update-mode emission must "
        "equal a one-shot GROUP BY over the whole table. Values are "
        "integer cents so state accumulation is exact; state lives in "
        "the state store partitioned by user, so batch cost tracks the "
        "batch's key set, not the table.",
    tags=("streaming", "stateful", "agg"),
)
def stream_totals_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
        .cast("double")
        .alias("value"),
    )
    ev = ev.persist()  # one execution for all three batch slices
    outs = run_replay(
        spark,
        "stream_totals",
        running_totals,
        [
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).select(
                "user_id", "value"
            )
            for i in range(3)
        ],
    )
    ev.unpersist()
    return last_emission(outs, "user_id").select(
        "user_id",
        "n_events_total",
        F.col("total_value").cast("long").alias("total_value_c"),
    )


@register(
    "stream_cusum_replay",
    _CUSUM_SQL,
    doc="The CUSUM monitor as a STREAMING stateful operator, hash-"
        "verified against the batch identity: per-user mean_c is "
        "calibrated batch-side (the history table), events replay as "
        "three EVENT-TIME-split micro-batches (the thirds of the time "
        "range, one file each with a pinned mtime so the file source's "
        "batch order is the time order), and applyInPandasWithState runs the "
        "literal Page recursion s = max(0, s + dev) with five integers "
        "of state per user — O(keys) forever, no timeline retained. "
        "The oracle is the SAME SQL as events_cusum_alarm: the "
        "recursion over micro-batch state and the two-window prefix-min "
        "identity must produce byte-identical per-user rows, the "
        "strongest cross-form equivalence check in the catalog "
        "(streaming/stateful.py:cusum_monitor).",
    tags=("streaming", "stateful", "temporal"),
)
def stream_cusum_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
    )
    w_all = Window.partitionBy("user_id")
    cal = base.withColumn(
        "mean_c",
        F.floor(
            F.sum("xc").over(w_all) / F.count(F.lit(1)).over(w_all)
        ).cast("long"),
    )

    # One execution of the windowed calibration plan: the min/max pass and
    # the three batch slices all read the cache instead of recomputing the
    # full-table window 4x (guide §1.2 "don't compute things you throw
    # away").
    cal = cal.persist()
    outs = run_replay(
        spark,
        "stream_cusum",
        lambda s: cusum_monitor(s, _CUSUM_MULT, _CUSUM_H),
        time_thirds(cal, "ts_us"),
    )
    cal.unpersist()
    return last_emission(outs, "user_id").select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_alarms").cast("long").alias("n_alarms"),
        F.col("max_cusum").cast("long").alias("max_cusum"),
        F.timestamp_micros(F.col("first_alarm_us")).alias("first_alarm_ts"),
    )


_SESS_GAP_US = 30 * 60 * 1_000_000  # 30 minutes, matching agg_session_window

_SESS_SQL = f"""
WITH {EVENTS_NORM},
e AS (SELECT user_id, ts, event_id, round(value * 100)::BIGINT AS xc
      FROM events_norm),
x AS (SELECT user_id, ts, xc,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
y AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
SELECT user_id, min(ts) AS session_start,
       count(*)::BIGINT AS n_events,
       sum(xc)::BIGINT AS total_cents
FROM y GROUP BY user_id, sid"""


@register(
    "stream_session_replay",
    _SESS_SQL,
    doc="Gap-based sessionization as a STREAMING stateful operator, "
        "hash-verified against the batch gaps-and-islands identity: "
        "events replay as three event-time-split micro-batches (the "
        "thirds of the time range, plans/replay.py), "
        "applyInPandasWithState carries "
        "ONLY the open session — four integers per user — and each "
        "batch emits its closed sessions finally plus the open one "
        "provisionally; the reader keeps the last emission per "
        "(user, session_start). The oracle is the classic lag()-based "
        "session rewrite with the SAME >= gap boundary the native "
        "session_window operator uses (agg_session_window), in integer "
        "cents so the hash cannot flip on float summation order. "
        "Cross-form triangle: native session_window (agg_session_window) "
        "= declarative windows (this oracle) = stateful recursion (this "
        "entry) — three independent expressions of one semantics "
        "(streaming/stateful.py:sessionize).",
    tags=("streaming", "stateful", "temporal"),
)
def stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
    )
    # one execution for min/max + all three slices (see stream_cusum_replay)
    base = base.persist()
    outs = run_replay(
        spark,
        "stream_session",
        lambda s: sessionize(s, _SESS_GAP_US),
        time_thirds(base, "ts_us"),
    )
    base.unpersist()
    return last_emission(outs, "user_id", "session_start_us").select(
        "user_id",
        F.timestamp_micros(F.col("session_start_us")).alias("session_start"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_cents").cast("long").alias("total_cents"),
    )


@register(
    "stream_session_ooo_replay",
    _SESS_SQL,
    doc="OUT-OF-ORDER streaming sessionization: the same gap semantics "
        "as stream_session_replay, but the three micro-batches split by "
        "event_id % 3 instead of event time — every batch spans the "
        "whole timeline, so events routinely arrive BETWEEN already-"
        "formed sessions and must FUSE them (the failure mode the "
        "in-order entry's open-session state cannot express, and that "
        "the native session_window handles only within its watermark "
        "horizon). State per user is the full interval list [(start, "
        "end, n, cents)] — bounded by SESSION count, not event count; "
        "each batch a user appears in re-emits their whole current "
        "session list and the reader keeps the last emission batch per "
        "user, making the final rows a pure function of the complete "
        "event set. The oracle is the identical gaps-and-islands SQL "
        "as the in-order entry — one semantics, now certified under "
        "adversarial arrival (streaming/stateful.py:sessionize_ooo).",
    tags=("streaming", "stateful", "temporal"),
)
def stream_session_ooo_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    base = base.persist()  # one execution for all three batch slices
    outs = run_replay(
        spark,
        "stream_sess_ooo",
        lambda s: sessionize_ooo(s, _SESS_GAP_US),
        [
            base.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).select(
                "user_id", "ts_us", "value_c"
            )
            for i in range(3)
        ],
    )
    base.unpersist()
    # a user's whole last batch is their session list, so keep all of it
    last_b = outs.groupBy("user_id").agg(F.max("batch_id").alias("mb"))
    return (
        outs.join(last_b, "user_id")
        .filter(F.col("batch_id") == F.col("mb"))
        .select(
            "user_id",
            F.timestamp_micros(F.col("session_start_us")).alias(
                "session_start"
            ),
            "n_events",
            F.col("total_value_c").alias("total_cents"),
        )
    )


@register(
    "stream_scd2_replay",
    _SCD2_SQL,
    doc="SCD2 dimension maintenance as a STREAMING stateful operator, "
        "hash-verified against the batch change-point build: events "
        "replay as three event-time-split micro-batches (the thirds "
        "of the time range, plans/replay.py), applyInPandasWithState carries "
        "THREE fields per user (current attr, version counter, current "
        "valid_from), a change point closes the previous version "
        "finally and opens the new one provisionally, and the reader "
        "keeps the last emission per (user, version). The oracle is "
        "the IDENTICAL SQL as scd2_build, so the streaming recursion "
        "and the declarative lag/lead form are verified byte-identical "
        "— the CDC-ingest shape (every warehouse's dimension feed) "
        "joining the batch=stream equivalence triangle family "
        "(sessions, CUSUM, running totals). State is O(1) per user; "
        "closed versions are never retained.",
    tags=("streaming", "stateful", "etl"),
)
def stream_scd2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.col("event_type").alias("attr"),
    )
    # one execution for min/max + all three slices (see stream_cusum_replay)
    base = base.persist()
    outs = run_replay(spark, "stream_scd2", scd2_stream, time_thirds(base, "ts_us"))
    base.unpersist()
    return (
        last_emission(outs, "user_id", "version")
        .select(
            "user_id",
            "attr",
            F.timestamp_micros(F.col("valid_from_us")).alias("valid_from"),
            F.timestamp_micros(F.col("valid_to_us")).alias("valid_to"),
            F.col("version").cast("long").alias("version"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


@register(
    "stream_cdc_replay",
    _CDC_SQL,
    doc="The CDC merge as a STATEFUL STREAM, verified against the "
        "IDENTICAL batch oracle: the change log replays as three "
        "event-time-split micro-batches; applyInPandasWithState "
        "carries four scalars per key (current valc/attr patch state, "
        "last seq, live-op count), a tombstone resets them, and the "
        "reader keeps the last emission per key, dropping keys whose "
        "final n_live is 0. Joins the batch=stream equivalence family "
        "(totals, CUSUM, sessions, SCD2) — this member adds the DELETE "
        "path, which none of the others exercise. State is O(1) per "
        "key and never retains closed history "
        "(streaming/stateful.py:cdc_stream).",
    tags=("streaming", "stateful", "cdc"),
)
def stream_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _cdc_log(spark, sf_dir)
    # one execution for min/max + all three slices (see stream_cusum_replay)
    log = log.persist()
    outs = run_replay(
        spark,
        "stream_cdc",
        cdc_stream,
        [s.drop("ts_us") for s in time_thirds(log, "ts_us")],
    )
    log.unpersist()
    return (
        last_emission(outs, "user_id")
        .filter(F.col("n_live") > 0)
        .select("user_id", "last_valc", "last_attr", "last_seq", "n_live")
    )


@register(
    "stream_attribution_replay",
    _ATTR_SQL,
    doc="Last-touch attribution as a STATEFUL STREAM, hash-verified "
        "against the IDENTICAL batch oracle (events_attribution's "
        "SQL): events replay as three event-time-split micro-batches; "
        "applyInPandasWithState carries ONE nullable string per user "
        "(the most recent touch type), and each purchase emits one "
        "credit row the moment it is seen — append semantics, so the "
        "reader is a plain channel rollup with no last-wins dedup. "
        "The sixth member of the batch=stream equivalence family "
        "(totals, CUSUM, sessions, SCD2, CDC): this one pins "
        "CROSS-BATCH carry — a touch in batch 1 must still credit a "
        "purchase in batch 3 "
        "(streaming/stateful.py:attribution_stream).",
    tags=("streaming", "stateful", "analytics"),
)
def stream_attribution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.row_number().over(w).cast("long").alias("seq"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # one execution for min/max + all three slices (see stream_cusum_replay)
    base = base.persist()
    outs = run_replay(
        spark,
        "stream_attr",
        attribution_stream,
        [s.drop("ts_us") for s in time_thirds(base, "ts_us")],
    )
    base.unpersist()
    return outs.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("conversions"),
        F.sum("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# mergeable sketches: Spark's streaming sum/max keeps the cells, the
# readout runs batch-side and the oracle is the batch entry's SQL
# ---------------------------------------------------------------------------


@register(
    "stream_heavy_hitters_replay",
    _CMS_SQL,
    doc="Stateful streaming top-k via a Count-Min Sketch maintained in "
        "per-cell state (r11 verdict item 8): documents replay as three "
        "parquet micro-batches; each batch's cell increments (same "
        "hash32 buckets as the batch sketch — shared cms_token_buckets) "
        "are MAP-SIDE COMBINED to per-cell partial counts before the "
        "state store (exact — CMS cells are additive), so the shuffle "
        "into Spark's streaming sum aggregation is "
        f"bounded at {_CMS_D}x{_CMS_W} rows per batch regardless of "
        "token volume, and the state store holds exactly the sketch "
        "cells — the CMS's cell-wise mergeability used literally (an "
        "exact streaming top-k would keep the full Zipf vocabulary in "
        "state). "
        "The last update-mode emission per cell is the sketch; "
        "candidate estimation + top-k run batch-side over it "
        "(shared cms_estimate_topk), and the oracle IS the batch "
        "entry's SQL — the batch=stream equivalence family (totals, "
        "CUSUM, CDC, rollup) extended to sketches.",
    tags=("streaming", "stateful", "sketch", "llm"),
)
def stream_heavy_hitters_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    outs = run_replay(
        spark,
        "stream_cms",
        cms_cells_stream,
        [
            cms_cell_increments(
                cms_token_buckets(
                    docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i),
                    depth=_CMS_D, width=_CMS_W,
                ),
                depth=_CMS_D,
            )
            # map-side combine BEFORE the state store: each batch ships
            # <= depth*width pre-summed cells instead of one row per
            # token occurrence (exact — CMS cells are additive)
            .groupBy(F.col("d").cast("int").alias("d"),
                     F.col("b").cast("int").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            for i in range(3)
        ],
    )
    cells = last_emission(outs, "d", "b").select(
        "d", "b", F.col("c").cast("long").alias("c")
    )
    tb = cms_token_buckets(docs, depth=_CMS_D, width=_CMS_W).localCheckpoint(
        eager=False
    )
    return cms_estimate_topk(tb, cells, depth=_CMS_D, k=_CMS_K)


@register(
    "stream_quantiles_replay",
    _HQ_SQL,
    doc="Streaming quantile sketch (r12 verdict item 5): the mergeable "
        f"{_HQ_BINS}-bin histogram of agg_histogram_quantiles maintained "
        "by Spark's streaming sum aggregation, one running count per "
        "bin, across three parquet "
        "micro-batches (l_orderkey % 3). A fixed-edge histogram IS a "
        "depth-1 Count-Min Sketch whose 'hash' is the bin function, so "
        "the stream reuses cms_cells_stream literally (d=0, b=bin) — "
        "the same state operator now certifies two sketch families. "
        "Each batch's rows are MAP-SIDE COMBINED to per-bin partial "
        f"counts before the state store (<= {_HQ_BINS} rows per batch "
        "regardless of row volume; exact — bin counts are additive), "
        "state holds exactly the touched bins, and the last update-mode "
        "emission per bin is the sketch. Bin edges are the train-time "
        "min/max (the production contract for a streaming histogram: "
        "edges are configuration, counts are state); the p50/90/95/99 "
        "readout is the batch entry's bounded <=128-row cumulative "
        "window, and the oracle IS the batch entry's SQL — the "
        "batch=stream equivalence family (totals, CUSUM, CDC, rollup, "
        "CMS) extended to quantile sketches "
        "(streaming/stateful.py:cms_cells_stream).",
    tags=("streaming", "stateful", "sketch", "agg", "quantiles"),
)
def stream_quantiles_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
    )
    # train-time edges: one bounded 1-row aggregate, pinned so the
    # producer and the readout share identical arithmetic
    st = li.agg(
        F.min("pc").alias("minc"), F.max("pc").alias("maxc"),
        F.count("*").cast("long").alias("n"),
    ).localCheckpoint(eager=True)

    binned = li.crossJoin(F.broadcast(st)).withColumn(
        "bin", F.expr(f"((pc - minc) * {_HQ_BINS}) div (maxc - minc + 1)")
    ).persist()  # one execution for all three batch slices
    outs = run_replay(
        spark,
        "stream_hq",
        cms_cells_stream,
        [
            binned.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) == i)
            # map-side combine BEFORE the state store: each batch ships
            # <= _HQ_BINS pre-summed bin counts, never one row per line
            .groupBy(
                F.lit(0).cast("int").alias("d"),
                F.col("bin").cast("int").alias("b"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            for i in range(3)
        ],
    )
    binned.unpersist()
    bins = last_emission(outs, "d", "b").select(
        F.col("b").cast("long").alias("bin"),
        F.col("c").cast("long").alias("cnt"),
    )
    # bounded readout: <= _HQ_BINS rows ever enter this window
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.crossJoin(F.broadcast(st)).withColumn(
        "cum", F.sum("cnt").over(w).cast("long")
    )
    qv = spark.createDataFrame([(qq,) for qq in _HQ_QUANTILES], "q int")
    hits = cum.crossJoin(F.broadcast(qv)).filter(
        100 * F.col("cum") >= F.col("q") * F.col("n")
    )
    return hits.groupBy("q").agg(
        F.min("bin").cast("long").alias("bin"),
        F.round(
            (
                F.first("minc")
                + F.expr(
                    f"(min(bin) * (first(maxc) - first(minc) + 1)) div {_HQ_BINS}"
                )
            )
            / 100.0,
            2,
        ).alias("est_price"),
    )


@register(
    "stream_hll_replay",
    _HLL_SQL,
    doc="Streaming HyperLogLog distinct counts: the from-first-"
        "principles m=64 HLL of agg_hll_distinct maintained in "
        "Spark's streaming max aggregation, one running max per "
        "REGISTER, across three parquet "
        "micro-batches (event_id % 3). This extends the batch=stream "
        "sketch family along a new axis: CMS cells and histogram bins "
        "merge by SUM; HLL registers merge by MAX — idempotent and "
        "order-free, so replaying or reordering batches can never "
        "change the converged register (a strictly stronger merge "
        "contract, pinned by test). Each batch is pre-reduced to per-"
        "register partial maxima before the state store (<= groups x 64 "
        "rows per batch regardless of event volume — the map-side-"
        "combine discipline), state holds exactly the touched "
        "registers, and the distinct-count readout (integer-exact Z "
        "sum, small-range correction) runs batch-side over the last "
        "emission per register via the SAME hll_estimate kernel the "
        "batch entry uses. Oracle IS the batch entry's SQL "
        "(streaming/stateful.py:hll_registers_stream, "
        "operators/aggregates.py:hll_registers,hll_estimate).",
    tags=("streaming", "stateful", "sketch", "agg"),
)
def stream_hll_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    en = load_events(spark, sf_dir)
    outs = run_replay(
        spark,
        "stream_hll",
        hll_registers_stream,
        [
            # map-side combine BEFORE the state store: each batch ships
            # <= groups x m partial register maxima, never one row per
            # event (max-merge makes the pre-reduction exact)
            hll_registers(
                en.filter(F.pmod(F.col("event_id"), F.lit(3)) == i),
                group="event_type", value="user_id",
            ).select(
                F.col("event_type").alias("g"),
                F.col("b").cast("long").alias("b"),
                F.col("r").cast("long").alias("r"),
            )
            for i in range(3)
        ],
    )
    regs = last_emission(outs, "g", "b").select(
        F.col("g").alias("event_type"), "b", "r"
    )
    return hll_estimate(regs, en, group="event_type", value="user_id")


# ---------------------------------------------------------------------------
# Spark's built-in streaming state: watermarked window, dedup, interval join
# ---------------------------------------------------------------------------


_WM_DELAY = "7 days"
_WM_BATCHES = 3

_LATE_SQL = f"""WITH {EVENTS_NORM},
e AS (SELECT event_id, ts,
             CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS value_c,
             event_id % {_WM_BATCHES} AS b,
             date_trunc('hour', ts) AS ws,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS we
      FROM events_norm),
m AS (SELECT date_trunc('milliseconds', max(CASE WHEN b = 0 THEN ts END))
               - INTERVAL {_WM_DELAY} AS wm_late2
      FROM e),
kept AS (SELECT e.* FROM e, m
         WHERE b <= 1
            OR (b = 2 AND we > wm_late2))
SELECT ws AS window_start, count(*)::BIGINT AS n_events,
       sum(value_c)::BIGINT AS sum_value_c
FROM kept GROUP BY 1"""


@register(
    "stream_late_replay",
    _LATE_SQL,
    doc="Event-time watermark semantics, driver-value-hashed: the events "
        "table replays as three DETERMINISTIC micro-batches (event_id "
        "mod 3; one parquet file per batch with controlled mtimes so the "
        "file source's batch order is fixed) through a real "
        "withWatermark('7 days') + 1-hour tumbling-window aggregation in "
        "update mode. The oracle re-derives Spark's watermark contract "
        "in SQL — including the SPARK-40925 late-filter/eviction "
        "watermark split (shipped in Spark 3.4; on older Sparks the "
        "late filter uses the CURRENT watermark and this oracle would "
        "mismatch — the entry requires Spark >= 3.4) "
        "verified against the checkpoint offset log: LATE-EVENT "
        "FILTERING in batch b uses the watermark as of batch b-1 "
        "(millisecond-floored max event time over batches < b-1 minus "
        "the delay; late rows still ADVANCE it), while state EVICTION "
        "uses the current one, so with three batches only batch 2 drops "
        "(window end <= msfloor(max ts of batch 0) - delay) and batch "
        "1's late rows are accepted. Final table = last update-"
        "mode emission per window = aggregate over accepted rows. State "
        "is bounded by the delay horizon, so executor memory tracks the "
        "watermark window, never the stream length — the property that "
        "makes this run on an unbounded stream at cluster scale. (The "
        "REPLAY HARNESS collects the test-scale table driver-side to "
        "stamp deterministically-ordered batch files — that is the "
        "fixture construction, not the operator: a production stream "
        "arrives already batched by the source.)",
    tags=("streaming", "watermark", "agg"),
)
def stream_late_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        "event_id",
        "ts",
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
        .cast("long")
        .alias("value_c"),
    )

    def windowed(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", _WM_DELAY)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.sum("value_c").cast("long").alias("sum_value_c"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "n_events",
                "sum_value_c",
            )
        )

    # one execution for all three mod-slices; the runner pins slice i to
    # micro-batch i, so the watermark progression is deterministic
    ev = ev.persist()
    outs = run_replay(
        spark,
        "stream_late",
        windowed,
        [
            ev.filter(F.pmod(F.col("event_id"), F.lit(_WM_BATCHES)) == i)
            .select("ts", "value_c")
            for i in range(_WM_BATCHES)
        ],
    )
    ev.unpersist()
    return last_emission(outs, "window_start").select(
        "window_start", "n_events", "sum_value_c"
    )


@register(
    "stream_dedup_replay",
    f"""WITH {EVENTS_NORM}
       SELECT DISTINCT user_id, event_type FROM events_norm""",
    doc="Streaming exact dedup at ingest (dropDuplicatesWithinWatermark "
        "over a real multi-batch stream) under the driver's value hash: "
        "events replay as three micro-batches (event_id mod 3, one "
        "file per trigger); "
        "per-key state dedups ACROSS batches, append mode emits each "
        "key exactly once on first arrival, and the materialized table "
        "must equal a one-shot DISTINCT. The watermark delay (40 days) "
        "exceeds the corpus span, so no state expires and the result is "
        "batch-order-independent — what is being hashed is the state "
        "plumbing (store, cross-batch lookup, exactly-once emission), "
        "the contract an ingest-time dedup needs before the corpus ever "
        "reaches the batch dedup passes. State is keyed and bounded by "
        "the watermark horizon, so memory tracks the dedup window at "
        "cluster scale, not the stream length.",
    tags=("streaming", "dedup", "state"),
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    outs = run_replay(
        spark,
        "stream_dedup",
        lambda s: s.withWatermark("ts", "40 days").dropDuplicatesWithinWatermark(
            ["user_id", "event_type"]
        ),
        [
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i).select(
                "user_id", "event_type", "ts"
            )
            for i in range(3)
        ],
        output_mode="append",
    )
    return outs.select("user_id", "event_type")


@register(
    "stream_join_replay",
    """SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, l.l_shipdate
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       WHERE l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate < o.o_orderdate + INTERVAL 180 DAY""",
    doc="Stream-stream inner interval join under the driver's value "
        "hash: orders and lineitem each replay as independent file "
        "streams (three micro-batches per side: orders by orderkey mod "
        "3, lineitem by (orderkey + linenumber) mod 3, so an order's "
        "lines arrive before, with and after it), joined on orderkey "
        "with an event-time range (ship within 180 days of order) and "
        "watermarks on BOTH sides — the symmetric-hash-join state shape "
        "Spark uses for stream/stream correlation. Each matching pair "
        "is emitted exactly once whenever its partner arrives, across "
        "any batch interleave, so the materialized table must equal the "
        "one-shot interval join — what is being hashed is the two-sided "
        "join state (buffering, cross-batch matching, exactly-once "
        "emission). The delay is chosen above the corpus span so no "
        "state evicts before its partner arrives; in production the "
        "delay bounds BOTH state sides by the watermark horizon — the "
        "property that makes the join runnable on unbounded streams.",
    tags=("streaming", "join", "state"),
)
def stream_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("timestamp").alias("o_orderdate")
    )
    items = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("timestamp").alias("l_shipdate"),
    )

    def interval_join(so: DataFrame, sl: DataFrame) -> DataFrame:
        return sl.withWatermark("l_shipdate", "3000 days").join(
            so.withWatermark("o_orderdate", "3000 days"),
            F.expr(
                "l_orderkey = o_orderkey AND "
                "l_shipdate >= o_orderdate AND "
                "l_shipdate < o_orderdate + INTERVAL 180 DAYS"
            ),
        )

    # an order's lines are spread over all three batches (mod 3 of
    # orderkey + linenumber), so partners arrive before, with and after it
    outs = run_replay(
        spark,
        "stream_join",
        interval_join,
        [orders.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == i) for i in range(3)],
        [
            items.filter(
                F.pmod(F.col("l_orderkey") + F.col("l_linenumber"), F.lit(3)) == i
            )
            for i in range(3)
        ],
        output_mode="append",
    )
    return outs.select("l_orderkey", "l_linenumber", "o_orderdate", "l_shipdate")


# ---------------------------------------------------------------------------
# continuous ANN index maintenance: the append path as a real stream
# ---------------------------------------------------------------------------


_INGEST_BATCHES = 3


def _stream_ann_sql() -> str:
    parts, sels = [], []
    for t, seed in enumerate(_GR_SEEDS):
        b = _bucketed_sql("e", seed=seed)
        for bt in range(_INGEST_BATCHES):
            parts.append(f"""
q{t}_{bt} AS ({b}
        WHERE vec_id % {_INGEST_BATCHES} = {bt}),
c{t}_{bt} AS ({b}
        WHERE vec_id % {_INGEST_BATCHES} <= {bt}),
{_edge_topk_sql(f"p{t}_{bt}", f"k{t}_{bt}", f"q{t}_{bt}", f"c{t}_{bt}")}""")
            sels.append(f"SELECT src, dst FROM k{t}_{bt}")
            sels.append(f"SELECT dst AS src, src AS dst FROM k{t}_{bt}")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),{",".join(parts)}
SELECT DISTINCT src, dst FROM ({" UNION ALL ".join(sels)})"""


@register(
    "stream_ann_ingest_replay",
    _stream_ann_sql(),
    doc="CONTINUOUS ANN index maintenance as a REAL stream — the "
        "llm_ann_index_append contract run through Structured "
        "Streaming: embeddings arrive in "
        f"{_INGEST_BATCHES} micro-batches (vec_id % {_INGEST_BATCHES}, "
        "one file per trigger, availableNow), and each batch's "
        "foreachBatch (1) appends its vectors to the corpus state "
        "table, (2) computes the batch's bucketed top-k out-edges "
        "against the corpus SO FAR (same pinned planes, the asymmetric "
        "knn_join_bucketed), and (3) appends out-edges + back-links to "
        "the edges state table — every vector gets linked AT ARRIVAL "
        "TIME, which is how a production index stays routable during "
        "ingest instead of waiting for a nightly rebuild. The oracle "
        "unrolls ALL batches: per plane table and per batch it rebuilds "
        "the corpus-so-far, replays the asymmetric top-k and the "
        "back-link insertion, so the driver hash certifies the "
        "arrival-order semantics end to end. Arrival order is pinned "
        "by file mtimes (plans/replay.py: slice i is batch i). SCALE: "
        "per batch O(|batch| x bucket density) — the streaming twin of "
        "the append soak's economics "
        "(operators/llm/similarity.py:knn_join_bucketed corpus= form; "
        "plans/catalog_similarity.py).",
    tags=("streaming", "similarity", "graph", "state", "scale"),
)
def stream_ann_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = scratch_dir("stream_ann/corpus")

    def link(df: DataFrame, bid: int) -> DataFrame:
        df.write.mode("append").parquet(corpus)
        full = spark.read.parquet(corpus)
        return undirected(lsh_edges(
            df, _GR_EDGE_K, _GR_SEEDS, NEAR_DUP_PLANES, EMB_DIM, corpus=full,
        ))

    outs = run_replay(
        spark,
        "stream_ann",
        lambda s: s,
        [
            emb.filter(F.pmod(F.col("vec_id"), F.lit(_INGEST_BATCHES)) == b)
            for b in range(_INGEST_BATCHES)
        ],
        output_mode="append",
        per_batch=link,
    )
    return outs.select("src", "dst").distinct()
