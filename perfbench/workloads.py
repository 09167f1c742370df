"""The benchmark's workloads. Each is a closed loop with one client (the
driver process) and returns an :class:`Outcome`; ``run.py`` turns
outcomes into metrics.

* ``follow_tail`` — the live follower: ``run_service``'s micro-batch body
  over the ``helium_chain`` stream reader, 32 heights per batch, into a
  store pre-seeded with more than one retention window of history. The
  stream's first batch replays committed heights and must insert
  nothing; retention runs at the end.
* ``query_mix`` — read-only catalog queries (graph analytics and LLM
  curation) over the sf0.1 catalog in ``data/sf0.1``, in seeded order.
* ``follow_backfill`` — bulk drain of a fixed height range of
  ``mock://mixed`` into an empty store: batch ``helium_chain`` reads at
  the reader's default partitioning through ``process_batch``, then
  ``apply_retention``. Runnable, but not in BENCHMARK.json: see README.md.

See README.md for why each was chosen and what it should move.
"""

from __future__ import annotations

import importlib
import math
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import chain
from spans import OFF, children, spark_total, subtree

HERE = os.path.dirname(os.path.abspath(__file__))

# -- common -------------------------------------------------------------


@dataclass
class Context:
    spark: object
    seed: int
    seconds: int
    scratch: str
    tracer: object = OFF


@dataclass
class Outcome:
    setup_s: float  # workload set-up after the session exists
    wall_s: float  # timed region
    work: int  # blocks committed / queries completed in the timed region
    latencies: list[float]  # one per batch / query in the timed region
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    store_bytes_per_block: float | None = None  # follow workloads only
    layers: dict[str, float] = field(default_factory=dict)  # traced runs only


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


# -- follow workloads ---------------------------------------------------


def _follow_module():
    # the module, not the ``follow`` function the package re-exports
    return importlib.import_module("helium_arango_etl_lite_spark.streaming.follow")


def _chain_read(spark, lo: int, hi: int, what: str):
    """The batch ``helium_chain`` reader at its default partitioning."""
    return (
        spark.read.format("helium_chain")
        .option("endpoint", chain.ENDPOINT)
        .option("what", what)
        .option("start", str(lo))
        .option("end", str(hi))
        .load()
    )


def _table_files(out_dir: str, table: str, buckets) -> tuple[int, int]:
    base = os.path.join(out_dir, table)
    if buckets is None:
        return chain.dir_stats(base)
    stats = [chain.dir_stats(os.path.join(base, f"block_bucket={b}")) for b in buckets]
    return sum(s[0] for s in stats), sum(s[1] for s in stats)


def _run_batch(ctx: Context, store: str, blocks, txns, lo: int, hi: int, replay=False) -> dict:
    """``process_batch`` over heights ``lo..hi``, timed from entry to all
    three sinks committed. The traced run first materializes the batch's
    blocks and txns under a ``sources.datasource.read`` span;
    ``process_batch`` persists them anyway, so the work is the same."""
    spark, tr = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    with tr.span("streaming.follow.batch", replay=replay, lo=lo, hi=hi) as sp:
        if tr.enabled:
            touched = range(lo // chain.BUCKET, hi // chain.BUCKET + 1)
            probe = [
                _table_files(store, "payments", touched),
                _table_files(store, "poc_receipts", touched),
                _table_files(store, "accounts", None),
            ]
            sp["probe_files"] = sum(p[0] for p in probe)
            sp["probe_bytes"] = sum(p[1] for p in probe)
            files_before = chain.dir_stats(store)[0]
            with tr.span("sources.datasource.read") as rd:
                blocks, txns = blocks.persist(), txns.persist()
                rd["rows"] = blocks.count() + txns.count()
        with tr.span("streaming.follow.process_batch"):
            _follow_module().process_batch(spark, blocks, txns, store)
        if tr.enabled:
            sp["files_written"] = chain.dir_stats(store)[0] - files_before
            sp["offered"] = sum(chain.offered(lo, hi).values())
    return {"lo": lo, "hi": hi, "start": t0, "end": time.perf_counter(), "replay": replay}


def _retention(ctx: Context, store: str, tip: int) -> set[int]:
    from helium_arango_etl_lite_spark.streaming.sink import apply_retention

    follow_mod = _follow_module()
    dropped: set[int] = set()
    with ctx.tracer.span("streaming.sink.retention") as ret:
        for table in (follow_mod.PAYMENTS, follow_mod.RECEIPTS):
            dropped |= set(apply_retention(ctx.spark, f"{store}/{table}", tip))
        ret["dropped"] = len(dropped)
    return dropped


def _register(ctx: Context) -> None:
    from helium_arango_etl_lite_spark.sources.datasource import HeliumChainDataSource

    ctx.spark.dataSource.register(HeliumChainDataSource)
    ctx.tracer.wrap(
        _follow_module(),
        "idempotent_append",
        lambda a: f"streaming.sink.append_{os.path.basename(a['path'])}",
    )


def _failed(errors: list[str], attempted: int) -> tuple[int, int]:
    """(attempted, failed): a wrong store fails every batch of the run."""
    attempted = max(1, attempted)
    return attempted, attempted if errors else 0


#: Heights per ``follow_backfill`` batch: "a few large micro-batches" that
#: the default reader splits into 64-height partitions.
BACKFILL_HEIGHTS = 512
#: Backfill batches per ``--seconds``: one per ~4 s on 4 cores. Fixed by the
#: argument, not by speed, so a parent and a change drain identical heights.
SECONDS_PER_BACKFILL_BATCH = 4.0
#: Heights of the set-up batch that starts the Python workers and the JIT.
WARMUP_HEIGHTS = 192


def backfill_plan(seed: int, seconds: int) -> dict[str, int]:
    """The seed picks the bucket and an offset into it (1 mod 3, so every
    run carries the same receipt count); the range stays in one bucket."""
    rng = random.Random(seed)
    batches = max(2, round(seconds / SECONDS_PER_BACKFILL_BATCH))
    start = (2 + rng.randrange(500)) * chain.BUCKET + 3 * rng.randrange(100) + 1
    if start % chain.BUCKET + batches * BACKFILL_HEIGHTS > chain.BUCKET:
        raise ValueError(f"--seconds {seconds}: {batches} backfill batches overflow a bucket")
    return {"start": start, "batches": batches, "end": start + batches * BACKFILL_HEIGHTS - 1}


def follow_backfill(ctx: Context) -> Outcome:
    spark = ctx.spark
    t_setup = time.perf_counter()
    plan = backfill_plan(ctx.seed, ctx.seconds)
    store = os.path.join(ctx.scratch, "store")
    errors: list[str] = []
    batches: list[dict] = []
    _register(ctx)
    try:
        # Set-up: one small batch below the range into a throwaway store.
        lo = plan["start"] - WARMUP_HEIGHTS
        _follow_module().process_batch(
            spark,
            _chain_read(spark, lo, plan["start"] - 1, "blocks"),
            _chain_read(spark, lo, plan["start"] - 1, "txns"),
            os.path.join(ctx.scratch, "warmup"),
        )
        t0 = time.perf_counter()
        for i in range(plan["batches"]):
            lo = plan["start"] + i * BACKFILL_HEIGHTS
            hi = lo + BACKFILL_HEIGHTS - 1
            batches.append(_run_batch(
                ctx, store, _chain_read(spark, lo, hi, "blocks"), _chain_read(spark, lo, hi, "txns"), lo, hi
            ))
        dropped = _retention(ctx, store, plan["end"])
        t_end = time.perf_counter()
    except Exception as e:  # noqa: BLE001 - a failed drain is reported, not raised
        errors.append(f"follow_backfill: {type(e).__name__}: {e}"[:500])
        t0 = t_end = time.perf_counter()
        dropped = set()
    finally:
        ctx.tracer.restore()

    heights = range(plan["start"], plan["end"] + 1)
    if not errors:
        errors += chain.check_store(
            spark, store, set(heights), heights, floor=plan["end"] - chain.RETENTION
        )
        if dropped:
            errors.append(f"follow_backfill: retention dropped buckets {sorted(dropped)}")
    attempted, failed = _failed(errors, plan["batches"])
    out = Outcome(
        setup_s=t0 - t_setup,
        wall_s=t_end - t0,
        work=sum(b["hi"] - b["lo"] + 1 for b in batches),
        latencies=[b["end"] - b["start"] for b in batches],
        attempted=attempted,
        failed=failed,
        errors=errors,
        store_bytes_per_block=chain.dir_stats(store)[1] / len(heights),
    )
    if ctx.tracer.enabled:
        out.layers = _follow_layers(ctx.tracer.spans, batches, heights.start)
    return out


#: ``run_service``'s default micro-batch size.
BATCH_HEIGHTS = 32
#: Live micro-batches per ``--seconds``: one per 5 s, about the warm batch
#: time measured on 4 cores (5-10 s as the host's load varies). Fixed by
#: the argument, not by speed, so a parent and a change drain identical
#: heights.
SECONDS_PER_BATCH = 5
#: History kept in the bucket that retention drops at the end of the run.
OLD_HEIGHTS = 100


def tail_plan(seed: int, seconds: int) -> dict[str, int]:
    """Heights for one run. The seed picks the bucket; the stream starts a
    little into bucket ``b + 2`` (so appends land in a partly filled
    bucket) at a height that is 1 mod 3, so every run's batches carry the
    same receipt counts. The history runs through the stream's first
    batch, which therefore replays committed heights."""
    rng = random.Random(seed)
    b = 2 + rng.randrange(500)
    start = (b + 2) * chain.BUCKET + 3 * rng.randrange(50, 150) + 1
    batches = max(1, round(seconds / SECONDS_PER_BATCH))
    return {
        "history_lo": (b + 1) * chain.BUCKET - OLD_HEIGHTS,
        "start": start,
        "live_lo": start + BATCH_HEIGHTS,
        "end": start + BATCH_HEIGHTS * (batches + 1) - 1,
    }


def follow_tail(ctx: Context) -> Outcome:
    spark = ctx.spark
    t_setup = time.perf_counter()
    plan = tail_plan(ctx.seed, ctx.seconds)
    store = os.path.join(ctx.scratch, "store")
    _register(ctx)
    batches: list[dict] = []  # one per non-empty micro-batch

    def batch_body(batch_blocks, epoch_id: int) -> None:
        # run_service's batch_fn
        if batch_blocks.isEmpty():
            return
        bounds = batch_blocks.agg(F.min("height").alias("lo"), F.max("height").alias("hi")).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        batches.append(_run_batch(
            ctx, store, batch_blocks, _chain_read(spark, lo, hi, "txns"), lo, hi, replay=lo < plan["live_lo"]
        ))

    errors: list[str] = []
    try:
        # Seed: the history, through the follower's own batch dataflow.
        _follow_module().process_batch(
            spark, *chain.seed_frames(spark, plan["history_lo"], plan["live_lo"] - 1), store
        )
        # One stream under a fresh checkpoint. Its first batch re-delivers
        # committed heights (the replay segment, which must insert nothing)
        # and pays the stream's cold start, so it is set-up; timing starts
        # when it commits.
        query = (
            spark.readStream.format("helium_chain")
            .option("endpoint", chain.ENDPOINT)
            .option("start", str(plan["start"]))
            .option("end", str(plan["end"]))
            .option("max_heights_per_batch", str(BATCH_HEIGHTS))
            .load()
            .writeStream.foreachBatch(batch_body)
            .option("checkpointLocation", os.path.join(ctx.scratch, "ckpt"))
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        t_live = batches[0]["end"]
        dropped = _retention(ctx, store, plan["end"])
        t_end = time.perf_counter()
    except Exception as e:  # noqa: BLE001 - a failed drain is reported, not raised
        errors.append(f"follow_tail: {type(e).__name__}: {e}"[:500])
        t_live = t_end = time.perf_counter()
        dropped = set()
    finally:
        ctx.tracer.restore()

    live = [b for b in batches if not b["replay"]]
    n_replay = len(batches) - len(live)
    expected_live = (plan["end"] - plan["live_lo"] + 1) // BATCH_HEIGHTS
    if not errors and (len(live) != expected_live or n_replay != 1):
        errors.append(
            f"follow_tail: {len(live)} live and {n_replay} replay batches, "
            f"expected {expected_live} and 1"
        )
    edge_lo = plan["history_lo"] if not dropped else (max(dropped) + 1) * chain.BUCKET
    if not errors:
        # a replay that inserted anything shows up as duplicate rows
        errors += chain.check_store(
            spark,
            store,
            set(range(edge_lo, plan["end"] + 1)),
            range(plan["history_lo"], plan["end"] + 1),
            floor=plan["end"] - chain.RETENTION,
        )
        if len(dropped) != 1:
            errors.append(f"follow_tail: retention dropped buckets {sorted(dropped)}, expected one")
    attempted, failed = _failed(errors, len(batches))
    out = Outcome(
        setup_s=t_live - t_setup,
        wall_s=t_end - t_live,
        work=sum(b["hi"] - b["lo"] + 1 for b in live),
        latencies=[b["end"] - b["start"] for b in live],
        attempted=attempted,
        failed=failed,
        errors=errors,
        store_bytes_per_block=chain.dir_stats(store)[1] / (plan["end"] - edge_lo + 1),
    )
    if ctx.tracer.enabled:
        out.layers = _follow_layers(ctx.tracer.spans, live, plan["live_lo"])
    return out


def _follow_layers(spans, timed: list[dict], timed_lo: int) -> dict[str, float]:
    """Per-layer figures of the timed batches (medians per batch unless a
    total), the replay batch and retention."""
    kids = children(spans)
    batch_spans = [s for s in spans if s["name"] == "streaming.follow.batch"]
    timed_spans = [s for s in batch_spans if not s["attrs"]["replay"] and s["attrs"]["lo"] >= timed_lo]
    replay_spans = [s for s in batch_spans if s["attrs"]["replay"]]

    def named(sp, name):
        return [s for s in subtree(sp, kids) if s["name"] == name]

    def per_batch(fn):
        return median(fn(s) for s in timed_spans)

    def dur(name):
        return per_batch(lambda sp: sum(s["end"] - s["start"] for s in named(sp, name)))

    def inserted(sp):
        appends = [s for s in subtree(sp, kids) if s["name"].startswith("streaming.sink.append_")]
        return spark_total(appends, "output_records")

    rows_inserted = sum(inserted(s) for s in timed_spans)
    retention = [s for s in spans if s["name"] == "streaming.sink.retention"]
    return {
        "sources.datasource.read_s": dur("sources.datasource.read"),
        "sources.datasource.rows": per_batch(
            lambda sp: sum(r["rows"] for r in named(sp, "sources.datasource.read"))
        ),
        "streaming.follow.process_batch_s": dur("streaming.follow.process_batch"),
        "streaming.follow.trigger_gap_s": median(b["start"] - a["end"] for a, b in zip(timed, timed[1:])),
        "streaming.sink.append_payments_s": dur("streaming.sink.append_payments"),
        "streaming.sink.append_poc_receipts_s": dur("streaming.sink.append_poc_receipts"),
        "streaming.sink.append_accounts_s": dur("streaming.sink.append_accounts"),
        "streaming.sink.jobs_per_batch": per_batch(lambda sp: spark_total(subtree(sp, kids), "jobs")),
        "streaming.sink.tasks_per_batch": per_batch(lambda sp: spark_total(subtree(sp, kids), "tasks")),
        "streaming.sink.probe_files": per_batch(lambda sp: sp["probe_files"]),
        "streaming.sink.probe_bytes": per_batch(lambda sp: sp["probe_bytes"]),
        "streaming.sink.rows_inserted": rows_inserted,
        "streaming.sink.insert_ratio": rows_inserted / max(1, sum(s["offered"] for s in timed_spans)),
        "streaming.sink.replay_rows_inserted": sum(inserted(s) for s in replay_spans),
        "streaming.sink.files_written": per_batch(lambda sp: sp["files_written"]),
        "streaming.sink.retention_s": sum(s["end"] - s["start"] for s in retention),
        "streaming.sink.buckets_dropped": sum(s.get("dropped", 0) for s in retention),
    }


# -- query_mix ----------------------------------------------------------

#: The catalog the queries read: the sf0.1 tables of the repository's
#: driver data, kept with the benchmark so a checkout is self-contained.
SF_DIR = os.path.join(HERE, "data", "sf0.1")
QUERY_MIX = [
    # graph analytics
    "topk_accounts", "window_latest_per_key",
    # LLM curation
    "llm_dedup_minhash", "llm_topk_cosine", "llm_bm25_search",
]
#: Queries whose output is small enough that a user collects it (the
#: members of bench.py's SMALL_OUTPUT in this mix); the rest end in a
#: ``noop`` write.
COLLECT = {"topk_accounts", "llm_topk_cosine", "llm_bm25_search"}
#: Passes per ``--seconds``: one warm pass takes 5-7 s on 4 cores.
SECONDS_PER_PASS = 7


def normalize(rows, columns) -> list[tuple]:
    """Order-insensitive canonical rows with columns sorted by name — the
    comparison rule of the catalog's oracle-parity test."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def render(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        if isinstance(v, bool):
            return str(v)
        return "NULL" if v is None else str(v)

    return sorted(tuple(render(r[i]) for i in order) for r in rows)


def _oracle(sf_dir: str):
    import duckdb

    from helium_arango_etl_lite_spark.plans.registry import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_query(con, spec, columns, rows) -> str | None:
    """None when ``rows`` match the query's DuckDB oracle, else why not."""
    res = con.execute(spec.oracle)
    o_cols = [d[0] for d in res.description]
    o_rows = res.fetchall()
    if sorted(columns) != sorted(o_cols):
        return f"columns {sorted(columns)} != oracle {sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"{len(rows)} rows != oracle {len(o_rows)}"
    if normalize(rows, columns) != normalize(o_rows, o_cols):
        return "values differ from oracle"
    return None


def query_mix(ctx: Context) -> Outcome:
    from helium_arango_etl_lite_spark.plans.queries import QUERIES

    spark, tr = ctx.spark, ctx.tracer
    t_setup = time.perf_counter()
    con = _oracle(SF_DIR)

    # Warm-up pass, which is also the output check: every query collected
    # in full and compared with its oracle. Three queries at a time: this
    # pass is set-up, and the JIT and codegen caches it fills are shared.
    def collect(name):
        df = QUERIES[name].spark_fn(spark, SF_DIR)
        return df.columns, [tuple(r) for r in df.collect()]

    wrong: dict[str, str] = {}
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = {name: pool.submit(collect, name) for name in QUERY_MIX}
    for name, fut in futures.items():
        try:
            why = check_query(con, QUERIES[name], *fut.result())
        except Exception as e:  # noqa: BLE001 - one broken query costs its own runs
            why = f"{type(e).__name__}: {e}"[:300]
        if why:
            wrong[name] = why
    setup_s = time.perf_counter() - t_setup

    rng = random.Random(ctx.seed)
    passes = max(1, round(ctx.seconds / SECONDS_PER_PASS))
    latencies: list[float] = []
    collected: list[tuple[str, list, list]] = []
    t0 = time.perf_counter()
    for _ in range(passes):
        for name in rng.sample(QUERY_MIX, len(QUERY_MIX)):
            t = time.perf_counter()
            try:
                with tr.span(f"query.{name}"):
                    with tr.span(f"query.{name}.build"):
                        df = QUERIES[name].spark_fn(spark, SF_DIR)
                    with tr.span(f"query.{name}.execute"):
                        if name in COLLECT:
                            rows = df.collect()
                        else:
                            df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - counted in failed_frac
                wrong.setdefault(name, f"{type(e).__name__}: {e}"[:300])
                continue
            latencies.append(time.perf_counter() - t)
            if name in COLLECT:
                collected.append((name, df.columns, [tuple(r) for r in rows]))
    wall = time.perf_counter() - t0

    # Outside the timed region: collected results against their oracles.
    for name, cols, rows in collected:
        why = check_query(con, QUERIES[name], cols, rows)
        if why:
            wrong.setdefault(name, why)
    con.close()
    out = Outcome(
        setup_s=setup_s,
        wall_s=wall,
        work=len(latencies),
        latencies=latencies,
        attempted=passes * len(QUERY_MIX),
        # a query with a wrong or failed output fails every one of its runs
        failed=passes * len(wrong),
        errors=[f"{n}: {why}" for n, why in sorted(wrong.items())],
    )
    if tr.enabled:
        out.layers = _query_layers(tr.spans)
    return out


def _query_layers(spans) -> dict[str, float]:
    kids = children(spans)
    layers: dict[str, float] = {}
    for name in QUERY_MIX:
        tops = [s for s in spans if s["name"] == f"query.{name}"]

        def dur(suffix):
            return median(
                sum(c["end"] - c["start"] for c in kids.get(t["id"], []) if c["name"].endswith(suffix))
                for t in tops
            )

        layers[f"query.{name}.build_s"] = dur(".build")
        layers[f"query.{name}.execute_s"] = dur(".execute")
        layers[f"query.{name}.stages"] = median(spark_total(subtree(t, kids), "stages") for t in tops)
        layers[f"query.{name}.shuffle_bytes"] = median(
            spark_total(subtree(t, kids), "shuffle_write_bytes") for t in tops
        )
    return layers


WORKLOADS = {"follow_backfill": follow_backfill, "follow_tail": follow_tail, "query_mix": query_mix}
