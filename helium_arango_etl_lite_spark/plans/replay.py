"""The catalog's one stream-replay runner ("batch = stream").

A stateful streaming entry is checked by replaying its input as a file
stream and comparing the result with a one-shot DuckDB oracle. Every such
entry goes through :func:`run_replay`:

* each source's slices land as one parquet file apiece, slice ``i``
  with its mtime pinned to ``i``; the file source orders files by mtime
  and reads one per trigger, so micro-batch ``i`` is slice ``i`` by
  construction, whatever order the files were written in;
* the stream schema is the slices' schema, so an entry states its
  column types once, where it builds the slices;
* the query runs under ``trigger(availableNow=True)`` with
  ``spark.sql.shuffle.partitions`` scoped to
  :data:`STREAM_SHUFFLE_PARTITIONS`, and a failed batch re-raises;
* each micro-batch is appended with a ``batch_id`` column, and the
  result table is returned for the entry's own read-back
  (:func:`last_emission` for update-mode state).

An entry keeps only what is its own: how it builds its slices, its
streaming operator, and how it post-processes the result.
"""

from __future__ import annotations

import os
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import scoped_conf

# A stateful stream pins its state-store partitioning to
# spark.sql.shuffle.partitions at the first micro-batch, and AQE never
# resizes a streaming exchange. Each partition commits one delta file per
# state store per batch, so extra partitions cost checkpoint I/O whatever
# the data volume. Measured on a 4-core host: a 150k-row, 2000-key,
# 3-micro-batch stateful aggregation took 3.95 s at 32 partitions, 1.60 s
# at 8 and 1.37 s at 4; an interleaved A/B of 4 vs 8 read 8 faster on all
# four applyInPandasWithState replays (cdc 8.5 -> 5.9 s, attribution
# 6.3 -> 5.3, scd2 6.6 -> 5.5, out-of-order sessions 7.4 -> 5.9), because
# their per-batch Python work gains more from parallelism than the extra
# commits cost.
STREAM_SHUFFLE_PARTITIONS = 8


def scratch_dir(name: str) -> str:
    """Deterministic per-query scratch dir, wiped on entry.

    The replay queries materialize sink tables; one well-known path per
    (process, query) — instead of ``mkdtemp`` per call — keeps repeated
    runs from leaking a directory per invocation (ADVICE r4), and the
    wipe guarantees each run starts from an empty table so the value
    hash is independent of run order. The path is keyed by PID because
    a path shared ACROSS processes races: two concurrent Spark sessions
    running the same replay (e.g. pytest alongside the driver replica)
    both wipe/write ``.../<name>/_temporary/0`` and one aborts with
    FileNotFoundException. Scratch roots left by exited processes are
    swept opportunistically so the per-PID scheme cannot accumulate;
    because a dead owner's PID can be recycled by an unrelated live
    process (which would make the liveness probe keep the orphan
    forever) — and because pre-PID-scheme legacy dirs are not
    digit-named at all — entries ALSO age out by mtime after one day
    (ADVICE r10). Liveness wins over age: a dir whose PID is alive and
    probe-able is never swept, however old (its owner may still be
    reading nested files the dir mtime doesn't reflect — review r11);
    the age path reclaims only dirs whose owner is gone (dead PID),
    un-probe-able (recycled PID now owned by another user), or unnamed
    (legacy non-digit dirs).
    """
    import shutil
    import tempfile
    import time

    root = os.path.join(tempfile.gettempdir(), "spark_graft_replay")
    stale_before = time.time() - 24 * 3600
    try:
        for entry in os.listdir(root):
            path = os.path.join(root, entry)
            if entry.isdigit() and int(entry) == os.getpid():
                continue
            try:
                aged_out = os.path.getmtime(path) < stale_before
            except OSError:
                aged_out = False
            if not entry.isdigit():
                # legacy/unknown dir: no PID to probe — age is the only
                # signal, so sweep once it's a day old, never sooner
                if aged_out:
                    shutil.rmtree(path, ignore_errors=True)
                continue
            try:
                os.kill(int(entry), 0)  # raises if that PID is gone
            except ProcessLookupError:
                shutil.rmtree(path, ignore_errors=True)
            except PermissionError:
                # PID exists but isn't ours: the process is ALIVE, so
                # the dir is never swept regardless of age (ADVICE r11:
                # the old age-based reclaim here could remove a >24h
                # other-user session's in-use scratch; a recycled PID
                # whose dir truly is orphaned gets cleaned the next
                # time that PID is unoccupied)
                pass
    except FileNotFoundError:
        pass
    d = os.path.join(root, str(os.getpid()), name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def write_slice(df: DataFrame, src: str, i: int) -> None:
    """Write ``df`` as exactly one parquet file in ``src`` with its mtime
    pinned to ``i``. The slice is collected through Arrow, so the file
    keeps the DataFrame's column types exactly."""
    import pyarrow.parquet as pq

    path = os.path.join(src, f"slice-{i:05d}.parquet")
    pq.write_table(df.toArrow(), path)
    os.utime(path, (i, i))


def time_thirds(df: DataFrame, col: str) -> list[DataFrame]:
    """Three event-time slices of ``df``, cut at the thirds of ``col``'s
    integer range (one min/max job)."""
    lo, hi = df.agg(F.min(col), F.max(col)).collect()[0]
    c1 = lo + (hi - lo) // 3
    c2 = lo + 2 * (hi - lo) // 3
    t = F.col(col)
    return [df.filter(t < c1), df.filter((t >= c1) & (t < c2)), df.filter(t >= c2)]


def run_replay(
    spark: SparkSession,
    name: str,
    operator: Callable[..., DataFrame],
    *sources: Sequence[DataFrame],
    output_mode: str = "update",
    per_batch: Callable[[DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """Replay each source's slices as a file stream through ``operator``
    and return every emitted row, tagged with its ``batch_id``.

    ``operator`` receives one stream per source, in order. ``per_batch``,
    when given, maps each emitted micro-batch (and its id) to the rows
    to append instead. Scratch lives under ``scratch_dir(name)``.

    The shuffle-partition conf is session-wide while the stream runs: a
    query planned concurrently in the same session sees the replay's value.
    """
    streams = []
    for k, slices in enumerate(sources):
        src = scratch_dir(f"{name}/src{k}")
        for i, df in enumerate(slices):
            write_slice(df, src, i)
        streams.append(
            spark.readStream.schema(slices[0].schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
    res = scratch_dir(f"{name}/res")
    ckpt = scratch_dir(f"{name}/ckpt")

    def sink(df: DataFrame, bid: int) -> None:
        out = per_batch(df, bid) if per_batch else df
        out.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(res)

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(STREAM_SHUFFLE_PARTITIONS)}):
        q = (
            operator(*streams)
            .writeStream.foreachBatch(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    return spark.read.parquet(res)


def last_emission(outs: DataFrame, *keys: str) -> DataFrame:
    """Each key's row from its latest micro-batch: the final state of an
    update-mode replay."""
    w = Window.partitionBy(*keys).orderBy(F.desc("batch_id"))
    return (
        outs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
