"""Idempotent upsert sink + retention (SURVEY.md sections 2.1, 2.6).

The reference's sink is ArangoDB ``importBulk(..., onDuplicate="ignore")``
(follower.py:205-207): deterministic MD5 keys make replays no-ops. The
engine's equivalent is *anti-join append* over a Parquet table partitioned
by block bucket:

* **idempotence** — incoming keys are anti-joined against the keys already
  present, so re-processing a micro-batch (Structured Streaming's replay
  model) inserts nothing twice;
* **ranged probe** — an edge table is laid out as
  ``block_bucket = block // 7200`` directories. The caller passes the
  batch's block span ``(lo, hi)``; the probe of existing keys reads only
  the buckets ``lo // 7200 .. hi // 7200`` (partition pruning, computed
  from the span, not collected from the batch) and only rows with ``block
  BETWEEN lo AND hi`` (a pushed parquet filter). The range is exact: both
  edge keys hash ``block``, so a row outside it cannot share a key with
  the batch. The probe is read with a known schema, so it costs no footer
  read, and the "read existing keys" cost follows the batch's span, not
  the table size;
* **retention** — the reference's disabled AQL delete (follower.py:210-214,
  "deletions not optimized yet") becomes a metadata-only partition drop:
  remove whole ``block_bucket=N`` directories below the floor. No row-level
  rewrite. On a lakehouse table (Delta/Iceberg) this is
  ``DELETE WHERE block_bucket < floor`` / ``DROP PARTITION``.

The account table has no ``block`` column: it is unpartitioned and probed
by ``_key`` alone.

**Overlapped writes.** :func:`idempotent_append` builds the write on the
calling thread and runs it on a thread of its own, returning a
``concurrent.futures.Future`` that resolves when the write has committed
(or raises what the write raised). The caller must wait for it while the
frame it wrote, and any conf its plan depends on, are still in place. In
PySpark's default pinned-thread mode the write thread gets a copy of the
caller's Spark local properties, taken when the write starts, so its jobs
run under the caller's job group — a streaming query's, which ``stop()``
cancels, or one the caller set. With ``PYSPARK_PIN_THREAD=false`` it is a
plain thread, and every thread shares the JVM's local properties.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import Future

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import InheritableThread

#: Reference retention window: 7200 blocks (~5 days), .env.template:13-14.
RETENTION_BLOCKS = 7200

BUCKET_COL = "block_bucket"


def with_block_bucket(df: DataFrame) -> DataFrame:
    """Add the partition column ``block_bucket = block // RETENTION_BLOCKS``.
    Sized to the retention window so retention is exactly one partition
    boundary; ``_existing_keys`` prunes its probe with the same divisor."""
    return df.selectExpr("*", f"CAST(floor(block / {RETENTION_BLOCKS}) AS BIGINT) AS {BUCKET_COL}")


def has_data_files(path: str) -> bool:
    """True when ``path`` holds a bucket directory or a parquet file, i.e.
    when ``spark.read.parquet(path)`` has something to read."""
    return os.path.isdir(path) and any(
        n.startswith(f"{BUCKET_COL}=") or n.endswith(".parquet") for n in os.listdir(path)
    )


def _existing_keys(spark: SparkSession, path: str, span: tuple[int, int] | None) -> DataFrame | None:
    if not has_data_files(path):
        return None
    if span is None:
        return spark.read.schema("_key string").parquet(path)
    lo, hi = span
    existing = spark.read.schema(f"_key string, block long, {BUCKET_COL} long").parquet(path)
    return existing.where(
        f"{BUCKET_COL} BETWEEN {lo // RETENTION_BLOCKS} AND {hi // RETENTION_BLOCKS}"
        f" AND block BETWEEN {lo} AND {hi}"
    ).select("_key")


def _new_rows(
    spark: SparkSession, df: DataFrame, path: str, span: tuple[int, int] | None
) -> DataFrame:
    """The rows of ``df`` whose ``_key`` is not in ``path`` yet, with the
    bucket column added to an edge frame. A NULL ``_key`` fails the write's
    own job: it never matches the anti-join, so every replay would append
    it again. The check projects the anti-join's output, so it costs the
    plan no shuffle."""
    edges = "block" in df.columns
    if edges:
        if span is None:
            raise ValueError(f"{path}: an edge frame needs its batch's (lo, hi) block span")
        df = with_block_bucket(df)
    existing = _existing_keys(spark, path, span if edges else None)
    new = df if existing is None else df.join(existing, "_key", "left_anti")
    refused = f"{path}: a NULL _key breaks idempotence".replace("\\", "\\\\").replace("'", "\\'")
    return new.selectExpr(
        *(f"coalesce(_key, raise_error('{refused}')) AS _key" if c == "_key" else f"`{c}`" for c in new.columns)
    )


def idempotent_append(
    spark: SparkSession, df: DataFrame, path: str, span: tuple[int, int] | None = None
) -> Future:
    """Start appending the rows whose ``_key`` is not already present — the
    engine's ``onDuplicate="ignore"`` (follower.py:205-207) — and return the
    write's future (see the module docstring). The rows are committed, and a
    failed write raises, only through the future: a caller must call its
    ``.result()``.

    ``df`` must already be deduplicated within itself (the graph operators
    end in ``dropDuplicates(["_key"])``), and a NULL ``_key`` fails the
    write. A frame with a ``block`` column is an edge frame: ``span`` must
    give its lowest and highest block, the table is written partitioned by
    ``block_bucket`` and the probe of existing keys reads only that span.
    A frame without one (the account vertices) is probed by ``_key`` alone
    and ``span`` is not used.
    """
    writer = _new_rows(spark, df, path, span).write.mode("append")
    if "block" in df.columns:
        writer = writer.partitionBy(BUCKET_COL)
    written: Future = Future()
    written.set_running_or_notify_cancel()

    def write() -> None:
        try:
            writer.parquet(path)
        except BaseException as exc:
            written.set_exception(exc)
        else:
            written.set_result(None)

    # one thread per write; in pinned-thread mode it starts with a copy of
    # the caller's local properties, taken here, and a plain thread otherwise
    InheritableThread(write, session=df.sparkSession, name="sink-write").start()
    return written


def apply_retention(
    spark: SparkSession,
    path: str,
    tip_height: int,
    window: int = RETENTION_BLOCKS,
) -> list[int]:
    """Drop every bucket whose entire block range is below
    ``tip_height - window`` (follower.py:210-214 made metadata-only).

    A bucket B covers blocks [B*N, (B+1)*N) with N = RETENTION_BLOCKS; it
    is droppable iff ``(B+1)*N <= floor``. Returns the dropped bucket ids.
    Local-FS implementation removes partition directories; on Delta/Iceberg
    this is the same decision feeding ``DELETE WHERE``/``DROP PARTITION``.
    """
    floor = tip_height - window
    dropped: list[int] = []
    if not os.path.isdir(path):
        return dropped
    for name in os.listdir(path):
        if not name.startswith(f"{BUCKET_COL}="):
            continue
        bucket = int(name.split("=", 1)[1])
        if (bucket + 1) * RETENTION_BLOCKS <= floor:
            shutil.rmtree(os.path.join(path, name))
            dropped.append(bucket)
    return sorted(dropped)
