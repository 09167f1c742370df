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
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Reference retention window: 7200 blocks (~5 days), .env.template:13-14.
RETENTION_BLOCKS = 7200

BUCKET_COL = "block_bucket"


def with_block_bucket(df: DataFrame, blocks_per_bucket: int = RETENTION_BLOCKS) -> DataFrame:
    """Add the partition column ``block_bucket = block // N``. Sized to the
    retention window so retention is exactly one partition boundary."""
    return df.withColumn(
        BUCKET_COL, F.floor(F.col("block") / blocks_per_bucket).cast("long")
    )


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
    return existing.filter(
        F.col(BUCKET_COL).between(lo // RETENTION_BLOCKS, hi // RETENTION_BLOCKS)
        & F.col("block").between(lo, hi)
    ).select("_key")


def _new_rows(
    spark: SparkSession, df: DataFrame, path: str, span: tuple[int, int] | None
) -> DataFrame:
    """The rows of ``df`` whose ``_key`` is not in ``path`` yet, with the
    bucket column added to an edge frame."""
    edges = "block" in df.columns
    if edges:
        if span is None:
            raise ValueError(f"{path}: an edge frame needs its batch's (lo, hi) block span")
        df = with_block_bucket(df)
    existing = _existing_keys(spark, path, span if edges else None)
    return df if existing is None else df.join(existing, "_key", "left_anti")


def idempotent_append(
    spark: SparkSession, df: DataFrame, path: str, span: tuple[int, int] | None = None
) -> None:
    """Append rows whose ``_key`` is not already present — the engine's
    ``onDuplicate="ignore"`` (follower.py:205-207).

    ``df`` must already be deduplicated within itself (the graph operators
    end in ``dropDuplicates(["_key"])``). A frame with a ``block`` column is
    an edge frame: ``span`` must give its lowest and highest block, the
    table is written partitioned by ``block_bucket`` and the probe of
    existing keys reads only that span. A frame without one (the account
    vertices) is probed by ``_key`` alone and ``span`` is not used.
    """
    writer = _new_rows(spark, df, path, span).write.mode("append")
    if "block" in df.columns:
        writer = writer.partitionBy(BUCKET_COL)
    writer.parquet(path)


def apply_retention(
    spark: SparkSession,
    path: str,
    tip_height: int,
    window: int = RETENTION_BLOCKS,
    blocks_per_bucket: int = RETENTION_BLOCKS,
) -> list[int]:
    """Drop every bucket whose entire block range is below
    ``tip_height - window`` (follower.py:210-214 made metadata-only).

    A bucket B covers blocks [B*N, (B+1)*N); it is droppable iff
    ``(B+1)*N <= floor``. Returns the dropped bucket ids. Local-FS
    implementation removes partition directories; on Delta/Iceberg this is
    the same decision feeding ``DELETE WHERE``/``DROP PARTITION``.
    """
    floor = tip_height - window
    dropped: list[int] = []
    if not os.path.isdir(path):
        return dropped
    for name in os.listdir(path):
        if not name.startswith(f"{BUCKET_COL}="):
            continue
        bucket = int(name.split("=", 1)[1])
        if (bucket + 1) * blocks_per_bucket <= floor:
            shutil.rmtree(os.path.join(path, name))
            dropped.append(bucket)
    return sorted(dropped)
