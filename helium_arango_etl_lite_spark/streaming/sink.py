"""Idempotent upsert sink + retention (SURVEY.md sections 2.1, 2.6).

The reference's sink is ArangoDB ``importBulk(..., onDuplicate="ignore")``
(follower.py:205-207): deterministic MD5 keys make replays no-ops. The
engine's equivalent is *anti-join append* over a Parquet table partitioned
by block bucket:

* **idempotence** — incoming keys are anti-joined against the keys already
  present, so re-processing a micro-batch (Structured Streaming's replay
  model) inserts nothing twice;
* **partition pruning** — the table is laid out as
  ``block_bucket = block // 7200`` directories. The anti-join's probe of
  existing keys is pruned to only the buckets the incoming batch touches,
  so the "read existing keys" cost is proportional to the batch's block
  span, not the table size — load-bearing at 100 TB;
* **retention** — the reference's disabled AQL delete (follower.py:210-214,
  "deletions not optimized yet") becomes a metadata-only partition drop:
  remove whole ``block_bucket=N`` directories below the floor. No row-level
  rewrite. On a lakehouse table (Delta/Iceberg) this is
  ``DELETE WHERE block_bucket < floor`` / ``DROP PARTITION``.
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


def _existing_keys(spark: SparkSession, path: str, buckets: list[int] | None) -> DataFrame | None:
    if not has_data_files(path):
        return None
    existing = spark.read.parquet(path)
    if buckets is not None and BUCKET_COL in existing.columns:
        # partition pruning: only scan the buckets this batch can collide with
        existing = existing.filter(F.col(BUCKET_COL).isin(buckets))
    return existing.select("_key")


def idempotent_append(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Append rows whose ``_key`` is not already present — the engine's
    ``onDuplicate="ignore"`` (follower.py:205-207).

    ``df`` must already be deduplicated within itself (the graph operators
    end in ``dropDuplicates(["_key"])``). When the frame carries a ``block``
    column the table is written partitioned by ``block_bucket`` and the
    existing-keys probe is pruned to the touched buckets.
    """
    partitioned = "block" in df.columns

    buckets: list[int] | None = None
    persisted = None
    if partitioned:
        # the bucket probe and the write both consume the batch: persist it
        # so the upstream dataflow (parse -> explode -> key) runs once
        persisted = df = with_block_bucket(df).persist()
        # micro-batch block span is tiny (a handful of buckets): cheap collect
        buckets = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]

    try:
        existing = _existing_keys(spark, path, buckets)
        if existing is not None:
            df = df.join(existing, "_key", "left_anti")

        writer = df.write.mode("append")
        if partitioned:
            writer = writer.partitionBy(BUCKET_COL)
        writer.parquet(path)
    finally:
        if persisted is not None:
            persisted.unpersist()


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
