"""The follower's micro-batch body (SURVEY.md sections 2.6, 3.1-3.2).

The reference's service loop (etl.py:3-5 -> Follower.run, follower.py:55-75)
is re-expressed as Structured Streaming in :mod:`streaming.service`, whose
``foreachBatch`` calls :func:`process_batch` once per micro-batch of chain
heights, replacing ``while True: process_block(sync_height)``:

* the batch body is the section 3.2 dataflow — type dispatch, explode,
  project, deterministic key — built from ``operators.graph``;
* the sink is :func:`streaming.sink.idempotent_append`, replacing
  ``importBulk(onDuplicate="ignore")`` (follower.py:205-207). Deterministic
  keys + anti-join make replays no-ops, so Spark's at-least-once
  ``foreachBatch`` delivery composes to exactly-once table contents — the
  same idempotence argument the reference relies on;
* :func:`sync_state` reads the synced tip back from the sink, replacing the
  hand-rolled ``follower_info`` state doc (follower.py:100-103, 116-128).

Cost: a warm batch runs four Spark jobs — the ``min/max(height)``
aggregate that gives the sinks the batch's block span, and one parquet
write per sink. The stub-envelope join and the payload parse run once
(``operators.graph.graph_documents``), and nothing is collected to the
driver but the span. The sinks run under :data:`SMALL_BATCH_PROFILE`, set
on the batch's own session: ``foreachBatch`` hands the body a DataFrame of
a *clone* of the stream's session, and only the session a plan belongs to
decides how it executes, so a conf set on the outer ``spark`` never
reaches a streaming batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import graph_documents
from ..session import scoped_conf
from ..sources.jsonl import CORRUPT_COL
from .sink import has_data_files, idempotent_append

PAYMENTS = "payments"
RECEIPTS = "poc_receipts"
ACCOUNTS = "accounts"
QUARANTINE = "quarantine"

#: Execution profile of a follower batch, whose sinks see about a hundred
#: rows each. Measured on 32-height batches, 4 cores: with AQE on, every
#: shuffle and broadcast stage of a sink's plan runs as a job of its own
#: (3-7 jobs per sink, 31 per batch with the bucket collects), and each
#: broadcast build is a job even with AQE off. With AQE off, one shuffle
#: partition and no broadcast, each sink is a single job writing one file
#: per bucket, and the batch is 4 jobs.
SMALL_BATCH_PROFILE = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def process_batch(
    spark: SparkSession,
    blocks: DataFrame,
    txns: DataFrame,
    out_dir: str,
) -> None:
    """One micro-batch of the follower dataflow (follower.py:135-207).

    ``blocks``/``txns`` may still carry a ``_corrupt_record`` column from a
    PERMISSIVE read; bad rows are quarantined (the engine's ValidationError
    path, follower.py:58-69) and good rows flow on.
    """
    raw_blocks = None
    if CORRUPT_COL in blocks.columns:
        raw_blocks = blocks.cache()
        bad = raw_blocks.filter(F.col(CORRUPT_COL).isNotNull()).select(
            F.col(CORRUPT_COL).alias("raw")
        )
        if not bad.isEmpty():
            bad.write.mode("append").parquet(f"{out_dir}/{QUARANTINE}")
        blocks = raw_blocks.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    if CORRUPT_COL in txns.columns:
        txns = txns.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)

    # the span aggregate and the stub join both read the batch's blocks
    blocks = blocks.persist()
    try:
        with scoped_conf(blocks.sparkSession, SMALL_BATCH_PROFILE):
            lo, hi = blocks.agg(F.min("height"), F.max("height")).collect()[0]
            if lo is None:
                return
            with graph_documents(blocks, txns) as (payments, witnesses, accounts):
                idempotent_append(spark, payments, f"{out_dir}/{PAYMENTS}", (lo, hi))
                idempotent_append(spark, witnesses, f"{out_dir}/{RECEIPTS}", (lo, hi))
                idempotent_append(spark, accounts, f"{out_dir}/{ACCOUNTS}")
    finally:
        blocks.unpersist()
        if raw_blocks is not None:
            raw_blocks.unpersist()


def sync_state(spark: SparkSession, out_dir: str) -> dict[str, int | None]:
    """Engine analog of the ``follower_info`` doc read-back
    (follower.py:100-103) and the chain-tip probe (client.py:21-23): max
    synced block per edge table, from the sink itself. A table with no data
    files yet is ``None``; an unreadable one raises."""
    state: dict[str, int | None] = {}
    for table in (PAYMENTS, RECEIPTS):
        path = f"{out_dir}/{table}"
        state[table] = (
            spark.read.parquet(path).agg(F.max("block")).collect()[0][0]
            if has_data_files(path)
            else None
        )
    return state
