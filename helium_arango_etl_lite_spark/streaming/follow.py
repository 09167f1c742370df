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

Scale notes: the batch's txn envelopes are pruned by the inner join on the
batch's stub hashes; block headers are tiny and ride the broadcast side.
Nothing here collects to the driver except the batch's distinct bucket list
(a handful of longs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import account_vertices, payment_edges, witness_edges
from ..sources.jsonl import CORRUPT_COL
from .sink import has_data_files, idempotent_append

PAYMENTS = "payments"
RECEIPTS = "poc_receipts"
ACCOUNTS = "accounts"
QUARANTINE = "quarantine"


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

    # Three sinks consume the same micro-batch; persist the inputs so the
    # source (Python DataSource / JSON parse) is evaluated once, not once
    # per sink action. In streaming, foreachBatch hands us a materialized
    # batch for blocks but txns would re-read per action regardless.
    blocks = blocks.persist()
    txns = txns.persist()
    try:
        idempotent_append(spark, payment_edges(blocks, txns), f"{out_dir}/{PAYMENTS}")
        idempotent_append(spark, witness_edges(blocks, txns), f"{out_dir}/{RECEIPTS}")
        idempotent_append(spark, account_vertices(blocks, txns), f"{out_dir}/{ACCOUNTS}")
    finally:
        blocks.unpersist()
        txns.unpersist()
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
