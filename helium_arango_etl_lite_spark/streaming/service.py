"""The follower service (reference etl.py:3-5 + Follower.run,
follower.py:55-75) — the engine's one way to follow the chain:

    chain (JSON-RPC / mock) --readStream--> blocks micro-batches, each
            block fetched once with its txn envelopes nested
        -> graph transforms (operators/graph.py)
        -> idempotent block-bucketed sink (streaming/sink.py)
        -> stale-inventory refresh (follower.py:61-62 analog)
        -> retention partition drop (follower.py:210-214 analog)

Every step after the read runs inside the batch, keyed by the batch's
highest height, which ``process_batch`` returns with the span it gave the
sinks, so the driver never polls the store. A batch makes one
``block_get`` RPC per height and one ``transaction_get`` per txn, all in
the stream reader.

Run offline/demo: ``python -m helium_arango_etl_lite_spark --start 100
--end 160`` (mock chain); point ``--endpoint`` at a real node for live
follow. The checkpoint dir replaces the reference's ``follower_info``
resume doc; stop/restart continues where the last committed batch ended.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.datasource import HeliumChainDataSource
from ..sources.inventory import enrich_inventory, read_gateway_inventory
from .follow import PAYMENTS, RECEIPTS, process_batch, sync_state
from .sink import RETENTION_BLOCKS, apply_retention

#: dimension staleness bound (reference follower.py:61-62): refresh the
#: hotspot inventory when the chain tip has advanced this many blocks past
#: the inventory's height.
INVENTORY_STALENESS_BLOCKS = 500


def refresh_inventory_if_stale(
    spark: SparkSession,
    inventory_glob: str,
    out_dir: str,
    sync_height: int,
    inventory_height: int | None,
) -> int | None:
    """Reference follower.py:61-62 + 130-133: when ``sync_height`` runs
    more than ``INVENTORY_STALENESS_BLOCKS`` past the loaded inventory,
    re-read the latest ``gateway_inventory_{height}.csv[.gz]`` drop,
    geo-enrich it, and bulk-replace the ``hotspots`` dimension table.

    Returns the new inventory height (or the old one when fresh enough /
    no files). The replace publishes a new snapshot (:func:`_publish_snapshot`)
    — the slowly-refreshed dimension pattern where downstream joins
    re-broadcast the new snapshot on their next micro-batch — so a failed
    refresh leaves the previous snapshot readable.
    """
    fresh_floor = sync_height - INVENTORY_STALENESS_BLOCKS
    if inventory_height is not None and inventory_height >= fresh_floor:
        return inventory_height
    inv = read_gateway_inventory(spark, inventory_glob)
    top = inv.agg(F.max("inventory_height")).collect()[0][0]
    if top is None or (inventory_height is not None and top <= inventory_height):
        return inventory_height  # nothing newer landed
    latest = inv.filter(F.col("inventory_height") == top)
    _publish_snapshot(enrich_inventory(latest), out_dir, "hotspots", int(top))
    return int(top)


def _publish_snapshot(df: DataFrame, out_dir: str, table: str, version: int) -> None:
    """Replace the local table ``<out_dir>/<table>`` with ``df`` in one
    atomic step. ``df`` is written to a directory of its own under
    ``<out_dir>/_<table>``, and ``<out_dir>/<table>`` is a symlink that
    one rename repoints to it, so a reader sees the old snapshot or the
    new one, never an empty or partial table. An overwrite in place would
    empty the directory before its job runs, and a failed job would leave
    the table unreadable until the next refresh. The snapshot just
    replaced is kept for readers still scanning it; older ones are
    deleted."""
    link = os.path.join(out_dir, table)
    snaps = os.path.join(out_dir, f"_{table}")
    name = f"{version}-{uuid.uuid4().hex[:8]}"
    df.write.parquet(os.path.join(snaps, name))
    previous = None
    if os.path.islink(link):
        previous = os.path.basename(os.readlink(link))
    elif os.path.isdir(link):
        # a table an earlier version overwrote in place becomes the
        # previous snapshot (the one swap that is not atomic)
        previous = f"0-{uuid.uuid4().hex[:8]}"
        os.rename(link, os.path.join(snaps, previous))
    tmp = f"{link}.{name}.tmp"
    os.symlink(os.path.join(f"_{table}", name), tmp)
    os.replace(tmp, link)
    for old in os.listdir(snaps):
        if old not in (name, previous):
            shutil.rmtree(os.path.join(snaps, old))


def run_service(
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str,
    endpoint: str = "mock://chain",
    start: int = 1,
    end: int | None = None,
    batch_heights: int = 32,
    retention_window: int = RETENTION_BLOCKS,
    timeout_s: float | None = None,
    inventory_glob: str | None = None,
) -> dict[str, int | None]:
    """Follow the chain from ``start`` and materialize the graph tables.

    Each batch, after its three sinks commit, refreshes a stale inventory
    and drops the edge buckets below ``hi - retention_window``, where
    ``hi`` is the batch's highest height. With ``end`` set the service
    drains up to that height and returns once every sink of the last
    batch has committed (offline parity mode); without it, it follows
    until ``timeout_s`` (forever when None), which bounds only such
    open-ended runs. A failed batch is re-raised. Returns the final sync
    state (max block per edge table).
    """
    spark.dataSource.register(HeliumChainDataSource)

    reader = (
        spark.readStream.format("helium_chain")
        .option("endpoint", endpoint)
        .option("start", str(start))
        .option("max_heights_per_batch", str(batch_heights))
    )
    if end is not None:
        reader = reader.option("end", str(end))
    blocks_stream = reader.load()
    inv_height: int | None = None

    def batch_fn(batch_blocks: DataFrame, epoch_id: int) -> None:
        nonlocal inv_height
        # the stream's blocks carry their txn envelopes: no second read
        span = process_batch(spark, batch_blocks, None, out_dir)
        if span is None:  # an empty batch
            return
        hi = span[1]
        if inventory_glob is not None:
            inv_height = refresh_inventory_if_stale(
                spark, inventory_glob, out_dir, hi, inv_height
            )
        for table in (PAYMENTS, RECEIPTS):
            apply_retention(spark, f"{out_dir}/{table}", hi, retention_window)

    query = (
        blocks_stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        if end is not None:
            # the source offers nothing past ``end``, so this returns only
            # after the last batch's sinks have all committed
            query.processAllAvailable()
        else:
            query.awaitTermination(timeout_s)
    finally:
        query.stop()
        query.awaitTermination(30)
    if query.exception() is not None:
        raise query.exception()
    return sync_state(spark, out_dir)
