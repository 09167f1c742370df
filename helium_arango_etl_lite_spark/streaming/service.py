"""The follower service (reference etl.py:3-5 + Follower.run,
follower.py:55-75) — the engine's one way to follow the chain:

    chain (JSON-RPC / mock) --readStream--> blocks micro-batches
        -> per-batch txn-envelope fetch (distributed DataSource read)
        -> graph transforms (operators/graph.py)
        -> idempotent block-bucketed sink (streaming/sink.py)
        -> stale-inventory refresh (follower.py:61-62 analog)
        -> retention partition drop (follower.py:210-214 analog)

Every step after the read runs inside the batch, keyed by the batch's
highest height, so the driver never polls the store.

Run offline/demo: ``python -m helium_arango_etl_lite_spark --start 100
--end 160`` (mock chain); point ``--endpoint`` at a real node for live
follow. The checkpoint dir replaces the reference's ``follower_info``
resume doc; stop/restart continues where the last committed batch ended.
"""

from __future__ import annotations

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
    no files). The replace is a parquet overwrite — the slowly-refreshed
    dimension pattern where downstream joins re-broadcast the new
    snapshot on their next micro-batch.
    """
    fresh_floor = sync_height - INVENTORY_STALENESS_BLOCKS
    if inventory_height is not None and inventory_height >= fresh_floor:
        return inventory_height
    inv = read_gateway_inventory(spark, inventory_glob)
    top = inv.agg(F.max("inventory_height")).collect()[0][0]
    if top is None or (inventory_height is not None and top <= inventory_height):
        return inventory_height  # nothing newer landed
    latest = inv.filter(F.col("inventory_height") == top)
    enrich_inventory(latest).write.mode("overwrite").parquet(
        f"{out_dir}/hotspots"
    )
    return int(top)


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
        lo, hi = batch_blocks.agg(F.min("height"), F.max("height")).collect()[0]
        if lo is None:  # an empty batch
            return
        txns = (
            spark.read.format("helium_chain")
            .option("endpoint", endpoint)
            .option("what", "txns")
            .option("start", str(lo))
            .option("end", str(hi))
            .load()
        )
        process_batch(spark, batch_blocks, txns, out_dir)
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
