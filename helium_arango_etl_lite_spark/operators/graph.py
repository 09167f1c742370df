"""Graph-document transforms: the reference's per-block dataflow
(follower.py:135-207) re-expressed as DataFrame operators.

Input shapes (see ``schemas.py``):
 * ``blocks``  — BLOCK_SCHEMA rows (one per block, txn stubs nested)
 * ``txns``    — TXN_ENVELOPE_SCHEMA rows (hash, type, json payload),
   standing in for the reference's N+1 ``transaction_get`` RPC
   (client.py:39-51); in Spark the "N+1 fetch" becomes a broadcast join
   of block headers onto a columnar txn table — one scan, zero RPCs.

Output shapes (FIXTURES.md F6):
 * payment edges  ``_from _to hash amount block timestamp _key``
   (follower.py:148-159 v1, :163-176 v2)
 * witness edges  ``_from _to frequency datarate is_valid signal snr
   timestamp hash block [tx_power processing_time_s] _key``
   (follower.py:180-202)
 * account vertices ``_key`` (follower.py:147,156,162,173)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import canonical_md5_key
from ..schemas import PAYMENT_V1_SCHEMA, PAYMENT_V2_SCHEMA, POC_RECEIPTS_SCHEMA

PAYMENT_KEY_COLS = ["_from", "_to", "hash", "amount", "block", "timestamp"]
RECEIPT_KEY_COLS = [
    "_from", "_to", "frequency", "datarate", "is_valid", "signal", "snr",
    "timestamp", "hash", "block", "tx_power", "processing_time_s",
]


def explode_txn_stubs(blocks: DataFrame) -> DataFrame:
    """Block rows -> one row per transaction stub, block header attached.

    Equivalent of the reference's ``for txn in block.transactions`` loop
    (follower.py:143); block-level height/time ride along so no later join
    is needed (follower.py:153-154).
    """
    return blocks.select(
        F.col("height").alias("block"),
        F.col("time").alias("block_time"),
        F.explode("transactions").alias("txn"),
    ).select("block", "block_time", F.col("txn.hash").alias("txn_hash"), F.col("txn.type").alias("txn_type"))


def parse_txns(txns: DataFrame, txn_type: str, schema) -> DataFrame:
    """Type-dispatch + schema parse (client.py:39-51): filter rows of one
    ``type`` and apply that type's schema to the raw JSON payload.

    PERMISSIVE mode: a malformed payload yields a NULL struct rather than an
    exception — the engine's stand-in for the reference's ValidationError
    retry (follower.py:66-69); callers quarantine NULLs.
    """
    return (
        txns.filter(F.col("type") == txn_type)
        .select(
            F.col("hash").alias("txn_hash"),
            F.from_json("json", schema).alias("t"),
        )
    )


def payment_edges_v1(blocks: DataFrame, txns: DataFrame) -> DataFrame:
    """payment_v1 -> one payment edge per txn (follower.py:145-159)."""
    stubs = explode_txn_stubs(blocks).filter(F.col("txn_type") == "payment_v1")
    parsed = parse_txns(txns, "payment_v1", PAYMENT_V1_SCHEMA)
    joined = stubs.join(F.broadcast(parsed), "txn_hash")
    edges = joined.select(
        F.concat(F.lit("accounts/"), F.col("t.payer")).alias("_from"),
        F.concat(F.lit("accounts/"), F.col("t.payee")).alias("_to"),
        F.col("t.hash").alias("hash"),
        F.col("t.amount").alias("amount"),
        F.col("block"),
        F.col("block_time").alias("timestamp"),
    )
    return edges.withColumn("_key", canonical_md5_key(*PAYMENT_KEY_COLS))


def payment_edges_v2(blocks: DataFrame, txns: DataFrame) -> DataFrame:
    """payment_v2 -> explode nested payments array, one edge per payment
    (follower.py:160-176)."""
    stubs = explode_txn_stubs(blocks).filter(F.col("txn_type") == "payment_v2")
    parsed = parse_txns(txns, "payment_v2", PAYMENT_V2_SCHEMA)
    joined = stubs.join(F.broadcast(parsed), "txn_hash")
    exploded = joined.select(
        "block", "block_time", "t.hash", "t.payer", F.explode("t.payments").alias("p")
    )
    edges = exploded.select(
        F.concat(F.lit("accounts/"), F.col("payer")).alias("_from"),
        F.concat(F.lit("accounts/"), F.col("p.payee")).alias("_to"),
        F.col("hash"),
        F.col("p.amount").alias("amount"),
        F.col("block"),
        F.col("block_time").alias("timestamp"),
    )
    return edges.withColumn("_key", canonical_md5_key(*PAYMENT_KEY_COLS))


def payment_edges(blocks: DataFrame, txns: DataFrame) -> DataFrame:
    """All payment edges (v1 union v2), keyed and deduplicated — the
    idempotent-sink contract of follower.py:205-207 (onDuplicate=ignore)."""
    return payment_edges_v1(blocks, txns).unionByName(
        payment_edges_v2(blocks, txns)
    ).dropDuplicates(["_key"])


def witness_edges(blocks: DataFrame, txns: DataFrame) -> DataFrame:
    """poc_receipts v1/v2 -> one edge per witness (follower.py:177-202).

    Only ``path[0]`` is read, as in the reference (follower.py:180).

    Null-receipt handling: ``tx_power`` / ``processing_time_s`` are NULL when
    the path element has no receipt struct — the columnar equivalent of the
    reference's try/except AttributeError (follower.py:194-198).
    """
    stubs = explode_txn_stubs(blocks).filter(
        F.col("txn_type").isin("poc_receipts_v1", "poc_receipts_v2")
    )
    parsed = txns.filter(
        F.col("type").isin("poc_receipts_v1", "poc_receipts_v2")
    ).select(
        F.col("hash").alias("txn_hash"),
        F.from_json("json", POC_RECEIPTS_SCHEMA).alias("t"),
    )
    joined = stubs.join(F.broadcast(parsed), "txn_hash")
    with_path = joined.select(
        "block", "block_time", "txn_hash", F.col("t.path").getItem(0).alias("pe")
    )

    exploded = with_path.select(
        "block",
        "txn_hash",
        F.col("pe.challengee").alias("challengee"),
        F.col("pe.receipt").alias("receipt"),
        F.explode("pe.witnesses").alias("w"),
    )
    edges = exploded.select(
        F.concat(F.lit("hotspots/"), F.col("challengee")).alias("_from"),
        F.concat(F.lit("hotspots/"), F.col("w.gateway")).alias("_to"),
        F.col("w.frequency").alias("frequency"),
        F.col("w.datarate").alias("datarate"),
        F.col("w.is_valid").alias("is_valid"),
        F.col("w.signal").alias("signal"),
        F.col("w.snr").alias("snr"),
        F.col("w.timestamp").alias("timestamp"),
        F.col("txn_hash").alias("hash"),
        F.col("block"),
        # null-tolerant struct access: NULL receipt -> NULL fields
        F.col("receipt.tx_power").alias("tx_power"),
        F.when(
            F.col("receipt").isNotNull(),
            (F.col("w.timestamp") - F.col("receipt.timestamp")) / F.lit(1e9),
        ).alias("processing_time_s"),
    )
    return edges.withColumn("_key", canonical_md5_key(*RECEIPT_KEY_COLS)).dropDuplicates(["_key"])


def account_vertices(blocks: DataFrame, txns: DataFrame) -> DataFrame:
    """Distinct account vertices: payer union payee across payment types
    (follower.py:147,156,162,173 + duplicate-ignore import :206).

    Only transactions referenced by a stub in ``blocks`` count — the
    reference walks ``block.transactions`` (follower.py:143), never the txn
    store at large; a left-semi join on the (broadcast) stub hashes
    enforces that without moving the txn rows.
    """
    stubs = explode_txn_stubs(blocks).select("txn_hash")
    in_block = txns.join(
        F.broadcast(stubs), txns["hash"] == stubs["txn_hash"], "left_semi"
    )
    v1 = parse_txns(in_block, "payment_v1", PAYMENT_V1_SCHEMA)
    v2 = parse_txns(in_block, "payment_v2", PAYMENT_V2_SCHEMA)
    keys = (
        v1.select(F.col("t.payer").alias("_key"))
        .unionByName(v1.select(F.col("t.payee").alias("_key")))
        .unionByName(v2.select(F.col("t.payer").alias("_key")))
        .unionByName(
            v2.select(F.explode("t.payments").alias("p")).select(
                F.col("p.payee").alias("_key")
            )
        )
    )
    return keys.distinct()
