"""Graph-document transforms: the reference's per-block dataflow
(follower.py:135-207) re-expressed as DataFrame operators.

Input shapes (see ``schemas.py``):
 * ``blocks``  — BLOCK_SCHEMA rows (one per block, txn stubs nested)
 * ``txns``    — TXN_ENVELOPE_SCHEMA rows (hash, type, json payload),
   standing in for the reference's N+1 ``transaction_get`` RPC
   (client.py:39-51); in Spark the "N+1 fetch" becomes one join of the
   blocks' txn stubs onto a columnar txn table — one scan, zero RPCs.

:func:`graph_documents` does that join once per batch, parses each
payload once, keeps the result persisted while the batch's sinks run, and
derives all three outputs from it. It carries no broadcast hint: a
follower batch plans its joins under its own execution profile
(``streaming/follow.py``), and any other caller leaves the choice to AQE.

Output shapes (FIXTURES.md F6):
 * payment edges  ``_from _to hash amount block timestamp _key``
   (follower.py:148-159 v1, :163-176 v2)
 * witness edges  ``_from _to frequency datarate is_valid signal snr
   timestamp hash block [tx_power processing_time_s] _key``
   (follower.py:180-202)
 * account vertices ``_key`` (follower.py:147,156,162,173)
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.keys import canonical_md5_key
from ..schemas import PAYMENT_V1_SCHEMA, PAYMENT_V2_SCHEMA, POC_RECEIPTS_SCHEMA

PAYMENT_KEY_COLS = ["_from", "_to", "hash", "amount", "block", "timestamp"]
RECEIPT_KEY_COLS = [
    "_from", "_to", "frequency", "datarate", "is_valid", "signal", "snr",
    "timestamp", "hash", "block", "tx_power", "processing_time_s",
]
PAYMENT_TYPES = ("payment_v1", "payment_v2")
RECEIPT_TYPES = ("poc_receipts_v1", "poc_receipts_v2")


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


def _in_block_txns(blocks: DataFrame, txns: DataFrame) -> DataFrame:
    """The payment and receipt txns a stub in ``blocks`` references, with
    the stub's block and time and the payload parsed once by its type's
    schema: ``pay1`` (payment_v1), ``pay2`` (payment_v2) or ``poc``
    (poc_receipts v1/v2), NULL for the other types.

    Only referenced txns count — the reference walks
    ``block.transactions`` (follower.py:143), never the txn store at large
    — and an envelope counts only under the type its stub declares.
    PERMISSIVE parse: a malformed payload yields NULL fields rather than an
    exception — the engine's stand-in for the reference's ValidationError
    retry (follower.py:66-69).
    """
    types = PAYMENT_TYPES + RECEIPT_TYPES
    stubs = explode_txn_stubs(blocks).filter(F.col("txn_type").isin(*types))
    envelopes = txns.filter(F.col("type").isin(*types))
    joined = stubs.join(
        envelopes,
        (stubs["txn_hash"] == envelopes["hash"]) & (stubs["txn_type"] == envelopes["type"]),
    )
    return joined.select(
        "block",
        "block_time",
        "txn_hash",
        "type",
        F.when(F.col("type") == "payment_v1", F.from_json("json", PAYMENT_V1_SCHEMA)).alias("pay1"),
        F.when(F.col("type") == "payment_v2", F.from_json("json", PAYMENT_V2_SCHEMA)).alias("pay2"),
        F.when(F.col("type").isin(*RECEIPT_TYPES), F.from_json("json", POC_RECEIPTS_SCHEMA)).alias("poc"),
    )


@contextmanager
def graph_documents(blocks: DataFrame, txns: DataFrame) -> Iterator[tuple[DataFrame, DataFrame, DataFrame]]:
    """Yield one batch's ``(payment edges, witness edges, account
    vertices)``, all derived from one :func:`_in_block_txns` frame that
    stays persisted until the block exits, so the stub-envelope join and
    the payload parse run once for the three sinks."""
    in_block = _in_block_txns(blocks, txns).persist()
    try:
        yield _payment_edges(in_block), _witness_edges(in_block), _account_vertices(in_block)
    finally:
        in_block.unpersist()


def _payment_edges(txns: DataFrame) -> DataFrame:
    """payment_v1 -> one edge per txn (follower.py:145-159); payment_v2 ->
    one edge per element of its ``payments`` array (follower.py:160-176).
    Keyed and deduplicated — the onDuplicate=ignore contract of
    follower.py:205-207."""
    v1 = txns.filter(F.col("type") == "payment_v1").select(
        F.col("pay1.payer").alias("payer"),
        F.col("pay1.payee").alias("payee"),
        F.col("pay1.hash").alias("hash"),
        F.col("pay1.amount").alias("amount"),
        "block",
        "block_time",
    )
    v2 = txns.filter(F.col("type") == "payment_v2").select(
        F.col("pay2.payer").alias("payer"),
        F.col("pay2.hash").alias("hash"),
        "block",
        "block_time",
        F.explode("pay2.payments").alias("p"),
    ).select(
        "payer",
        F.col("p.payee").alias("payee"),
        "hash",
        F.col("p.amount").alias("amount"),
        "block",
        "block_time",
    )
    edges = v1.unionByName(v2).select(
        F.concat(F.lit("accounts/"), F.col("payer")).alias("_from"),
        F.concat(F.lit("accounts/"), F.col("payee")).alias("_to"),
        "hash",
        "amount",
        "block",
        F.col("block_time").alias("timestamp"),
    )
    return edges.withColumn("_key", canonical_md5_key(*PAYMENT_KEY_COLS)).dropDuplicates(["_key"])


def _witness_edges(txns: DataFrame) -> DataFrame:
    """poc_receipts v1/v2 -> one edge per witness (follower.py:177-202).

    Only ``path[0]`` is read, as in the reference (follower.py:180).

    Null-receipt handling: ``tx_power`` / ``processing_time_s`` are NULL when
    the path element has no receipt struct — the columnar equivalent of the
    reference's try/except AttributeError (follower.py:194-198).
    """
    exploded = txns.filter(F.col("type").isin(*RECEIPT_TYPES)).select(
        "block",
        "txn_hash",
        F.col("poc.path").getItem(0).alias("pe"),
    ).select(
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


def _account_vertices(txns: DataFrame) -> DataFrame:
    """Distinct account vertices: payer union payee across payment types
    (follower.py:147,156,162,173 + duplicate-ignore import :206). A
    payment_v2 payer counts even when its ``payments`` array is empty."""
    v1 = txns.filter(F.col("type") == "payment_v1")
    v2 = txns.filter(F.col("type") == "payment_v2")
    keys = (
        v1.select(F.col("pay1.payer").alias("_key"))
        .unionByName(v1.select(F.col("pay1.payee").alias("_key")))
        .unionByName(v2.select(F.col("pay2.payer").alias("_key")))
        .unionByName(
            v2.select(F.explode("pay2.payments").alias("p")).select(
                F.col("p.payee").alias("_key")
            )
        )
    )
    return keys.distinct()
