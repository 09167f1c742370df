"""Explicit StructType schemas for every ingested shape (SURVEY.md section 1.2).

Each schema mirrors a pydantic model in the reference
(``/root/reference/helium_arango_etl_lite/models/``); the engine is
schema-first: JSON ingest always uses ``F.from_json(col, schema)`` in
PERMISSIVE mode with a ``_corrupt_record`` column standing in for the
reference's ``ValidationError`` retry path (client.py:36,43-49).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _f(name: str, dtype, nullable: bool = True) -> StructField:
    return StructField(name, dtype, nullable)


# --- block + txn stubs (models/block.py:5-15) -------------------------------

BLOCK_TRANSACTION_SCHEMA = StructType(
    [
        _f("hash", StringType(), False),
        _f("type", StringType(), False),
    ]
)

BLOCK_SCHEMA = StructType(
    [
        _f("hash", StringType(), False),
        _f("height", LongType(), False),
        _f("prev_hash", StringType()),
        _f("time", LongType(), False),  # unix seconds
        _f("transactions", ArrayType(BLOCK_TRANSACTION_SCHEMA), False),
    ]
)

# --- a block as the helium_chain reader yields it ----------------------------
# BLOCK_SCHEMA with each stub's txn envelope nested: ``json`` is the
# stub's ``transaction_get`` payload (client.py:39-51), NULL when the node
# has no such txn yet. A JSON-lines dump keeps BLOCK_SCHEMA, its txns apart.

CHAIN_BLOCK_SCHEMA = StructType(
    [
        *BLOCK_SCHEMA.fields[:-1],
        _f(
            "transactions",
            ArrayType(StructType([*BLOCK_TRANSACTION_SCHEMA.fields, _f("json", StringType())])),
            False,
        ),
    ]
)

# --- payment_v1 (models/transactions/payment_v1.py:4-11) --------------------

PAYMENT_V1_SCHEMA = StructType(
    [
        _f("hash", StringType(), False),
        _f("amount", LongType(), False),  # bones: integer, no DecimalType
        _f("fee", LongType()),
        _f("nonce", LongType()),
        _f("payer", StringType(), False),
        _f("payee", StringType(), False),
    ]
)

# --- payment_v2 (models/transactions/payment_v2.py:5-17) --------------------

PAYMENT_V2_PAYMENT_SCHEMA = StructType(
    [
        _f("amount", LongType(), False),
        _f("memo", StringType()),  # Optional[str]
        _f("payee", StringType(), False),
    ]
)

PAYMENT_V2_SCHEMA = StructType(
    [
        _f("hash", StringType(), False),
        _f("fee", LongType()),
        _f("nonce", LongType()),
        _f("payer", StringType(), False),
        _f("payments", ArrayType(PAYMENT_V2_PAYMENT_SCHEMA), False),
    ]
)

# --- poc_receipts v1/v2 (models/transactions/poc_receipts_v{1,2}.py) --------
# v2 adds invalid_reason on Witness plus block/block_hash/type on the txn
# (the reference declares block_hash twice at poc_receipts_v2.py:39,46 —
# pydantic tolerates it; we declare it once). A single unified schema with
# nullable v2-only fields serves both.

WITNESS_SCHEMA = StructType(
    [
        _f("channel", LongType()),
        _f("datarate", StringType()),
        _f("frequency", DoubleType()),
        _f("gateway", StringType(), False),
        _f("is_valid", BooleanType()),  # Optional[bool]
        _f("invalid_reason", StringType()),  # v2 only
        _f("packet_hash", StringType()),
        _f("signal", LongType()),
        _f("snr", DoubleType()),
        _f("timestamp", LongType()),  # unix nanoseconds
    ]
)

RECEIPT_SCHEMA = StructType(
    [
        _f("channel", LongType()),
        _f("data", StringType()),
        _f("datarate", StringType()),  # Optional[str]
        _f("frequency", DoubleType()),
        _f("gateway", StringType()),
        _f("origin", StringType()),
        _f("signal", LongType()),
        _f("snr", DoubleType()),
        _f("timestamp", LongType()),  # unix nanoseconds
        _f("tx_power", LongType()),
    ]
)

PATH_ELEMENT_SCHEMA = StructType(
    [
        _f("challengee", StringType(), False),
        _f("receipt", RECEIPT_SCHEMA),  # nullable whole struct (follower.py:194-198)
        _f("witnesses", ArrayType(WITNESS_SCHEMA), False),
    ]
)

POC_RECEIPTS_SCHEMA = StructType(
    [
        _f("hash", StringType()),
        _f("block", LongType()),  # v2 only
        _f("block_hash", StringType()),  # v2 only (declared once, see above)
        _f("type", StringType()),  # v2 only
        _f("challenger", StringType()),
        _f("fee", LongType()),
        _f("onion_key_hash", StringType()),
        _f("request_block_hash", StringType()),  # v1 only
        _f("secret", StringType()),
        _f("path", ArrayType(PATH_ELEMENT_SCHEMA), False),
    ]
)

# --- add_gateway_v1 (models/transactions/add_gateway_v1.py) ------------------

ADD_GATEWAY_V1_SCHEMA = StructType(
    [
        _f("hash", StringType(), False),
        _f("gateway", StringType(), False),
        _f("owner", StringType()),
        _f("payer", StringType()),
        _f("staking_fee", LongType()),
    ]
)

# --- gateway inventory CSV (loaders.py:19-37) --------------------------------

GATEWAY_INVENTORY_SCHEMA = StructType(
    [
        _f("address", StringType(), False),
        _f("owner", StringType()),
        _f("location", StringType()),  # H3 hex; null -> row dropped by dropna
        _f("name", StringType()),
    ]
)

# --- GeoJSON point (loaders.py:16) -------------------------------------------

GEOJSON_POINT_SCHEMA = StructType(
    [
        _f("type", StringType(), False),
        _f("coordinates", ArrayType(DoubleType()), False),  # [lng, lat]
    ]
)

# --- transaction envelope: one row per fetched txn, raw JSON payload ---------
# Stands in for the N+1 transaction_get RPC (client.py:39-51): a txn dump is
# (hash, type, json), and each type-filtered branch applies its own schema.

TXN_ENVELOPE_SCHEMA = StructType(
    [
        _f("hash", StringType(), False),
        _f("type", StringType(), False),
        _f("json", StringType(), False),
    ]
)

TXN_SCHEMAS: dict[str, StructType] = {
    "payment_v1": PAYMENT_V1_SCHEMA,
    "payment_v2": PAYMENT_V2_SCHEMA,
    "poc_receipts_v1": POC_RECEIPTS_SCHEMA,
    "poc_receipts_v2": POC_RECEIPTS_SCHEMA,
    "add_gateway_v1": ADD_GATEWAY_V1_SCHEMA,
}
