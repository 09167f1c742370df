"""Exact outputs of ``operators.graph.graph_documents`` on a fixture that
covers every branch of the follower dataflow (follower.py:135-207): both
payment versions, an empty and a malformed payload of each type, receipts
with and without their receipt struct, a receipt with no witnesses, a stub
whose type differs from its envelope's, and one stub in two blocks — once
as stub-only blocks joined to their envelopes, once with the envelopes
nested in the stubs.

Every row is compared whole, ``_key`` included, and every column by name,
type and nullability, so a rewrite of the operators must reproduce them exactly."""

from __future__ import annotations

import hashlib
import json

from helium_arango_etl_lite_spark.operators.graph import graph_documents
from helium_arango_etl_lite_spark.schemas import BLOCK_SCHEMA, CHAIN_BLOCK_SCHEMA, TXN_ENVELOPE_SCHEMA

NS = 1_000_000_000
T0 = 1_600_000_000


def _key(*values) -> str:
    """``canonical_md5_key`` recomputed in Python: NULL renders as chr(0)."""

    def text(v):
        if v is None:
            return "\x00"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    return hashlib.md5("|".join(text(v) for v in values).encode("utf-8")).hexdigest()


def _witness(gateway, ts, is_valid=True):
    return {"channel": 1, "datarate": "SF9BW125", "frequency": 904.3, "gateway": gateway,
            "is_valid": is_valid, "packet_hash": "ph", "signal": -80, "snr": 5.5, "timestamp": ts}


def _receipt_txn(h, challengee, witnesses, receipt_ts=None):
    receipt = None if receipt_ts is None else {
        "channel": 1, "data": "d", "datarate": "SF9BW125", "frequency": 904.3,
        "gateway": challengee, "origin": "p2p", "signal": -60, "snr": 9.0,
        "timestamp": receipt_ts, "tx_power": 27,
    }
    return json.dumps({"hash": h, "challenger": "CH", "fee": 0, "secret": "s",
                       "path": [{"challengee": challengee, "receipt": receipt,
                                 "witnesses": witnesses}]})


def _stubs(*pairs):
    return [{"hash": h, "type": t} for h, t in pairs]


BLOCKS = [
    {"hash": "b200", "height": 200, "prev_hash": "b199", "time": T0, "transactions": _stubs(
        ("pv1", "payment_v1"),
        ("pv2", "payment_v2"),
        ("pv2e", "payment_v2"),
        ("bad1", "payment_v1"),
        ("bad2", "payment_v2"),
        ("badr", "poc_receipts_v1"),
        ("xloc", "assert_location_v1"),
    )},
    {"hash": "b201", "height": 201, "prev_hash": "b200", "time": T0 + 60, "transactions": _stubs(
        ("rr", "poc_receipts_v1"),
        ("rn", "poc_receipts_v2"),
        ("rw", "poc_receipts_v1"),
        ("mis", "payment_v1"),
        ("pv1", "payment_v1"),
    )},
]

TXNS = [
    ("pv1", "payment_v1", json.dumps(
        {"hash": "pv1", "amount": 10, "fee": 1, "nonce": 1, "payer": "A", "payee": "B"})),
    ("pv2", "payment_v2", json.dumps(
        {"hash": "pv2", "fee": 2, "nonce": 1, "payer": "B",
         "payments": [{"amount": 5, "memo": None, "payee": "C"},
                      {"amount": 7, "memo": "m", "payee": "D"}]})),
    ("pv2e", "payment_v2", json.dumps(
        {"hash": "pv2e", "fee": 2, "nonce": 2, "payer": "E", "payments": []})),
    ("bad1", "payment_v1", "{not json"),
    ("bad2", "payment_v2", json.dumps({"hash": "bad2", "payer": "F", "payments": 7})),
    ("badr", "poc_receipts_v1", json.dumps({"hash": "badr", "path": "nope"})),
    ("rr", "poc_receipts_v1", _receipt_txn(
        "rr", "G1", [_witness("W1", 53 * NS), _witness("W2", 56 * NS, is_valid=None)], 50 * NS)),
    ("rn", "poc_receipts_v2", _receipt_txn("rn", "G2", [_witness("W3", 77 * NS, is_valid=False)])),
    ("rw", "poc_receipts_v1", _receipt_txn("rw", "G3", [], 60 * NS)),
    # the stub says payment_v1: this envelope is never read
    ("mis", "payment_v2", json.dumps(
        {"hash": "mis", "payer": "X", "payments": [{"amount": 1, "payee": "Y"}]})),
    ("xloc", "assert_location_v1", json.dumps({"hash": "xloc"})),
]

# (name, type, nullable)
PAYMENT_FIELDS = [
    ("_from", "string", True), ("_to", "string", True), ("hash", "string", True),
    ("amount", "bigint", True), ("block", "bigint", False), ("timestamp", "bigint", False),
    ("_key", "string", False),
]
WITNESS_FIELDS = [
    ("_from", "string", True), ("_to", "string", True), ("frequency", "double", True),
    ("datarate", "string", True), ("is_valid", "boolean", True), ("signal", "bigint", True),
    ("snr", "double", True), ("timestamp", "bigint", True), ("hash", "string", True),
    ("block", "bigint", False), ("tx_power", "bigint", True),
    ("processing_time_s", "double", True), ("_key", "string", False),
]

PAYMENTS = [
    ("accounts/A", "accounts/B", "pv1", 10, 200, T0),
    ("accounts/A", "accounts/B", "pv1", 10, 201, T0 + 60),
    ("accounts/B", "accounts/C", "pv2", 5, 200, T0),
    ("accounts/B", "accounts/D", "pv2", 7, 200, T0),
    # the unparseable payment_v1 still yields its edge, every payload field NULL
    (None, None, None, None, 200, T0),
]
WITNESSES = [
    ("hotspots/G1", "hotspots/W1", 904.3, "SF9BW125", True, -80, 5.5, 53 * NS, "rr", 201, 27, 3.0),
    ("hotspots/G1", "hotspots/W2", 904.3, "SF9BW125", None, -80, 5.5, 56 * NS, "rr", 201, 27, 6.0),
    ("hotspots/G2", "hotspots/W3", 904.3, "SF9BW125", False, -80, 5.5, 77 * NS, "rn", 201, None, None),
]
# the unparseable payment_v1 names no account; the empty and the
# malformed payment_v2 still add their payers
ACCOUNTS = ["A", "B", "C", "D", "E", "F"]


def _fields(df):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]


def _sorted(rows):
    return sorted(rows, key=lambda r: tuple((v is None, str(v)) for v in r))


def _assert_pinned(blocks, txns=None):
    with graph_documents(blocks, txns) as (payments, witnesses, accounts):
        assert _fields(payments) == PAYMENT_FIELDS
        assert _fields(witnesses) == WITNESS_FIELDS
        assert _fields(accounts) == [("_key", "string", True)]
        got_payments = [tuple(r) for r in payments.collect()]
        got_witnesses = [tuple(r) for r in witnesses.collect()]
        got_accounts = [r["_key"] for r in accounts.collect()]
    assert _sorted(got_payments) == _sorted([(*r, _key(*r)) for r in PAYMENTS])
    assert _sorted(got_witnesses) == _sorted([(*r, _key(*r)) for r in WITNESSES])
    assert sorted(got_accounts) == ACCOUNTS


def test_graph_documents_rows_are_pinned(spark):
    """Stub-only blocks (a dump's shape), joined to their envelopes."""
    blocks = spark.createDataFrame(BLOCKS, BLOCK_SCHEMA)
    txns = spark.createDataFrame(TXNS, TXN_ENVELOPE_SCHEMA)
    _assert_pinned(blocks, txns)


def test_graph_documents_from_nested_envelopes_are_pinned(spark):
    """The same blocks as the ``helium_chain`` reader yields them: each stub
    carries the envelope of its hash and type, or NULL when there is none
    (the mistyped ``mis`` stub), and no txns frame is given. The rows are
    the joined path's."""
    envelopes = {(h, t): j for h, t, j in TXNS}
    nested = [
        {**b, "transactions": [{**t, "json": envelopes.get((t["hash"], t["type"]))} for t in b["transactions"]]}
        for b in BLOCKS
    ]
    _assert_pinned(spark.createDataFrame(nested, CHAIN_BLOCK_SCHEMA))
