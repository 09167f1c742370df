"""JSON-RPC wire contract tests: result/error mapping (client.py:66-82
parity)."""

from __future__ import annotations

import pytest

from helium_arango_etl_lite_spark.sources import RpcError, rpc_call

CHAIN = {
    100: {"hash": "bh100", "height": 100, "prev_hash": "bh099",
          "time": 1_600_000_000,
          "transactions": [{"hash": "p1", "type": "payment_v1"}]},
    101: {"hash": "bh101", "height": 101, "prev_hash": "bh100",
          "time": 1_600_000_060, "transactions": []},
}
TXNS = {
    "p1": {"hash": "p1", "amount": 10, "fee": 1, "nonce": 1,
           "payer": "A", "payee": "B"},
}


def fake_transport(endpoint: str, payload: dict) -> dict:
    method, params = payload["method"], payload.get("params", {})
    if method == "block_height":
        return {"result": max(CHAIN)}
    if method == "block_get":
        block = CHAIN.get(params.get("height"))
        if block is None:
            return {"error": {"code": -100, "message": "not found"}}
        return {"result": block}
    if method == "transaction_get":
        txn = TXNS.get(params.get("hash"))
        if txn is None:
            return {"error": {"code": -100, "message": "not found"}}
        return {"result": txn}
    return {"error": {"code": -32601, "message": "unknown method"}}


def test_rpc_error_contract():
    assert rpc_call("x", "block_height", transport=fake_transport) == 101
    # -100 -> None (reference treats as "not ready", client.py:76-81)
    assert rpc_call(
        "x", "block_get", {"height": 999}, transport=fake_transport
    ) is None
    with pytest.raises(RpcError):
        rpc_call("x", "nope", transport=fake_transport)
