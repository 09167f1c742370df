"""JSON-RPC wire contract (SURVEY.md section 2.1; reference client.py:21-82).

The reference asks a Helium blockchain-node for data object-by-object over
JSON-RPC: ``block_height`` (client.py:21-23), ``block_get`` by height/hash
(client.py:25-36) and ``transaction_get`` per txn hash (client.py:39-51 —
an N+1 pattern). Error code -100 means "not available" and maps to None
(client.py:76-81); anything else raises.

The engine keeps that wire protocol; the topology lives in
``sources/datasource.py``, whose executor tasks call :func:`rpc_call` for
their own height ranges. Transport is injectable; the default uses stdlib
urllib so there is no hard dependency on any HTTP library.
"""

from __future__ import annotations

import json
from collections.abc import Callable

#: transport(endpoint, payload_dict) -> response_dict (parsed JSON body)
Transport = Callable[[str, dict], dict]


def _urllib_transport(endpoint: str, payload: dict) -> dict:  # pragma: no cover - network
    import urllib.request

    req = urllib.request.Request(
        endpoint,
        data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read().decode("utf-8"))


class RpcError(Exception):
    pass


def rpc_call(
    endpoint: str,
    method: str,
    params: dict | None = None,
    request_id: int = 1,
    transport: Transport | None = None,
):
    """One JSON-RPC 2.0 call with the reference's result/error contract:
    ``result`` on success, None on error code -100 (object not available
    yet), RpcError otherwise (client.py:66-82)."""
    payload: dict = {"method": method, "jsonrpc": "2.0", "id": request_id}
    if params:
        payload["params"] = params
    response = (transport or _urllib_transport)(endpoint, payload)
    if "result" in response:
        return response["result"]
    error = response.get("error", {})
    if error.get("code") == -100:
        return None
    raise RpcError(f"{method} with params {params} failed: {error}")
