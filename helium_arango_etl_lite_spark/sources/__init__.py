from .jsonl import read_blocks, read_txns, split_corrupt
from .inventory import enrich_inventory, read_gateway_inventory
from .rpc import RpcError, rpc_call
from .datasource import HeliumChainDataSource

__all__ = [
    "HeliumChainDataSource",
    "RpcError",
    "rpc_call",
    "read_blocks",
    "read_txns",
    "split_corrupt",
    "read_gateway_inventory",
    "enrich_inventory",
]
