"""Python DataSource (PySpark >= 4): DISTRIBUTED chain ingestion.

The reference fetches the chain from one driver loop; this module removes
that topology and keeps its wire contract (``sources/rpc.py``). The
reference hints at the parallel shape itself — its unused
``process_block_parallel`` (follower.py:216-289) fans a block's
transactions over multiprocessing workers. The Python DataSource API is
the Spark-native version of that idea at cluster scale: each *executor*
task owns a height range and speaks JSON-RPC (client.py:55-82 wire
contract) directly, so ingest bandwidth scales with the cluster and the
N+1 ``transaction_get`` pattern (client.py:39-51) is amortised across
tasks instead of serialised on one driver loop.

Usage::

    spark.dataSource.register(HeliumChainDataSource)
    blocks = (spark.read.format("helium_chain")
              .option("endpoint", "http://node:4467")
              .option("start", 1_000_000).option("end", 1_000_512)
              .load())

``what=blocks`` (the default, batch and stream) yields CHAIN_BLOCK_SCHEMA
rows: one per block, each txn stub carrying its envelope. A stub's
``json`` is the raw ``transaction_get`` payload (client.py:39-51), NULL
when the node has no such txn yet, so one pass fetches each height once
and each txn once: one ``block_get`` per height and one
``transaction_get`` per stub. ``what=txns`` yields the same payloads
apart, as TXN_ENVELOPE_SCHEMA rows (hash, type, json) — the shape of a
JSON-lines txn dump, which a reader of stub-only blocks joins back
(operators/graph.py). Each type branch applies its own schema to the
payload downstream.

Endpoints with the ``mock://`` scheme serve a deterministic synthetic
chain (seeded per height) so the full distributed path is testable —
and demonstrable — without a node. On a real cluster ship this package
via ``--py-files``; executors import it to deserialize the reader.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from ..schemas import CHAIN_BLOCK_SCHEMA, TXN_ENVELOPE_SCHEMA
from .rpc import Transport, rpc_call

DEFAULT_HEIGHTS_PER_PARTITION = 64
# rows buffered per Arrow batch on the batch-read path; bounds executor
# memory per task while keeping the Python->JVM transfer columnar
ARROW_BATCH_ROWS = 4096


class HeightRange(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


_NS = 1_000_000_000


def _mock_receipt_txn(h: int) -> dict:
    """Deterministic poc_receipts_v1 for height ``h`` (mixed chain only).

    Field values are chosen so every derived column renders identically
    as a string in Spark and DuckDB (halves for floats, exact 0.5 s
    witness/receipt timestamp deltas) — the witness-edge canonical MD5
    key is therefore oracle-reproducible end-to-end.
    """
    challengee = f"hs{h % 11}"
    r_ts = h * _NS
    receipt = None
    if h % 2 == 0:  # the reference's nullable-receipt path (follower.py:194-198)
        receipt = {
            "channel": 3,
            "data": "d",
            "datarate": "SF9BW125",
            "frequency": 904.3,
            "gateway": challengee,
            "origin": "p2p",
            "signal": -60,
            "snr": 9.0,
            "timestamp": r_ts,
            "tx_power": 27,
        }
    witnesses = [
        {
            "channel": 3,
            "datarate": "SF9BW125",
            "frequency": 904.3,
            "gateway": f"hs{(h * 5 + w) % 17}",
            "is_valid": (h + w) % 4 != 0,
            "packet_hash": f"ph{h:012d}",
            "signal": -(70 + (h + w) % 30),
            "snr": [2.0, 5.5, 9.0][(h + w) % 3],
            "timestamp": r_ts + (w + 1) * 500_000_000,
        }
        for w in (0, 1)
    ]
    return {
        "hash": f"pr{h:012d}",
        "challenger": f"hs{h % 13}",
        "fee": 0,
        "path": [
            {"challengee": challengee, "receipt": receipt, "witnesses": witnesses}
        ],
    }


def mock_transport(endpoint: str, payload: dict) -> dict:
    """Deterministic synthetic chain for mock:// endpoints: every height
    has one payment_v1 whose fields derive from the height, so any range
    read is reproducible on any executor. Endpoints containing ``mixed``
    additionally carry one poc_receipts_v1 every third height (same
    determinism), exercising the witness-edge path end-to-end."""
    mixed = "mixed" in endpoint
    method, params = payload["method"], payload.get("params", {})
    if method == "block_height":
        return {"result": 10_000_000}
    if method == "block_get":
        h = params.get("height")
        if h is None or h < 1:
            return {"error": {"code": -100, "message": "no such block"}}
        stubs = [{"hash": f"tx{h:012d}", "type": "payment_v1"}]
        if mixed and h % 3 == 0:
            stubs.append({"hash": f"pr{h:012d}", "type": "poc_receipts_v1"})
        return {
            "result": {
                "hash": f"bh{h:012d}",
                "height": h,
                "prev_hash": f"bh{h - 1:012d}",
                "time": 1_600_000_000 + h * 60,
                "transactions": stubs,
            }
        }
    if method == "transaction_get":
        th = params.get("hash", "")
        if mixed and th.startswith("pr"):
            return {"result": _mock_receipt_txn(int(th[2:]))}
        if not th.startswith("tx"):
            return {"error": {"code": -100, "message": "no such txn"}}
        h = int(th[2:])
        return {
            "result": {
                "hash": th,
                "amount": (h * 37) % 100_000 + 1,
                "fee": 0,
                "nonce": h,
                "payer": f"acct{h % 97}",
                "payee": f"acct{(h * 7) % 89}",
            }
        }
    return {"error": {"code": -32601, "message": "unknown method"}}


def _transport_for(endpoint: str) -> Transport | None:
    return mock_transport if endpoint.startswith("mock://") else None


def _schema_of(what: str) -> StructType:
    return CHAIN_BLOCK_SCHEMA if what == "blocks" else TXN_ENVELOPE_SCHEMA


class ChainReader(DataSourceReader):
    def __init__(self, options: dict):
        self.endpoint = options.get("endpoint", "mock://chain")
        self.start = int(options.get("start", 1))
        self.end = int(options.get("end", self.start))
        self.what = options.get("what", "blocks")
        self.per_partition = int(
            options.get("heights_per_partition", DEFAULT_HEIGHTS_PER_PARTITION)
        )

    def partitions(self) -> Sequence[InputPartition]:
        parts = []
        lo = self.start
        while lo <= self.end:
            hi = min(lo + self.per_partition - 1, self.end)
            parts.append(HeightRange(lo, hi))
            lo = hi + 1
        return parts

    def _rows(self, partition: HeightRange) -> Iterator[tuple]:
        transport = _transport_for(self.endpoint)

        def envelope(stub: dict) -> str | None:
            txn = rpc_call(
                self.endpoint, "transaction_get", {"hash": stub["hash"]}, transport=transport
            )
            return None if txn is None else json.dumps(txn, sort_keys=True)

        for h in range(partition.lo, partition.hi + 1):
            block = rpc_call(
                self.endpoint, "block_get", {"height": h}, transport=transport
            )
            if block is None:  # not gossiped yet: next read retries (=-100)
                continue
            stubs = block.get("transactions", [])
            if self.what == "blocks":
                yield (
                    block["hash"],
                    block["height"],
                    block.get("prev_hash"),
                    block["time"],
                    [(t["hash"], t["type"], envelope(t)) for t in stubs],
                )
            else:
                for stub in stubs:
                    payload = envelope(stub)
                    if payload is not None:
                        yield (stub["hash"], stub["type"], payload)

    def read(self, partition: HeightRange) -> Iterator:
        """Yield pyarrow.RecordBatch (columnar Python->JVM transfer; the
        per-row pickle path costs ~10x at bulk-backfill scale). Rows are
        buffered ARROW_BATCH_ROWS at a time so task memory stays bounded
        no matter the height range."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(_schema_of(self.what))

        def to_batch(buf: list[tuple]):
            # a nested stub struct goes in as its row tuple
            arrays = [pa.array(c, type=f.type) for c, f in zip(zip(*buf), schema)]
            return pa.RecordBatch.from_arrays(arrays, schema=schema)

        buf: list[tuple] = []
        for row in self._rows(partition):
            buf.append(row)
            if len(buf) >= ARROW_BATCH_ROWS:
                yield to_batch(buf)
                buf = []
        if buf:
            yield to_batch(buf)


class ChainStreamReader(SimpleDataSourceStreamReader):
    """Streaming tail-follow straight off the node.

    The offset is simply ``{"height": next_unread}``; each micro-batch
    reads up to ``max_heights_per_batch`` blocks behind the chain tip
    (``block_height`` probe, client.py:21-23). Offsets live in the query
    checkpoint, so restart/replay re-reads exactly the heights whose batch
    never committed — paired with the deterministic-key idempotent sink
    this is the engine's exactly-once story, replacing the reference's
    hand-rolled ``follower_info`` resume doc (follower.py:97-128).
    """

    def __init__(self, options: dict):
        self.endpoint = options.get("endpoint", "mock://chain")
        self.start = int(options.get("start", 1))
        self.max_per_batch = int(options.get("max_heights_per_batch", 64))
        # optional cap so offline/demo streams can drain and idle
        self.end = int(options["end"]) if "end" in options else None
        self.what = options.get("what", "blocks")

    def initialOffset(self) -> dict:
        return {"height": self.start}

    def _rows_for(self, lo: int, hi: int) -> Iterator[tuple]:
        reader = ChainReader(
            {
                "endpoint": self.endpoint,
                "start": str(lo),
                "end": str(hi),
                "what": self.what,
            }
        )
        for part in reader.partitions():
            # row tuples, not Arrow batches: the simple stream reader
            # prefetches plain rows on the driver
            yield from reader._rows(part)

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = start["height"]
        tip = rpc_call(
            self.endpoint, "block_height", transport=_transport_for(self.endpoint)
        )
        hi = min(lo + self.max_per_batch - 1, tip)
        if self.end is not None:
            hi = min(hi, self.end)
        if hi < lo:  # at tip: empty batch, offset unchanged (poll again)
            return iter([]), start
        # a LIST iterator, not a generator: the simple stream reader
        # prefetches on the driver, caches the iterator (next()) AND
        # pickles it for executor distribution — list iterators satisfy
        # both, generators pickle-fail. Bounded by max_heights_per_batch,
        # so driver memory stays flat.
        return iter(list(self._rows_for(lo, hi))), {"height": hi + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay of an uncommitted batch after restart: deterministic by
        # construction (same heights -> same rows)
        return iter(list(self._rows_for(start["height"], end["height"] - 1)))


class HeliumChainDataSource(DataSource):
    """spark.read.format("helium_chain") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "helium_chain"

    def schema(self):
        return _schema_of(self.options.get("what", "blocks"))

    def reader(self, schema) -> ChainReader:
        return ChainReader(dict(self.options))

    def simpleStreamReader(self, schema) -> ChainStreamReader:
        return ChainStreamReader(dict(self.options))
