"""Python DataSource tests: distributed chain ingestion via
spark.read.format("helium_chain") against the deterministic mock chain,
including partitioning and end-to-end flow into the graph operators."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from helium_arango_etl_lite_spark.operators.graph import graph_documents
from helium_arango_etl_lite_spark.sources.datasource import HeliumChainDataSource


def _register(spark):
    spark.dataSource.register(HeliumChainDataSource)


def test_blocks_read_is_partitioned_and_complete(spark):
    _register(spark)
    df = (
        spark.read.format("helium_chain")
        .option("endpoint", "mock://chain")
        .option("start", 100).option("end", 399)
        .option("heights_per_partition", 100)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # 300 heights / 100 per task
    rows = df.orderBy("height").collect()
    assert len(rows) == 300
    assert rows[0]["height"] == 100 and rows[-1]["height"] == 399
    assert rows[0]["transactions"][0]["type"] == "payment_v1"
    assert rows[1]["prev_hash"] == rows[0]["hash"]


def test_txn_envelopes_flow_into_graph_operators(spark):
    _register(spark)
    blocks = (
        spark.read.format("helium_chain")
        .option("endpoint", "mock://chain")
        .option("start", 100).option("end", 109)
        .load()
    )
    txns = (
        spark.read.format("helium_chain")
        .option("endpoint", "mock://chain").option("what", "txns")
        .option("start", 100).option("end", 109)
        .load()
    )
    assert txns.count() == 10
    with graph_documents(blocks, txns) as (edges, _, _):
        got = {r["hash"]: r for r in edges.collect()}
    assert len(got) == 10
    # mock chain invariants: amount = (h*37) % 100000 + 1, block time ride-on
    assert got["tx000000000100"]["amount"] == (100 * 37) % 100_000 + 1
    assert got["tx000000000100"]["timestamp"] == 1_600_000_000 + 100 * 60
    assert got["tx000000000100"]["_from"].startswith("accounts/acct")


def test_missing_blocks_are_skipped_not_fatal(spark):
    _register(spark)
    df = (
        spark.read.format("helium_chain")
        .option("endpoint", "mock://chain")
        .option("start", 0).option("end", 4)   # height 0 -> -100 -> skipped
        .load()
    )
    assert sorted(r["height"] for r in df.collect()) == [1, 2, 3, 4]


def _drain(q, seen, target, timeout_s=90):
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline and sum(seen) < target:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(30)


def test_stream_reader_follows_chain(spark):
    """readStream straight off the (mock) node: offset = next height,
    batches capped by max_heights_per_batch, drains to the end option."""
    _register(spark)
    stream = (
        spark.readStream.format("helium_chain")
        .option("endpoint", "mock://chain")
        .option("start", 100).option("end", 199)
        .option("max_heights_per_batch", 40)
        .load()
    )
    counts: list[int] = []
    q = stream.writeStream.foreachBatch(
        lambda df, eid: counts.append(df.count())
    ).trigger(processingTime="1 second").start()
    _drain(q, counts, 100)
    assert sum(counts) == 100
    assert counts[0] == 40  # batch size cap respected


def test_stream_reader_resumes_from_checkpoint(spark, tmp_path):
    """Stop after the first committed batch, restart with the same
    checkpoint: offsets resume where they left off, and the total output
    contains every height exactly once (exactly-once with the
    deterministic source)."""
    import time

    _register(spark)
    out = str(tmp_path / "blocks_out")
    ckpt = str(tmp_path / "ckpt")

    def start_query():
        stream = (
            spark.readStream.format("helium_chain")
            .option("endpoint", "mock://chain")
            .option("start", 100).option("end", 179)
            .option("max_heights_per_batch", 40)
            .load()
        )
        return (
            stream.select("hash", "height", "time")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    q = start_query()
    deadline = time.time() + 60
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= 40:
                break
        except Exception:
            pass
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(30)

    q2 = start_query()
    deadline = time.time() + 90
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= 80:
                break
        except Exception:
            pass
        time.sleep(0.3)
    q2.stop()
    q2.awaitTermination(30)

    rows = spark.read.parquet(out).collect()
    heights = sorted(r["height"] for r in rows)
    assert heights == list(range(100, 180)), "gap or duplicate after resume"


def test_batch_read_yields_bounded_arrow_batches():
    """The batch path transfers columnar Arrow batches (not pickled rows),
    chunked so task memory is bounded, and with exact row parity vs the
    row iterator the stream reader uses."""
    import pyarrow as pa

    from helium_arango_etl_lite_spark.sources import datasource as ds

    reader = ds.ChainReader(
        {"endpoint": "mock://chain", "start": "1", "end": "5000", "what": "txns"}
    )
    part = ds.HeightRange(1, 5000)
    batches = list(reader.read(part))
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert max(b.num_rows for b in batches) <= ds.ARROW_BATCH_ROWS
    assert sum(b.num_rows for b in batches) == 5000
    flat = [tuple(r.values()) for b in batches for r in b.to_pylist()]
    assert flat == list(reader._rows(part))


def test_arrow_block_batches_preserve_nested_transactions():
    """Each stub of a ``what=blocks`` row carries its txn envelope: the raw
    ``transaction_get`` payload, as the ``what=txns`` read yields it."""
    import pyarrow as pa

    from helium_arango_etl_lite_spark.sources import datasource as ds

    reader = ds.ChainReader(
        {"endpoint": "mock://chain", "start": "7", "end": "9", "what": "blocks"}
    )
    (batch,) = list(reader.read(ds.HeightRange(7, 9)))
    assert isinstance(batch, pa.RecordBatch)
    rows = batch.to_pylist()
    assert [r["height"] for r in rows] == [7, 8, 9]
    payload = ds.mock_transport("mock://chain", {"method": "transaction_get", "params": {"hash": "tx000000000007"}})
    assert rows[0]["transactions"] == [
        {"hash": "tx000000000007", "type": "payment_v1", "json": json.dumps(payload["result"], sort_keys=True)}
    ]
    txns = ds.ChainReader({"endpoint": "mock://chain", "start": "7", "end": "9", "what": "txns"})
    assert [(t["hash"], t["type"], t["json"]) for r in rows for t in r["transactions"]] == list(
        txns._rows(ds.HeightRange(7, 9))
    )


def test_stub_of_a_missing_txn_carries_no_envelope(monkeypatch):
    """A stub whose txn the node does not have yet (-100) keeps its place
    in the block with a NULL ``json``; the ``what=txns`` read skips it."""
    from helium_arango_etl_lite_spark.sources import datasource as ds

    def no_receipts(endpoint, payload):
        if payload["params"].get("hash", "").startswith("pr"):
            return {"error": {"code": -100, "message": "no such txn"}}
        return ds.mock_transport(endpoint, payload)

    monkeypatch.setattr(ds, "_transport_for", lambda endpoint: no_receipts)
    (block,) = ds.ChainReader({"endpoint": "mock://mixed", "start": "3", "end": "3"})._rows(ds.HeightRange(3, 3))
    assert [(h, t, j is None) for h, t, j in block[4]] == [
        ("tx000000000003", "payment_v1", False),
        ("pr000000000003", "poc_receipts_v1", True),
    ]
    txns = ds.ChainReader({"endpoint": "mock://mixed", "start": "3", "end": "3", "what": "txns"})
    assert [r[0] for r in txns._rows(ds.HeightRange(3, 3))] == ["tx000000000003"]


def test_stream_read_makes_one_rpc_per_block_and_per_txn(monkeypatch):
    """One ``ChainStreamReader.read`` of 32 mixed heights fetches each
    block once and each txn its stubs name once — the reference's N+1
    (client.py:39-51) and nothing more — besides its one tip probe."""
    from collections import Counter

    from helium_arango_etl_lite_spark.sources import datasource as ds

    calls = Counter()

    def counting(endpoint, payload):
        calls[payload["method"]] += 1
        return ds.mock_transport(endpoint, payload)

    monkeypatch.setattr(ds, "_transport_for", lambda endpoint: counting)
    reader = ds.ChainStreamReader({"endpoint": "mock://mixed", "start": "100", "max_heights_per_batch": "32"})
    rows, end = reader.read(reader.initialOffset())
    rows = list(rows)
    assert end == {"height": 132}
    stubs = [t for r in rows for t in r[4]]
    assert len(rows) == 32 and len(stubs) == 32 + len(range(102, 132, 3))
    assert all(t[2] is not None for t in stubs)
    assert calls == {"block_height": 1, "block_get": 32, "transaction_get": len(stubs)}
