"""End-to-end tests for the incremental follower (SURVEY.md sections 2.6,
3.1-3.2, 5): the batch body (sources -> graph transforms -> idempotent
sink) with replay idempotence, incremental catch-up, retention partition
drop and the corrupt-record quarantine path, then the streaming service
bounded, crashed and restarted, and open-ended. Fixture shapes follow
FIXTURES.md F1-F6."""

from __future__ import annotations

import json
import os

import py4j.clientserver
import pytest
from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from helium_arango_etl_lite_spark.sources import (
    enrich_inventory,
    read_blocks,
    read_gateway_inventory,
    read_txns,
    split_corrupt,
)
from helium_arango_etl_lite_spark.sources.datasource import HeliumChainDataSource
from helium_arango_etl_lite_spark.streaming import (
    apply_retention,
    idempotent_append,
    process_batch,
    sync_state,
)
from helium_arango_etl_lite_spark.streaming import follow, service
from helium_arango_etl_lite_spark.streaming.service import run_service
from helium_arango_etl_lite_spark.streaming.sink import has_data_files

NS = 1_000_000_000
#: Stages of each Spark job of a warm batch: the span aggregate (partial
#: and final), then the three writes, in whichever order they start. A
#: write reads the batch's documents up to its key dedup's shuffle, the
#: probe of existing keys up to its own, then anti-joins and writes.
STAGES_PER_WARM_BATCH_JOB = [2, 3, 3, 3]


def _witness(gateway: str, ts_ns: int, is_valid=True, signal=-90, snr=5.5):
    return {
        "channel": 3,
        "datarate": "SF9BW125",
        "frequency": 904.3,
        "gateway": gateway,
        "is_valid": is_valid,
        "packet_hash": f"ph-{gateway}",
        "signal": signal,
        "snr": snr,
        "timestamp": ts_ns,
    }


def _receipt(gateway: str, ts_ns: int, tx_power=27):
    return {
        "channel": 3,
        "data": "d",
        "datarate": "SF9BW125",
        "frequency": 904.3,
        "gateway": gateway,
        "origin": "p2p",
        "signal": -60,
        "snr": 9.0,
        "timestamp": ts_ns,
        "tx_power": tx_power,
    }


BLOCKS_1 = [
    # F1 edge cases: unhandled txn type in block 100; empty txn list in 102
    {"hash": "bh100", "height": 100, "prev_hash": "bh099", "time": 1_600_000_000,
     "transactions": [{"hash": "p1", "type": "payment_v1"},
                      {"hash": "x1", "type": "assert_location_v1"}]},
    {"hash": "bh101", "height": 101, "prev_hash": "bh100", "time": 1_600_000_060,
     "transactions": [{"hash": "p2", "type": "payment_v2"},
                      {"hash": "r1", "type": "poc_receipts_v1"}]},
    {"hash": "bh102", "height": 102, "prev_hash": "bh101", "time": 1_600_000_120,
     "transactions": []},
    {"hash": "bh103", "height": 103, "prev_hash": "bh102", "time": 1_600_000_180,
     "transactions": [{"hash": "r2", "type": "poc_receipts_v2"}]},
]

BLOCK_NEW = {"hash": "bh104", "height": 104, "prev_hash": "bh103",
             "time": 1_600_000_240,
             "transactions": [{"hash": "p3", "type": "payment_v1"}]}

TXNS = [
    {"hash": "p1", "type": "payment_v1",
     "json": json.dumps({"hash": "p1", "amount": 10, "fee": 1, "nonce": 1,
                         "payer": "A", "payee": "B"})},
    # duplicate fetch of the same txn (F2 edge case): must not double edges
    {"hash": "p1", "type": "payment_v1",
     "json": json.dumps({"hash": "p1", "amount": 10, "fee": 1, "nonce": 1,
                         "payer": "A", "payee": "B"})},
    {"hash": "p2", "type": "payment_v2",
     "json": json.dumps({"hash": "p2", "fee": 2, "nonce": 1, "payer": "B",
                         "payments": [{"amount": 5, "memo": None, "payee": "C"},
                                      {"amount": 7, "memo": "m", "payee": "D"}]})},
    # r1: receipt present; a second path element that strict path[0] ignores
    {"hash": "r1", "type": "poc_receipts_v1",
     "json": json.dumps({"hash": "r1", "challenger": "CH", "fee": 0,
                         "onion_key_hash": "ok", "secret": "s",
                         "path": [{"challengee": "G1",
                                   "receipt": _receipt("G1", 50 * NS),
                                   "witnesses": [_witness("W1", 53 * NS),
                                                 _witness("W2", 56 * NS, is_valid=None)]},
                                  {"challengee": "GX", "receipt": None,
                                   "witnesses": [_witness("WX", 99 * NS)]}]})},
    # r2: null receipt (F4 edge case) -> tx_power / processing_time_s NULL
    {"hash": "r2", "type": "poc_receipts_v2",
     "json": json.dumps({"hash": "r2", "block": 103, "block_hash": "bh103",
                         "type": "poc_receipts_v2", "challenger": "CH2",
                         "fee": 0, "onion_key_hash": "ok2", "secret": "s2",
                         "path": [{"challengee": "G2", "receipt": None,
                                   "witnesses": [_witness("W3", 77 * NS,
                                                          is_valid=False)]}]})},
    {"hash": "p3", "type": "payment_v1",
     "json": json.dumps({"hash": "p3", "amount": 42, "fee": 1, "nonce": 2,
                         "payer": "E", "payee": "F"})},
]


@pytest.fixture()
def landing(tmp_path):
    blocks_dir = tmp_path / "blocks"
    txns_dir = tmp_path / "txns"
    blocks_dir.mkdir()
    txns_dir.mkdir()
    (blocks_dir / "blocks_0001.jsonl").write_text(
        "\n".join(json.dumps(b) for b in BLOCKS_1) + "\n"
    )
    (txns_dir / "txns_0001.jsonl").write_text(
        "\n".join(json.dumps(t) for t in TXNS) + "\n"
    )
    return {
        "blocks": str(blocks_dir),
        "txns": str(txns_dir),
        "out": str(tmp_path / "out"),
    }


def _process(spark, env, blocks_path=None):
    """The follower's batch body over a JSON-lines dump (PERMISSIVE reads)."""
    blocks = read_blocks(spark, blocks_path or env["blocks"])
    process_batch(spark, blocks, read_txns(spark, env["txns"]), env["out"])


def _table(spark, env, name):
    return spark.read.parquet(f"{env['out']}/{name}")


def test_follow_end_to_end_replay_and_incremental(spark, landing):
    _process(spark, landing)

    payments = _table(spark, landing, "payments")
    receipts = _table(spark, landing, "poc_receipts")
    accounts = _table(spark, landing, "accounts")

    # 1 payment_v1 edge (duplicate fetch collapsed) + 2 payment_v2 edges
    rows = {(r["_from"], r["_to"]): r for r in payments.collect()}
    assert set(rows) == {("accounts/A", "accounts/B"),
                        ("accounts/B", "accounts/C"),
                        ("accounts/B", "accounts/D")}
    ab = rows[("accounts/A", "accounts/B")]
    assert (ab["amount"], ab["block"], ab["timestamp"]) == (10, 100, 1_600_000_000)

    # strict path[0]: WX from path[1] excluded; W1+W2 from r1, W3 from r2
    wit = {(r["_from"], r["_to"]): r for r in receipts.collect()}
    assert set(wit) == {("hotspots/G1", "hotspots/W1"),
                       ("hotspots/G1", "hotspots/W2"),
                       ("hotspots/G2", "hotspots/W3")}
    w1 = wit[("hotspots/G1", "hotspots/W1")]
    assert w1["processing_time_s"] == pytest.approx(3.0)  # (53-50) s
    assert w1["tx_power"] == 27 and w1["is_valid"] is True
    w3 = wit[("hotspots/G2", "hotspots/W3")]
    assert w3["processing_time_s"] is None and w3["tx_power"] is None

    assert {r["_key"] for r in accounts.collect()} == {"A", "B", "C", "D"}

    # --- replay: the same batch again (at-least-once delivery); anti-join
    # sink must keep tables byte-identical (FIXTURES.md F6 replay determinism)
    before = {
        t: sorted(r["_key"] for r in _table(spark, landing, t).collect())
        for t in ("payments", "poc_receipts", "accounts")
    }
    _process(spark, landing)
    after = {
        t: sorted(r["_key"] for r in _table(spark, landing, t).collect())
        for t in ("payments", "poc_receipts", "accounts")
    }
    assert before == after

    # --- incremental: land one more block file; the next batch is that
    # file alone and only the new block is appended (follower.py:55-75
    # catch-up)
    new_file = os.path.join(landing["blocks"], "blocks_0002.jsonl")
    with open(new_file, "w") as f:
        f.write(json.dumps(BLOCK_NEW) + "\n")
    _process(spark, landing, new_file)
    payments2 = _table(spark, landing, "payments")
    assert payments2.count() == 4
    ef = payments2.filter(F.col("_from") == "accounts/E").collect()
    assert len(ef) == 1 and ef[0]["amount"] == 42 and ef[0]["block"] == 104

    assert sync_state(spark, landing["out"])["payments"] == 104


def test_corrupt_record_quarantine(spark, tmp_path, landing):
    bad_dir = tmp_path / "bad_blocks"
    bad_dir.mkdir()
    (bad_dir / "blocks.jsonl").write_text(
        json.dumps(BLOCKS_1[0]) + "\n" + "{not json at all\n"
    )
    good, bad = split_corrupt(read_blocks(spark, str(bad_dir)))
    assert good.count() == 1 and bad.count() == 1

    # quarantine flows through the follower's batch body too
    env = dict(landing)
    env["blocks"] = str(bad_dir)
    env["out"] = str(tmp_path / "out_bad")
    _process(spark, env)
    quarantined = spark.read.parquet(f"{env['out']}/quarantine")
    assert quarantined.count() == 1
    assert "not json" in quarantined.collect()[0]["raw"]


def test_retention_partition_drop(spark, tmp_path):
    out = str(tmp_path / "edges")
    df = spark.createDataFrame(
        [("k1", 100), ("k2", 15_000), ("k3", 16_000)], ["_key", "block"]
    )
    idempotent_append(spark, df, out, (100, 16_000)).result()
    buckets = {n for n in os.listdir(out) if n.startswith("block_bucket=")}
    assert buckets == {"block_bucket=0", "block_bucket=2"}
    dropped = apply_retention(spark, out, tip_height=17_000)
    assert dropped == [0]  # bucket 0 (blocks < 7200) fully below 17000-7200
    remaining = spark.read.parquet(out)
    assert sorted(r["_key"] for r in remaining.collect()) == ["k2", "k3"]


def test_idempotent_append_antijoin(spark, tmp_path):
    out = str(tmp_path / "t")
    a = spark.createDataFrame([("k1", 10), ("k2", 20)], ["_key", "block"])
    idempotent_append(spark, a, out, (10, 20)).result()
    b = spark.createDataFrame([("k2", 20), ("k3", 30)], ["_key", "block"])
    idempotent_append(spark, b, out, (20, 30)).result()
    got = sorted(r["_key"] for r in spark.read.parquet(out).collect())
    assert got == ["k1", "k2", "k3"]
    # one probe path: an edge frame without its block span is refused
    with pytest.raises(ValueError, match="block span"):
        idempotent_append(spark, b, out)


def test_idempotent_append_refuses_a_null_key(spark, tmp_path):
    """A NULL ``_key`` never matches the anti-join, so it would be appended
    again on every replay: the write's own job fails on it and commits
    nothing, for an edge and for a vertex frame alike."""
    edges = spark.createDataFrame([("k1", 10), (None, 20)], "_key string, block long")
    with pytest.raises(Exception, match="NULL _key"):
        idempotent_append(spark, edges, str(tmp_path / "edges"), (10, 20)).result()
    vertices = spark.createDataFrame([("a",), (None,)], "_key string")
    with pytest.raises(Exception, match="NULL _key"):
        idempotent_append(spark, vertices, str(tmp_path / "vertices")).result()
    assert not has_data_files(str(tmp_path / "edges"))
    assert not has_data_files(str(tmp_path / "vertices"))


def test_idempotent_append_with_pinned_thread_mode_off(spark, tmp_path, monkeypatch):
    """Under ``PYSPARK_PIN_THREAD=false`` the py4j gateway is not a
    ``ClientServer`` and PySpark's thread helpers fall back to plain
    threads; the write still runs on its own thread and commits."""
    out = str(tmp_path / "t")
    df = spark.createDataFrame([("k1", 10), ("k2", 20)], ["_key", "block"])
    monkeypatch.setattr(py4j.clientserver, "ClientServer", type("NotTheGateway", (), {}))
    written = idempotent_append(spark, df, out, (10, 20))
    monkeypatch.undo()
    written.result()
    assert sorted(r["_key"] for r in spark.read.parquet(out).collect()) == ["k1", "k2"]


def test_gateway_inventory_source(spark, tmp_path):
    inv_dir = tmp_path / "inv"
    inv_dir.mkdir()
    (inv_dir / "gateway_inventory_500.csv").write_text(
        "address,owner,location,name\n"
        "hs1,own1,8c2a100acc5ffff,alpha\n"
        "hs2,own2,,beta\n"          # null location -> dropped (loaders.py:35)
        "hs3,own3,zzz-not-hex,gamma\n"  # invalid hex -> [0.0, 0.0]
    )
    inv = read_gateway_inventory(spark, str(inv_dir))
    assert inv.select("inventory_height").distinct().collect()[0][0] == 500

    docs = {r["_key"]: r for r in enrich_inventory(inv).collect()}
    assert set(docs) == {"hs1", "hs3"}
    assert docs["hs1"]["_id"] == "hotspots/hs1"
    assert docs["hs3"]["location_geo"]["coordinates"] == [0.0, 0.0]
    assert docs["hs1"]["location_geo"]["type"] == "Point"


def _assert_mixed_store(spark, out, heights):
    """The exact store of the mixed mock chain over ``heights``: one
    payment_v1 per height, one poc_receipts_v1 (two witness edges) per third
    height, and the payer/payee account set — every edge once. A table the
    sink never created (no batch had rows for it) reads as empty."""

    def rows(table):
        path = str(out / table)
        return spark.read.parquet(path).collect() if has_data_files(path) else []

    payments = rows("payments")
    assert sorted(r["block"] for r in payments) == list(heights)
    receipts = rows("poc_receipts")
    assert sorted(r["block"] for r in receipts) == [
        h for h in heights if h % 3 == 0 for _ in (0, 1)
    ]
    assert len({r["_key"] for r in receipts}) == len(receipts)
    accounts = [r["_key"] for r in rows("accounts")]
    assert sorted(accounts) == sorted(
        {f"acct{h % 97}" for h in heights} | {f"acct{(h * 7) % 89}" for h in heights}
    )


def _mixed_read(spark, what, lo, hi):
    """The ``helium_chain`` batch read of heights ``lo..hi`` of the mixed
    mock chain."""
    spark.dataSource.register(HeliumChainDataSource)
    return (
        spark.read.format("helium_chain")
        .option("endpoint", "mock://mixed")
        .option("what", what)
        .option("start", lo).option("end", hi)
        .load()
    )


def _mixed_batch(spark, lo, hi):
    """``process_batch``'s (blocks, txns) for heights ``lo..hi`` of the
    mixed mock chain, as the service's stream delivers them: the blocks
    carry their txn envelopes, so there is no txns frame."""
    return _mixed_read(spark, "blocks", lo, hi), None


def test_warm_batch_runs_four_spark_jobs(spark, tmp_path, monkeypatch):
    """A warm batch over a seeded store, replaying part of it: the span
    aggregate and one write per sink, counted by Spark's status tracker
    under a job group — which the overlapped writes inherit from the
    caller's thread — and the store still equals the chain. The blocks
    carry their txn envelopes, so the txns frame given alongside is never
    evaluated (evaluating it raises), and each write job runs 3 stages (the
    stub-envelope join made it 5). Building the batch makes at most 1,000
    py4j round trips to the JVM, counted on every thread (it made about
    3,400 when each column was its own call)."""
    out = tmp_path / "graph"
    assert process_batch(spark, *_mixed_batch(spark, 1, 64), str(out)) == (1, 64)
    blocks = _mixed_read(spark, "blocks", 49, 96)
    txns = spark.range(1).selectExpr(
        "CAST(raise_error('the txns frame was evaluated') AS STRING) AS hash", "'payment_v1' AS type", "'{}' AS json"
    )
    sc = spark.sparkContext
    group = "warm-follower-batch"
    round_trips = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted_send(self, command):
        round_trips.append(1)
        return send(self, command)

    sc.setJobGroup(group, "one warm follower batch")
    try:
        monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counted_send)
        span = process_batch(spark, blocks, txns, str(out))
        monkeypatch.undo()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert span == (49, 96)
    assert 0 < len(round_trips) <= 1000
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    assert len(jobs) == 4
    assert [len(tracker.getJobInfo(j).stageIds) for j in jobs] == STAGES_PER_WARM_BATCH_JOB
    _assert_mixed_store(spark, out, range(1, 97))


def test_nested_envelopes_give_the_joined_documents(spark):
    """``graph_documents`` over the reader's envelope-carrying blocks equals
    ``graph_documents`` over the same blocks with ``json`` dropped plus the
    ``what=txns`` read, for heights that straddle a bucket boundary."""
    from helium_arango_etl_lite_spark.operators.graph import graph_documents

    lo, hi = 7200 - 20, 7200 + 20
    nested = _mixed_read(spark, "blocks", lo, hi)
    stubs = nested.selectExpr(
        "hash", "height", "prev_hash", "time",
        "transform(transactions, t -> named_struct('hash', t.hash, 'type', t.type)) AS transactions",
    )

    def documents(blocks, txns):
        with graph_documents(blocks, txns) as frames:
            return [sorted(tuple(r) for r in f.collect()) for f in frames]

    got = documents(nested, None)
    assert got == documents(stubs, _mixed_read(spark, "txns", lo, hi))
    payments, witnesses, accounts = got
    assert len(payments) == hi - lo + 1
    assert len(witnesses) == 2 * len(range(7182, hi + 1, 3))
    assert accounts


def test_malformed_payment_never_adds_a_null_account(spark, tmp_path):
    """A ``payment_v1`` whose payload is not JSON names no account, so
    replaying its batch appends nothing to ``accounts``: three runs leave
    the good payment's two accounts and no NULL ``_key``."""
    from helium_arango_etl_lite_spark.schemas import CHAIN_BLOCK_SCHEMA

    good = json.dumps({"hash": "p1", "amount": 10, "fee": 1, "nonce": 1, "payer": "A", "payee": "B"})
    blocks = spark.createDataFrame(
        [("bh100", 100, "bh099", 1_600_000_000, [("p1", "payment_v1", good), ("bad", "payment_v1", "{not json")])],
        CHAIN_BLOCK_SCHEMA,
    )
    out = tmp_path / "graph"
    for _ in range(3):
        assert process_batch(spark, blocks, None, str(out)) == (100, 100)
    accounts = [r["_key"] for r in spark.read.parquet(str(out / follow.ACCOUNTS)).collect()]
    assert sorted(accounts, key=str) == ["A", "B"]


def test_failed_write_is_raised_after_the_others_finish(spark, tmp_path, monkeypatch):
    """The three sink writes overlap. When one fails — here a regular file
    stands where the ``poc_receipts`` table goes — ``process_batch``
    raises only once the payments and accounts writes have finished, no
    Spark job is left running, and a rerun after the obstacle is gone
    gives the chain. A later sink that cannot even start its write does
    not hide the earlier failure."""
    out = tmp_path / "graph"
    out.mkdir()
    obstacle = out / follow.RECEIPTS
    obstacle.write_text("not a table")
    original = follow.idempotent_append
    writes = {}

    def recording_append(spark, df, path, *args):
        writes[os.path.basename(path)] = future = original(spark, df, path, *args)
        return future

    monkeypatch.setattr(follow, "idempotent_append", recording_append)
    with pytest.raises(Exception, match=follow.RECEIPTS):
        process_batch(spark, *_mixed_batch(spark, 1, 32), str(out))
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert list(writes) == [follow.PAYMENTS, follow.RECEIPTS, follow.ACCOUNTS]
    assert all(w.done() for w in writes.values())
    assert writes[follow.RECEIPTS].exception() is not None
    writes[follow.PAYMENTS].result()
    writes[follow.ACCOUNTS].result()
    assert has_data_files(str(out / follow.PAYMENTS)) and has_data_files(str(out / follow.ACCOUNTS))

    # a sink that cannot start its write does not hide the failed write
    # before it: that write's error is raised, chained to the sink's
    def accounts_cannot_start(spark, df, path, *args):
        if os.path.basename(path) == follow.ACCOUNTS:
            raise RuntimeError("accounts write not started")
        return recording_append(spark, df, path, *args)

    monkeypatch.setattr(follow, "idempotent_append", accounts_cannot_start)
    with pytest.raises(Exception, match=follow.RECEIPTS) as raised:
        process_batch(spark, *_mixed_batch(spark, 1, 32), str(out))
    assert isinstance(raised.value.__context__, RuntimeError)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []

    monkeypatch.undo()
    obstacle.unlink()
    process_batch(spark, *_mixed_batch(spark, 1, 32), str(out))
    _assert_mixed_store(spark, out, range(1, 33))


# No shrink phase: a failing example is reported as found. Shrinking
# re-runs process_batch dozens of times and turned a ~50 s pass into a
# ~385 s failure; the check itself is unchanged.
@settings(
    max_examples=4, deadline=None,
    phases=(Phase.explicit, Phase.reuse, Phase.generate),
)
@given(
    lo=st.integers(7200 - 64, 7200 + 8),
    n=st.integers(1, 64),
    cuts=st.sets(st.integers(1, 63), max_size=3),
    replayed=st.integers(0, 4),
)
# one height and no receipt: the sink never creates poc_receipts
@example(lo=7136, n=1, cuts=set(), replayed=0)
def test_any_split_and_replayed_prefix_give_the_chain(spark, tmp_path_factory, lo, n, cuts, replayed):
    """Split a height range of the mixed chain (which may straddle a bucket
    boundary) into batches at ``cuts``, then replay the heights of the
    first ``replayed`` batches as one batch: the store equals the chain.
    Guards the sink's ranged probe (``block_bucket`` and ``block BETWEEN
    lo AND hi``) against a span that drops or admits an edge."""
    out = tmp_path_factory.mktemp("split")
    bounds = [lo, *sorted(lo + c for c in cuts if c < n), lo + n]
    batches = [(a, b - 1) for a, b in zip(bounds, bounds[1:])]
    for a, b in batches:
        process_batch(spark, *_mixed_batch(spark, a, b), str(out))
    if replayed:
        process_batch(spark, *_mixed_batch(spark, lo, batches[: replayed][-1][1]), str(out))
    _assert_mixed_store(spark, out, range(lo, lo + n))


def _mixed_drain(spark, tmp_path):
    return run_service(
        spark,
        out_dir=str(tmp_path / "graph"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        endpoint="mock://mixed",
        start=1, end=64, batch_heights=16,
        timeout_s=120,
    )


def test_run_service_end_to_end_mock_chain(spark, tmp_path):
    """The assembled service (python -m entry): mock chain -> streaming
    micro-batches -> distributed txn fetch -> graph tables, drained to a
    target height. The drain returns only after every sink of the last
    batch has committed, so the store is exact on return."""
    state = _mixed_drain(spark, tmp_path)
    assert state == {"payments": 64, "poc_receipts": 63}
    _assert_mixed_store(spark, tmp_path / "graph", range(1, 65))


def test_run_service_crash_restart_from_checkpoint(spark, tmp_path, monkeypatch):
    """A crash after the second batch's payments commit and before its
    receipts is re-raised; a rerun on the same checkpoint replays that
    batch and the store equals the chain exactly."""
    original = follow.idempotent_append
    receipt_appends = []

    def crash_on_second_receipts(spark, df, path, *args):
        if os.path.basename(path) == follow.RECEIPTS:
            receipt_appends.append(path)
            if len(receipt_appends) == 2:
                raise RuntimeError("injected crash before receipts commit")
        return original(spark, df, path, *args)

    monkeypatch.setattr(follow, "idempotent_append", crash_on_second_receipts)
    with pytest.raises(Exception, match="injected crash"):
        _mixed_drain(spark, tmp_path)
    assert sync_state(spark, str(tmp_path / "graph")) == {"payments": 32, "poc_receipts": 15}

    monkeypatch.setattr(follow, "idempotent_append", original)
    state = _mixed_drain(spark, tmp_path)
    assert state == {"payments": 64, "poc_receipts": 63}
    _assert_mixed_store(spark, tmp_path / "graph", range(1, 65))


def test_failed_write_task_leaves_no_rows_and_reruns_to_the_chain(spark, tmp_path, monkeypatch):
    """A task of the payments write job fails on an executor: a Python UDF
    in the written frame raises for one marked height while a marker file
    exists. The service re-raises, the aborted job left no payments row of
    the failed batch's heights, and once the fault is gone a rerun on the
    same checkpoint gives the chain."""
    marked = 40  # in the third 16-height batch, 33..48
    marker = tmp_path / "fail-once"
    marker.touch()
    marker_path = str(marker)

    def passes(block):
        if block == marked and os.path.exists(marker_path):
            raise RuntimeError(f"injected task failure at height {block}")
        return True

    check = F.udf(passes, "boolean")
    original = follow.idempotent_append

    def checked_payments(spark, df, path, *args):
        if os.path.basename(path) == follow.PAYMENTS:
            df = df.filter(check("block"))
        return original(spark, df, path, *args)

    monkeypatch.setattr(follow, "idempotent_append", checked_payments)
    with pytest.raises(Exception, match="injected task failure at height 40"):
        _mixed_drain(spark, tmp_path)
    payments = spark.read.parquet(str(tmp_path / "graph" / follow.PAYMENTS))
    assert sorted(r["block"] for r in payments.collect()) == list(range(1, 33))

    marker.unlink()
    state = _mixed_drain(spark, tmp_path)
    assert state == {"payments": 64, "poc_receipts": 63}
    _assert_mixed_store(spark, tmp_path / "graph", range(1, 65))


def test_small_batch_profile_reaches_the_stream_batch(spark, tmp_path, monkeypatch):
    """``foreachBatch`` runs the body on a clone of the stream's session, so
    the profile is set on the batch's own session: every sink of every
    batch plans under it, and the outer session is unchanged by the run."""
    keys = list(follow.SMALL_BATCH_PROFILE)
    outer = {k: spark.conf.get(k) for k in keys}
    assert outer != follow.SMALL_BATCH_PROFILE
    original = follow.idempotent_append
    seen = []

    def recording_append(spark, df, path, *args):
        seen.append({k: df.sparkSession.conf.get(k) for k in keys})
        return original(spark, df, path, *args)

    monkeypatch.setattr(follow, "idempotent_append", recording_append)
    _mixed_drain(spark, tmp_path)
    assert len(seen) == 3 * 4  # three sinks, 64 heights in batches of 16
    assert all(conf == follow.SMALL_BATCH_PROFILE for conf in seen)
    assert {k: spark.conf.get(k) for k in keys} == outer


def test_run_service_open_ended_applies_retention_per_batch(spark, tmp_path, monkeypatch):
    """Without ``end`` the service follows until ``timeout_s`` and drops
    old buckets as it goes: the first batch (7185..7216) puts the floor at
    7216 - 16 = 7200, so bucket 0 is gone while the stream still runs."""
    original = service.apply_retention
    retention_tips = []

    def recording_retention(spark, path, tip, window):
        retention_tips.append(tip)
        return original(spark, path, tip, window)

    monkeypatch.setattr(service, "apply_retention", recording_retention)
    out = tmp_path / "graph"
    ckpt = tmp_path / "ckpt"
    state = run_service(
        spark,
        out_dir=str(out),
        checkpoint_dir=str(ckpt),
        endpoint="mock://mixed",
        start=7185, batch_heights=32, retention_window=16,
        timeout_s=60,
    )
    assert [n for n in os.listdir(ckpt / "commits") if n.isdigit()]
    assert state["payments"] >= 7216
    assert retention_tips[:2] == [7216, 7216]  # both edge tables, first batch
    for table in ("payments", "poc_receipts"):
        rows = spark.read.parquet(str(out / table)).collect()
        assert min(r["block"] for r in rows) >= 7200
        assert len({r["_key"] for r in rows}) == len(rows)


def test_sync_state_none_only_for_missing_tables(spark, tmp_path):
    out = tmp_path / "graph"
    assert sync_state(spark, str(out)) == {"payments": None, "poc_receipts": None}

    idempotent_append(
        spark, spark.createDataFrame([("k1", 10)], ["_key", "block"]), str(out / "payments"), (10, 10)
    ).result()
    assert sync_state(spark, str(out)) == {"payments": 10, "poc_receipts": None}

    part = next(
        os.path.join(d, n)
        for d, _, names in os.walk(out / "payments")
        for n in names
        if n.endswith(".parquet")
    )
    with open(part, "r+b") as f:
        f.truncate(os.path.getsize(part) // 2)
    with pytest.raises(Py4JJavaError, match="Footer"):
        sync_state(spark, str(out))


def test_service_refreshes_stale_inventory(spark, tmp_path):
    """The dimension-staleness path (follower.py:61-62 + 130-133): the
    service loads the newest inventory drop into the hotspots table when
    the sync height runs past it, and skips the reload while fresh."""
    inv_dir = tmp_path / "inv"
    inv_dir.mkdir()
    (inv_dir / "gateway_inventory_100.csv").write_text(
        "address,owner,location,name\nhs1,own1,8c2a100acc5ffff,alpha\n"
    )
    out = tmp_path / "graph"
    state = run_service(
        spark,
        out_dir=str(out),
        checkpoint_dir=str(tmp_path / "ckpt"),
        endpoint="mock://mixed",
        start=700, end=720, batch_heights=16,
        timeout_s=120,
        inventory_glob=str(inv_dir),
    )
    assert state == {"payments": 720, "poc_receipts": 720}
    _assert_mixed_store(spark, out, range(700, 721))
    hotspots = {r["_key"]: r for r in spark.read.parquet(str(out / "hotspots")).collect()}
    assert set(hotspots) == {"hs1"}
    assert hotspots["hs1"]["_id"] == "hotspots/hs1"
    assert hotspots["hs1"]["inventory_height"] == 100

    # fresh enough -> no re-read even though a new drop landed
    (inv_dir / "gateway_inventory_110.csv").write_text(
        "address,owner,location,name\nhs2,own2,8c2a100acc5ffff,beta\n"
    )
    h = service.refresh_inventory_if_stale(
        spark, str(inv_dir), str(out), sync_height=500, inventory_height=100
    )
    assert h == 100  # within staleness: untouched
    # stale again -> newest drop replaces the dimension
    h = service.refresh_inventory_if_stale(
        spark, str(inv_dir), str(out), sync_height=700, inventory_height=100
    )
    assert h == 110
    keys = {r["_key"] for r in spark.read.parquet(str(out / "hotspots")).collect()}
    assert keys == {"hs2"}


def test_failed_hotspots_refresh_keeps_the_previous_snapshot(spark, tmp_path, monkeypatch):
    """A refresh whose write job fails leaves the hotspots table readable
    with the snapshot it was replacing, before any restart: the new
    snapshot is published only once it is fully written."""
    inv_dir = tmp_path / "inv"
    inv_dir.mkdir()
    (inv_dir / "gateway_inventory_100.csv").write_text(
        "address,owner,location,name\nhs1,own1,8c2a100acc5ffff,alpha\n"
    )
    out = tmp_path / "graph"
    assert service.refresh_inventory_if_stale(
        spark, str(inv_dir), str(out), sync_height=700, inventory_height=None
    ) == 100
    (inv_dir / "gateway_inventory_110.csv").write_text(
        "address,owner,location,name\nhs2,own2,8c2a100acc5ffff,beta\n"
    )

    def failing_enrich(inv):
        # fails inside the write job, after the job has started
        boom = F.when(F.col("_key").isNotNull(), F.raise_error(F.lit("refresh boom")))
        return enrich_inventory(inv).withColumn("boom", boom.cast("int"))

    monkeypatch.setattr(service, "enrich_inventory", failing_enrich)
    with pytest.raises(Exception, match="refresh boom"):
        service.refresh_inventory_if_stale(
            spark, str(inv_dir), str(out), sync_height=700, inventory_height=100
        )
    keys = {r["_key"] for r in spark.read.parquet(str(out / "hotspots")).collect()}
    assert keys == {"hs1"}

    # the next refresh publishes the new drop and drops the failed write
    monkeypatch.undo()
    assert service.refresh_inventory_if_stale(
        spark, str(inv_dir), str(out), sync_height=700, inventory_height=100
    ) == 110
    keys = {r["_key"] for r in spark.read.parquet(str(out / "hotspots")).collect()}
    assert keys == {"hs2"}
    assert len(os.listdir(out / "_hotspots")) == 2  # the new and the replaced
