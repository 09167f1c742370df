"""End-to-end tests for the incremental follower (SURVEY.md sections 2.6,
3.1-3.2, 5): the batch body (sources -> graph transforms -> idempotent
sink) with replay idempotence, incremental catch-up, retention partition
drop and the corrupt-record quarantine path, then the streaming service
bounded, crashed and restarted, and open-ended. Fixture shapes follow
FIXTURES.md F1-F6."""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import given, settings
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

NS = 1_000_000_000


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
    idempotent_append(spark, df, out, (100, 16_000))
    buckets = {n for n in os.listdir(out) if n.startswith("block_bucket=")}
    assert buckets == {"block_bucket=0", "block_bucket=2"}
    dropped = apply_retention(spark, out, tip_height=17_000)
    assert dropped == [0]  # bucket 0 (blocks < 7200) fully below 17000-7200
    remaining = spark.read.parquet(out)
    assert sorted(r["_key"] for r in remaining.collect()) == ["k2", "k3"]


def test_idempotent_append_antijoin(spark, tmp_path):
    out = str(tmp_path / "t")
    a = spark.createDataFrame([("k1", 10), ("k2", 20)], ["_key", "block"])
    idempotent_append(spark, a, out, (10, 20))
    b = spark.createDataFrame([("k2", 20), ("k3", 30)], ["_key", "block"])
    idempotent_append(spark, b, out, (20, 30))
    got = sorted(r["_key"] for r in spark.read.parquet(out).collect())
    assert got == ["k1", "k2", "k3"]
    # one probe path: an edge frame without its block span is refused
    with pytest.raises(ValueError, match="block span"):
        idempotent_append(spark, b, out)


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
    height, and the payer/payee account set — every edge once."""
    payments = spark.read.parquet(str(out / "payments")).collect()
    assert sorted(r["block"] for r in payments) == list(heights)
    receipts = spark.read.parquet(str(out / "poc_receipts")).collect()
    assert sorted(r["block"] for r in receipts) == [
        h for h in heights if h % 3 == 0 for _ in (0, 1)
    ]
    assert len({r["_key"] for r in receipts}) == len(receipts)
    accounts = [r["_key"] for r in spark.read.parquet(str(out / "accounts")).collect()]
    assert sorted(accounts) == sorted(
        {f"acct{h % 97}" for h in heights} | {f"acct{(h * 7) % 89}" for h in heights}
    )


def _mixed_batch(spark, lo, hi):
    """(blocks, txns) of heights ``lo..hi`` of the mixed mock chain, as the
    service's batch reader delivers them."""
    spark.dataSource.register(HeliumChainDataSource)

    def read(what):
        return (
            spark.read.format("helium_chain")
            .option("endpoint", "mock://mixed")
            .option("what", what)
            .option("start", lo).option("end", hi)
            .load()
        )

    return read("blocks"), read("txns")


def test_warm_batch_runs_four_spark_jobs(spark, tmp_path):
    """A warm batch over a seeded store, replaying part of it: the span
    aggregate and one write per sink, counted by Spark's status tracker
    under a job group, and the store still equals the chain."""
    out = tmp_path / "graph"
    process_batch(spark, *_mixed_batch(spark, 1, 64), str(out))
    sc = spark.sparkContext
    group = "warm-follower-batch"
    sc.setJobGroup(group, "one warm follower batch")
    try:
        process_batch(spark, *_mixed_batch(spark, 49, 96), str(out))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4
    _assert_mixed_store(spark, out, range(1, 97))


@settings(max_examples=4, deadline=None)
@given(
    lo=st.integers(7200 - 64, 7200 + 8),
    n=st.integers(3, 64),  # at least one receipt height: every table exists
    cuts=st.sets(st.integers(1, 63), max_size=3),
    replayed=st.integers(0, 4),
)
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
        original(spark, df, path, *args)

    monkeypatch.setattr(follow, "idempotent_append", crash_on_second_receipts)
    with pytest.raises(Exception, match="injected crash"):
        _mixed_drain(spark, tmp_path)
    assert sync_state(spark, str(tmp_path / "graph")) == {"payments": 32, "poc_receipts": 15}

    monkeypatch.setattr(follow, "idempotent_append", original)
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
        original(spark, df, path, *args)

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
    )
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
