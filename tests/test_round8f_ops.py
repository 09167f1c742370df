"""Tests for the round-8 session-2 part-4 operators
(plans/catalog_round8f.py): SCD2 point-in-time lookup, Theil
index."""
from __future__ import annotations

import io
import math
from contextlib import redirect_stdout

import duckdb
import numpy as np

from helium_arango_etl_lite_spark.plans.registry import QUERIES


def _plan(spark, sf_dir, name):
    df = QUERIES[name].spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# join_scd2_lookup
# ---------------------------------------------------------------------------

def test_scd2_lookup_matches_naive_interval_scan(spark, sf_dir):
    out = (
        QUERIES["join_scd2_lookup"].spark_fn(spark, sf_dir)
        .toPandas()
        .set_index("event_id")
    )
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type "
        f"FROM '{sf_dir}/events.parquet' ORDER BY user_id, ts, event_id"
    ).df()
    # one row per event, and the resolved attr is the event_type of the
    # latest change point at-or-before the event (by (ts, event_id))
    assert len(out) == len(ev)
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        prev, version = None, 0
        for _, r in g.iterrows():
            if prev is None or r["event_type"] != prev:
                version += 1
            prev = r["event_type"]
            row = out.loc[r["event_id"]]
            assert row["attr"] == r["event_type"]
            assert row["version"] == version


def test_scd2_lookup_avoids_range_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_scd2_lookup")
    # union-sort-backfill, never an inequality join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


# ---------------------------------------------------------------------------
# agg_theil_index
# ---------------------------------------------------------------------------

def test_theil_matches_naive(spark, sf_dir):
    out = (
        QUERIES["agg_theil_index"].spark_fn(spark, sf_dir)
        .toPandas()
        .set_index("event_type")
    )
    con = duckdb.connect()
    pdf = con.execute(
        f"SELECT event_type, value FROM '{sf_dir}/events.parquet'"
    ).df()
    pdf["xc"] = np.round(pdf["value"].values * 100).astype(np.int64)
    for et, g in pdf.groupby("event_type"):
        n = len(g)
        sx = int(g["xc"].sum())
        total6 = 0
        for xc, k in g["xc"].value_counts().items():
            ratio = xc * n / sx
            total6 += math.floor(
                k * ratio * math.log(ratio) * 1e6 + 0.5
            )
        assert out.loc[et, "n"] == n
        assert out.loc[et, "theil_sum6"] == total6
        # Theil bounds: 0 <= T <= ln(n) (up to fixed-point slack)
        t = total6 / (n * 1e6)
        assert -1e-6 <= t <= math.log(n) + 1e-6


def test_theil_never_ranks_rows(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_theil_index")
    assert "row_number" not in plan
    assert "SortMergeJoin" not in plan  # stats join is broadcast


# ---------------------------------------------------------------------------
# stream_scd2_replay
# ---------------------------------------------------------------------------

def test_stream_scd2_equals_batch_build(spark, sf_dir):
    batch = (
        QUERIES["scd2_build"].spark_fn(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "version"])
        .reset_index(drop=True)
    )
    stream = (
        QUERIES["stream_scd2_replay"].spark_fn(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "version"])
        .reset_index(drop=True)
    )
    assert len(batch) == len(stream)
    for col in ["user_id", "attr", "version", "is_current"]:
        assert (batch[col].values == stream[col].values).all(), col
    for col in ["valid_from", "valid_to"]:
        b, s = batch[col], stream[col]
        both_null = b.isna() & s.isna()
        assert (both_null | (b == s)).all(), col


def test_stream_scd2_one_open_version_per_user(spark, sf_dir):
    out = QUERIES["stream_scd2_replay"].spark_fn(spark, sf_dir).toPandas()
    assert (out.groupby("user_id")["is_current"].sum() == 1).all()


# ---------------------------------------------------------------------------
# llm_logreg_sweep
# ---------------------------------------------------------------------------

def test_sweep_rate_04_equals_single_train(spark, sf_dir):
    # the swept grid must reproduce llm_logreg_train's trajectory at
    # the shared rate exactly (same rounding contract, same features)
    single = (
        QUERIES["llm_logreg_train"].spark_fn(spark, sf_dir)
        .toPandas()
        .set_index("dim")["value"]
    )
    sweep = QUERIES["llm_logreg_sweep"].spark_fn(spark, sf_dir).toPandas()
    at04 = sweep[sweep["rate"] == 0.4].set_index("dim")["value"]
    for d in range(5):
        assert at04[d] == single[d], d


def test_sweep_matches_numpy_trajectories(spark, sf_dir):
    import duckdb
    import numpy as np

    from helium_arango_etl_lite_spark.plans import catalog_round8f as r8f

    sweep = QUERIES["llm_logreg_sweep"].spark_fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    pdf = con.execute(
        f"SELECT text, lang FROM '{sf_dir}/documents.parquet'"
    ).df()
    y = (pdf["lang"] == "en").astype(float).values
    ln = pdf["text"].str.len().values
    x1 = (pdf["text"].str.count(" ").values + 1) / 100.0
    x2 = ln / 1000.0
    x3 = np.round(
        pdf["text"].str.count("[aeiou]").values / ln, 4
    )
    X = np.column_stack([np.ones_like(x1), x1, x2, x3])
    for rate in r8f._SWEEP_RATES:
        w = np.zeros(4)
        for _ in range(r8f._SWEEP_STEPS):
            z = w[0] + w[1] * x1 + w[2] * x2 + w[3] * x3
            p = np.round(1 / (1 + np.exp(-z)), 6)
            g = np.round((X * (p - y)[:, None]).mean(axis=0), 6)
            w = np.round(w - rate * g, 6)
        got = (
            sweep[(sweep["rate"] == rate) & (sweep["kind"] == "weight")]
            .sort_values("dim")["value"]
            .values
        )
        assert np.allclose(got, w, atol=2e-6), (rate, got, w)


# ---------------------------------------------------------------------------
# agg_market_basket
# ---------------------------------------------------------------------------

def test_market_basket_matches_naive(spark, sf_dir):
    import duckdb
    from collections import Counter
    from itertools import combinations

    out = QUERIES["agg_market_basket"].spark_fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    pdf = con.execute(
        f"SELECT user_id, date_trunc('day', ts::TIMESTAMP) AS day, "
        f"event_type FROM '{sf_dir}/events.parquet'"
    ).df()
    baskets = {
        k: set(g["event_type"])
        for k, g in pdf.groupby(["user_id", "day"])
    }
    N = len(baskets)
    tc = Counter()
    pc = Counter()
    for types in baskets.values():
        tc.update(types)
        pc.update(combinations(sorted(types), 2))
    import math as _m
    got = {(r["ta"], r["tb"]): r for _, r in out.iterrows()}
    expect_keys = {k for k, v in pc.items() if v >= 5}
    assert set(got) == expect_keys
    for (ta, tb), n_ab in pc.items():
        if n_ab < 5:
            continue
        r = got[(ta, tb)]
        assert r["n_ab"] == n_ab and r["n_baskets"] == N
        assert r["n_a"] == tc[ta] and r["n_b"] == tc[tb]
        assert r["lift6"] == _m.floor(
            n_ab * N * 1e6 / (tc[ta] * tc[tb]) + 0.5
        )
        assert r["support6"] == _m.floor(n_ab * 1e6 / N + 0.5)
        assert r["conf_ab6"] == _m.floor(n_ab * 1e6 / tc[ta] + 0.5)


def test_market_basket_pair_join_is_basket_keyed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_market_basket")
    assert "CartesianProduct" not in plan
    # exactly ONE nested-loop join is allowed: the 1-row n_baskets
    # scalar cross join; the pair self-join must be an equi hash join
    assert plan.count("- BroadcastNestedLoopJoin") <= 1
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


# ---------------------------------------------------------------------------
# events_forecast_backtest
# ---------------------------------------------------------------------------

def test_forecast_backtest_matches_naive(spark, sf_dir):
    import duckdb
    import math as _m

    out = (
        QUERIES["events_forecast_backtest"].spark_fn(spark, sf_dir)
        .toPandas()
        .set_index("event_type")
    )
    con = duckdb.connect()
    pdf = con.execute(
        f"SELECT event_type, ts::TIMESTAMP AS ts "
        f"FROM '{sf_dir}/events.parquet'"
    ).df()
    pdf["hs"] = (
        pdf["ts"].dt.floor("h").astype("datetime64[ns]").astype("int64")
        // 10**9
    )
    counts = pdf.groupby(["event_type", "hs"]).size()
    for et in pdf["event_type"].unique():
        s = counts[et]
        idx = {h: c for h, c in s.items()}
        pairs = [
            (c, idx[h - 86400]) for h, c in s.items() if h - 86400 in idx
        ]
        if not pairs:
            assert et not in out.index
            continue
        abs_err = sum(abs(a - f) for a, f in pairs)
        actual = sum(a for a, _ in pairs)
        row = out.loc[et]
        assert row["n_scored"] == len(pairs)
        assert row["abs_err_sum"] == abs_err
        assert row["bias_sum"] == sum(a - f for a, f in pairs)
        assert row["mae6"] == _m.floor(abs_err * 1e6 / len(pairs) + 0.5)
        assert row["wape6"] == _m.floor(abs_err * 1e6 / actual + 0.5)


# ---------------------------------------------------------------------------
# llm_webdataset_index
# ---------------------------------------------------------------------------

def test_tar_parser_agrees_with_stdlib_reader(spark, sf_dir):
    import io
    import tarfile

    from helium_arango_etl_lite_spark.operators.llm.shards import (
        index_tar_shards, pack_tar_shards, parse_tar_index,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    shard = pack_tar_shards(docs).filter("source = 'src1'").collect()[0]
    buf = bytes(shard["shard"])
    mine = parse_tar_index(buf)
    with tarfile.open(fileobj=io.BytesIO(buf)) as tf:
        theirs = [
            (m.name, m.offset, m.size, tf.extractfile(m).read())
            for m in tf.getmembers()
        ]
    assert [(n, o, s) for n, o, s, _ in mine] == [
        (n, o, s) for n, o, s, _ in theirs
    ]
    assert [p for *_, p in mine] == [p for *_, p in theirs]


def test_tar_parser_rejects_corruption(spark, sf_dir):
    import pytest as _pt

    from helium_arango_etl_lite_spark.operators.llm.shards import (
        pack_tar_shards, parse_tar_index,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    buf = bytearray(
        bytes(pack_tar_shards(docs).filter("source = 'src1'")
              .collect()[0]["shard"])
    )
    # flip one byte inside the first member NAME: checksum must fire
    bad = bytearray(buf)
    bad[1] ^= 0xFF
    with _pt.raises(ValueError, match="checksum"):
        parse_tar_index(bytes(bad))
    # declare a size beyond the buffer: truncation guard must fire
    ok = parse_tar_index(bytes(buf))
    first_size = ok[0][2]
    trunc = bytes(buf[: 512 + first_size - 10])
    with _pt.raises(ValueError, match="truncated"):
        parse_tar_index(trunc)


def test_webdataset_index_covers_every_doc(spark, sf_dir):
    import duckdb

    out = QUERIES["llm_webdataset_index"].spark_fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    assert len(out) == n
    # offsets are 512-aligned and strictly increasing within a shard
    assert (out["header_offset"] % 512 == 0).all()
    for _, g in out.groupby("source"):
        offs = g.sort_values("header_offset")["header_offset"].values
        assert (offs[1:] > offs[:-1]).all()


def test_webdataset_fetch_is_jvm_only_read_path(spark, sf_dir):
    # the read path after the index build must be substring+md5 in the
    # JVM — no second mapInPandas over the shards for fetching
    plan = _plan(spark, sf_dir, "llm_webdataset_fetch")
    # at most 2 Python evals — pack (applyInPandas, usually hidden
    # behind the shard checkpoint) + index (mapInPandas); the FETCH
    # branch itself must add none (it is substring+md5 in the JVM)
    n_py = (
        plan.count("+- MapInPandas") + plan.count(":- MapInPandas")
        + plan.count("+- FlatMapGroupsInPandas")
        + plan.count(":- FlatMapGroupsInPandas")
    )
    assert 1 <= n_py <= 2, plan
    assert "md5" in plan  # the JVM read path


def test_shard_quarantine_reasons_match_corruption_classes(spark, sf_dir):
    import hashlib as _h

    out = QUERIES["llm_shard_quarantine"].spark_fn(spark, sf_dir).toPandas()
    for _, r in out.iterrows():
        cls = int(
            _h.md5(f"q:{r['source']}".encode()).hexdigest()[:8], 16
        ) % 3
        expect = ["ok", "checksum", "truncated"][cls]
        assert r["reason"] == expect, (r["source"], cls)
        assert (r["status"] == "ok") == (cls == 0)


def test_tar_layout_is_byte_based_for_non_ascii_text(spark):
    """Regression (r8 advice): member sizes/offsets must be UTF-8 BYTE
    counts, not character counts — a non-ASCII doc must still satisfy
    the pure-arithmetic offset prediction the SQL oracle uses."""
    from helium_arango_etl_lite_spark.operators.llm.shards import (
        pack_tar_shards, parse_tar_index,
    )

    rows = [
        (1, "héllo wörld"),          # 2 two-byte chars
        (2, "naïve café résumé"),    # mixed
        (3, "日本語テキスト"),         # 3-byte chars throughout
        (4, "plain ascii"),
    ]
    docs = spark.createDataFrame(
        [("s0", d, t) for d, t in rows], "source string, doc_id long, text string"
    )
    buf = bytes(pack_tar_shards(docs).collect()[0]["shard"])
    members = parse_tar_index(buf)
    off = 0
    for (name, hdr_off, size, payload), (doc_id, text) in zip(members, rows):
        data = text.encode("utf-8")
        assert name == f"{doc_id}.txt"
        assert size == len(data)  # byte count, never character count
        if doc_id != 4:
            assert len(data) != len(text)  # the rows where they differ
        assert payload == data
        assert hdr_off == off  # cumulative 512-block arithmetic holds
        off += 512 + ((size + 511) // 512) * 512
    # last row is pure ASCII: bytes == chars there
    assert members[-1][2] == len(rows[-1][1])


def test_shard_truncation_cut_lands_mid_member_even_for_tiny_docs(spark):
    """Regression (r8 advice): class-2 corruption must quarantine as
    'truncated' even when the first member's payload is tiny or empty
    (the old fixed 522-byte cut let <=10-byte members parse clean), and
    a trailing partial block must never read as success."""
    from helium_arango_etl_lite_spark.operators.llm.shards import (
        corrupt_shards, index_tar_shards_quarantine, pack_tar_shards,
        parse_tar_index,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [("tiny", 1, "hi"), ("tiny", 2, "x" * 600),
         ("empty", 3, ""), ("empty", 4, "y" * 40)],
        "source string, doc_id long, text string",
    )
    shards = pack_tar_shards(docs).withColumn("cls", F.lit(2).cast("int"))
    out = (
        index_tar_shards_quarantine(corrupt_shards(shards, "cls"))
        .toPandas().set_index("source")
    )
    assert set(out["reason"]) == {"truncated"}
    assert set(out["status"]) == {"quarantined"}
    # and the parser itself flags a bare trailing partial block
    full = bytes(pack_tar_shards(docs).filter("source='tiny'")
                 .collect()[0]["shard"])
    first_size = parse_tar_index(full)[0][2]
    padded_span = 512 + ((first_size + 511) // 512) * 512
    import pytest as _pt
    with _pt.raises(ValueError, match="truncated"):
        parse_tar_index(full[: padded_span + 100])  # partial 2nd header
