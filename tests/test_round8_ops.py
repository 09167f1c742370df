"""Round-8 additions: parser guards from the round-7 ADVICE (PPM maxval,
WAV truncated-chunk, WAV empty-data) and the quarantine decode split
(oracle parity for the registered entries is covered by
test_oracle_parity.py; these pin the guard semantics and the plan
shapes the oracle can't express)."""

from __future__ import annotations

import io
import struct
from contextlib import redirect_stdout

import pytest

from helium_arango_etl_lite_spark.operators.llm import multimodal as mm
from helium_arango_etl_lite_spark.plans.queries import QUERIES

from test_round7_ops import _wav_bytes


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parse_ppm_rejects_out_of_range_maxval():
    raster16 = bytes(24)  # 2 bytes/sample form for maxval >= 256
    with pytest.raises(ValueError, match="maxval"):
        mm.parse_ppm(b"P6\n2 2\n999\n" + raster16)
    with pytest.raises(ValueError, match="maxval"):
        mm.parse_ppm(b"P6\n2 2\n0\n" + bytes(12))
    # 255 stays accepted
    meta, _ = mm.parse_ppm(b"P6\n2 2\n255\n" + bytes(12))
    assert meta["maxval"] == 255


def test_parse_wav_rejects_truncated_chunk():
    good = _wav_bytes(bytes([1, 2, 3, 4, 5, 6, 7, 8]))
    with pytest.raises(ValueError, match="truncated chunk"):
        mm.parse_wav(good[:-3])  # data declares 8 bytes, 5 remain
    # 16-bit odd-length truncation used to surface as an opaque numpy
    # frombuffer error; now it is the same typed ValueError
    good16 = _wav_bytes(struct.pack("<4h", 1, 2, 3, 4), bits=16)
    with pytest.raises(ValueError, match="truncated chunk"):
        mm.parse_wav(good16[:-1])


def test_parse_wav_empty_data_chunk_is_container_valid():
    meta, s = mm.parse_wav(_wav_bytes(b""))
    assert meta["sample_rate"] == 8000 and len(s) == 0


def test_quarantine_reason_codes_are_distinct_per_guard():
    cases = [
        (lambda: mm.parse_ppm(b"Q6\n1 1\n255\n" + bytes(3)), "bad_magic"),
        (lambda: mm.parse_ppm(b"P6\n1 1\n999\n" + bytes(6)), "bad_maxval"),
        (lambda: mm.parse_ppm(b"P6\n2 2\n255\n" + bytes(11)), "truncated"),
        (lambda: mm.parse_wav(b"RIFX" + bytes(40)), "not_riff"),
        (lambda: mm.parse_wav(_wav_bytes(b"abcd")[:-2]), "truncated"),
        (
            lambda: mm.parse_wav(
                b"RIFF" + struct.pack("<I", 4) + b"WAVE"
            ),
            "missing_chunk",
        ),
    ]
    for fn, code in cases:
        with pytest.raises((ValueError, NotImplementedError)) as ei:
            fn()
        assert mm.quarantine_reason(ei.value) == code, code
    # non-PCM is NotImplementedError (honest), classified not crashed
    nonpcm = bytearray(_wav_bytes(b"ab"))
    nonpcm[20] = 2  # fmt audio_format field -> ADPCM
    with pytest.raises(NotImplementedError) as ei:
        mm.parse_wav(bytes(nonpcm))
    assert mm.quarantine_reason(ei.value) == "non_pcm"


def test_quarantine_split_every_class_and_exact_ok_stats(spark):
    # one doc per corruption class (doc_id % 10 = 3,5,7,9) plus clean
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(10, 20)],
        "doc_id long, text string",
    )
    wav = {
        r["media_id"]: r
        for r in mm.decode_wav_quarantine(
            mm.encode_wav_corrupted(docs)
        ).collect()
    }
    assert wav[13]["reason"] == "not_riff"
    assert wav[15]["reason"] == "non_pcm"
    assert wav[17]["reason"] == "truncated"
    assert wav[19]["reason"] == "empty_data"
    clean = [wav[i] for i in (10, 11, 12, 14, 16, 18)]
    text = "the quick brown fox jumps over the lazy dog " * 3
    expect = sum(ord(c) for c in text[:64])
    assert all(
        r["status"] == "ok" and r["n_samples"] == 64
        and r["sum_amp"] == expect
        for r in clean
    )
    ppm = {
        r["media_id"]: r
        for r in mm.decode_ppm_quarantine(
            mm.encode_ppm_corrupted(docs)
        ).collect()
    }
    assert ppm[13]["reason"] == "bad_magic"
    assert ppm[15]["reason"] == "bad_maxval"
    assert ppm[17]["reason"] == "truncated"
    assert ppm[19]["status"] == "ok"  # class 9 is WAV-only
    h = min(8, len(text) // 24)
    assert ppm[10]["n_pixels"] == 8 * h
    assert ppm[10]["sum_rgb"] == sum(ord(c) for c in text[: 24 * h])


def test_quarantine_entries_are_map_only(spark, sf_dir):
    """The quarantine split must keep the decode stage's shape: mapInPandas
    over the scan, no exchange of binary payloads, no join."""
    for name in (
        "llm_multimodal_quarantine_ppm",
        "llm_multimodal_quarantine_wav",
    ):
        plan = plan_of(spark, sf_dir, name)
        assert "hashpartitioning" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" not in plan, name


def test_mixture_weights_single_corpus_shuffle(spark, sf_dir):
    """One source-keyed partial agg over the corpus; every normalization
    join must broadcast (the per-source table is ~|sources| rows)."""
    plan = plan_of(spark, sf_dir, "llm_mixture_weights")
    # the per-source aggregate is localCheckpointed: every normalization
    # branch must read the checkpointed ~|sources|-row RDD, leaving ZERO
    # visible corpus scans (before the fix this plan scanned the parquet
    # four times — once per consumer of `per`)
    assert plan.count("Scan parquet") == 0
    assert "ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the two 1-row cross joins
    assert "SortMergeJoin" not in plan


def test_quality_percentile_no_corpus_sort(spark, sf_dir):
    """The percentile must come from the histogram join-back — a
    percent_rank-style sort of the corpus within source partitions is
    exactly the skew hazard this operator exists to avoid."""
    plan = plan_of(spark, sf_dir, "llm_quality_percentile")
    assert "BroadcastHashJoin" in plan      # histogram joins back broadcast
    assert "SortMergeJoin" not in plan
    # the only window runs over the <= |sources| x bins histogram rows,
    # which sit beneath a HashAggregate, never directly over the scan
    assert plan.count("Window (") <= 2  # cumulative + per-source total


def test_hard_negatives_no_cartesian(spark, sf_dir):
    """Mining runs on the sampled-GEMM shortlist: no corpus x corpus
    join may appear, and the rerank window is per-qid (bounded rows)."""
    plan = plan_of(spark, sf_dir, "llm_hard_negatives")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_compaction_plan_window_is_per_day_not_per_row(spark, sf_dir):
    """The unpartitioned running-sum window is safe ONLY because it runs
    over one row per day (bounded by time span, not corpus size): it
    must sit above the day-keyed aggregate in the plan."""
    plan = plan_of(spark, sf_dir, "storage_compaction_plan")
    # in the root-first tree the final group agg sits above the window,
    # and the window sits above the day-keyed aggregate that bounds its
    # input to one row per day
    tree = plan.split("\n\n")[0]
    assert tree.index("HashAggregate") < tree.index("Window")
    assert tree.rindex("HashAggregate") > tree.index("Window")
    assert "hashpartitioning" in plan  # the day agg exchange


def test_mixture_weights_invariants(spark, sf_dir):
    """mix_share sums to ~1 and the temperature tilts weights the right
    way: below-average sources get weight > 1, dominant ones < 1."""
    from helium_arango_etl_lite_spark.plans.queries import QUERIES

    rows = QUERIES["llm_mixture_weights"].spark_fn(
        spark, sf_dir
    ).collect()
    assert abs(sum(r["mix_share"] for r in rows) - 1.0) < 1e-4
    mean_share = 1.0 / len(rows)
    for r in rows:
        if r["share"] < mean_share:
            assert r["sample_weight"] > 1.0, r
        elif r["share"] > mean_share:
            assert r["sample_weight"] < 1.0, r


def test_quality_percentile_is_valid_percentile(spark, sf_dir):
    """Mid-bin percentiles are in (0,1) and monotone in the bin index
    within each source."""
    from collections import defaultdict

    from helium_arango_etl_lite_spark.plans.queries import QUERIES

    rows = QUERIES["llm_quality_percentile"].spark_fn(
        spark, sf_dir
    ).collect()
    per = defaultdict(dict)
    for r in rows:
        assert 0.0 < r["pct_in_source"] < 1.0
        per[r["source"]][r["q_bin"]] = r["pct_in_source"]
    for src, bins in per.items():
        ks = sorted(bins)
        assert all(
            bins[a] < bins[b] for a, b in zip(ks, ks[1:])
        ), src


def test_hard_negatives_are_below_dup_threshold(spark, sf_dir):
    from helium_arango_etl_lite_spark.plans.queries import QUERIES

    rows = QUERIES["llm_hard_negatives"].spark_fn(spark, sf_dir).collect()
    assert rows
    per_qid = {}
    for r in rows:
        assert r["qid"] % 4 == 0 and r["cos_sim"] < 0.98
        per_qid.setdefault(r["qid"], []).append(r)
    for qid, rs in per_qid.items():
        ranks = sorted(r["neg_rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["neg_rank"])]
        assert sims == sorted(sims, reverse=True)


def test_compaction_groups_are_contiguous_and_bounded(spark, sf_dir):
    from helium_arango_etl_lite_spark.plans.queries import QUERIES

    rows = sorted(
        QUERIES["storage_compaction_plan"].spark_fn(
            spark, sf_dir
        ).collect(),
        key=lambda r: r["group_id"],
    )
    assert rows[0]["group_id"] == 0
    for a, b in zip(rows, rows[1:]):
        assert b["group_id"] == a["group_id"] + 1
        assert a["last_day"] < b["first_day"]  # time order preserved


# ---------------------------------------------------------------------------
# round-8b: span scrub, containment, interval overlap, partition skew
# (oracle parity for the registered entries is in test_oracle_parity.py;
# these pin semantics and plan shapes on adversarial fixtures)
# ---------------------------------------------------------------------------


def test_span_scrub_masks_duplicate_copy_not_original(spark):
    """Verbatim copy: the lower doc_id owns every span's first
    occurrence and keeps all tokens; the copy is fully masked; an
    unrelated doc is untouched and its clean_md5 is the md5 of its own
    text."""
    import hashlib

    from helium_arango_etl_lite_spark.operators.llm.dedup import (
        repeated_span_scrub,
    )

    base = "a b c d e f g h i j"
    other = "q r s t u v w x y z"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in repeated_span_scrub(df, span_w=5).collect()}
    assert out[1]["n_masked"] == 0
    assert out[1]["clean_md5"] == hashlib.md5(base.encode()).hexdigest()
    assert out[2]["n_masked"] == 10 and out[2]["masked_frac"] == 1.0
    assert out[2]["clean_md5"] == hashlib.md5(b"").hexdigest()
    assert out[3]["n_masked"] == 0
    assert out[3]["clean_md5"] == hashlib.md5(other.encode()).hexdigest()


def test_span_scrub_partial_overlap_merges_coverage(spark):
    """A doc repeating ITS OWN 5-gram: the second occurrence's span is
    masked, overlapping covered indices count once, and the scrubbed
    text drops exactly the second occurrence's tokens."""
    import hashlib

    from helium_arango_etl_lite_spark.operators.llm.dedup import (
        repeated_span_scrub,
    )

    # tokens 1-5 and 7-11 are the same 5-gram; positions 7..11 masked
    txt = "a b c d e X a b c d e"
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    row = repeated_span_scrub(df, span_w=5).collect()[0]
    assert row["n_tokens"] == 11
    assert row["n_masked"] == 5
    assert row["clean_md5"] == hashlib.md5(b"a b c d e X").hexdigest()


def test_containment_detects_quote_that_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: containment
    (short in long) ~1.0 while symmetric Jaccard is far below 0.8 —
    the asymmetric score must flag the pair, the symmetric one must
    not, and the direction must be (contained -> container)."""
    from helium_arango_etl_lite_spark.operators.llm.dedup import (
        containment_pairs, ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler)],
        "doc_id long, text string",
    )
    cont = containment_pairs(df, threshold=0.9).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0
    assert ngram_jaccard_pairs(df, threshold=0.8).collect() == []


def test_interval_overlap_plan_has_no_cartesian(spark, sf_dir):
    """The blocking design's whole point: the self-join must be a
    (user, cell) EQUI-join (SortMergeJoin/ShuffledHashJoin), never a
    BroadcastNestedLoopJoin or CartesianProduct."""
    plan = plan_of(spark, sf_dir, "join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_counts_cross_cell_pair_once(spark):
    """Two intervals overlapping ACROSS a cell boundary share two cells;
    distinct() must emit the pair exactly once with the true overlap."""
    import datetime as dt

    from helium_arango_etl_lite_spark.plans.queries import QUERIES

    # fabricate: ids chosen so durations are 60 + id%240
    base = dt.datetime(2024, 1, 1, 0, 4, 0)  # s=240: [240,540) spans 2 cells
    rows = [
        (180, base, 7, "a", 0.0, "{}"),        # dur 60+180=240: [240, 480)
        (181, base + dt.timedelta(seconds=50), 7, "a", 0.0, "{}"),
        # id 181 -> dur 301? no: 60+181%240=241 -> [290, 531)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = QUERIES["join_interval_overlap"].spark_fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["event_a"], r["event_b"]) == (180, 181)
    # overlap = min(480, 531) - max(240, 290) = 190
    assert r["overlap_sec"] == 190


def test_partition_skew_accounts_every_row(spark, sf_dir):
    """Bucket loads must sum to the table's row count and load factors
    to ~P (the diagnostic is a partition of the data, not a sample)."""
    from helium_arango_etl_lite_spark.plans.queries import QUERIES, load_table

    rows = QUERIES["dq_partition_skew"].spark_fn(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_rows"] for r in rows) == total
    assert abs(sum(r["load_factor"] for r in rows) - 64.0) < 1e-3
    assert all(0.0 < r["hot_key_share"] <= 1.0 for r in rows)


def test_cusum_matches_naive_recursion(spark):
    """The two-window identity s_i = p_i - min(0, min prefix) must equal
    the literal max(0, s+d) recursion, computed naively in Python on a
    fixture with a deliberate mid-stream level shift."""
    import datetime as dt

    from helium_arango_etl_lite_spark.plans.queries import QUERIES

    base = dt.datetime(2024, 3, 1)
    # short strong burst: per-step slack is 3x the (burst-inflated)
    # mean, so the burst must clear that bar — 200 vs mean 29 does
    vals = [10.0] * 40 + [200.0] * 5 + [10.0] * 5
    rows = [
        (i, base + dt.timedelta(minutes=i), 1, "a", v, "{}")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        out = QUERIES["events_cusum_alarm"].spark_fn(spark, d).collect()

    xc = [round(v * 100) for v in vals]
    mean_c = sum(xc) // len(xc)
    s, alarms, mx, first = 0, 0, 0, None
    for i, x in enumerate(xc):
        s = max(0, s + x - 3 * mean_c)
        mx = max(mx, s)
        if s > 5000:
            alarms += 1
            first = first if first is not None else i
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == len(vals)
    assert r["n_alarms"] == alarms and alarms > 0
    assert r["max_cusum"] == mx
    assert r["first_alarm_ts"] == base + dt.timedelta(minutes=first)


def test_cusum_plan_single_shuffle(spark, sf_dir):
    """Both window frames and the final per-user agg share the user_id
    partitioning: exactly ONE Exchange in the physical plan (plus none
    for the scan) — the declarative identity's whole point is that the
    'stateful' op costs one shuffle."""
    plan = plan_of(spark, sf_dir, "events_cusum_alarm")
    import re

    # one HASH exchange total (the loader's round-robin spread of the
    # tiny test parquet is not the operator's doing)
    hash_ex = re.findall(r"hashpartitioning\(user_id", plan)
    assert len(hash_ex) == 1, plan
