"""Round-10 regression tests for the r9 ADVICE items:

* ``decode_png`` must handle grayscale (1-channel) PNGs — the catalog
  fixture only ever emits RGB, so the IndexError on ``csum[1]`` was
  latent; gray rasters now report the single channel's sum in all
  three slots.
* the PNG catalog oracles were character-based (``length``/``ord``)
  while the encoder works in UTF-8 bytes; both sides now filter to
  ASCII-only docs (``strlen(text) = length(text)`` /
  ``octet_length == length``) — the tar-oracle byte discipline.
* a tar cut exactly ON a 512-block member boundary (zero terminator
  and any later members lost) must surface as truncation, not parse
  as a shorter valid archive: real tars end with two zero blocks.
"""
from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pytest

from helium_arango_etl_lite_spark.operators.llm import multimodal as mm
from helium_arango_etl_lite_spark.plans.registry import QUERIES


def test_decode_png_handles_grayscale(spark):
    """ADVICE r9 (medium): a color-type-0 PNG has ONE channel sum; the
    stats operator must not index csum[1]/csum[2] off the end. Contract:
    gray reports its sum in all three slots (what the gray raster
    expanded to RGB would sum to), so downstream schema is unchanged."""
    rng = np.random.default_rng(42)
    gray = rng.integers(0, 256, (4, 8, 1), dtype=np.uint8)
    rgb = rng.integers(0, 256, (4, 8, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, bytearray(mm.build_png(gray))), (2, bytearray(mm.build_png(rgb)))],
        "media_id long, content binary",
    )
    out = {r["media_id"]: r for r in mm.decode_png(media).collect()}
    g = int(gray.sum())
    assert (out[1]["sum_r"], out[1]["sum_g"], out[1]["sum_b"]) == (g, g, g)
    assert out[1]["n_pixels"] == 32
    assert out[1]["min_byte"] == int(gray.min())
    assert out[1]["max_byte"] == int(gray.max())
    csum = rgb.sum(axis=(0, 1))
    assert (out[2]["sum_r"], out[2]["sum_g"], out[2]["sum_b"]) == tuple(
        int(c) for c in csum
    )


def _oracle_docs(path: str, sql: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def render(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        return "NULL" if v is None else str(v)

    return sorted(tuple(render(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize(
    "name", ["llm_multimodal_decode_png", "llm_multimodal_quarantine_png"]
)
def test_png_entries_agree_on_non_ascii_docs(spark, tmp_path, name):
    """Regression (r9 advice): the PNG fixtures work in UTF-8 bytes but
    the oracles in characters — with a non-ASCII doc in the table the
    two diverged (byte length 3*W reached before char length). Both
    sides now exclude non-ASCII docs with the same byte==char
    predicate, so Spark and DuckDB must agree on a corpus that
    CONTAINS such docs."""
    row_bytes = 3 * mm.PNG_WIDTH  # 24
    rows = [
        # ascii, long enough: included
        (0, "The quick brown fox jumps over the lazy dog again and again.",
         "en", "s0"),
        # non-ascii, char length >= 24 but byte semantics differ: excluded
        (1, "héllo wörld café résumé naïve déjà vu über älter größer",
         "fr", "s0"),
        # 3-byte chars: 30 chars / 90 bytes — chars barely over one row,
        # bytes nearly four rows; the divergence case
        (2, "日本語テキストの行がここに続いています、確認のためです。三行目。", "ja", "s1"),
        # ascii, too short for one row: excluded by the length guard
        (3, "short ascii", "en", "s1"),
        # ascii, several rows (class 3 -> signature corruption in the
        # quarantine fixture)
        (13, "x" * 100, "en", "s1"),
        # ascii, class 7 -> bit-rot corruption
        (17, "abcdefghij" * 8, "en", "s0"),
    ]
    pdf = duckdb.connect()
    path = os.path.join(tmp_path, "documents.parquet")
    pdf.execute(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(
            f"({d}, '{t}', '{lang}', '{src}', {len(t)})"
            for d, t, lang, src in rows
        )
        + ") AS t(doc_id, text, lang, source, n_chars)) TO '"
        + path + "' (FORMAT PARQUET)"
    )
    sdf = QUERIES[name].spark_fn(spark, str(tmp_path))
    scols = sdf.columns
    srows = _normalize([tuple(r) for r in sdf.collect()], scols)
    dcols, drows = _oracle_docs(path, QUERIES[name].oracle)
    assert sorted(scols) == sorted(dcols)
    assert srows == _normalize(drows, dcols)
    ids = {int(r[0]) for r in drows}
    assert 1 not in ids and 2 not in ids  # non-ascii excluded...
    assert 0 in ids and 13 in ids and 17 in ids  # ...ascii kept


def test_graph_route_reuse_batch0_equals_single_build(spark, sf_dir):
    """The build/search split must be a pure refactor: batch 0 of the
    reuse entry (routed over the ONE materialized graph) is exactly the
    single-shot llm_ann_graph_route result."""
    single = sorted(
        tuple(r)
        for r in QUERIES["llm_ann_graph_route"].spark_fn(spark, sf_dir)
        .select("query_id", "nid", "cos_sim", "rank").collect()
    )
    reuse = QUERIES["llm_ann_graph_route_reuse"].spark_fn(spark, sf_dir)
    batch0 = sorted(
        tuple(r)
        for r in reuse.filter("batch = 0")
        .select("query_id", "nid", "cos_sim", "rank").collect()
    )
    assert batch0 == single
    # batch 1 exists and is a different query set
    b1 = {r["query_id"] for r in reuse.filter("batch = 1").collect()}
    assert b1 and all(q % 25 == 1 for q in b1)


def test_capped_gzip_bounds_members_per_blob(spark, sf_dir):
    from helium_arango_etl_lite_spark.plans.catalog_round9 import (
        _CAP_MEMBERS,
    )

    out = (
        QUERIES["llm_gzip_jsonl_capped"].spark_fn(spark, sf_dir)
        .groupBy("shard_key").count().toPandas()
    )
    assert out["count"].max() <= _CAP_MEMBERS
    # the cap BINDS on the fixture: more blobs than sources
    n_sources = len({k.rsplit("/", 1)[0] for k in out["shard_key"]})
    assert len(out) > n_sources


def test_interval_overlap_capped_is_strict_subset(spark, sf_dir):
    """The salt cap is a recall-only approximation: every emitted pair
    must exist in the uncapped result, and at the fixture cap the split
    must actually DROP pairs (value-visible to the driver hash)."""
    full = {
        tuple(r)
        for r in QUERIES["join_interval_overlap"].spark_fn(spark, sf_dir)
        .collect()
    }
    capped = {
        tuple(r)
        for r in QUERIES["join_interval_overlap_capped"]
        .spark_fn(spark, sf_dir).collect()
    }
    assert capped <= full
    assert len(capped) < len(full)


def test_bpe_train_golden_merges(spark):
    """Hand-computed BPE merges on a tiny corpus: words ab x3, aba x1,
    b x1. Round 0: (a,b) count 4 (3 from 'ab', 1 from 'aba') beats
    (b,a) count 1 -> merge 'ab'. Round 1: only 'aba' = [ab, a] has a
    pair -> (ab, a) count 1 -> merge 'aba'. Round 2: no pairs left ->
    the loop stops early (2 rows despite rounds=5)."""
    from helium_arango_etl_lite_spark.operators.llm.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "ab ab aba"), (2, "ab b")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in bpe_train(docs, rounds=5).collect()]
    assert rows == [(0, "a", "b", "ab", 4), (1, "ab", "a", "aba", 1)]


def test_bpe_merge_is_greedy_left_to_right(spark):
    """'aaaa' with pair (a,a) must merge to [aa, aa] (greedy non-
    overlapping), and 'aaa' to [aa, a] — the per-token-delimited
    string replace must reproduce the BPE fold exactly."""
    from helium_arango_etl_lite_spark.operators.llm.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "aaaa aaa")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in bpe_train(docs, rounds=2).collect()]
    # round 0: (a,a) appears 3+2 = 5 times (overlapping counts)
    assert rows[0] == (0, "a", "a", "aa", 5)
    # round 1: aaaa -> [aa, aa] gives (aa,aa) x1; aaa -> [aa, a] gives
    # (aa, a) x1; tiebreak (cnt, lt, rt) picks (aa, a)
    assert rows[1] == (1, "aa", "a", "aaa", 1)


def test_bpe_encode_golden_vocab(spark):
    """Tokenize with the learned merges: after (a,b)->ab and
    (ab,a)->aba the corpus {ab x4, aba x1, b x1} tokenizes to exactly
    one token per word; counts weighted by word frequency."""
    from helium_arango_etl_lite_spark.operators.llm.text import bpe_encode

    docs = spark.createDataFrame(
        [(1, "ab ab aba"), (2, "ab b")], "doc_id long, text string"
    )
    rows = [tuple(r) for r in bpe_encode(docs, rounds=5, k=10).collect()]
    assert rows == [("ab", 3), ("aba", 1), ("b", 1)]


def test_audio_features_golden(spark):
    """Hand-computed frame features: text 'ab' -> samples 97, 98.
    energy = (97-128)^2 + (98-128)^2 = 1861. DC-removed signs:
    97*2 >= 195 is False, 98*2 >= 195 is True -> one crossing."""
    from helium_arango_etl_lite_spark.operators.llm import multimodal as mm

    docs = spark.createDataFrame([(7, "ab")], "doc_id long, text string")
    out = mm.audio_features(mm.encode_wav_from_text(docs), window=16)
    rows = [tuple(r) for r in out.collect()]
    assert rows == [(7, 0, 2, 1861, 1)]


def test_audio_features_partial_last_frame(spark):
    """18 samples with window=16 -> frames of 16 and 2; cross-frame
    pairs (sample 16 -> 17) must NOT count toward either frame."""
    import numpy as np

    from helium_arango_etl_lite_spark.operators.llm import multimodal as mm

    text = "abcdefghijklmnopqr"  # 18 ascii chars
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = (
        mm.audio_features(mm.encode_wav_from_text(docs), window=16)
        .orderBy("window_idx").collect()
    )
    raw = np.array([ord(c) for c in text], dtype=np.int64)
    sg = raw * len(raw) >= raw.sum()
    v = raw - 128
    assert [tuple(r) for r in out] == [
        (1, 0, 16, int((v[:16] ** 2).sum()),
         int((sg[:16][:-1] != sg[:16][1:]).sum())),
        (1, 1, 2, int((v[16:] ** 2).sum()),
         int((sg[16:][:-1] != sg[16:][1:]).sum())),
    ]


def test_bpe_compression_curve_monotone(spark):
    """Each merge round strictly reduces the corpus token count by the
    merged pair's non-overlapping occurrence total; round 0 equals the
    character count of all [a-z]+ words."""
    from helium_arango_etl_lite_spark.operators.llm.text import (
        bpe_compression_curve,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab aba"), (2, "ab b")], "doc_id long, text string"
    )
    pts = sorted(
        (r["round"], r["total_tokens"])
        for r in bpe_compression_curve(docs, rounds=5).collect()
    )
    # chars: ab(2)*3 + aba(3) + b(1) = 10; merge (a,b) collapses 4
    # pairs -> 6; merge (ab,a) collapses 1 -> 5; then no pairs left
    assert pts == [(0, 10), (1, 6), (2, 5)]
    totals = [t for _, t in pts]
    assert all(a > b for a, b in zip(totals, totals[1:]))


def test_ann_index_append_invariants(spark, sf_dir):
    """The incremental append must (a) preserve every old-old edge
    exactly (no old recompute = no old change), (b) give every new
    out-edge a back-link, and (c) leave old vectors' neighbour lists
    untouched even where a rebuild would differ."""
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        build_route_graph,
    )
    from helium_arango_etl_lite_spark.plans.catalog_similarity import (
        EMB_DIM, NEAR_DUP_PLANES,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    appended = {
        (r["src"], r["dst"])
        for r in QUERIES["llm_ann_index_append"].spark_fn(spark, sf_dir)
        .collect()
    }
    old_edges = {
        (r["src"], r["dst"])
        for r in build_route_graph(
            emb.filter(F.col("vec_id") % 10 != 0), edge_k=8,
            seeds=(7, 11), num_planes=NEAR_DUP_PLANES, dim=EMB_DIM,
        ).collect()
    }
    assert old_edges <= appended  # (a)
    extra = appended - old_edges
    assert extra  # the new batch actually linked
    for s, d in extra:
        assert s % 10 == 0 or d % 10 == 0  # only new-touching edges added
        assert (d, s) in appended  # (b) every new edge is bidirectional
    # (c): new vectors appear as destinations (reachable), not only srcs
    assert any(d % 10 == 0 and s % 10 != 0 for s, d in extra)


# ---------------------------------------------------------------------------
# property tests for the round-10 operators (hypothesis) — converged
# locally with high example counts BEFORE committing (the r9 lesson)
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _bpe_fold(tokens, lt, rt):
    """Reference greedy left-to-right merge (the BPE textbook fold)."""
    out = []
    for t in tokens:
        if out and out[-1] == lt and t == rt:
            out[-1] = lt + rt
        else:
            out.append(t)
    # one subtlety: the fold above merges through a just-merged token
    # when lt+rt == lt (impossible for non-empty rt), so it IS the
    # non-overlapping greedy scan
    return out


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.text("ab", min_size=1, max_size=4), min_size=1, max_size=8),
    st.text("ab", min_size=1, max_size=2),
    st.text("ab", min_size=1, max_size=2),
)
def test_delimited_replace_is_greedy_bpe_merge(tokens, lt, rt):
    """The per-token-delimited string replace used by bpe_train must
    equal the textbook greedy fold for EVERY token list and pair —
    pure-python check of the core identity both engines rely on."""
    enc = "".join(f"|{t}|" for t in tokens)
    merged_enc = enc.replace(f"|{lt}||{rt}|", f"|{lt}{rt}|")
    got = merged_enc[1:-1].split("||") if merged_enc else []
    assert got == _bpe_fold(tokens, lt, rt)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 255), min_size=1, max_size=70))
def test_audio_frame_partition_invariants(samples):
    """Frames must PARTITION the clip: n_samples sums to the clip
    length, per-frame energies sum to the whole-clip energy, and
    zero-cross counts never exceed in-frame pair counts — checked on
    the same numpy kernel audio_features runs per clip."""
    import numpy as np

    window = 16
    raw = np.array(samples, dtype=np.int64)
    v = raw - 128
    sg = raw * len(raw) >= raw.sum()
    frames = []
    for wi in range(0, len(v), window):
        seg, sseg = v[wi: wi + window], sg[wi: wi + window]
        frames.append(
            (len(seg), int((seg * seg).sum()),
             int((sseg[:-1] != sseg[1:]).sum()))
        )
    assert sum(f[0] for f in frames) == len(raw)
    assert sum(f[1] for f in frames) == int((v * v).sum())
    for n, _, zc in frames:
        assert 0 <= zc <= max(0, n - 1)


def test_tar_boundary_cut_surfaces_as_truncation(spark):
    """ADVICE r9 (low): a cut exactly on a padded member boundary used
    to parse as a shorter VALID archive (the zero terminator and every
    later member silently lost). parse_tar_index now requires the zero
    terminator unconditionally."""
    from helium_arango_etl_lite_spark.operators.llm.shards import (
        index_tar_shards_quarantine, pack_tar_shards, parse_tar_index,
    )

    docs = spark.createDataFrame(
        [("s", 1, "first doc"), ("s", 2, "second doc"), ("s", 3, "third")],
        "source string, doc_id long, text string",
    )
    full = bytes(pack_tar_shards(docs).collect()[0]["shard"])
    members = parse_tar_index(full)
    assert len(members) == 3
    # cut exactly after member 2's padded span: headers+payloads intact,
    # terminator + member 3 gone
    _, off3, _, _ = members[2]
    with pytest.raises(ValueError, match="missing zero terminator"):
        parse_tar_index(full[:off3])
    # and through the quarantine operator it is one 'truncated' row
    cut = spark.createDataFrame(
        [("s", bytearray(full[:off3]))], "source string, shard binary"
    )
    row = index_tar_shards_quarantine(cut).collect()[0]
    assert (row["status"], row["reason"]) == ("quarantined", "truncated")
