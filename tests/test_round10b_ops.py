"""Tests for the session-2 round-10 operators (plans/catalog_round10b.py):
the ZIP shard container, reciprocal-rank fusion, and the P/R@K sweep.

The ZIP tests pin the property the container family was extended FOR:
the gzip walker provably cannot reject a truncation landing exactly on
a member boundary (test_gzip_member_walk_property documents that), while
ZIP's tail-anchored EOCD + central directory make EVERY strict-prefix
cut detectable — Hypothesis sweeps all cut positions. Cross-validation
follows the tar discipline: our from-scratch parser must agree with the
independent stdlib reader (zipfile) on names, sizes, and payloads.
"""
from __future__ import annotations

import io
import zipfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from helium_arango_etl_lite_spark.operators.llm.shards import (
    parse_zip_index,
)
from helium_arango_etl_lite_spark.operators.llm.similarity import (
    precision_recall_at_k, rrf_fuse,
)


def _pack(members: list[tuple[str, bytes]]) -> bytes:
    """Deterministic STORED zip — mirrors pack_zip_shards' writer."""
    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w", compression=zipfile.ZIP_STORED) as zf:
        for name, data in members:
            zi = zipfile.ZipInfo(
                filename=name, date_time=(1980, 1, 1, 0, 0, 0)
            )
            zi.create_system = 3
            zi.external_attr = 0o644 << 16
            zf.writestr(zi, data)
    return bio.getvalue()


# ---------------------------------------------------------------------------
# parser unit tests
# ---------------------------------------------------------------------------

def test_zip_roundtrip_offsets_and_payloads():
    members = [
        ("101.txt", b"hello world"),
        ("102.txt", b""),  # empty member: zero-length payload slice
        ("103.txt", "café — bytes".encode("utf-8")),
    ]
    idx = parse_zip_index(_pack(members))
    assert [(n, p) for n, _, _, p in idx] == members
    # STORED layout: each member costs exactly 30 + name + payload,
    # members back-to-back from offset 0 (the oracle's arithmetic)
    off = 0
    for (name, data), (_, o, size, _) in zip(members, idx):
        assert o == off and size == len(data)
        off += 30 + len(name.encode()) + len(data)


def test_zip_empty_archive():
    assert parse_zip_index(_pack([])) == []


def test_zip_agrees_with_stdlib_reader():
    """Cross-validation against the independent stdlib implementation:
    names, sizes, and payload bytes must agree member-for-member."""
    members = [(f"{i}.txt", bytes([i]) * i) for i in range(6)]
    buf = _pack(members)
    ours = parse_zip_index(buf)
    with zipfile.ZipFile(io.BytesIO(buf)) as zf:
        theirs = [
            (zi.filename, zi.header_offset, zi.file_size, zf.read(zi))
            for zi in zf.infolist()
        ]
    assert ours == theirs


def test_zip_crc_flip_detected():
    buf = bytearray(_pack([("7.txt", b"payload bytes")]))
    buf[30 + len("7.txt")] ^= 0xFF  # first payload byte
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        parse_zip_index(bytes(buf))


def test_zip_member_boundary_cut_detected():
    """THE property the family was extended for: a cut exactly at a
    member's local-header boundary leaves a valid, complete, shorter
    gzip blob (whole-member loss invisible to gzip framing), but a zip
    rejects it — the EOCD lives at the tail, so the cut destroys it."""
    members = [("1.txt", b"first"), ("2.txt", b"second")]
    buf = _pack(members)
    second_lho = 30 + len("1.txt") + len(b"first")
    with pytest.raises(ValueError, match="end-of-central-directory"):
        parse_zip_index(buf[:second_lho])


@settings(max_examples=60, deadline=None)
@given(
    members=st.lists(
        st.binary(min_size=0, max_size=40), min_size=1, max_size=4
    ),
    cut=st.integers(min_value=1),
)
def test_zip_any_prefix_cut_rejected(members, cut):
    """EVERY strict-prefix cut raises — no boundary exception exists for
    this container, unlike gzip (whose member-boundary cut is a valid
    shorter blob; see test_gzip_member_walk_property). Arbitrary binary
    payloads: even a payload that happens to contain EOCD-like bytes at
    the new tail fails the directory-span / count cross-checks."""
    buf = _pack([(f"{i}.bin", m) for i, m in enumerate(members)])
    cut = 1 + (cut % (len(buf) - 1))  # strict prefix, at least 1 byte cut
    with pytest.raises(ValueError):
        parse_zip_index(buf[: len(buf) - cut])


def test_zip_rejects_deflated_members():
    """The engine packs STORED (byte-addressable range reads); a
    DEFLATED member means the blob is not ours — refuse, don't guess."""
    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("1.txt", b"compressible " * 20)
    with pytest.raises(ValueError, match="not STORED"):
        parse_zip_index(bio.getvalue())


# ---------------------------------------------------------------------------
# catalog entries on Spark (oracle parity is covered for every entry by
# test_oracle_parity; these pin operator-level invariants)
# ---------------------------------------------------------------------------

def test_zip_quarantine_classes(spark, sf_dir):
    from helium_arango_etl_lite_spark.plans.registry import QUERIES

    rows = QUERIES["llm_zip_quarantine"].spark_fn(spark, sf_dir).collect()
    assert rows, "fixture produced no shards"
    for r in rows:
        if r.status == "ok":
            assert r.reason == "ok" and r.n_members > 0
        else:
            assert r.reason in ("crc", "truncated")
            assert r.n_members is None


def test_rrf_fuse_integer_scores(spark):
    """Hand-computed fusion: doc 1 ranked 1st by A and 2nd by B, doc 2
    ranked 2nd by A only, doc 3 ranked 1st by B only (k0=60)."""
    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(3, 1), (1, 2)], "doc_id long, rank long")
    got = {
        r.doc_id: (r.n_systems, r.rrf9)
        for r in rrf_fuse([a, b], k0=60, k=10).collect()
    }
    assert got == {
        1: (2, 1_000_000_000 // 61 + 1_000_000_000 // 62),
        2: (1, 1_000_000_000 // 62),
        3: (1, 1_000_000_000 // 61),
    }


def test_precision_recall_at_k_hand_case(spark):
    """Ranked list 1..4 with relevant = {ids at rank 1 and 3} out of 3
    positives total: P@2 = 1/2, R@2 = 1/3, P@4 = 2/4, R@4 = 2/3."""
    ranked = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3), (13, 4)], "vec_id long, rank long"
    )
    pos = spark.createDataFrame([(10,), (12,), (99,)], "vec_id long")
    got = {
        r.k: (r.tp, r.precision6, r.recall6)
        for r in precision_recall_at_k(ranked, pos, [2, 4]).collect()
    }
    assert got == {
        2: (1, 500000, 333333),
        4: (2, 500000, 666667),
    }


def test_ndcg_hand_case(spark):
    """Two cutoffs, gains hand-computed. Ranking: ids 1,2,3 at ranks
    1,2,3 with labels 3,0,2; ideal order of labels {3,2,0} is 3,2,0.
    discounts: d1=1.0, d2=0.63..., d3=0.5 (injected literals)."""
    import math

    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        ndcg_at_k,
    )

    ranked = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "vec_id long, rank long"
    )
    labels = spark.createDataFrame(
        [(1, 3), (2, 0), (3, 2)], "vec_id long, label long"
    )
    disc = [(r, 1.0 / math.log2(r + 1)) for r in (1, 2, 3)]
    got = {
        r.k: (r.dcg6, r.idcg6, r.ndcg6)
        for r in ndcg_at_k(ranked, labels, disc, [1, 3]).collect()
    }
    d1, d2, d3 = (d for _, d in disc)
    dcg1 = math.floor(1e6 * 3 * d1 + 0.5)
    idcg1 = dcg1
    dcg3 = dcg1 + math.floor(1e6 * 0 * d2 + 0.5) + math.floor(
        1e6 * 2 * d3 + 0.5
    )
    idcg3 = idcg1 + math.floor(1e6 * 2 * d2 + 0.5) + math.floor(
        1e6 * 0 * d3 + 0.5
    )
    assert got == {
        1: (dcg1, idcg1, 1_000_000),
        3: (dcg3, idcg3, math.floor(1e6 * dcg3 / idcg3 + 0.5)),
    }


def test_dq_expectations_failure_paths(spark, sf_dir):
    """The fixture deliberately violates three rules; the passing rules
    must report zero failures and every n_checked must equal the table
    row count."""
    from helium_arango_etl_lite_spark.plans.registry import QUERIES, load_table

    rows = {
        r.rule_id: (r.n_checked, r.n_failed)
        for r in QUERIES["dq_expectations"].spark_fn(spark, sf_dir).collect()
    }
    n_docs = load_table(spark, sf_dir, "documents").count()
    n_ord = load_table(spark, sf_dir, "orders").count()
    assert rows["doc_text_nonempty"] == (n_docs, 0)
    assert rows["doc_id_unique"] == (n_docs, 0)
    assert rows["ord_date_not_null"] == (n_ord, 0)
    for rule in ("doc_lang_allowlist", "ord_price_range",
                 "ord_status_valid"):
        n, failed = rows[rule]
        assert n == (n_docs if rule.startswith("doc_") else n_ord)
        assert 0 < failed < n, f"{rule} should partially fail"


def test_zip_capped_members_bound(spark, sf_dir):
    """The capped pack key must BIND: no shard exceeds the cap, and
    full buckets hold exactly the cap (the completeness check the
    capped index adds on top of the EOCD)."""
    from helium_arango_etl_lite_spark.plans.catalog_round10b import _ZIP_CAP
    from helium_arango_etl_lite_spark.plans.registry import QUERIES

    idx = QUERIES["llm_zip_index_capped"].spark_fn(spark, sf_dir)
    per = idx.groupBy("shard_key").count().collect()
    assert per and max(r["count"] for r in per) <= _ZIP_CAP
    assert any(r["count"] == _ZIP_CAP for r in per), "cap never binds"


# ---------------------------------------------------------------------------
# unigram-LM segmentation: independent-reference cross-check
# ---------------------------------------------------------------------------

def _unigram_reference(texts: list[str], k: int = 20):
    """Independent plain-Python implementation of the unigram contract
    (same constants) — the same role zipfile plays for the zip parser:
    agreement certifies the distributed implementation against a
    straightforward sequential one."""
    import math
    import re
    from collections import Counter

    from helium_arango_etl_lite_spark.operators.llm.text import (
        UNI_MAX_PLEN, UNI_MAX_WLEN, UNI_SENT, UNI_TOP_PIECES,
    )

    words = Counter()
    for t in texts:
        for w in t.split(" "):
            if re.fullmatch("[a-z]+", w) and len(w) <= UNI_MAX_WLEN:
                words[w] += 1
    sub = Counter()
    for w in words:
        for a in range(len(w)):
            for b in range(a + 1, min(len(w), a + UNI_MAX_PLEN) + 1):
                sub[w[a:b]] += 1
    singles = {p for p in sub if len(p) == 1}
    multi = sorted(
        (p for p in sub if len(p) > 1), key=lambda p: (-sub[p], p)
    )[:UNI_TOP_PIECES]
    retained = singles | set(multi)
    total = sum(sub[p] for p in retained)
    score = {
        p: math.floor(1e6 * math.log(sub[p] / total)) for p in retained
    }
    cnt = Counter()
    nll = 0
    for w, freq in words.items():
        L = len(w)
        f = [0] + [UNI_SENT] * L
        for i in range(1, L + 1):
            f[i] = max(
                f[j] + score.get(w[j:i], UNI_SENT)
                for j in range(max(0, i - UNI_MAX_PLEN), i)
            )
        g = [UNI_SENT] * L + [0]
        for i in range(L - 1, -1, -1):
            g[i] = max(
                score.get(w[i:kk], UNI_SENT) + g[kk]
                for kk in range(i + 1, min(L, i + UNI_MAX_PLEN) + 1)
            )
        nll -= freq * f[L]
        for j in range(L):
            for i in range(j + 1, min(L, j + UNI_MAX_PLEN) + 1):
                p = w[j:i]
                if p in retained and f[j] + score[p] + g[i] == f[L]:
                    cnt[p] += freq
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return top, (len(words), sum(words.values()), nll)


def test_unigram_matches_reference(spark):
    from helium_arango_etl_lite_spark.operators.llm.text import (
        unigram_corpus_nll, unigram_segment_counts,
    )

    texts = [
        "the cat sat on the mat with another cat",
        "banana bandana cabana banana",
        "segmentation of the banana is the best test",
        "aaaa aaaa aaab abab Xignored UPPER toolongword99",
        "mat mat cat the the the",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    ref_top, (ref_types, ref_tokens, ref_nll) = _unigram_reference(texts)
    got_top = [
        (r.piece, r.cnt)
        for r in unigram_segment_counts(df, k=20).collect()
    ]
    assert got_top == ref_top
    nll_row = unigram_corpus_nll(df).collect()[0]
    assert (
        nll_row.n_word_types, nll_row.n_tokens, nll_row.nll6
    ) == (ref_types, ref_tokens, ref_nll)


def test_unigram_em_matches_reference(spark):
    """The EM round against the same independent sequential reference:
    add-one-smoothed M-step over the capped vocabulary, re-segment,
    compare both rounds' top-k exactly."""
    import math
    import re
    from collections import Counter

    from helium_arango_etl_lite_spark.operators.llm.text import (
        UNI_MAX_PLEN, UNI_MAX_WLEN, UNI_SENT, UNI_TOP_PIECES,
        unigram_em_counts,
    )

    texts = [
        "the cat sat on the mat with another cat",
        "banana bandana cabana banana",
        "segmentation of the banana is the best test",
        "aaaa aaaa aaab abab",
        "mat mat cat the the the",
    ]

    words = Counter()
    for t in texts:
        for w in t.split(" "):
            if re.fullmatch("[a-z]+", w) and len(w) <= UNI_MAX_WLEN:
                words[w] += 1
    sub = Counter()
    for w in words:
        for a in range(len(w)):
            for b in range(a + 1, min(len(w), a + UNI_MAX_PLEN) + 1):
                sub[w[a:b]] += 1
    singles = {p for p in sub if len(p) == 1}
    multi = sorted(
        (p for p in sub if len(p) > 1), key=lambda p: (-sub[p], p)
    )[:UNI_TOP_PIECES]
    retained = singles | set(multi)

    def seg_counts(score):
        cnt = Counter()
        for w, freq in words.items():
            L = len(w)
            f = [0] + [UNI_SENT] * L
            for i in range(1, L + 1):
                f[i] = max(
                    f[j] + score.get(w[j:i], UNI_SENT)
                    for j in range(max(0, i - UNI_MAX_PLEN), i)
                )
            g = [UNI_SENT] * L + [0]
            for i in range(L - 1, -1, -1):
                g[i] = max(
                    score.get(w[i:kk], UNI_SENT) + g[kk]
                    for kk in range(i + 1, min(L, i + UNI_MAX_PLEN) + 1)
                )
            for j in range(L):
                for i in range(j + 1, min(L, j + UNI_MAX_PLEN) + 1):
                    p = w[j:i]
                    if p in retained and f[j] + score[p] + g[i] == f[L]:
                        cnt[p] += freq
        return cnt

    def to_scores(counts):
        total = sum(counts.values())
        return {
            p: math.floor(1e6 * math.log(c / total))
            for p, c in counts.items()
        }

    c1 = seg_counts(to_scores({p: sub[p] for p in retained}))
    c2 = seg_counts(to_scores({p: c1.get(p, 0) + 1 for p in retained}))

    def topk(c, rnd):
        return [
            (rnd, p, n)
            for p, n in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        ]

    expect = topk(c1, 1) + topk(c2, 2)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r[0], r[1], r[2]) for r in unigram_em_counts(df, k=20).collect()
    ]
    # rows arrive as two unioned blocks; compare per round
    assert sorted(got) == sorted(expect)


def test_zip_corrupt_crc_class_robust_to_empty_member(spark):
    """Corruption class 1 must surface as 'crc' even when the first
    member is EMPTY (a payload-byte flip would hit the next member's
    local header instead and misreport 'truncated'; the central-CRC
    flip cannot)."""
    from helium_arango_etl_lite_spark.operators.llm.shards import (
        corrupt_zip_shards, index_zip_shards_quarantine, pack_zip_shards,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [("s1", 1, ""), ("s1", 2, "text")],
        "source string, doc_id long, text string",
    )
    shards = pack_zip_shards(docs).withColumn("cls", F.lit(1))
    rows = index_zip_shards_quarantine(
        corrupt_zip_shards(shards, "cls")
    ).collect()
    assert len(rows) == 1
    assert (rows[0].status, rows[0].reason) == ("quarantined", "crc")


def test_container_pair_boundary_cut_gzip_blind_zip_catches():
    """The SAME logical corruption — truncation at a member boundary —
    applied to both containers over the same members: the gzip walker
    ACCEPTS the cut blob as a valid shorter archive (framing cannot
    know a member is missing; documented limit), while the zip parser
    REJECTS it (tail-anchored EOCD). This is the one test that states
    the container family's design argument directly."""
    import gzip as gzip_mod

    from helium_arango_etl_lite_spark.operators.llm.shards import (
        parse_gzip_members,
    )

    members = [b'{"doc_id": 1}\n', b'{"doc_id": 2}\n']

    gz_parts = [gzip_mod.compress(m, mtime=0) for m in members]
    gz_blob = b"".join(gz_parts)
    gz_cut = gz_blob[: len(gz_parts[0])]  # exact member boundary
    assert parse_gzip_members(gz_cut) == members[:1]  # accepted, silent

    zip_blob = _pack([("1.json", members[0]), ("2.json", members[1])])
    zip_cut_at = 30 + len("1.json") + len(members[0])
    with pytest.raises(ValueError, match="end-of-central-directory"):
        parse_zip_index(zip_blob[:zip_cut_at])  # same cut, caught


def test_zip_zip64_fails_loud():
    """Classic-zip limits are a CONTRACT: the writer refuses to emit
    ZIP64 (fail at pack time, not at some later read), and the parser
    NAMES a zip64 archive instead of misreporting it as corruption."""
    def pack_n(n, allow):
        bio = io.BytesIO()
        with zipfile.ZipFile(
            bio, "w", compression=zipfile.ZIP_STORED, allowZip64=allow
        ) as zf:
            for i in range(n):
                zi = zipfile.ZipInfo(
                    filename=f"{i}.txt", date_time=(1980, 1, 1, 0, 0, 0)
                )
                zi.create_system = 3
                zi.external_attr = 0o644 << 16
                zf.writestr(zi, b"")
        return bio.getvalue()

    with pytest.raises(zipfile.LargeZipFile):
        pack_n(65_540, False)  # pack_zip_shards' writer settings
    with pytest.raises(ValueError, match="zip64 archive"):
        parse_zip_index(pack_n(65_540, True))


def test_dq_expectations_null_is_failure(spark):
    """A NULL in a checked column must COUNT AS A FAILURE (matching the
    oracle's CASE semantics) — sum((~pred).cast(long)) would skip it."""
    from helium_arango_etl_lite_spark.plans.catalog_round10b import (
        dq_expectations,
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, "ok text", None, "s", 200),
             (2, None, "en", "s", None)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        spark.createDataFrame(
            [(1, 1, "O", None, None, "x")],
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate timestamp,"
            " o_orderpriority string",
        ).write.parquet(os.path.join(d, "orders.parquet"))
        rows = {
            r.rule_id: r.n_failed
            for r in dq_expectations(spark, d).collect()
        }
    assert rows["doc_lang_allowlist"] == 1   # NULL lang fails
    assert rows["doc_min_length"] == 1       # NULL n_chars fails
    assert rows["ord_price_range"] == 1      # NULL price fails
    assert rows["doc_text_nonempty"] == 1    # NULL text fails


def test_referential_integrity_directions(spark, sf_dir):
    """Fixture contract: the synthetic star schema is fully dense — all
    seven checks (4 orphan directions, 3 coverage directions) report
    zero violations with per-table n_checked counts."""
    from helium_arango_etl_lite_spark.plans.registry import QUERIES

    rows = {
        r.relation: (r.n_checked, r.n_violations)
        for r in QUERIES["dq_referential_integrity"]
        .spark_fn(spark, sf_dir).collect()
    }
    assert len(rows) == 7
    assert all(v == 0 for _, v in rows.values())
    assert all(n > 0 for n, _ in rows.values())


def test_referential_integrity_violation_path(spark):
    """The violation counters must actually fire: a broken fixture with
    one orphan order (customer 99 missing) and one idle customer."""
    import os
    import tempfile

    from helium_arango_etl_lite_spark.plans.catalog_round10b import (
        dq_referential_integrity,
    )

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, "a"), (2, "idle")], "c_custkey long, c_name string"
        ).write.parquet(os.path.join(d, "customer.parquet"))
        spark.createDataFrame(
            [(10, 1, "O"), (11, 99, "O")],
            "o_orderkey long, o_custkey long, o_orderstatus string",
        ).write.parquet(os.path.join(d, "orders.parquet"))
        spark.createDataFrame(
            [(10, 5, 7), (12, 5, 8)],  # suppkey 8 does not exist
            "l_orderkey long, l_partkey long, l_suppkey long",
        ).write.parquet(os.path.join(d, "lineitem.parquet"))
        spark.createDataFrame(
            [(5, "p"), (6, "unused")],  # part 6 never ordered
            "p_partkey long, p_name string",
        ).write.parquet(os.path.join(d, "part.parquet"))
        spark.createDataFrame(
            [(7, "s"), (9, "idle")],  # supplier 9 never used
            "s_suppkey long, s_name string",
        ).write.parquet(os.path.join(d, "supplier.parquet"))
        rows = {
            r.relation: (r.n_checked, r.n_violations)
            for r in dq_referential_integrity(spark, d).collect()
        }
    assert rows["orders->customer"] == (2, 1)     # order 11 -> cust 99
    assert rows["lineitem->orders"] == (2, 1)     # lineitem 12 orphan
    assert rows["lineitem->supplier"] == (2, 1)   # suppkey 8 missing
    assert rows["customer<-orders"] == (2, 1)     # customer 2 idle
    assert rows["part<-lineitem"] == (2, 1)       # part 6 unordered
    assert rows["supplier<-lineitem"] == (2, 1)   # supplier 9 unused
    assert rows["lineitem->part"] == (2, 0)


def test_bpe_fertility_conserves_word_mass(spark, sf_dir):
    """sum(corpus_words) over the fertility rows must equal the total
    corpus occurrences of trainable words (distribution = partition),
    and every word needs at least one piece."""
    from pyspark.sql import functions as F

    from helium_arango_etl_lite_spark.plans.registry import (
        QUERIES, load_table,
    )

    fert = QUERIES["llm_bpe_fertility"].spark_fn(spark, sf_dir)
    rows = fert.collect()
    assert all(r.n_pieces >= 1 for r in rows)
    total = sum(r.corpus_words for r in rows)
    docs = load_table(spark, sf_dir, "documents")
    expect = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .count()
    )
    assert total == expect


def test_changepoint_finds_planted_step(spark):
    """A planted step (rate 1/hour -> 5/hour at a known boundary) must
    be recovered exactly, and the gain identity must be non-negative."""
    import datetime as dt

    from helium_arango_etl_lite_spark.plans.catalog_round10b import (
        events_changepoint,
    )
    import os
    import tempfile

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    eid = 0
    for hour in range(12):
        per = 1 if hour < 7 else 5
        for j in range(per):
            rows.append(
                (eid, base + dt.timedelta(hours=hour, minutes=j),
                 1, "click", 1.0, "{}")
            )
            eid += 1
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = events_changepoint(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    # the best split's LEFT segment is hours 0..6 (7 hours of rate 1)
    assert r.n_left == 7 and r.sum_left == 7
    assert r.n_right == 5 and r.sum_right == 25
    assert r.split_hs == int(
        (base + dt.timedelta(hours=6)).timestamp()
    )
    assert r.gain6 >= 0


def test_k_anonymity_hand_case(spark):
    """Three QI classes of sizes 1, 2, 3 -> at k=2 only the singleton
    violates; at k=5 everything does; achieved_k is the min size."""
    import os
    import tempfile

    from helium_arango_etl_lite_spark.plans.catalog_round10b import (
        dq_k_anonymity,
    )

    rows = (
        [(i, "t", "en", "a", 10) for i in range(1)]
        + [(10 + i, "t", "en", "b", 10) for i in range(2)]
        + [(20 + i, "t", "fr", "a", 10) for i in range(3)]
    )
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r.k: (r.n_classes, r.n_rows, r.violating_classes,
                  r.rows_at_risk, r.achieved_k)
            for r in dq_k_anonymity(spark, d).collect()
        }
    assert got[2] == (3, 6, 1, 1, 1)
    assert got[5] == (3, 6, 3, 6, 1)
    assert got[10] == (3, 6, 3, 6, 1)


def test_dataset_card_consistency(spark, sf_dir):
    """Card internals must agree with the tables they summarize."""
    from helium_arango_etl_lite_spark.plans.registry import (
        QUERIES, load_table,
    )

    card = QUERIES["llm_dataset_card"].spark_fn(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    assert card.n_docs == docs.count()
    assert card.n_langs == docs.select("lang").distinct().count()
    assert card.min_chars <= card.max_chars
    assert 0 <= card.n_exact_dup_docs < card.n_docs
    assert card.mean_tokens6 * card.n_docs // 1_000_000 <= (
        card.total_ws_tokens + card.n_docs
    )


def test_k_anonymity_suppress_invariant(spark, sf_dir):
    """After suppressing classes below k, the surviving release must
    achieve at least k (or be empty), with monotone counts."""
    from helium_arango_etl_lite_spark.plans.catalog_round10b import (
        _KA_K,
    )
    from helium_arango_etl_lite_spark.plans.registry import QUERIES

    rows = {
        r.stage: (r.n_classes, r.n_rows, r.achieved_k)
        for r in QUERIES["dq_k_anonymity_suppress"]
        .spark_fn(spark, sf_dir).collect()
    }
    before, after = rows["before"], rows["after_suppress"]
    assert after[0] <= before[0] and after[1] <= before[1]
    if after[0] > 0:
        assert after[2] >= _KA_K


def test_ohlc_hand_case(spark):
    """Two hours with known extremes; open/close follow (ts, event_id)
    order including the event_id tie-break within one timestamp."""
    import datetime as dt
    import os
    import tempfile

    from helium_arango_etl_lite_spark.plans.catalog_round10b import (
        events_ohlc,
    )

    t0 = dt.datetime(2024, 3, 1, 10, 0, tzinfo=dt.timezone.utc)
    rows = [
        # hour 10: open 5.0 (earliest), high 9.0, low 1.0, close 7.0
        (1, t0 + dt.timedelta(minutes=0), 1, "m", 5.0, "{}"),
        (2, t0 + dt.timedelta(minutes=10), 1, "m", 9.0, "{}"),
        (3, t0 + dt.timedelta(minutes=20), 1, "m", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=30), 1, "m", 7.0, "{}"),
        # hour 11: same timestamp twice -> event_id breaks the tie
        (6, t0 + dt.timedelta(hours=1), 1, "m", 3.0, "{}"),
        (5, t0 + dt.timedelta(hours=1), 1, "m", 2.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(os.path.join(d, "events.parquet"))
        got = {
            r.hs: (r.open, r.high, r.low, r.close, r.n_events)
            for r in events_ohlc(spark, d).collect()
        }
    h10 = int(t0.timestamp())
    h11 = int((t0 + dt.timedelta(hours=1)).timestamp())
    assert got[h10] == (5.0, 9.0, 1.0, 7.0, 4)
    assert got[h11] == (2.0, 3.0, 2.0, 3.0, 2)  # id 5 opens, id 6 closes
