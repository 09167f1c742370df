"""Round-7 additions: real PPM/WAV container decode and top-2 power
iteration (oracle parity itself is covered for every registered entry by
test_oracle_parity.py; these pin the parser edge cases and the spectral
invariants the oracle can't express)."""

from __future__ import annotations

import io
import math
import struct
from contextlib import redirect_stdout

import numpy as np
import pytest

from helium_arango_etl_lite_spark.operators.llm import multimodal as mm
from helium_arango_etl_lite_spark.plans.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_shard_assign_is_map_only(spark, sf_dir):
    """Rendezvous sharding must stay a pure scan: no shuffle, no join,
    no aggregation — at 100 TB this runs as a zero-exchange map stage."""
    plan = plan_of(spark, sf_dir, "llm_shard_assign")
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert node not in plan


def test_decode_entries_are_map_only(spark, sf_dir):
    """Container decode is mapInPandas over the scan — any exchange here
    would mean the binary payloads shuffle, which must never happen."""
    for name in ("llm_multimodal_decode_ppm", "llm_multimodal_decode_wav"):
        plan = plan_of(spark, sf_dir, name)
        assert "hashpartitioning" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_vocab_growth_single_data_shuffle(spark, sf_dir):
    """The only data-sized exchange is the shingle groupBy (min first
    doc); the decile bucketing joins a broadcast 1-row count and the
    cumulative window runs over <= 10 rows."""
    plan = plan_of(spark, sf_dir, "llm_vocab_growth")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # t-agg + bucket-agg


def _wav_bytes(samples: bytes, rate: int = 8000, bits: int = 8,
               channels: int = 1, extra_chunk: bytes = b"") -> bytes:
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
        channels * bits // 8, bits,
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += extra_chunk
    chunks += b"data" + struct.pack("<I", len(samples)) + samples
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_parse_ppm_header_with_comment_and_exact_raster():
    raster = bytes(range(12))
    meta, px = mm.parse_ppm(b"P6\n# a comment line\n2 2\n255\n" + raster)
    assert meta == {"kind": "image", "width": 2, "height": 2, "maxval": 255}
    assert px.shape == (2, 2, 3)
    assert px.tobytes() == raster


def test_parse_ppm_rejects_malformed():
    with pytest.raises(ValueError):
        mm.parse_ppm(b"P5\n2 2\n255\n" + bytes(12))  # wrong magic (PGM)
    with pytest.raises(ValueError):
        mm.parse_ppm(b"P6\n2 2\n255\n" + bytes(11))  # truncated raster


def test_parse_wav_walks_chunk_list_not_fixed_offset():
    # an 8-byte junk chunk between fmt and data: a fixed-44-byte-offset
    # "parser" would read garbage; the chunk walk must skip it
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    meta, s = mm.parse_wav(_wav_bytes(bytes([97, 98, 99]), extra_chunk=extra))
    assert meta["sample_rate"] == 8000 and meta["bits"] == 8
    assert s.tolist() == [97, 98, 99]


def test_parse_wav_pcm16_and_malformed():
    samples = struct.pack("<4h", -32768, -1, 0, 32767)
    meta, s = mm.parse_wav(_wav_bytes(samples, bits=16))
    assert meta["bits"] == 16
    assert s.tolist() == [-32768, -1, 0, 32767]
    with pytest.raises(ValueError):
        mm.parse_wav(b"RIFX" + bytes(40))  # not RIFF/WAVE
    with pytest.raises(ValueError):
        mm.parse_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")  # no chunks


def test_real_decode_dispatches_and_stays_honest():
    meta, _ = mm.real_decode(b"P6\n1 1\n255\nabc", "image")
    assert meta["kind"] == "image"
    meta, _ = mm.real_decode(_wav_bytes(b"ab"), "audio")
    assert meta["kind"] == "audio"
    # PNG dispatches to the real stdlib-zlib decoder since round 9 (the
    # garbage after the signature surfaces as a typed parse error, not a
    # NotImplementedError refusal)
    with pytest.raises(ValueError):
        mm.real_decode(b"\x89PNG\r\n\x1a\n....", "image")
    # codecs that genuinely need external libraries still refuse honestly
    with pytest.raises(NotImplementedError):
        mm.real_decode(b"\xff\xd8\xff\xe0....", "image")  # JPEG/JFIF


def test_decode_entries_cover_every_document(spark, sf_dir):
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    ppm = QUERIES["llm_multimodal_decode_ppm"].spark_fn(spark, sf_dir)
    wav = QUERIES["llm_multimodal_decode_wav"].spark_fn(spark, sf_dir)
    assert ppm.count() == n_docs  # min doc length 44 >= one pixel row
    assert wav.count() == n_docs
    r = ppm.limit(1).collect()[0]
    assert r.width == mm.PPM_WIDTH and r.n_pixels == r.width * r.height


def test_shard_assign_minimal_churn_and_balance(spark, sf_dir):
    """The rendezvous property the oracle can't phrase globally: docs NOT
    on the dropped shard keep their assignment; dropped-shard docs all
    land elsewhere; the assignment is roughly balanced (each of the 8
    shards within 3x of uniform on 500 docs)."""
    from helium_arango_etl_lite_spark.plans.catalog_round7 import N_SHARDS

    out = QUERIES["llm_shard_assign"].spark_fn(spark, sf_dir).collect()
    counts = [0] * N_SHARDS
    for r in out:
        counts[r.shard] += 1
        if r.shard == N_SHARDS - 1:
            assert r.moved and r.shard_after_drop != N_SHARDS - 1
        else:
            assert not r.moved and r.shard_after_drop == r.shard
    uniform = len(out) / N_SHARDS
    assert all(uniform / 3 <= c <= uniform * 3 for c in counts), counts


def test_vocab_growth_is_monotone_and_totals_to_distinct_shingles(spark, sf_dir):
    import pyspark.sql.functions as F

    from helium_arango_etl_lite_spark.operators.llm.dedup import word_shingles

    rows = sorted(
        QUERIES["llm_vocab_growth"].spark_fn(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert len(rows) > 1, "curve degenerated to one bucket"
    assert [r.bucket for r in rows] == sorted({r.bucket for r in rows})
    assert all(r.new_tokens > 0 for r in rows)
    cums = [r.cum_vocab for r in rows]
    assert cums == sorted(cums)
    assert sum(r.new_tokens for r in rows) == cums[-1]
    n_distinct = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(word_shingles(F.col("text"), 3)).alias("t"))
        .select("t").distinct().count()
    )
    assert cums[-1] == n_distinct


def test_power_iteration_2_components_are_consistent(spark, sf_dir):
    """Component 1 must equal the single-direction entry exactly; both
    components unit-norm; near-orthogonal after deflation (exact
    orthogonality is lost to the 6dp rounding of intermediates)."""
    one = {
        (r.dim, r.loading)
        for r in QUERIES["llm_power_iteration"].spark_fn(spark, sf_dir).collect()
    }
    two = QUERIES["llm_power_iteration_2"].spark_fn(spark, sf_dir).collect()
    c1 = sorted((r.dim, r.loading) for r in two if r.component == 1)
    c2 = sorted((r.dim, r.loading) for r in two if r.component == 2)
    assert set(c1) == one
    v1 = np.array([x for _, x in c1])
    v2 = np.array([x for _, x in c2])
    assert math.isclose(float(np.linalg.norm(v1)), 1.0, abs_tol=1e-4)
    assert math.isclose(float(np.linalg.norm(v2)), 1.0, abs_tol=1e-4)
    assert abs(float(v1 @ v2)) < 0.05


def test_ibf_bits_formula_matches_duckdb_bin_length():
    """The Bloom size formula must be bit-identical across engines:
    Python's (2n-1).bit_length() vs DuckDB's length(bin(2n-1)) — a
    divergence silently desynchronizes every hash position."""
    import duckdb

    from helium_arango_etl_lite_spark.plans.catalog_dedup import _ibf_bits_py

    for n in [0, 1, 2, 3, 400, 511, 512, 513, 4000, 5000, 400_000]:
        duck = duckdb.sql(
            f"SELECT greatest(1024, 1 << length(bin(greatest(2 * {n} - 1, 1))))"
        ).fetchone()[0]
        assert _ibf_bits_py(n) == duck, n


