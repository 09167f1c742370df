"""WebDataset-style tar shard packing and indexing.

Large-scale training data ships as tar shards (WebDataset / Megatron
dataloaders stream members straight out of them), so an engine claiming
the training-data pipeline needs both directions over the REAL format:

* :func:`pack_tar_shards` — one USTAR tar per group, built with the
  stdlib writer under ``applyInPandas`` (each shard is one group — the
  exact dataflow a sharding job runs: group keys are shard ids, group
  payload is the member set);
* :func:`parse_tar_index` / :func:`index_tar_shards` — a from-scratch
  512-byte-block header walk (name, octal size, CHECKSUM VERIFIED the
  ustar way: header bytes summed with the checksum field as spaces)
  that emits each member's header offset, size, and the md5 of the
  payload bytes it sliced out of the shard.

Writing with the stdlib and reading with the hand-rolled parser is the
point: agreement certifies the parser against an independent
implementation, and the payload md5 certifies byte-exact extraction —
the SQL oracle recomputes the SAME offsets from pure arithmetic
(512-block spans cumulated in member order) and the SAME md5 from the
source text without ever seeing a tar byte.

The three containers (tar, .jsonl.gz, zip) share their plumbing: ``_pack``
builds one blob per ``key_col`` group with members in doc_id order,
``_index`` and the readers walk blobs through multimodal's
``_payload_rows``, ``_corrupt`` applies the deterministic corruption
classes, and each ``*_quarantine`` reader is multimodal's
``_parse_or_quarantine`` with a per-format reason table falling back to
``parse_error``.
"""

from __future__ import annotations

import hashlib
import io
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, LongType, StringType, StructField, StructType,
)

from .multimodal import _parse_or_quarantine, _payload_rows

SHARD_SCHEMA = StructType(
    [
        StructField("source", StringType(), False),
        StructField("shard", BinaryType(), False),
        StructField("n_members", LongType(), False),
    ]
)

INDEX_SCHEMA = StructType(
    [
        StructField("source", StringType(), False),
        StructField("member", StringType(), False),
        StructField("header_offset", LongType(), False),
        StructField("size", LongType(), False),
        StructField("payload_md5", StringType(), False),
    ]
)

QUARANTINE_SHARD_SCHEMA = StructType(
    [
        StructField("source", StringType(), False),
        StructField("status", StringType(), False),
        StructField("reason", StringType(), False),
        StructField("n_members", LongType(), True),
    ]
)


def _pack(docs: DataFrame, key_col: str, write, schema: StructType) -> DataFrame:
    """One blob per ``key_col`` group under ``applyInPandas``:
    ``write(doc_ids, texts)`` builds it from the group's documents in
    doc_id order. Group = shard is the real sharding dataflow — the
    group key IS the shard assignment."""
    if key_col != "source":
        docs = docs.withColumnRenamed(key_col, "source")
    blob = schema.fieldNames()[1]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        return pd.DataFrame(
            [
                {
                    "source": pdf["source"].iloc[0],
                    blob: write(pdf["doc_id"], pdf["text"]),
                    "n_members": len(pdf),
                }
            ]
        )

    return docs.select("source", "doc_id", "text").groupBy(
        "source"
    ).applyInPandas(build, schema)


def _index(shards: DataFrame, parse) -> DataFrame:
    """One row per member that ``parse`` walks in each shard blob, with
    the md5 of the bytes it SLICED OUT of the shard (not of any side
    channel) — hash agreement with a text-side oracle certifies the whole
    offset walk byte-for-byte."""

    def rows(src, buf: bytes) -> list[tuple]:
        return [
            (src, name, off, size, hashlib.md5(payload).hexdigest())
            for name, off, size, payload in parse(buf)
        ]

    return _payload_rows(shards, "source", "shard", rows, INDEX_SCHEMA)


def _corrupt(shards: DataFrame, blob: str, cls_col: str, damage) -> DataFrame:
    """``damage(bytearray, cls)`` applied to every ``blob`` of ``shards``,
    ``cls_col`` holding the corruption class per row (0 = intact)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for src, buf, cls in zip(pdf["source"], pdf[blob], pdf[cls_col]):
                out.append((src, bytes(damage(bytearray(bytes(buf)), cls))))
            yield pd.DataFrame(out, columns=["source", blob])

    return shards.mapInPandas(
        batches,
        StructType(
            [
                StructField("source", StringType(), False),
                StructField(blob, BinaryType(), False),
            ]
        ),
    )


def pack_tar_shards(docs: DataFrame, key_col: str = "source") -> DataFrame:
    """One USTAR tar per ``key_col`` group: members are ``{doc_id}.txt``
    in doc_id order with zeroed metadata (mtime/uid/gid, fixed mode) so
    the bytes are deterministic (cf. llm_shard_assign, whose rendezvous
    output feeds this directly in llm_curation_end_to_end)."""

    def write(doc_ids, texts) -> bytes:
        bio = io.BytesIO()
        with tarfile.open(
            fileobj=bio, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for doc_id, text in zip(doc_ids, texts):
                data = str(text).encode("utf-8")
                ti = tarfile.TarInfo(name=f"{int(doc_id)}.txt")
                ti.size = len(data)
                ti.mtime = 0
                ti.mode = 0o644
                ti.uid = ti.gid = 0
                ti.uname = ti.gname = ""
                tf.addfile(ti, io.BytesIO(data))
        return bio.getvalue()

    return _pack(docs, key_col, write, SHARD_SCHEMA)


def parse_tar_index(buf: bytes) -> list[tuple[str, int, int, bytes]]:
    """Walk 512-byte ustar blocks: (name, header_offset, size, payload)
    per member. Verifies each header's checksum (bytes summed with the
    8-byte checksum field replaced by spaces — the ustar rule), stops
    at the first all-zero block, raises ValueError on corruption —
    the same quarantine-upstream contract as parse_ppm/parse_wav."""
    out = []
    pos = 0
    terminated = False
    while pos + 512 <= len(buf):
        hdr = buf[pos: pos + 512]
        if hdr == b"\0" * 512:
            terminated = True
            break
        # checksum FIRST: no field is interpreted (octal parse, utf-8
        # name decode) until the header proves intact — a corrupt name
        # byte must surface as the checksum error, not a decode crash
        try:
            stored = int(hdr[148:156].split(b"\0")[0].strip(), 8)
        except ValueError as e:
            raise ValueError(
                f"tar checksum field unreadable at offset {pos}"
            ) from e
        calc = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if stored != calc:
            raise ValueError(
                f"tar checksum mismatch at offset {pos}: "
                f"stored {stored}, computed {calc}"
            )
        name = hdr[0:100].split(b"\0", 1)[0].decode("utf-8")
        size_field = hdr[124:136].split(b"\0")[0].strip()
        if not size_field:
            raise ValueError("tar header missing size")
        size = int(size_field, 8)
        if pos + 512 + size > len(buf):
            raise ValueError(f"truncated tar member {name!r}")
        payload = buf[pos + 512: pos + 512 + size]
        out.append((name, pos, size, payload))
        pos += 512 + ((size + 511) // 512) * 512
    # real tars END with two all-zero blocks: a blob that runs out of
    # bytes before a zero terminator was cut — even when the cut lands
    # exactly on a 512-block member boundary (terminator and any
    # subsequent members lost). Unconditional, so boundary cuts surface
    # as truncation instead of silently parsing as a shorter archive.
    if not terminated:
        raise ValueError(
            "truncated tar: missing zero terminator"
            + ("" if pos == len(buf) else " (trailing partial block)")
        )
    return out


def index_tar_shards(shards: DataFrame) -> DataFrame:
    """One row per tar member (:func:`parse_tar_index`) with the md5 of
    its payload bytes (``_index``)."""
    return _index(shards, parse_tar_index)


# ---------------------------------------------------------------------------
# corrupt-shard quarantine (the archive twin of decode_ppm_quarantine)
# ---------------------------------------------------------------------------

_TAR_REASONS = (("checksum", "checksum"), ("truncated", "truncated"))


def corrupt_shards(shards: DataFrame, cls_col: str) -> DataFrame:
    """Apply DETERMINISTIC corruption classes to shard blobs (the
    llm_multimodal_quarantine fixture discipline lifted to archives):
    class 0 = intact, 1 = one name byte flipped in the first header
    (checksum guard), 2 = blob cut one byte short of the first member's
    payload end — derived from the member's ACTUAL header size so even
    a tiny (or empty) first member cannot slip through as 'ok'
    (truncation guard). ``cls_col`` holds the class per row."""

    def damage(b: bytearray, cls) -> bytearray:
        if cls == 1:
            b[1] ^= 0xFF
        elif cls == 2:
            # cut one byte before the first member's payload end (or into
            # the header itself for an empty member) so the cut ALWAYS
            # lands mid-member regardless of size
            size = int(b[124:136].split(b"\0")[0].strip(), 8)
            b = b[: 512 + size - 1] if size >= 1 else b[:511]
        return b

    return _corrupt(shards, "shard", cls_col, damage)


def index_tar_shards_quarantine(shards: DataFrame) -> DataFrame:
    """Shard indexing that SPLITS corrupt archives into quarantine rows
    instead of failing the job: one row per shard — 'ok' with the member
    count, or 'quarantined' with a reason naming the parser guard that
    fired ('checksum' / 'truncated'). At fleet scale one rotted shard
    must cost one quarantine row, never the nightly indexing job."""
    return _parse_or_quarantine(
        shards, "source", "shard", lambda buf: (len(parse_tar_index(buf)),),
        _TAR_REASONS, "parse_error", QUARANTINE_SHARD_SCHEMA,
    )


# ---------------------------------------------------------------------------
# compressed JSONL shards (.jsonl.gz): the other container corpora ship in
# ---------------------------------------------------------------------------

GZ_SHARD_SCHEMA = StructType(
    [
        StructField("source", StringType(), False),
        StructField("blob", BinaryType(), False),
        StructField("n_members", LongType(), False),
    ]
)

GZ_DOC_SCHEMA = StructType(
    [
        StructField("source", StringType(), False),
        StructField("member_idx", LongType(), False),
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("text_md5", StringType(), False),
    ]
)

_GZIP_REASONS = (
    ("truncated", "truncated gzip member"),
    ("corrupt", "corrupt gzip member"),
)


def pack_gzip_jsonl(docs: DataFrame, key_col: str = "source") -> DataFrame:
    """One ``.jsonl.gz`` blob per group: each document is its OWN gzip
    member (one JSON line, ``mtime=0`` for byte determinism), members
    concatenated — the multi-member form the gzip spec guarantees readers
    must accept, and the layout parallel writers actually produce (every
    worker gzips its slice, the blobs concatenate without recompression).
    Members in doc_id order."""
    import gzip
    import json

    def write(doc_ids, texts) -> bytes:
        parts = []
        for doc_id, text in zip(doc_ids, texts):
            line = json.dumps(
                {"doc_id": int(doc_id), "text": str(text)},
                ensure_ascii=False, separators=(", ", ": "),
            ) + "\n"
            parts.append(gzip.compress(line.encode("utf-8"), mtime=0))
        return b"".join(parts)

    return _pack(docs, key_col, write, GZ_SHARD_SCHEMA)


def parse_gzip_members(buf: bytes) -> list[bytes]:
    """Walk a concatenated-member gzip blob MEMBER BY MEMBER with
    ``zlib.decompressobj(wbits=31)`` — each member's end is found via
    ``unused_data``, so the walk verifies the member framing (and each
    member's CRC32 + length trailer, which zlib checks on ``flush``)
    rather than blind-decompressing the whole stream. ValueError on a
    truncated or corrupt member — quarantine upstream, the same
    contract as parse_tar_index/parse_png."""
    import zlib

    out = []
    rest = buf
    while rest:
        d = zlib.decompressobj(wbits=31)
        try:
            data = d.decompress(rest)
            data += d.flush()
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member {len(out)}: {e}") from e
        if not d.eof:
            raise ValueError(
                f"truncated gzip member {len(out)}: stream ended mid-member"
            )
        out.append(data)
        rest = d.unused_data
    return out


def read_gzip_jsonl(shards: DataFrame) -> DataFrame:
    """mapInPandas over ``.jsonl.gz`` blobs -> one row per document with
    the md5 and byte length of the PARSED text (json-decoded, so the
    check is container -> member -> line -> field, end to end)."""
    import json

    def rows(src, buf: bytes) -> list[tuple]:
        out = []
        for i, member in enumerate(parse_gzip_members(buf)):
            rec = json.loads(member)
            data = rec["text"].encode("utf-8")
            out.append((
                src, i, int(rec["doc_id"]), len(data),
                hashlib.md5(data).hexdigest(),
            ))
        return out

    return _payload_rows(shards, "source", "blob", rows, GZ_DOC_SCHEMA)


def corrupt_gzip_shards(shards: DataFrame, cls_col: str) -> DataFrame:
    """Deterministic corruption classes for ``.jsonl.gz`` blobs (the
    corrupt_shards discipline applied to the gzip container): class
    0 = intact, 1 = one byte flipped inside the first member's deflate
    stream (surfaces as a zlib inflate error or the member's CRC32
    check — bit rot), 2 = blob cut 5 bytes short (truncated final
    member)."""

    def damage(b: bytearray, cls) -> bytearray:
        if cls == 1:
            b[15] ^= 0xFF  # past the 10-byte member header
        elif cls == 2:
            b = b[:-5]
        return b

    return _corrupt(shards, "blob", cls_col, damage)


def read_gzip_jsonl_quarantine(shards: DataFrame) -> DataFrame:
    """Member-walking gzip read that SPLITS corrupt blobs into
    quarantine rows: one row per blob — 'ok' with the member count, or
    'quarantined' with the reason naming the guard that fired
    ('corrupt' = inflate/CRC failure, 'truncated' = stream cut
    mid-member). Same schema/contract as index_tar_shards_quarantine.

    LIMIT (container-layer): a truncation that lands exactly on a
    member boundary leaves a valid, complete, SHORTER blob — CRC32 and
    ISIZE both verify, so no container-level framing can reject it.
    Whole-member loss is therefore invisible here; the production
    completeness check is the EXPECTED member count per blob, which the
    capped shard index provides (pack with ``key_col`` and compare
    ``n_members`` against the index — see llm_gzip_quarantine_capped)."""
    return _parse_or_quarantine(
        shards, "source", "blob", lambda buf: (len(parse_gzip_members(buf)),),
        _GZIP_REASONS, "parse_error", QUARANTINE_SHARD_SCHEMA,
    )


# ---------------------------------------------------------------------------
# ZIP shards: the container with a REAL completeness check
# ---------------------------------------------------------------------------
#
# The third container format, and the one that closes the gzip family's
# documented hole: a concatenated-gzip blob cut exactly on a member
# boundary is a VALID shorter blob (read_gzip_jsonl_quarantine's LIMIT
# note), so whole-member loss is invisible to gzip framing. ZIP puts a
# central directory + end-of-central-directory (EOCD) record at the
# TAIL: the EOCD carries the entry count and the directory's exact
# offset/size, so ANY strict-prefix cut — including one landing exactly
# on a member boundary — destroys the EOCD and is rejected. (What ZIP
# still cannot catch: an adversary REWRITING the directory for a
# shorter archive. Accidental truncation detection is structural;
# tamper detection still needs the external shard index, same as tar.)

ZIP_SHARD_SCHEMA = SHARD_SCHEMA

_ZIP_REASONS = (
    ("crc", "CRC32"),
    ("truncated", "end-of-central-directory"),
    ("truncated", "span mismatch"),
    ("truncated", "count mismatch"),
    ("truncated", "overruns"),
    ("truncated", "bad local header"),
    ("truncated", "bad signature"),
)


def pack_zip_shards(docs: DataFrame, key_col: str = "source") -> DataFrame:
    """One STORED (uncompressed) zip per ``key_col`` group: members are
    ``{doc_id}.txt`` in doc_id order, written with the stdlib
    ``zipfile`` under deterministic metadata (epoch DOS timestamp
    1980-01-01, fixed mode/create_system) so the bytes are reproducible.
    STORED members keep the payload byte-addressable for range reads —
    the same property the tar shards exploit — while the central
    directory adds the completeness check tar and gzip lack.

    LIMIT (classic zip, enforced): ``allowZip64=False``, so a pack
    group exceeding 65,535 members or 4 GiB fails LOUD at pack time
    (zipfile.LargeZipFile) instead of silently emitting a ZIP64
    archive :func:`parse_zip_index` does not speak. The member-capped
    pack key (llm_zip_index_capped) is the production policy that
    keeps every shard far inside both limits."""
    import zipfile

    def write(doc_ids, texts) -> bytes:
        bio = io.BytesIO()
        with zipfile.ZipFile(
            bio, "w", compression=zipfile.ZIP_STORED, allowZip64=False
        ) as zf:
            for doc_id, text in zip(doc_ids, texts):
                zi = zipfile.ZipInfo(
                    filename=f"{int(doc_id)}.txt",
                    date_time=(1980, 1, 1, 0, 0, 0),
                )
                zi.create_system = 3
                zi.external_attr = 0o644 << 16
                zf.writestr(zi, str(text).encode("utf-8"))
        return bio.getvalue()

    return _pack(docs, key_col, write, ZIP_SHARD_SCHEMA)


def parse_zip_index(buf: bytes) -> list[tuple[str, int, int, bytes]]:
    """Walk a zip the way a RELIABLE reader must: EOCD first (fixed 22
    bytes at the tail — this engine writes no archive comment, so a
    tail that is not an EOCD record IS truncation), then every central
    directory entry, then each member's LOCAL header cross-checked
    against its central twin (name, sizes), payload sliced by offset
    arithmetic and CRC32-verified against the central record. Returns
    ``(name, local_header_offset, size, payload)`` per member in
    directory order; raises ValueError naming the failed guard —
    quarantine upstream, the parse_tar_index contract.

    Completeness is STRUCTURAL here: the EOCD entry count must equal
    the directory walk's count and the directory must end exactly where
    the EOCD says it does, so any strict-prefix cut — even one landing
    exactly on a member boundary, the cut gzip framing provably cannot
    reject — surfaces as ValueError instead of a silently shorter
    archive."""
    import struct
    import zlib

    if len(buf) < 22 or buf[-22:-18] != b"PK\x05\x06":
        raise ValueError("zip missing end-of-central-directory record")
    # classic-zip parser by contract (the writer enforces
    # allowZip64=False): a ZIP64 EOCD locator directly before the EOCD
    # must be named, not misreported as a span mismatch
    if len(buf) >= 42 and buf[-42:-38] == b"PK\x06\x07":
        raise ValueError(
            "zip64 archive: not supported by this classic-zip parser "
            "(pack_zip_shards enforces allowZip64=False; cap members "
            "per shard as llm_zip_index_capped does)"
        )
    n_total = struct.unpack("<H", buf[-12:-10])[0]
    cd_size = struct.unpack("<I", buf[-10:-6])[0]
    cd_off = struct.unpack("<I", buf[-6:-2])[0]
    eocd_pos = len(buf) - 22
    if cd_off + cd_size != eocd_pos:
        raise ValueError(
            f"zip central directory span mismatch: directory claims "
            f"[{cd_off}, {cd_off + cd_size}), EOCD sits at {eocd_pos}"
        )
    out = []
    pos = cd_off
    while pos < eocd_pos:
        if buf[pos: pos + 4] != b"PK\x01\x02":
            raise ValueError(
                f"zip central directory entry {len(out)}: bad signature "
                f"at offset {pos}"
            )
        (
            _vermade, _verneed, _flags, method, _t, _d, crc, csz, usz,
            nlen, elen, clen, _disk, _iattr, _eattr, lho,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", buf[pos + 4: pos + 46])
        name = buf[pos + 46: pos + 46 + nlen].decode("utf-8")
        if method != 0 or csz != usz:
            raise ValueError(f"zip member {name!r}: not STORED")
        # local header cross-check: signature, then name/size agreement
        lh = buf[lho: lho + 30]
        if lh[0:4] != b"PK\x03\x04":
            raise ValueError(
                f"zip member {name!r}: bad local header at offset {lho}"
            )
        lnlen = struct.unpack("<H", lh[26:28])[0]
        lelen = struct.unpack("<H", lh[28:30])[0]
        if buf[lho + 30: lho + 30 + lnlen].decode("utf-8") != name:
            raise ValueError(f"zip member {name!r}: local name mismatch")
        data_off = lho + 30 + lnlen + lelen
        if data_off + csz > cd_off:
            raise ValueError(
                f"zip member {name!r}: payload overruns central directory"
            )
        payload = buf[data_off: data_off + csz]
        if zlib.crc32(payload) != crc:
            raise ValueError(f"zip member {name!r}: CRC32 mismatch")
        out.append((name, lho, csz, payload))
        pos += 46 + nlen + elen + clen
    if pos != eocd_pos:
        raise ValueError("zip central directory overruns its EOCD offset")
    if len(out) != n_total:
        raise ValueError(
            f"zip member count mismatch: EOCD says {n_total}, "
            f"directory walk found {len(out)}"
        )
    return out


def index_zip_shards(shards: DataFrame) -> DataFrame:
    """One row per zip member (:func:`parse_zip_index`) with the md5 of
    the payload bytes it sliced out by offset arithmetic — the
    index_tar_shards contract over the zip container."""
    return _index(shards, parse_zip_index)


def corrupt_zip_shards(shards: DataFrame, cls_col: str) -> DataFrame:
    """Deterministic corruption classes for zip shards: 0 = intact,
    1 = one byte flipped in the first central-directory entry's CRC32
    field (payload-vs-directory disagreement — bit rot on EITHER side
    surfaces as this guard, and unlike a payload flip it stays a 'crc'
    failure even when the first member is empty), 2 = blob cut 5 bytes
    short (EOCD destroyed — tail truncation), 3 = blob cut exactly at
    the last member's local header boundary (the MEMBER-BOUNDARY cut
    that leaves a valid shorter gzip blob — here it also destroys the
    EOCD, which is the point of the format)."""
    import struct

    def damage(b: bytearray, cls) -> bytearray:
        if cls == 1:
            # central entry 0's CRC32 field sits 16 bytes into the record
            # (sig 4 + versions 4 + flags/method 4 + time/date 4)
            cd_off = struct.unpack("<I", bytes(b[-6:-2]))[0]
            b[cd_off + 16] ^= 0xFF
        elif cls == 2:
            b = b[:-5]
        elif cls == 3:
            cd_off = struct.unpack("<I", bytes(b[-6:-2]))[0]
            # last central entry's local-header offset
            pos, lho = cd_off, 0
            while pos < len(b) - 22:
                lho = struct.unpack("<I", bytes(b[pos + 42: pos + 46]))[0]
                nlen, elen, clen = struct.unpack(
                    "<HHH", bytes(b[pos + 28: pos + 34])
                )
                pos += 46 + nlen + elen + clen
            b = b[:lho]
        return b

    return _corrupt(shards, "shard", cls_col, damage)


def index_zip_shards_quarantine(shards: DataFrame) -> DataFrame:
    """Zip indexing that SPLITS corrupt archives into quarantine rows:
    one row per shard — 'ok' with the member count, or 'quarantined'
    with the reason naming the guard that fired ('crc' = payload rot,
    'truncated' = EOCD/directory framing destroyed). Unlike the gzip
    walker, a member-boundary cut lands in 'truncated' here — the
    structural completeness check the container itself provides."""
    return _parse_or_quarantine(
        shards, "source", "shard", lambda buf: (len(parse_zip_index(buf)),),
        _ZIP_REASONS, "parse_error", QUARANTINE_SHARD_SCHEMA,
    )
