"""Multimodal column plumbing (SURVEY.md section 2.8).

Image/audio/video ride through the engine as opaque ``binary`` columns with
a typed metadata struct. The Spark-side plumbing — schema, batch iteration,
partition sizing — is real and tested. Since round 7 the decode interior is
real too: :func:`parse_ppm` (binary PPM P6 images) and :func:`parse_wav`
(RIFF/WAVE PCM audio) parse the actual byte layouts with no codec
library, :func:`parse_png` (round 9) decodes real PNGs with stdlib
``zlib`` alone (chunk walk + CRC verify + inflate + all five scanline
unfilters incl. Paeth), and :func:`real_decode` dispatches on the
container magic. Codecs that genuinely need external libraries
(JPEG/MP3/H.264) still raise ``NotImplementedError`` honestly.

Every decode stage here and every shard reader in shards.py runs one row
loop, ``_payload_rows`` (mapInPandas, a function from one payload to its
output rows), and every ``*_quarantine`` operator is ``_parse_or_quarantine``
over it with a per-format stats function and reason table; the media
formats share ``_MEDIA_REASONS`` and fall back to ``decode_error``.

Scale notes: binary payloads make row groups huge — the readers of such
tables must drop ``spark.sql.files.maxPartitionBytes`` and use
``mapInPandas`` (streamed Arrow batches, bounded memory) rather than
collect-style UDFs; that is the shape implemented here.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StringType,
    StructField, StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),  # opaque payload
        StructField("meta", StructType([
            StructField("mime", StringType(), True),
            StructField("width", LongType(), True),
            StructField("height", LongType(), True),
            StructField("duration_ms", LongType(), True),
        ]), True),
    ]
)

def real_decode(payload: bytes, kind: str):
    """Decode a media payload to (metadata dict, sample/pixel ndarray).

    Round-7: no longer a bare stub — dispatches on the container magic to
    the two REAL pure-Python decoders below (PPM P6 images, RIFF/WAVE
    PCM audio), which parse the actual container byte layout with no
    codec library. Compressed codecs (JPEG/PNG/MP3/H.264) still raise
    ``NotImplementedError`` honestly: they need external libraries not
    present in this container, and a fake would misrepresent coverage.
    """
    if payload is None:
        raise ValueError("null payload")
    if payload[:2] == b"P6":
        return parse_ppm(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return parse_wav(payload)
    if payload[:8] == PNG_SIG:
        return parse_png(payload)
    raise NotImplementedError(
        "compressed codec decode (JPEG/MP3/H.264/...) requires media "
        "libraries not present in this container; PPM, WAV PCM, and "
        "PNG (stdlib zlib, round 9) containers are decoded natively"
    )


def parse_ppm(buf: bytes) -> tuple[dict, np.ndarray]:
    """Real binary PPM (P6) decode, no image library: parse the ASCII
    header (magic, width, height, maxval — whitespace separated, with
    ``#`` comment support per the netpbm spec), then view the raw RGB
    plane as a (h, w, 3) uint8 array. Raises ValueError on malformed
    input (wrong magic, truncated pixel data) — quarantine upstream."""
    if buf[:2] != b"P6":
        raise ValueError(f"not a P6 PPM (magic {buf[:2]!r})")
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while buf[i : i + 1].isspace():
            i += 1
        if buf[i : i + 1] == b"#":  # comment runs to end of line
            while buf[i : i + 1] not in (b"\n", b""):
                i += 1
            continue
        j = i
        while j < len(buf) and not buf[j : j + 1].isspace():
            j += 1
        if i == j:
            raise ValueError("truncated PPM header")
        fields.append(int(buf[i:j]))
        i = j
    i += 1  # exactly one whitespace byte separates maxval from raster
    w, h, maxval = fields
    if not 1 <= maxval <= 255:
        # spec-valid PPMs with maxval >= 256 carry TWO bytes per sample;
        # silently viewing them as uint8 would return a garbled raster,
        # so reject rather than mis-decode (round-8 ADVICE fix).
        raise ValueError(f"PPM maxval {maxval} out of supported range 1..255")
    need = w * h * 3
    if len(buf) - i < need:
        raise ValueError(f"truncated PPM raster: {len(buf) - i} < {need}")
    px = np.frombuffer(buf, dtype=np.uint8, count=need, offset=i).reshape(
        h, w, 3
    )
    return {"kind": "image", "width": w, "height": h, "maxval": maxval}, px


def parse_wav(buf: bytes) -> tuple[dict, np.ndarray]:
    """Real RIFF/WAVE PCM decode, no audio library: validate the RIFF
    container, walk the chunk list (word-aligned, per the spec — not a
    fixed 44-byte offset, so files with LIST/INFO chunks parse too),
    read fmt (format/channels/rate/bits) and data. Returns 8-bit PCM as
    uint8 and 16-bit as little-endian int16. ValueError on malformed."""
    import struct

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        sz = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        if pos + 8 + sz > len(buf):
            # a declared size past the end of the buffer would silently
            # yield fewer samples (or an opaque numpy error for odd-length
            # 16-bit truncation) — raise the documented ValueError instead
            # (round-8 ADVICE fix).
            raise ValueError(
                f"truncated chunk {cid!r}: declares {sz} bytes, "
                f"{len(buf) - pos - 8} remain"
            )
        body = buf[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels = struct.unpack("<HH", fmt[:4])
    sample_rate = struct.unpack("<I", fmt[4:8])[0]
    bits = struct.unpack("<H", fmt[14:16])[0]
    if audio_format != 1:
        raise NotImplementedError(f"non-PCM WAV (format {audio_format})")
    if bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8)
    elif bits == 16:
        samples = np.frombuffer(data, dtype="<i2")
    else:
        raise ValueError(f"unsupported PCM width {bits}")
    meta = {
        "kind": "audio", "sample_rate": sample_rate,
        "n_channels": channels, "bits": bits,
    }
    return meta, samples


def _wav_samples(buf: bytes) -> tuple[dict, np.ndarray]:
    """:func:`parse_wav` for the stats stages: a zero-length data chunk is
    container-valid but has no amplitude stats (``s.max()`` would raise an
    opaque numpy ValueError), so it raises the typed error the quarantine
    split classifies."""
    meta, s = parse_wav(buf)
    if len(s) == 0:
        raise ValueError("empty data chunk")
    return meta, s


def _batch_features(contents: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic stand-in feature extractor: each payload's byte
    histogram folded into ``dim`` buckets and normalised by its length.
    Lets the full pipeline (batch shapes, Arrow round-trip, schema) be
    exercised and asserted without media libs. Whole-batch: one pass, no
    per-row Python.

    Concatenates every payload in the chunk into a single byte buffer and
    scatter-counts ``row_index * dim + byte % dim`` with one ``bincount``
    (a segmented histogram — the same trick a real decoder stage would use
    to amortise per-call overhead). Returns (n_bytes[rows], hist[rows, dim]
    normalised). Null payloads contribute an all-zero row.
    """
    vals = contents.to_numpy(dtype=object)
    n = len(vals)
    lens = np.fromiter(
        (0 if b is None else len(b) for b in vals), dtype=np.int64, count=n
    )
    blob = b"".join(b for b in vals if b is not None and len(b) > 0)
    hist = np.zeros((n, dim), dtype=np.int64)
    if blob:
        bytes8 = np.frombuffer(blob, dtype=np.uint8).astype(np.int64) % dim
        row_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
        flat = np.bincount(row_idx * dim + bytes8, minlength=n * dim)
        hist = flat.reshape(n, dim)
    feat = hist / np.maximum(1, lens)[:, None]
    return lens, feat


CHECKED_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("feature", ArrayType(DoubleType()), True),
    ]
)


def extract_features_checked(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary payloads
    (:func:`_batch_features`), emitted as array<double> rounded to 6dp so
    an ANSI-SQL oracle can reproduce the values exactly (the payloads
    under test are ASCII, so byte == codepoint on the SQL side).

    Arrow-batched: each pandas chunk holds a bounded slice of rows, so
    executor memory stays flat regardless of table size, and the Python
    stage is one vectorised histogram per chunk (no per-row loop). This is
    the canonical shape for any decode/resize/frame-sample stage.

    Rounding is half-away-from-zero, NOT Python's half-to-even ``round`` —
    SQL engines round half away, and power-of-two payload lengths hit
    exact .5 cases where the two conventions differ.
    """
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            lens, feat = _batch_features(pdf["content"], dim)
            # half-away-from-zero at 6dp, whole-matrix
            feat = np.floor(feat * 1e6 + 0.5) / 1e6
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": lens,
                    "feature": list(feat),
                }
            )

    return media.mapInPandas(batches, CHECKED_FEATURE_SCHEMA)


def text_as_media(docs: DataFrame) -> DataFrame:
    """Adapter used by tests/bench: documents.text encoded as a binary
    payload with metadata — gives the multimodal path real data to chew."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length("text").alias("width"),
            F.lit(1).cast("long").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# real container encode/decode (round 7): PPM images, WAV PCM audio
# ---------------------------------------------------------------------------

PPM_WIDTH = 8
PPM_MAX_H = 8
WAV_RATE = 8000
WAV_MAX_SAMPLES = 64

# constant middle of the WAV header (all bytes < 0x80, so utf-8 encode is
# byte-exact): 'WAVE', fmt chunk (PCM, mono, 8000 Hz, 8-bit), 'data' tag.
# 8000 = 0x1F40 -> LE bytes 0x40 0x1F 0x00 0x00 (byte_rate = rate * 1
# channel * 1 byte). Only the two size bytes vary per row.
_WAV_MID = (
    "\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01\x00\x01\x00"
    "\x40\x1f\x00\x00\x40\x1f\x00\x00\x01\x00\x08\x00data"
)


def encode_ppm_from_text(docs: DataFrame) -> DataFrame:
    """Build a REAL binary PPM (P6) per document, entirely JVM-side: the
    ASCII header plus the first width*h*3 text bytes as the RGB raster
    (documents are pure ASCII, so utf-8 encode is byte-exact — asserted
    by the oracle's ord() reproduction), width = ``PPM_WIDTH`` and
    h = min(``PPM_MAX_H``, len/3w); docs
    shorter than one pixel row are dropped (none exist in the driver
    data, min doc length 44 >= 24). The deterministic synthetic fixture
    for :func:`decode_ppm` — a real media lake would read binary columns
    straight from parquet."""
    h = F.least(F.lit(PPM_MAX_H), F.floor(F.length("text") / (3 * PPM_WIDTH))).cast(
        "int"
    )
    body = F.col("text").substr(F.lit(1), (h * (3 * PPM_WIDTH)).cast("int"))
    header = F.concat(
        F.lit(f"P6\n{PPM_WIDTH} "), h.cast("string"), F.lit("\n255\n")
    )
    return docs.filter(F.length("text") >= 3 * PPM_WIDTH).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.concat(header, body), "utf-8").alias("content"),
    )


def encode_wav_from_text(docs: DataFrame) -> DataFrame:
    """Build a REAL RIFF/WAVE 8-bit-PCM file per document, JVM-side: the
    first min(``WAV_MAX_SAMPLES``, len) text bytes are the unsigned samples.
    With WAV_MAX_SAMPLES <= 64 every variable header byte (RIFF size 36+n,
    data size n) stays < 0x80, so chr()+utf-8 encode is byte-exact.

    Empty documents are dropped (like the PPM encoder drops sub-row docs):
    a zero-sample WAV has no amplitude stats, the SQL oracle's
    generate_series(1, 0) emits no row for it, and decode_wav raises a
    typed error on it — filtering keeps both engines aligned (round-8
    ADVICE fix; no such doc exists in the driver data, min length 44)."""
    n = F.least(F.lit(WAV_MAX_SAMPLES), F.length("text")).cast("int")
    content = F.concat(
        F.lit("RIFF"),
        F.chr((n + 36).cast("long")),
        F.lit(_WAV_MID),
        F.chr(n.cast("long")),
        F.lit("\x00\x00\x00"),
        F.col("text").substr(F.lit(1), n),
    )
    return docs.filter(F.length("text") >= 1).select(
        F.col("doc_id").alias("media_id"),
        F.encode(content, "utf-8").alias("content"),
    )


PPM_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("maxval", LongType(), True),
        StructField("n_pixels", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
        StructField("min_byte", LongType(), True),
        StructField("max_byte", LongType(), True),
    ]
)


def _payload_rows(
    frame: DataFrame, key: str, blob: str, rows, schema: StructType
) -> DataFrame:
    """The row loop of every payload stage: mapInPandas over ``frame``,
    ``rows(key value, payload bytes)`` giving each payload's output rows.
    Arrow batches bound memory, map-only, no shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for k, buf in zip(pdf[key], pdf[blob]):
                out.extend(rows(k, bytes(buf)))
            yield pd.DataFrame(out, columns=schema.fieldNames())

    return frame.mapInPandas(batches, schema)


def _channel_sums(px: np.ndarray) -> list[int]:
    """R, G, B sums of an (h, w, ch) raster. Grayscale has one channel;
    its sum fills all three slots (sum_r == sum_g == sum_b holds for a
    gray raster expanded to RGB, so the contract stays oracle-checkable)."""
    csum = px.sum(axis=(0, 1), dtype=np.int64)
    if px.shape[2] == 1:
        csum = np.repeat(csum, 3)
    return [int(c) for c in csum]


def _raster_row(meta: dict, px: np.ndarray, third) -> tuple:
    """(width, height, ``third``, n_pixels, sum_r, sum_g, sum_b, min_byte,
    max_byte) of a decoded raster — the PPM and PNG stats rows."""
    w, h = meta["width"], meta["height"]
    return (w, h, third, w * h, *_channel_sums(px), int(px.min()), int(px.max()))


def decode_ppm(media: DataFrame) -> DataFrame:
    """mapInPandas over binary payloads -> per-image stats via the REAL
    PPM parser (:func:`parse_ppm`): dimensions come from the parsed
    header, channel sums from the decoded raster. Stats are integer-
    exact (sums, not means) so the SQL oracle reproduces them with zero
    float risk. The header parse is per-row Python but O(header); the
    raster reduction is one numpy pass per image — at real image sizes
    (MBs) the vectorized pixel work dominates the per-row overhead,
    the same cost shape as any decoder. Arrow batches bound memory."""

    def rows(mid, buf: bytes) -> list[tuple]:
        meta, px = parse_ppm(buf)
        return [(mid, *_raster_row(meta, px, meta["maxval"]))]

    return _payload_rows(media, "media_id", "content", rows, PPM_STATS_SCHEMA)


WAV_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("n_channels", LongType(), True),
        StructField("bits", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("sum_amp", LongType(), True),
        StructField("peak_amp", LongType(), True),
        StructField("min_amp", LongType(), True),
    ]
)


def decode_wav(media: DataFrame) -> DataFrame:
    """mapInPandas over binary payloads -> per-clip stats via the REAL
    RIFF/WAVE parser (:func:`parse_wav`): rate/channels/bits come from
    the parsed fmt chunk (a literal in the oracle — a parser that
    misreads offsets mismatches immediately), amplitude stats from the
    decoded PCM. Integer-exact like the PPM twin."""

    def rows(mid, buf: bytes) -> list[tuple]:
        meta, s = _wav_samples(buf)
        return [(
            mid, meta["sample_rate"], meta["n_channels"], meta["bits"],
            len(s), int(s.sum(dtype=np.int64)), int(s.max()), int(s.min()),
        )]

    return _payload_rows(media, "media_id", "content", rows, WAV_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# quarantine decode (round 8): malformed containers split, not crashed
# ---------------------------------------------------------------------------

# stable reason codes: the first entry whose text occurs in the error a
# parser raised names the guard that fired; mirrors the PERMISSIVE-mode
# corrupt-record split of quarantine_replay (sources/jsonl.py) applied to
# binary media
_MEDIA_REASONS = (
    ("bad_magic", "not a P6 PPM"),
    ("bad_maxval", "PPM maxval"),
    ("truncated", "truncated"),  # PPM header/raster, WAV chunk, PNG chunk
    ("not_riff", "not a RIFF/WAVE"),
    ("empty_data", "empty data chunk"),
    ("missing_chunk", "missing fmt/data"),
    ("non_pcm", "non-PCM WAV"),
    ("not_png", "not a PNG"),
    ("bad_crc", "PNG crc mismatch"),
    ("interlaced", "PNG interlace"),
    ("unsupported", "PNG bit depth"),
    ("unsupported", "PNG color type"),
)


def _reason(e: Exception, reasons, fallback: str) -> str:
    msg = str(e)
    return next((code for code, text in reasons if text in msg), fallback)


def quarantine_reason(e: Exception) -> str:
    """Map a media parser error to a stable reason code. Each code
    corresponds to a distinct guard in parse_ppm/parse_wav/parse_png, so
    the oracle pinning a code per corruption class verifies WHICH error
    path fired, not just that something failed."""
    return _reason(e, _MEDIA_REASONS, "decode_error")


def _parse_or_quarantine(
    frame: DataFrame, key: str, blob: str, stats, reasons, fallback: str,
    schema: StructType,
) -> DataFrame:
    """The parse-or-quarantine split every ``*_quarantine`` operator runs:
    one row per payload of ``frame`` — ``(key, 'ok', 'ok', *stats(payload))``,
    or, when ``stats`` raises a parser's ValueError/NotImplementedError,
    ``(key, 'quarantined', reason, NULL...)`` with the code of the first
    ``reasons`` entry whose text occurs in the error, else ``fallback``.
    At 100 TB a single corrupt object must never kill a decode stage; this
    is the media twin of the PERMISSIVE corrupt-record path the JSONL
    source uses (quarantine_replay). Map-only Arrow batches, no shuffle."""
    nulls = (None,) * (len(schema.fields) - 3)

    def rows(k, buf: bytes) -> list[tuple]:
        try:
            return [(k, "ok", "ok", *stats(buf))]
        except (ValueError, NotImplementedError) as e:
            return [(k, "quarantined", _reason(e, reasons, fallback), *nulls)]

    return _payload_rows(frame, key, blob, rows, schema)


QUARANTINE_PPM_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("status", StringType(), False),
        StructField("reason", StringType(), False),
        StructField("n_pixels", LongType(), True),
        StructField("sum_rgb", LongType(), True),
    ]
)


def _raster_stats(parse):
    """(n_pixels, sum of every channel byte) of the raster ``parse`` decodes."""

    def stats(buf: bytes) -> tuple[int, int]:
        meta, px = parse(buf)
        return meta["width"] * meta["height"], int(px.sum(dtype=np.int64))

    return stats


def decode_ppm_quarantine(media: DataFrame) -> DataFrame:
    """PPM decode that SPLITS malformed containers into quarantine rows
    instead of failing the job (:func:`_parse_or_quarantine`): status 'ok'
    with integer-exact raster stats, or status 'quarantined' with a reason
    code naming the guard that rejected it."""
    return _parse_or_quarantine(
        media, "media_id", "content", _raster_stats(parse_ppm),
        _MEDIA_REASONS, "decode_error", QUARANTINE_PPM_SCHEMA,
    )


QUARANTINE_WAV_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("status", StringType(), False),
        StructField("reason", StringType(), False),
        StructField("n_samples", LongType(), True),
        StructField("sum_amp", LongType(), True),
    ]
)


AUDIO_FEAT_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("window_idx", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("energy", LongType(), False),
        StructField("n_zero_cross", LongType(), False),
    ]
)


def audio_features(media: DataFrame, window: int = 16) -> DataFrame:
    """WINDOWED audio feature extraction over the real RIFF/WAVE decode
    — the step past :func:`decode_wav`'s whole-clip stats that real
    audio curation needs (silence trimming, speech/music gating, clip
    segmentation all work on windowed energy + zero-crossing rate).

    Per clip, per ``window``-sample frame (last frame partial):

    * ``energy`` = sum of squared amplitude (8-bit PCM centered at the
      spec midpoint 128; 16-bit is already signed) — integer-exact;
    * ``n_zero_cross`` = count of adjacent sample pairs INSIDE the
      frame whose DC-REMOVED signs differ. Every real ZCR
      implementation subtracts the clip's DC offset (its mean) before
      counting — and it is load-bearing here: the fixture's samples
      are ASCII text bytes (all < 128), so a raw 128-centered sign
      never flips, while the de-meaned sign carries real structure.
      Kept integer-exact by comparing ``v * n >= sum(v)`` instead of
      ``v >= mean`` (no float mean, no rounding ambiguity).

    Map-only Arrow batches over clips, zero shuffle; frames of one clip
    are computed in one numpy pass, clips are embarrassingly parallel —
    the same scale shape as every decode_* operator."""

    def rows(mid, buf: bytes) -> list[tuple]:
        meta, s = _wav_samples(buf)
        raw = s.astype(np.int64)
        v = raw - 128 if meta["bits"] == 8 else raw
        sg = raw * len(raw) >= raw.sum()  # DC-removed sign
        out = []
        for wi in range(0, len(v), window):
            seg = v[wi: wi + window]
            sseg = sg[wi: wi + window]
            out.append((
                mid, wi // window, len(seg), int((seg * seg).sum()),
                int((sseg[:-1] != sseg[1:]).sum()),
            ))
        return out

    return _payload_rows(media, "media_id", "content", rows, AUDIO_FEAT_SCHEMA)


def decode_wav_quarantine(media: DataFrame) -> DataFrame:
    """WAV decode with the same quarantine split as
    :func:`decode_ppm_quarantine`; additionally classifies the
    zero-length data chunk (container-valid, stats-undefined) and the
    non-PCM format code (honest NotImplementedError) as quarantine rows
    rather than job failures."""

    def stats(buf: bytes) -> tuple[int, int]:
        _, s = _wav_samples(buf)
        return len(s), int(s.sum(dtype=np.int64))

    return _parse_or_quarantine(
        media, "media_id", "content", stats,
        _MEDIA_REASONS, "decode_error", QUARANTINE_WAV_SCHEMA,
    )


def encode_ppm_corrupted(docs: DataFrame) -> DataFrame:
    """The PPM fixture with DETERMINISTIC corruption classes keyed on
    doc_id % 10, built entirely JVM-side: 3 -> wrong magic ('Q6'),
    5 -> header maxval 999 (spec-valid 2-byte-per-sample form the parser
    rejects rather than mis-decodes), 7 -> raster truncated 10 bytes
    short of the header's promise; every other doc encodes cleanly.
    Each class exercises a different parse_ppm guard."""
    cls = F.col("doc_id") % 10
    h = F.least(F.lit(PPM_MAX_H), F.floor(F.length("text") / (3 * PPM_WIDTH))).cast(
        "int"
    )
    row = 3 * PPM_WIDTH
    body = F.col("text").substr(F.lit(1), (h * row).cast("int"))
    body_short = F.col("text").substr(F.lit(1), (h * row - 10).cast("int"))
    hdr = lambda magic, maxval: F.concat(  # noqa: E731
        F.lit(f"{magic}\n{PPM_WIDTH} "), h.cast("string"), F.lit(f"\n{maxval}\n")
    )
    content = (
        F.when(cls == 3, F.concat(hdr("Q6", 255), body))
        .when(cls == 5, F.concat(hdr("P6", 999), body))
        .when(cls == 7, F.concat(hdr("P6", 255), body_short))
        .otherwise(F.concat(hdr("P6", 255), body))
    )
    return docs.filter(F.length("text") >= row).select(
        F.col("doc_id").alias("media_id"),
        F.encode(content, "utf-8").alias("content"),
    )


# fmt-chunk bytes 0-1 are the audio format code; 0x02 = ADPCM (non-PCM)
_WAV_MID_NONPCM = _WAV_MID[:15] + "\x02" + _WAV_MID[16:]


def encode_wav_corrupted(docs: DataFrame) -> DataFrame:
    """The WAV fixture with deterministic corruption classes keyed on
    doc_id % 10: 3 -> wrong magic ('RIFX'), 5 -> non-PCM format code
    (ADPCM) in the fmt chunk, 7 -> data chunk declares n samples but the
    payload is cut 10 bytes short (the truncated-chunk guard),
    9 -> container-valid zero-length data chunk (the empty-data guard);
    every other doc encodes cleanly. All JVM-side string builds — every
    variable byte stays < 0x80 so utf-8 encode is byte-exact."""
    cls = F.col("doc_id") % 10
    n = F.least(F.lit(WAV_MAX_SAMPLES), F.length("text")).cast("int")
    zeros = F.lit("\x00\x00\x00")

    def wav(magic: str, mid: str, data_n, body) -> F.Column:
        return F.concat(
            F.lit(magic), F.chr((data_n + 36).cast("long")), F.lit(mid),
            F.chr(data_n.cast("long")), zeros, body,
        )

    full = F.col("text").substr(F.lit(1), n)
    short = F.col("text").substr(F.lit(1), (n - 10).cast("int"))
    content = (
        F.when(cls == 3, wav("RIFX", _WAV_MID, n, full))
        .when(cls == 5, wav("RIFF", _WAV_MID_NONPCM, n, full))
        .when(cls == 7, wav("RIFF", _WAV_MID, n, short))
        .when(cls == 9, wav("RIFF", _WAV_MID, F.lit(0), F.lit("")))
        .otherwise(wav("RIFF", _WAV_MID, n, full))
    )
    return docs.filter(F.length("text") >= 1).select(
        F.col("doc_id").alias("media_id"),
        F.encode(content, "utf-8").alias("content"),
    )


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("ts_ms", LongType(), False),
        StructField("frame_sig", StringType(), True),
    ]
)


def frame_sample(
    media: DataFrame, frame_ms: int = 40, k: int = 4
) -> DataFrame:
    """Uniform video frame sampling: pick ``k`` evenly spaced frames from
    each clip's timeline and emit one row per sampled frame.

    The Spark-side plumbing is entirely real and JVM-side: the frame count
    derives from the metadata struct (duration / frame interval), the
    sampled indices are a ``transform(sequence(...))`` array (distinct, so
    short clips yield fewer rows), and the fan-out is one ``explode`` — the
    same row-multiplying shape as the reference's witness explode
    (reference follower.py:180-202), applied to media. The decode of the
    frame at ``ts_ms`` would call :func:`real_decode` (real for PPM/WAV
    containers since round 7, codec formats unimplemented); the
    deterministic stand-in slices the payload proportionally to the frame
    position and signs it with md5, so tests and the SQL oracle can pin
    every row. At 100 TB this stage runs BEFORE any decode: sampling on
    metadata costs one scan of (id, meta) with the binary column pruned
    away, and only sampled frames ever reach the expensive decoder.
    """
    n_frames = F.greatest(
        F.lit(1), (F.col("meta.duration_ms") / F.lit(frame_ms)).cast("long")
    )
    idx = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: (i * n_frames / F.lit(k)).cast("long"),
        )
    )
    exploded = media.select(
        "media_id",
        "content",
        n_frames.alias("n_frames"),
        F.explode(idx).alias("frame_idx"),
    )
    # deterministic stand-in for the decode: slice 16 bytes at the frame's
    # proportional offset and sign them (real_decode is the stubbed step)
    off = (
        F.col("frame_idx")
        * (F.octet_length("content") / F.col("n_frames"))
    ).cast("long")
    return exploded.withColumn("_off", off).select(
        "media_id",
        "frame_idx",
        (F.col("frame_idx") * frame_ms).alias("ts_ms"),
        F.md5(
            F.expr("substring(content, cast(_off + 1 as int), 16)")
        ).alias("frame_sig"),
    )


# ---------------------------------------------------------------------------
# real PNG decode (round 9): pure-stdlib zlib inflate + scanline unfilter
# ---------------------------------------------------------------------------
#
# PNG is the one compressed image container decodable with the stdlib
# alone: the pixel stream is zlib-deflated (zlib module) and the only
# image-specific logic is the per-scanline predictive filter (None /
# Sub / Up / Average / Paeth). 8-bit gray (color type 0) and RGB (2)
# are fully decoded; 16-bit, palette, alpha, and Adam7 interlace raise
# honestly — they are format features, not codec dependencies, and can
# be added behind the same parser without new libraries.

PNG_SIG = b"\x89PNG\r\n\x1a\n"
PNG_WIDTH = 8
PNG_MAX_H = 8


def _text_raster(text) -> np.ndarray | None:
    """The PNG fixtures' (h, PNG_WIDTH, 3) raster: the first 3*w*h utf-8
    bytes of ``text``, h = min(PNG_MAX_H, len/3w); None below one row."""
    data = str(text).encode("utf-8")
    h = min(PNG_MAX_H, len(data) // (3 * PNG_WIDTH))
    if h < 1:
        return None
    return np.frombuffer(
        data, dtype=np.uint8, count=3 * PNG_WIDTH * h
    ).reshape(h, PNG_WIDTH, 3)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _png_filter_scanlines(px: np.ndarray) -> bytes:
    """Forward-filter an (h, w, ch) uint8 raster with filter type
    row % 5 — deliberately cycling through ALL five PNG filters so a
    decoder that gets any one unfilter algorithm wrong (including
    Paeth's tie-breaking order) cannot round-trip the raster."""
    h, w, ch = px.shape
    out = bytearray()
    prior = np.zeros(w * ch, dtype=np.int16)
    for r in range(h):
        raw = px[r].reshape(-1).astype(np.int16)
        f = r % 5
        out.append(f)
        if f == 0:
            filt = raw
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(ch, np.int16), raw[:-ch]])
            filt = (raw - left) % 256
        elif f == 2:  # Up
            filt = (raw - prior) % 256
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(ch, np.int16), raw[:-ch]])
            filt = (raw - (left + prior) // 2) % 256
        else:  # Paeth
            left = np.concatenate([np.zeros(ch, np.int16), raw[:-ch]])
            upleft = np.concatenate([np.zeros(ch, np.int16), prior[:-ch]])
            p = left + prior - upleft
            pa, pb, pc = (
                np.abs(p - left), np.abs(p - prior), np.abs(p - upleft)
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left,
                np.where(pb <= pc, prior, upleft),
            )
            filt = (raw - pred) % 256
        out.extend(filt.astype(np.uint8).tobytes())
        prior = raw
    return bytes(out)


def build_png(px: np.ndarray) -> bytes:
    """Assemble a real, spec-valid PNG from an (h, w, 3) or (h, w, 1)
    uint8 raster: signature, IHDR, one zlib-deflated IDAT of filtered
    scanlines, IEND — every chunk CRC'd. The writer parse_png is
    certified against (write-our-own / read-our-own would be circular,
    so tests ALSO verify fidelity against the raw input raster, and the
    SQL oracle pins the decoded stats to the source bytes)."""
    import struct
    import zlib

    h, w, ch = px.shape
    color_type = 2 if ch == 3 else 0
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    idat = zlib.compress(_png_filter_scanlines(px), 6)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def parse_png(buf: bytes) -> tuple[dict, np.ndarray]:
    """Real PNG decode, stdlib only: validate the 8-byte signature, walk
    the chunk list verifying EVERY chunk's CRC32 (a flipped payload byte
    must surface as the crc guard, not as garbled pixels), read IHDR,
    concatenate IDAT, zlib-inflate, then reverse the per-scanline filter
    (None/Sub/Up/Average/Paeth — Paeth with the spec's exact <= tie
    order). Supports 8-bit gray and RGB; palette/alpha/16-bit/Adam7
    raise NotImplementedError honestly. ValueError on malformed input —
    quarantine upstream, same contract as parse_ppm/parse_wav."""
    import struct
    import zlib

    if buf[:8] != PNG_SIG:
        raise ValueError(f"not a PNG (signature {buf[:8]!r})")
    pos = 8
    ihdr = None
    idat = bytearray()
    seen_end = False
    while pos < len(buf) and not seen_end:
        if pos + 8 > len(buf):
            raise ValueError(f"truncated PNG chunk header at {pos}")
        (length,) = struct.unpack(">I", buf[pos: pos + 4])
        ctype = buf[pos + 4: pos + 8]
        if pos + 12 + length > len(buf):
            raise ValueError(
                f"truncated PNG chunk {ctype!r}: declares {length} bytes, "
                f"{len(buf) - pos - 12} remain"
            )
        data = buf[pos + 8: pos + 8 + length]
        (stored,) = struct.unpack(
            ">I", buf[pos + 8 + length: pos + 12 + length]
        )
        calc = zlib.crc32(ctype + data)
        if stored != calc:
            raise ValueError(
                f"PNG crc mismatch in {ctype!r}: stored {stored:#x}, "
                f"computed {calc:#x}"
            )
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            seen_end = True
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR chunk")
    if not seen_end:
        raise ValueError("truncated PNG: no IEND chunk")
    w, h, depth, color_type, comp, filt_method, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if interlace != 0:
        raise NotImplementedError("PNG interlace (Adam7) not supported")
    if depth != 8:
        raise NotImplementedError(f"PNG bit depth {depth} not supported")
    if color_type not in (0, 2):
        raise NotImplementedError(
            f"PNG color type {color_type} not supported (gray/RGB only)"
        )
    if comp != 0 or filt_method != 0:
        raise ValueError("PNG nonzero compression/filter method")
    ch = 3 if color_type == 2 else 1
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"truncated PNG stream: {e}") from e
    stride = w * ch
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"PNG raster size mismatch: {len(raw)} != {h * (1 + stride)}"
        )
    px = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int16)
    for r in range(h):
        line = raw[r * (1 + stride): (r + 1) * (1 + stride)]
        f = line[0]
        filt = np.frombuffer(line, dtype=np.uint8, offset=1).astype(np.int16)
        if f == 0:
            rec = filt
        elif f == 2:  # Up
            rec = (filt + prior) % 256
        elif f in (1, 3, 4):  # Sub / Average / Paeth: left-sequential
            rec = np.empty(stride, dtype=np.int16)
            for i in range(stride):
                left = rec[i - ch] if i >= ch else 0
                up = prior[i]
                upleft = prior[i - ch] if i >= ch else 0
                if f == 1:
                    pred = left
                elif f == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - upleft
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                    pred = (
                        left if pa <= pb and pa <= pc
                        else up if pb <= pc else upleft
                    )
                rec[i] = (filt[i] + pred) % 256
        else:
            raise ValueError(f"PNG unknown filter type {f} in row {r}")
        px[r] = rec.astype(np.uint8)
        prior = rec
    meta = {
        "kind": "image", "width": w, "height": h,
        "depth": depth, "channels": ch,
    }
    return meta, px.reshape(h, w, ch)


def encode_png_from_text(docs: DataFrame) -> DataFrame:
    """Build a REAL PNG per document: the first width*h*3 text bytes are
    the RGB raster (:func:`_text_raster`; documents are pure ASCII, so
    utf-8 bytes == the ord() values the oracle computes), scanlines
    filtered row%5 through
    all five PNG filter types, zlib-deflated, CRC'd. Runs in
    mapInPandas (zlib + CRC need Python — unlike the PPM/WAV fixtures
    there is no JVM string-build form of deflate); the oracle never
    sees a PNG byte, it predicts the decoded stats from the text."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                px = _text_raster(text)
                if px is not None:
                    rows.append((int(doc_id), build_png(px)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    return docs.select("doc_id", "text").mapInPandas(
        batches,
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("content", BinaryType(), False),
            ]
        ),
    )


PNG_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("depth", LongType(), True),
        StructField("n_pixels", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
        StructField("min_byte", LongType(), True),
        StructField("max_byte", LongType(), True),
    ]
)


def decode_png(media: DataFrame) -> DataFrame:
    """mapInPandas over binary payloads -> per-image stats via the REAL
    PNG parser (:func:`parse_png`): the raster survives deflate +
    filter round-trips byte-exactly, so the stats are integer-exact and
    a SQL oracle reproduces them from the source text with ord() — any
    error in CRC handling, inflate framing, or any of the five unfilter
    algorithms mismatches immediately. Per-scanline unfilter is
    sequential BY SPEC (each row predicts from the row above), but
    rows of different images decode independently — the stage is
    map-only Arrow batches, embarrassing parallelism across images,
    same as every production PNG pipeline."""

    def rows(mid, buf: bytes) -> list[tuple]:
        meta, px = parse_png(buf)
        return [(mid, *_raster_row(meta, px, meta["depth"]))]

    return _payload_rows(media, "media_id", "content", rows, PNG_STATS_SCHEMA)


QUARANTINE_PNG_SCHEMA = QUARANTINE_PPM_SCHEMA


def encode_png_corrupted(docs: DataFrame) -> DataFrame:
    """The PNG fixture with DETERMINISTIC corruption classes keyed on
    doc_id % 10: 3 -> first signature byte flipped (signature guard),
    5 -> IHDR declares Adam7 interlace WITH a recomputed CRC (the
    honest NotImplementedError path — the chunk is intact, the feature
    is unsupported), 7 -> one IDAT payload byte flipped with the CRC
    left stale (crc guard — this is what bit rot looks like), 9 -> blob
    cut 10 bytes short (truncated-chunk guard). Each class exercises a
    DIFFERENT parse_png guard."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                px = _text_raster(text)
                if px is None:
                    continue
                h = px.shape[0]
                png = bytearray(build_png(px))
                cls = int(doc_id) % 10
                if cls == 3:
                    png[0] ^= 0x01
                elif cls == 5:
                    ihdr = struct.pack(
                        ">IIBBBBB", PNG_WIDTH, h, 8, 2, 0, 0, 1  # interlace=1
                    )
                    png = bytearray(
                        PNG_SIG + _png_chunk(b"IHDR", ihdr)
                        + bytes(png[8 + 25:])  # keep original IDAT/IEND
                    )
                elif cls == 7:
                    # first IDAT payload byte: sig(8) + IHDR chunk(25)
                    # + IDAT len/type(8)
                    png[8 + 25 + 8] ^= 0xFF
                elif cls == 9:
                    png = png[:-10]
                rows.append((int(doc_id), bytes(png)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    return docs.select("doc_id", "text").mapInPandas(
        batches,
        StructType(
            [
                StructField("media_id", LongType(), False),
                StructField("content", BinaryType(), False),
            ]
        ),
    )


def decode_png_quarantine(media: DataFrame) -> DataFrame:
    """PNG decode with the decode_ppm_quarantine split: one row per
    payload — 'ok' with integer-exact raster stats, or 'quarantined'
    with the reason code of the guard that rejected it (signature, crc,
    truncation, or the honest unsupported-feature refusal)."""
    return _parse_or_quarantine(
        media, "media_id", "content", _raster_stats(parse_png),
        _MEDIA_REASONS, "decode_error", QUARANTINE_PNG_SCHEMA,
    )


# ---------------------------------------------------------------------------
# nearest-neighbor resize over decoded PNG rasters
# ---------------------------------------------------------------------------

PNG_RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("src_w", LongType(), True),
        StructField("src_h", LongType(), True),
        StructField("out_w", LongType(), True),
        StructField("out_h", LongType(), True),
        StructField("sum_r", LongType(), True),
        StructField("sum_g", LongType(), True),
        StructField("sum_b", LongType(), True),
    ]
)


def resize_nn(px: "np.ndarray", out_h: int, out_w: int) -> "np.ndarray":
    """Nearest-neighbor resample of an (h, w, ch) raster to
    (out_h, out_w, ch): output cell (j, k) takes source pixel
    (floor(j*h/out_h), floor(k*w/out_w)) — the floor convention both
    down- and up-samples (rows repeat when out_h > h) and is exactly
    reproducible in SQL, which is why it is the fixture's choice over
    center-sampling (floor((j+0.5)*h/out_h))."""
    h, w = px.shape[0], px.shape[1]
    ri = (np.arange(out_h, dtype=np.int64) * h) // out_h
    ci = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return px[ri][:, ci]


def png_resize_stats(
    media: DataFrame, out_h: int, out_w: int
) -> DataFrame:
    """Decode each PNG (:func:`parse_png`) and nearest-neighbor resize
    to (out_h, out_w), reporting per-channel sums of the RESIZED
    raster — the thumbnail/normalize stage every multimodal training
    pipeline runs after decode, map-only Arrow batches like the
    decode stage (rows of one image are sequential by PNG spec;
    images are embarrassingly parallel)."""

    def rows(mid, buf: bytes) -> list[tuple]:
        meta, px = parse_png(buf)
        return [(
            mid, meta["width"], meta["height"], out_w, out_h,
            *_channel_sums(resize_nn(px, out_h, out_w)),
        )]

    return _payload_rows(media, "media_id", "content", rows, PNG_RESIZE_SCHEMA)
