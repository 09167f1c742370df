"""Round-10 widening: the ZIP container family, data-quality suites,
unigram-LM segmentation and event readouts (its hybrid-retrieval rank
fusion and retrieval-evaluation entries are in catalog_similarity.py).

* ``llm_zip_shard_index`` / ``llm_zip_fetch`` / ``llm_zip_quarantine``
  — the THIRD shard container (after USTAR tar and concatenated-member
  gzip), and the one with a structural completeness check: the
  end-of-central-directory record carries the member count and the
  directory's exact span, so the member-boundary truncation that leaves
  a VALID shorter gzip blob (read_gzip_jsonl_quarantine's documented
  limit) is rejected here by the container itself. STORED members keep
  payloads byte-addressable, so the tar family's range-read discipline
  carries over unchanged.
* ``dq_expectations`` — a declarative expectation suite (rule table ->
  pass/fail counts) folding all row-level rules for a table into ONE
  partial-aggregatable scan; complements dq_profile (stats) with
  contract verification.
* ``llm_zip_index_capped`` — the member-capped shard-key policy applied
  to the zip container (here the cap bounds TASK MEMORY under
  applyInPandas, not wall — see SCALE_SOAK.md round 10 cont. 4).
* ``llm_unigram_segment`` / ``llm_unigram_nll`` — unigram-LM subword
  segmentation (the SentencePiece family, the other major subword
  algorithm next to llm_bpe_*): integer-micro-nat piece scores, the
  Viterbi recurrence UNROLLED into codegen'd column expressions, and
  backtrack-free optimal-path piece counting via the
  f_{a-1} + s + rf_{L-b} == f_L membership identity; the oracle
  replays the whole chain including both DP unrolls.
* ``llm_unigram_em`` — one full hard-EM round on top: round-1 counts
  become the new (smoothed) piece probabilities, every word
  re-segments, and the oracle replays BOTH rounds — four unrolled DP
  chains in one SQL statement.
* ``dq_referential_integrity`` — orphan foreign keys AND parent<-child
  coverage gaps across the star schema, both directions; the fixture
  is fully dense, so pytest exercises the violation path on a broken
  fixture.
* ``llm_bpe_fertility`` — tokens-per-word distribution under the
  learned BPE merges, riding the shared train loop with one extra
  vocabulary-sized aggregate.
* ``events_changepoint`` — single change-point per event type via the
  one-pass prefix-sum variance-reduction identity; windows are
  hourly-table-sized, never corpus-sized.
* ``dq_k_anonymity`` — equivalence-class privacy-risk sweep over a
  quasi-identifier tuple: one QI-keyed pass, then a 4-row threshold
  cross over the class-sized aggregate.
* ``llm_dataset_card`` — the one-scan corpus release summary (volume,
  diversity, duplication, length extremes), every statistic
  partial-aggregatable in a single pass.
* ``dq_k_anonymity_suppress`` — the enforcement step: drop sub-k QI
  classes and certify the surviving release achieves k by
  construction.
* ``events_ohlc`` — hourly open/high/low/close per event type: all
  four readouts are PICKS (no float arithmetic), so raw doubles pass
  the exact-match gate; windows partition by (type, hour).

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star storage + evaluation +
data-quality families (SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash32, hash32_oracle_sql
from .catalog_round9 import _CAP_MEMBERS as _ZIP_CAP
from .registry import load_table, register

# ---------------------------------------------------------------------------
# ZIP shards: pack with the stdlib, index with a from-scratch parser
# ---------------------------------------------------------------------------

# zipfile + ZIP_STORED layout (verified writer-side): each member costs
# exactly 30 (local header) + len(name) + len(payload) bytes, members
# back-to-back from offset 0, central directory after the last payload —
# so every local header offset is pure cumulative arithmetic the oracle
# can replay without seeing a zip byte (the tar 512-block discipline
# with zip's 30+name span).
_ZIP_SQL = """
WITH d AS (SELECT source, doc_id, text, strlen(text)::BIGINT AS sz
           FROM documents),
o AS (SELECT source, doc_id, sz, md5(text) AS payload_md5,
             30 + strlen(doc_id::VARCHAR || '.txt')::BIGINT + sz AS span
      FROM d)
SELECT source,
       doc_id::VARCHAR || '.txt' AS member,
       coalesce(sum(span) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS header_offset,
       sz AS size,
       payload_md5
FROM o"""


@register(
    "llm_zip_shard_index",
    _ZIP_SQL,
    doc="ZIP shard round-trip — the third container format, and the one "
        "with a STRUCTURAL completeness check: pack one STORED zip per "
        "source under applyInPandas (stdlib writer, epoch DOS "
        "timestamps for byte determinism), then index every shard with "
        "a from-scratch parser that walks EOCD -> central directory -> "
        "local headers, cross-checks names/sizes between the directory "
        "and each local header, verifies every payload's CRC32 against "
        "its central record, and REQUIRES the directory walk to land "
        "exactly on the EOCD with exactly the advertised entry count — "
        "so the member-boundary truncation that leaves a valid shorter "
        "gzip blob (the gzip family's documented limit) is rejected by "
        "the container itself. The oracle never sees a zip byte: local "
        "offsets are pure cumulative arithmetic (30 + name + payload "
        "per STORED member, members back-to-back from 0) and the md5 "
        "comes from the source text — hash agreement certifies writer, "
        "parser, and byte-exact extraction at once. SCALE: one "
        "shard-key shuffle to pack, map-only to index; STORED members "
        "stay byte-addressable for range reads "
        "(operators/llm/shards.py:parse_zip_index).",
    tags=("llm", "multimodal", "storage", "scale"),
)
def llm_zip_shard_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.shards import index_zip_shards, pack_zip_shards

    docs = load_table(spark, sf_dir, "documents")
    return index_zip_shards(pack_zip_shards(docs))


_ZIP_FETCH_SQL = """
WITH d AS (SELECT source, doc_id, text FROM documents)
SELECT source,
       doc_id::VARCHAR || '.txt' AS member,
       strlen(text)::BIGINT AS size,
       md5(text) AS payload_md5
FROM d"""


@register(
    "llm_zip_fetch",
    _ZIP_FETCH_SQL,
    doc="The CONSUME side of llm_zip_shard_index: range-read every "
        "member back out of its shard with pure JVM byte slicing — "
        "substring(shard, header_offset + 31 + length(member), size); "
        "a STORED zip member's payload starts right after its 30-byte "
        "local header + name, so the index alone supports exact "
        "range-request reads with NO decoder in the read path (the "
        "llm_webdataset_fetch discipline over the zip container; "
        "member names here are ASCII, so char length == byte length). "
        "The parser runs once to BUILD the index; every read after is "
        "codegen'd substring+md5. Index->shard join keyed on shard id "
        "(broadcast at this shard count; co-partitioned at fleet "
        "scale).",
    tags=("llm", "multimodal", "storage"),
)
def llm_zip_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.shards import index_zip_shards, pack_zip_shards

    docs = load_table(spark, sf_dir, "documents")
    shards = pack_zip_shards(docs)
    shards = shards.localCheckpoint(eager=False)  # feeds index + fetch
    idx = index_zip_shards(shards)
    return idx.join(
        F.broadcast(shards.select("source", "shard")), "source"
    ).select(
        "source",
        "member",
        "size",
        F.md5(
            F.expr(
                "substring(shard, header_offset + 31 + length(member), size)"
            )
        ).alias("payload_md5"),
    )


def _zip_quarantine_sql() -> str:
    h = hash32_oracle_sql("'zq:' || source")
    return f"""
WITH s AS (SELECT source, count(*)::BIGINT AS n_docs
           FROM documents GROUP BY 1)
SELECT source,
       CASE WHEN {h} % 4 = 0 THEN 'ok' ELSE 'quarantined' END AS status,
       CASE {h} % 4 WHEN 0 THEN 'ok'
                    WHEN 1 THEN 'crc'
                    ELSE 'truncated' END AS reason,
       CASE WHEN {h} % 4 = 0 THEN n_docs ELSE NULL END AS n_members
FROM s"""


@register(
    "llm_zip_quarantine",
    _zip_quarantine_sql(),
    doc="Corrupt-shard quarantine over the zip container, incl. the cut "
        "gzip PROVABLY cannot catch: corruption classes keyed on the "
        "shard id (hash % 4: intact / central-directory CRC byte "
        "flipped -> payload-vs-directory CRC32 guard / tail cut 5 "
        "bytes -> EOCD guard / cut EXACTLY at the last member's local "
        "header boundary -> EOCD guard again). Class 3 is the point: "
        "the same member-boundary truncation leaves a VALID shorter "
        "gzip blob (read_gzip_jsonl_quarantine's documented limit "
        "needs the external capped index to catch it), while zip's "
        "tail-anchored EOCD makes ANY strict-prefix cut structurally "
        "detectable — pytest pins that property for every cut "
        "position. Residual honesty: an adversary REWRITING the "
        "directory still needs the external shard index; structure "
        "catches accidents, not tampering. Map-only walk; one rotted "
        "shard costs one quarantine row "
        "(operators/llm/shards.py:index_zip_shards_quarantine).",
    tags=("llm", "storage", "dq", "quarantine"),
)
def llm_zip_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.shards import (
        corrupt_zip_shards, index_zip_shards_quarantine, pack_zip_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    shards = pack_zip_shards(docs).withColumn(
        "cls",
        (hash32(F.concat(F.lit("zq:"), F.col("source"))) % 4).cast("int"),
    )
    return index_zip_shards_quarantine(corrupt_zip_shards(shards, "cls"))


# ---------------------------------------------------------------------------
# declarative data-quality expectations: rules evaluated in ONE scan/table
# ---------------------------------------------------------------------------

_DQX_LANGS = ("en", "de", "fr", "es")  # allowlist that has drifted: 'zh'
_DQX_MIN_CHARS = 100                   # short-doc floor
_DQX_MAX_PRICE = 300000.0              # price sanity ceiling
_DQX_STATUSES = ("O", "F")             # 'P' entered the feed unannounced

_DQX_SQL = f"""
WITH d AS (SELECT
        count(*)::BIGINT AS n,
        sum(CASE WHEN text IS NULL OR length(text) = 0
                 THEN 1 ELSE 0 END)::BIGINT AS f_nonempty,
        sum(CASE WHEN lang IN {_DQX_LANGS!r} THEN 0 ELSE 1 END)::BIGINT
          AS f_lang,
        sum(CASE WHEN n_chars >= {_DQX_MIN_CHARS} THEN 0 ELSE 1 END)::BIGINT
          AS f_minlen,
        (count(*) - count(DISTINCT doc_id))::BIGINT AS f_unique
    FROM documents),
o AS (SELECT
        count(*)::BIGINT AS n,
        sum(CASE WHEN o_totalprice > 0
                  AND o_totalprice <= {_DQX_MAX_PRICE}
                 THEN 0 ELSE 1 END)::BIGINT AS f_price,
        sum(CASE WHEN o_orderstatus IN {_DQX_STATUSES!r} THEN 0 ELSE 1
            END)::BIGINT AS f_status,
        sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT
          AS f_date
    FROM orders)
SELECT 'doc_text_nonempty' AS rule_id, n AS n_checked,
       f_nonempty AS n_failed FROM d
UNION ALL SELECT 'doc_lang_allowlist', n, f_lang FROM d
UNION ALL SELECT 'doc_min_length', n, f_minlen FROM d
UNION ALL SELECT 'doc_id_unique', n, f_unique FROM d
UNION ALL SELECT 'ord_price_range', n, f_price FROM o
UNION ALL SELECT 'ord_status_valid', n, f_status FROM o
UNION ALL SELECT 'ord_date_not_null', n, f_date FROM o"""


@register(
    "dq_expectations",
    _DQX_SQL,
    doc="Declarative expectation suite (the great-expectations-style "
        "gate a pipeline runs before promoting a batch): 7 rules over "
        "2 tables — non-empty text, language allowlist, minimum doc "
        "length, key uniqueness, price range, status-set membership, "
        "date non-null — each reported as (rule_id, n_checked, "
        "n_failed). The fixture DELIBERATELY violates three rules "
        "(allowlist drift, a price ceiling, an unannounced status "
        "code), so the failure-counting path is value-visible to the "
        "driver hash, not a wall of zeros. SCALE: all row-level rules "
        "for a table fold into ONE partial-aggregatable pass (N rules "
        "never cost N scans); the uniqueness rule rides the same agg "
        "as a count-distinct. Unpivot to rule rows is on the 1-row "
        "aggregate, not the corpus (complements dq_profile, which "
        "reports column STATS; this verifies declared CONTRACTS).",
    tags=("dq", "agg", "quality"),
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    d = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (
                F.col("text").isNull() | (F.length("text") == 0)
            ).cast("long")
        ).alias("f_nonempty"),
        # NULL must COUNT AS A FAILURE (the archetypal bad value a DQ
        # gate exists to catch): when(pass, 0).otherwise(1) mirrors the
        # oracle's CASE WHEN pass THEN 0 ELSE 1 exactly — a bare
        # sum((~pred).cast(long)) would skip NULL rows instead
        F.sum(
            F.when(F.col("lang").isin(*_DQX_LANGS), 0).otherwise(1)
        ).cast("long").alias("f_lang"),
        F.sum(
            F.when(F.col("n_chars") >= _DQX_MIN_CHARS, 0).otherwise(1)
        ).cast("long").alias("f_minlen"),
        (F.count(F.lit(1)) - F.countDistinct("doc_id"))
        .cast("long")
        .alias("f_unique"),
    )
    o = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("o_totalprice") > 0)
                & (F.col("o_totalprice") <= _DQX_MAX_PRICE),
                0,
            ).otherwise(1)
        ).cast("long").alias("f_price"),
        F.sum(
            F.when(
                F.col("o_orderstatus").isin(*_DQX_STATUSES), 0
            ).otherwise(1)
        ).cast("long").alias("f_status"),
        F.sum(F.col("o_orderdate").isNull().cast("long")).alias("f_date"),
    )
    d_rows = d.selectExpr(
        "stack(4, "
        "'doc_text_nonempty', n, f_nonempty, "
        "'doc_lang_allowlist', n, f_lang, "
        "'doc_min_length', n, f_minlen, "
        "'doc_id_unique', n, f_unique"
        ") AS (rule_id, n_checked, n_failed)"
    )
    o_rows = o.selectExpr(
        "stack(3, "
        "'ord_price_range', n, f_price, "
        "'ord_status_valid', n, f_status, "
        "'ord_date_not_null', n, f_date"
        ") AS (rule_id, n_checked, n_failed)"
    )
    return d_rows.unionByName(o_rows)


# ---------------------------------------------------------------------------
# member-capped zip sharding (the 100 TB policy, zip edition)
# ---------------------------------------------------------------------------

_ZIPC_SQL = f"""
WITH d AS (SELECT source, doc_id, text,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id)
                    - 1 AS seq
           FROM documents),
c AS (SELECT source || '/' || (seq // {_ZIP_CAP})::VARCHAR AS shard_key,
             doc_id, text, strlen(text)::BIGINT AS sz
      FROM d),
o AS (SELECT shard_key, doc_id, sz, md5(text) AS payload_md5,
             30 + strlen(doc_id::VARCHAR || '.txt')::BIGINT + sz AS span
      FROM c)
SELECT shard_key,
       doc_id::VARCHAR || '.txt' AS member,
       coalesce(sum(span) OVER (PARTITION BY shard_key ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS header_offset,
       sz AS size,
       payload_md5
FROM o"""


@register(
    "llm_zip_index_capped",
    _ZIPC_SQL,
    doc="Member-capped zip sharding — the capped-key policy "
        "(llm_webdataset_index_capped / llm_gzip_jsonl_capped) applied "
        "to the zip container the moment it lands, not a round later: "
        "per-source packing makes 20 giant pack groups and 20 giant "
        "walk tasks at x100 (25k members/blob, most cores idle), so "
        f"the pack key becomes source + (per-source sequence // "
        f"{_ZIP_CAP}), bounding members/blob at {_ZIP_CAP} — corpus "
        "growth adds shards, never members-per-shard, keeping pack "
        "groups and walk tasks uniform at 100 TB. Doubly useful here: "
        "the EOCD already catches accidental truncation structurally, "
        "and the capped index adds the EXPECTED-shard/member-count "
        "check that also catches directory REWRITES (the residual "
        "honesty note on llm_zip_quarantine). The oracle recomputes "
        "the capped key from rank arithmetic and every local offset "
        "from the same 30+name+payload cumsum, now partitioned by "
        "shard_key (operators/llm/shards.py:pack_zip_shards key_col).",
    tags=("llm", "storage", "multimodal", "scale"),
)
def llm_zip_index_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.shards import index_zip_shards, pack_zip_shards

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    capped = docs.select(
        F.concat(
            F.col("source"),
            F.lit("/"),
            F.floor((F.row_number().over(w) - 1) / _ZIP_CAP)
            .cast("string"),
        ).alias("shard_key"),
        "doc_id",
        "text",
    )
    out = index_zip_shards(pack_zip_shards(capped, key_col="shard_key"))
    return out.withColumnRenamed("source", "shard_key")


# ---------------------------------------------------------------------------
# unigram-LM subword segmentation (the OTHER subword algorithm next to BPE)
# ---------------------------------------------------------------------------

def _unigram_col_builders() -> tuple[list, list, list, list]:
    """The SQL pivot + DP column generators shared by the round-1 CTE
    chain and the EM round's second chain — one source of truth so the
    two unrolls can never drift apart (the Python side shares them the
    same way via _unigram_build's dp())."""
    from ..operators.llm.text import (
        UNI_MAX_PLEN as P, UNI_MAX_WLEN as W, UNI_SENT as SENT,
    )

    piv, rpiv = [], []
    for a in range(1, W + 1):
        for b in range(a, min(W, a + P - 1) + 1):
            piv.append(
                f"max(CASE WHEN a={a} AND b={b} THEN s6 END) AS s_{a}_{b}"
            )
            rpiv.append(
                f"max(CASE WHEN a={a} AND b={b} THEN s6 END) AS rs_{a}_{b}"
            )
    fcols, rcols = [], []
    for i in range(1, W + 1):
        ft, rt = [], []
        for j in range(max(0, i - P), i):
            fj = "0" if j == 0 else f"f_{j}"
            rj = "0" if j == 0 else f"rf_{j}"
            ft.append(f"coalesce({fj} + s_{j+1}_{i}, {SENT})")
            rt.append(f"coalesce({rj} + rs_{j+1}_{i}, {SENT})")
        fcols.append(f"greatest({', '.join(ft)}) AS f_{i}")
        rcols.append(f"greatest({', '.join(rt)}) AS rf_{i}")
    return piv, rpiv, fcols, rcols


def _unigram_ctes() -> str:
    from ..operators.llm.text import (
        UNI_MAX_PLEN as P, UNI_MAX_WLEN as W, UNI_SENT as SENT,
        UNI_TOP_PIECES as TOP,
    )

    piv, rpiv, fcols, rcols = _unigram_col_builders()
    return f"""
WITH wt AS (SELECT w, count(*)::BIGINT AS freq FROM (
       SELECT unnest(string_split(text, ' ')) AS w FROM documents)
     WHERE regexp_matches(w, '^[a-z]+$') AND length(w) <= {W}
     GROUP BY w),
win AS (SELECT w, freq, length(w) AS L, a, b,
               substr(w, a, b - a + 1) AS piece
        FROM wt,
             LATERAL (SELECT unnest(generate_series(1, length(w))) AS a),
             LATERAL (SELECT unnest(generate_series(a,
                        least(length(w), a + {P} - 1))) AS b)),
cnts AS (SELECT piece, count(*)::BIGINT AS c FROM win GROUP BY piece),
keep AS (SELECT piece, c FROM cnts WHERE length(piece) = 1
         UNION ALL
         SELECT piece, c FROM (SELECT piece, c FROM cnts
                               WHERE length(piece) > 1
                               ORDER BY c DESC, piece LIMIT {TOP})),
tot AS (SELECT sum(c)::BIGINT AS t FROM keep),
sc AS (SELECT piece, floor(1000000.0 * ln(c / t))::BIGINT AS s6
       FROM keep, tot),
sw AS (SELECT win.w, win.freq, win.L, win.a, win.b, win.piece,
              coalesce(sc.s6, {SENT}) AS s6
       FROM win LEFT JOIN sc USING (piece)),
rwin AS (SELECT w, a, b,
                reverse(substr(reverse(w), a, b - a + 1)) AS piece
         FROM wt,
              LATERAL (SELECT unnest(generate_series(1, length(w))) AS a),
              LATERAL (SELECT unnest(generate_series(a,
                         least(length(w), a + {P} - 1))) AS b)),
rw AS (SELECT rwin.w, rwin.a, rwin.b, coalesce(sc.s6, {SENT}) AS s6
       FROM rwin LEFT JOIN sc USING (piece)),
mf AS (SELECT w, {', '.join(piv)} FROM sw GROUP BY w),
mr AS (SELECT w, {', '.join(rpiv)} FROM rw GROUP BY w),
dpf AS (SELECT w, {', '.join(fcols)} FROM mf),
dpr AS (SELECT w, {', '.join(rcols)} FROM mr)"""


def _unigram_mem_pred(sw: str = "sw") -> str:
    from ..operators.llm.text import UNI_MAX_WLEN as W, UNI_SENT as SENT

    f_at_l = ("CASE L " + " ".join(
        f"WHEN {i} THEN f_{i}" for i in range(1, W + 1)) + " END")
    f_prev = ("CASE a WHEN 1 THEN 0 " + " ".join(
        f"WHEN {a} THEN f_{a-1}" for a in range(2, W + 1)) + " END")
    g_suf = ("CASE L - b WHEN 0 THEN 0 " + " ".join(
        f"WHEN {i} THEN rf_{i}" for i in range(1, W)) + " END")
    return (f"{sw}.s6 > {SENT} AND ({f_prev}) + {sw}.s6 + ({g_suf})"
            f" = ({f_at_l})")


def _unigram_sql(k: int = 20) -> str:
    return _unigram_ctes() + f""",
mem AS (SELECT sw.piece, sw.freq
        FROM sw JOIN dpf USING (w) JOIN dpr USING (w)
        WHERE {_unigram_mem_pred()})
SELECT piece, sum(freq)::BIGINT AS cnt
FROM mem GROUP BY piece
ORDER BY cnt DESC, piece LIMIT {k}"""


def _unigram_nll_sql() -> str:
    from ..operators.llm.text import UNI_MAX_WLEN as W

    f_at_l = ("CASE length(w) " + " ".join(
        f"WHEN {i} THEN f_{i}" for i in range(1, W + 1)) + " END")
    return _unigram_ctes() + f""",
per AS (SELECT wt.freq, ({f_at_l}) AS fl FROM wt JOIN dpf USING (w))
SELECT count(*)::BIGINT AS n_word_types,
       sum(freq)::BIGINT AS n_tokens,
       (-sum(freq * fl))::BIGINT AS nll6
FROM per"""


@register(
    "llm_unigram_segment",
    _unigram_sql(),
    doc="Unigram-LM subword segmentation (Kudo 2018 — the SentencePiece "
        "family, the OTHER major subword algorithm next to llm_bpe_*): "
        "score candidate pieces by corpus substring statistics "
        "(fixed-point integer micro-nats), VITERBI-segment every word "
        "under the piece scores with the recurrence UNROLLED into "
        "codegen'd integer column expressions (forward best f_1..f_8 "
        "plus suffix best rf_1..rf_8 on the reversed word — no UDF, no "
        "recursion, no driver loop), and count the pieces optimal "
        "segmentations use WITHOUT backtracking: occurrence [a,b] is on "
        "some optimal path iff f_{a-1} + s + rf_{L-b} == f_L, a pure "
        "filter over the window table joined to the two DP tables. "
        "Words with several optimal segmentations count every piece on "
        "any of them (deterministic; ties are common under quantized "
        "scores). THE ORACLE REPLAYS THE WHOLE THING — substring "
        "counts, the capped piece vocabulary, both DP unrolls as "
        "lateral-column CTEs, and the membership filter — so the "
        "driver hash certifies the segmenter end to end. SCALE: one "
        "corpus scan builds the word-TYPE table; every later stage is "
        "vocabulary-sized (the bpe_train dictionary trick); the piece "
        "table is cap-bounded for broadcast; dials named in the "
        "operator docstring (unroll depth UNI_MAX_WLEN, piece cap "
        "UNI_TOP_PIECES) "
        "(operators/llm/text.py:unigram_segment_counts).",
    tags=("llm", "text", "train", "scale"),
)
def llm_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.text import unigram_segment_counts

    return unigram_segment_counts(
        load_table(spark, sf_dir, "documents"), k=20
    )


@register(
    "llm_unigram_nll",
    _unigram_nll_sql(),
    doc="Corpus negative log-likelihood under the unigram segmentation "
        "— the training-progress readout for the unigram family (what "
        "llm_bpe_compression_curve is to BPE): NLL6 = -sum over word "
        "types of freq * f_L in integer micro-nats. f_L is the "
        "already-fixed-pointed Viterbi optimum, so the corpus total is "
        "an EXACT integer sum — no float accumulation anywhere in the "
        "readout. Shares the whole vocabulary-sized build with "
        "llm_unigram_segment (one corpus scan, capped broadcast piece "
        "table, unrolled integer DP); the readout adds one word-keyed "
        "join and a 1-row aggregate. The oracle replays the full chain "
        "and reads the same three numbers "
        "(operators/llm/text.py:unigram_corpus_nll).",
    tags=("llm", "text", "train", "stats"),
)
def llm_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.text import unigram_corpus_nll

    return unigram_corpus_nll(load_table(spark, sf_dir, "documents"))


def _unigram_em_sql(k: int = 20) -> str:
    from ..operators.llm.text import UNI_SENT as SENT

    piv2, rpiv2, fcols2, rcols2 = _unigram_col_builders()
    return _unigram_ctes() + f""",
mem AS (SELECT sw.piece, sw.freq
        FROM sw JOIN dpf USING (w) JOIN dpr USING (w)
        WHERE {_unigram_mem_pred()}),
m1 AS (SELECT piece, sum(freq)::BIGINT AS cnt FROM mem GROUP BY piece),
c2 AS (SELECT keep.piece, (coalesce(m1.cnt, 0) + 1)::BIGINT AS c
       FROM keep LEFT JOIN m1 USING (piece)),
t2 AS (SELECT sum(c)::BIGINT AS t FROM c2),
sc2 AS (SELECT piece, floor(1000000.0 * ln(c / t))::BIGINT AS s6
        FROM c2, t2),
sw2 AS (SELECT win.w, win.freq, win.L, win.a, win.b, win.piece,
               coalesce(sc2.s6, {SENT}) AS s6
        FROM win LEFT JOIN sc2 USING (piece)),
rw2 AS (SELECT rwin.w, rwin.a, rwin.b, coalesce(sc2.s6, {SENT}) AS s6
        FROM rwin LEFT JOIN sc2 USING (piece)),
mf2 AS (SELECT w, {', '.join(piv2)} FROM sw2 GROUP BY w),
mr2 AS (SELECT w, {', '.join(rpiv2)} FROM rw2 GROUP BY w),
dpf2 AS (SELECT w, {', '.join(fcols2)} FROM mf2),
dpr2 AS (SELECT w, {', '.join(rcols2)} FROM mr2),
mem2 AS (SELECT sw2.piece, sw2.freq
         FROM sw2 JOIN dpf2 USING (w) JOIN dpr2 USING (w)
         WHERE {_unigram_mem_pred("sw2")}),
m2 AS (SELECT piece, sum(freq)::BIGINT AS cnt FROM mem2 GROUP BY piece)
SELECT 1 AS round, piece, cnt
FROM (SELECT piece, cnt FROM m1 ORDER BY cnt DESC, piece LIMIT {k})
UNION ALL
SELECT 2 AS round, piece, cnt
FROM (SELECT piece, cnt FROM m2 ORDER BY cnt DESC, piece LIMIT {k})"""


@register(
    "llm_unigram_em",
    _unigram_em_sql(),
    doc="ONE full hard-EM round of unigram-LM tokenizer training on top "
        "of llm_unigram_segment — the M-step + re-segmentation that "
        "turns the substring-count initialization into actual training "
        "(Kudo 2018's loop, hard-assignment variant): round-1 "
        "optimal-path counts become the new piece probabilities "
        "(add-one smoothing over the SAME capped vocabulary, keeping "
        "every word segmentable and the broadcast bounded), every word "
        "re-segments under the new integer micro-nat scores, and the "
        "top-20 pieces are read out per round with a `round` column — "
        "the trajectory readout, like llm_bpe_compression_curve. THE "
        "ORACLE REPLAYS BOTH ROUNDS END TO END: the initial counts, "
        "both capped score tables, FOUR unrolled DP chains (forward + "
        "reverse, twice), and both membership filters — the driver "
        "hash certifies the EM loop itself. SCALE: the EM round adds "
        "one vocabulary-sized count join, one re-broadcast, one more "
        "unrolled DP — still no second corpus scan; rounds are linear "
        "in vocabulary, never corpus "
        "(operators/llm/text.py:unigram_em_counts).",
    tags=("llm", "text", "train", "iterative", "scale"),
)
def llm_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.text import unigram_em_counts

    return unigram_em_counts(load_table(spark, sf_dir, "documents"), k=20)


# ---------------------------------------------------------------------------
# referential integrity: orphan keys + coverage gaps across the star schema
# ---------------------------------------------------------------------------

_RI_SQL = """
WITH co AS (SELECT count(*)::BIGINT AS n,
                   sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0
                       END)::BIGINT AS v
            FROM orders o LEFT JOIN customer c
              ON c.c_custkey = o.o_custkey),
lo AS (SELECT count(*)::BIGINT AS n,
              sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0
                  END)::BIGINT AS v
       FROM lineitem l LEFT JOIN orders o
         ON o.o_orderkey = l.l_orderkey),
lp AS (SELECT count(*)::BIGINT AS n,
              sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0
                  END)::BIGINT AS v
       FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey),
ls AS (SELECT count(*)::BIGINT AS n,
              sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0
                  END)::BIGINT AS v
       FROM lineitem l LEFT JOIN supplier s
         ON s.s_suppkey = l.l_suppkey),
cc AS (SELECT count(*)::BIGINT AS n,
              sum(CASE WHEN o.k IS NULL THEN 1 ELSE 0 END)::BIGINT AS v
       FROM customer c LEFT JOIN
            (SELECT DISTINCT o_custkey AS k FROM orders) o
         ON o.k = c.c_custkey),
pc AS (SELECT count(*)::BIGINT AS n,
              sum(CASE WHEN l.k IS NULL THEN 1 ELSE 0 END)::BIGINT AS v
       FROM part p LEFT JOIN
            (SELECT DISTINCT l_partkey AS k FROM lineitem) l
         ON l.k = p.p_partkey),
sc AS (SELECT count(*)::BIGINT AS n,
              sum(CASE WHEN l.k IS NULL THEN 1 ELSE 0 END)::BIGINT AS v
       FROM supplier s LEFT JOIN
            (SELECT DISTINCT l_suppkey AS k FROM lineitem) l
         ON l.k = s.s_suppkey)
SELECT 'orders->customer' AS relation, n AS n_checked,
       v AS n_violations FROM co
UNION ALL SELECT 'lineitem->orders', n, v FROM lo
UNION ALL SELECT 'lineitem->part', n, v FROM lp
UNION ALL SELECT 'lineitem->supplier', n, v FROM ls
UNION ALL SELECT 'customer<-orders', n, v FROM cc
UNION ALL SELECT 'part<-lineitem', n, v FROM pc
UNION ALL SELECT 'supplier<-lineitem', n, v FROM sc"""


@register(
    "dq_referential_integrity",
    _RI_SQL,
    doc="Referential-integrity audit across the star schema, BOTH "
        "directions: child->parent orphan keys (orders->customer, "
        "lineitem->orders/part/supplier — corruption if nonzero) and "
        "parent<-child coverage gaps (customers with no orders, parts "
        "never ordered, suppliers never used). The synthetic fixture "
        "is fully dense — all seven checks report zero violations — "
        "so the driver hash pins the seven n_checked table counts plus "
        "the all-green verdict; the violation-counting path is "
        "exercised by pytest against a deliberately broken fixture "
        "(orphan order, unreferenced customer). A NULL foreign key "
        "counts as an orphan on both engines (left-join miss). SCALE: "
        "each orphan check is one key-equi left join counted "
        "map-side — broadcast for dimension parents, shuffle-on-key "
        "for lineitem->orders; coverage checks reduce the child to "
        "DISTINCT keys first (partial agg) so the parent-side join is "
        "key-table-sized. The three lineitem checks share one scan "
        "each; at fleet scale they fold into a single multi-join pass "
        "over the co-partitioned fact.",
    tags=("dq", "join", "relational", "quality"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")

    def orphan(rel, child, ckey, parent, pkey, bcast):
        p = parent.select(F.col(pkey).alias("__pk"))
        if bcast:
            p = F.broadcast(p)
        j = child.select(F.col(ckey).alias("__ck")).join(
            p, F.col("__ck") == F.col("__pk"), "left"
        )
        return j.agg(
            F.lit(rel).alias("relation"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.sum(
                F.when(F.col("__pk").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_violations"),
        )

    def coverage(rel, parent, pkey, child, ckey):
        keys = F.broadcast(
            child.select(F.col(ckey).alias("__ck")).distinct()
        )
        j = parent.select(F.col(pkey).alias("__pk")).join(
            keys, F.col("__pk") == F.col("__ck"), "left"
        )
        return j.agg(
            F.lit(rel).alias("relation"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.sum(
                F.when(F.col("__ck").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_violations"),
        )

    # The three lineitem orphan checks share ONE scan of the fact table
    # (it was scanned once per check before — 3 full passes for 3 sums):
    # each parent key projection is DEDUPLICATED before its join, which
    # makes the chained left joins unconditionally 1:1 row-preserving —
    # without the distinct the fusion is only equivalent to three
    # independent checks while every parent key happens to be unique; a
    # duplicate key in ANY one parent would fan out the row count and
    # inflate n_checked/n_violations for all three relations (ADVICE
    # r13). On unique-keyed parents the distinct is a no-op on results
    # (oracle hash unchanged) and cheap: a key-only partial agg riding
    # the exchange the join needs anyway. One aggregate emits all three
    # (relation, n_checked, n_violations) triples via stack. Guide
    # §1.2: same passes the SQL oracle fuses.
    li = lineitem.select("l_orderkey", "l_partkey", "l_suppkey")
    fused_li = (
        li.join(
            orders.select(F.col("o_orderkey").alias("__ok")).distinct(),
            F.col("l_orderkey") == F.col("__ok"), "left",
        )
        .join(
            F.broadcast(
                part.select(F.col("p_partkey").alias("__pp")).distinct()
            ),
            F.col("l_partkey") == F.col("__pp"), "left",
        )
        .join(
            F.broadcast(
                supplier.select(F.col("s_suppkey").alias("__sp")).distinct()
            ),
            F.col("l_suppkey") == F.col("__sp"), "left",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("__ok").isNull(), 1).otherwise(0))
            .cast("long").alias("v_ord"),
            F.sum(F.when(F.col("__pp").isNull(), 1).otherwise(0))
            .cast("long").alias("v_part"),
            F.sum(F.when(F.col("__sp").isNull(), 1).otherwise(0))
            .cast("long").alias("v_supp"),
        )
        .selectExpr(
            "stack(3, 'lineitem->orders', n, v_ord,"
            " 'lineitem->part', n, v_part,"
            " 'lineitem->supplier', n, v_supp)"
            " AS (relation, n_checked, n_violations)"
        )
    )
    parts = [
        orphan("orders->customer", orders, "o_custkey",
               customer, "c_custkey", True),
        fused_li,
        coverage("customer<-orders", customer, "c_custkey",
                 orders, "o_custkey"),
        coverage("part<-lineitem", part, "p_partkey",
                 lineitem, "l_partkey"),
        coverage("supplier<-lineitem", supplier, "s_suppkey",
                 lineitem, "l_suppkey"),
    ]
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


# ---------------------------------------------------------------------------
# tokenizer fertility: tokens-per-word distribution under the BPE merges
# ---------------------------------------------------------------------------

def _bpe_fertility_sql() -> str:
    from .catalog_round10 import _BPE_ROUNDS, _bpe_ctes

    return _bpe_ctes() + f"""
SELECT len(string_split(trim(enc, '|'), '||'))::BIGINT AS n_pieces,
       count(*)::BIGINT AS n_word_types,
       sum(freq)::BIGINT AS corpus_words
FROM e{_BPE_ROUNDS} GROUP BY 1 ORDER BY 1"""


@register(
    "llm_bpe_fertility",
    _bpe_fertility_sql(),
    doc="Tokenizer FERTILITY distribution (tokens-per-word) under the "
        "learned BPE merges — the standard readout for comparing "
        "tokenizers and the per-word complement of "
        "llm_bpe_compression_curve's corpus total: for each piece "
        "count, the number of word types that segment into that many "
        "pieces and the corpus words they cover. Rides the shared "
        "train loop (llm_bpe_train's 5 unrolled merges) with ONE extra "
        "vocabulary-sized aggregate — no additional corpus pass; the "
        "oracle replays the whole merge chain and reads the same "
        "distribution off the final encodings "
        "(operators/llm/text.py:bpe_fertility).",
    tags=("llm", "text", "train", "stats"),
)
def llm_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog_round10 import _BPE_ROUNDS
    from ..operators.llm.text import bpe_fertility

    return bpe_fertility(
        load_table(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS
    )


# ---------------------------------------------------------------------------
# change-point detection: best single split of each type's hourly series
# ---------------------------------------------------------------------------

def _changepoint_sql() -> str:
    from .registry import EVENTS_NORM

    return f"""
WITH {EVENTS_NORM},
h AS (SELECT event_type,
             epoch(date_trunc('hour', ts))::BIGINT AS hs,
             count(*)::BIGINT AS c
      FROM events_norm GROUP BY 1, 2),
p AS (SELECT event_type, hs, c,
             row_number() OVER (PARTITION BY event_type ORDER BY hs)
               AS i,
             sum(c) OVER (PARTITION BY event_type ORDER BY hs)::BIGINT
               AS s,
             count(*) OVER (PARTITION BY event_type)::BIGINT AS n,
             sum(c) OVER (PARTITION BY event_type)::BIGINT AS t
      FROM h),
g AS (SELECT event_type, hs AS split_hs, i AS n_left,
             (n - i) AS n_right, s AS sum_left, (t - s) AS sum_right,
             floor(1000000.0 * ((s * 1.0 * s / i
                                 + (t - s) * 1.0 * (t - s) / (n - i))
                                - t * 1.0 * t / n))::BIGINT AS gain6
      FROM p WHERE i < n),
r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY gain6 DESC, split_hs) AS rk FROM g)
SELECT event_type, split_hs, n_left, n_right, sum_left, sum_right,
       gain6
FROM r WHERE rk = 1"""


@register(
    "events_changepoint",
    _changepoint_sql(),
    doc="Single change-point detection per event type: the hourly-count "
        "series split that maximizes the between-segment variance "
        "reduction (binary-segmentation step 1 / CUSUM argmax): gain = "
        "S_l^2/n_l + S_r^2/n_r - T^2/n over integer prefix sums, the "
        "classic identity that needs ONE pass over the hourly series — "
        "no per-split rescans. DETERMINISM: prefix sums are exact "
        "integers; the squares are taken in DOUBLE (s * 1.0 * s) so a "
        "type with >3e9 events cannot overflow BIGINT — the same "
        "literal op order on both engines keeps every IEEE-754 step "
        "bit-identical (counts stay exact in double up to 2^53), "
        "to gain6 before the (gain6 DESC, split_hs ASC) argmax, so the "
        "chosen split cannot differ. SCALE: the corpus pass is one "
        "(type, hour) partial agg; everything after operates on the "
        "HOURLY table (#hours x #types rows), windows partitioned by "
        "event_type — never a corpus-sized window. The full "
        "binary-segmentation recursion is this operator applied per "
        "segment; each level costs one hourly-table pass.",
    tags=("temporal", "agg", "analytics", "window"),
)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import load_events

    ev = load_events(spark, sf_dir)
    h = ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hs"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("hs")
    p = h.select(
        "event_type", "hs", "c",
        F.row_number().over(wo).alias("i"),
        F.sum("c").over(wo).cast("long").alias("s"),
        F.count(F.lit(1)).over(wt).cast("long").alias("n"),
        F.sum("c").over(wt).cast("long").alias("t"),
    )
    g = p.filter(F.col("i") < F.col("n")).select(
        "event_type",
        F.col("hs").alias("split_hs"),
        F.col("i").alias("n_left"),
        (F.col("n") - F.col("i")).alias("n_right"),
        F.col("s").alias("sum_left"),
        (F.col("t") - F.col("s")).alias("sum_right"),
        F.floor(
            F.lit(1_000_000.0)
            * (
                (
                    F.col("s") * F.lit(1.0) * F.col("s") / F.col("i")
                    + (F.col("t") - F.col("s"))
                    * F.lit(1.0)
                    * (F.col("t") - F.col("s"))
                    / (F.col("n") - F.col("i"))
                )
                - F.col("t") * F.lit(1.0) * F.col("t") / F.col("n")
            )
        )
        .cast("long")
        .alias("gain6"),
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.desc("gain6"), F.asc("split_hs")
        )
    )
    return (
        g.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# k-anonymity: equivalence-class privacy risk over quasi-identifiers
# ---------------------------------------------------------------------------

_KA_THRESHOLDS = (2, 5, 10, 25)

# ONE definition of the quasi-identifier equivalence classes, shared by
# the risk report and the suppression enforcement on BOTH engines —
# the two entries must certify the same class definition or the
# suppression proves k for something the report never measured.
# length bucket: floor division on both sides (DuckDB // floors;
# F.floor(col/100) floors — n_chars is far inside double exactness).
_QI_CLS_SQL = """cls AS (SELECT lang, source, n_chars // 100 AS len_bucket,
                    count(*)::BIGINT AS sz
             FROM documents GROUP BY 1, 2, 3)"""


def _qi_classes(docs: DataFrame) -> DataFrame:
    return docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).cast("long").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("sz"))


def _k_anonymity_sql() -> str:
    ks = ", ".join(str(k) for k in _KA_THRESHOLDS)
    return f"""
WITH {_QI_CLS_SQL},
ks AS (SELECT unnest([{ks}])::BIGINT AS k)
SELECT k,
       count(*)::BIGINT AS n_classes,
       sum(sz)::BIGINT AS n_rows,
       sum(CASE WHEN sz < k THEN 1 ELSE 0 END)::BIGINT
         AS violating_classes,
       sum(CASE WHEN sz < k THEN sz ELSE 0 END)::BIGINT
         AS rows_at_risk,
       min(sz)::BIGINT AS achieved_k
FROM cls, ks GROUP BY k ORDER BY k"""


@register(
    "dq_k_anonymity",
    _k_anonymity_sql(),
    doc="k-anonymity risk report over the documents quasi-identifier "
        "tuple (lang, source, length bucket) — the privacy gate a "
        "training-data release runs before publishing: rows whose QI "
        "equivalence class is smaller than k are re-identifiable, so "
        "the report sweeps k in "
        f"{_KA_THRESHOLDS} and emits class counts, violating classes, "
        "rows at risk, and the k the dataset actually achieves (the "
        "min class size). SCALE: ONE partial-aggregatable pass builds "
        "the class-size table (QI-keyed groupBy); the sweep is a tiny "
        "cross join against a 4-row threshold table over the "
        "CLASS-sized (not corpus-sized) aggregate. Suppression/"
        "generalization would then drop or coarsen exactly the "
        "violating classes — the follow-up this report feeds.",
    tags=("dq", "quality", "agg", "profile"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cls = _qi_classes(docs)
    ks = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(int(k),) for k in _KA_THRESHOLDS], "k long"
        )
    )
    return (
        cls.crossJoin(ks)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("sz").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("sz") < F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("violating_classes"),
            F.sum(
                F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0)
            )
            .cast("long")
            .alias("rows_at_risk"),
            F.min("sz").cast("long").alias("achieved_k"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# dataset card: the one-scan release summary for the document corpus
# ---------------------------------------------------------------------------

_CARD_SQL = """
WITH d AS (SELECT doc_id, lang, source, n_chars,
                  len(string_split(text, ' '))::BIGINT AS n_tok,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                    AS fp
           FROM documents)
SELECT count(*)::BIGINT AS n_docs,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT source)::BIGINT AS n_sources,
       sum(n_tok)::BIGINT AS total_ws_tokens,
       sum(n_chars)::BIGINT AS total_chars,
       min(n_chars)::BIGINT AS min_chars,
       max(n_chars)::BIGINT AS max_chars,
       (count(*) - count(DISTINCT fp))::BIGINT AS n_exact_dup_docs,
       floor(sum(n_tok) * 1000000.0 / count(*) + 0.5)::BIGINT
         AS mean_tokens6
FROM d"""


@register(
    "llm_dataset_card",
    _CARD_SQL,
    doc="The dataset-card summary a corpus release ships — volume "
        "(docs/tokens/chars), diversity (languages, sources), "
        "duplication (normalized-fingerprint exact-dup count, the "
        "llm_dedup_exact_norm key), and length extremes — computed in "
        "ONE corpus scan: every statistic is a partial-aggregatable "
        "count/sum/min/max or a count-distinct riding the same "
        "aggregate; the mean is fixed-pointed AFTER the integer "
        "totals. At 100 TB this is the same single-pass shape — the "
        "two count-distincts are the only shuffled terms and both are "
        "low-cardinality (langs, sources) except the fingerprint one, "
        "which shuffles the 16-byte md5, not the text.",
    tags=("llm", "text", "agg", "profile", "quality"),
)
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    )
    d = docs.select(
        "lang", "source", "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.md5(norm).alias("fp"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_tok").cast("long").alias("total_ws_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        (F.count(F.lit(1)) - F.countDistinct("fp"))
        .cast("long")
        .alias("n_exact_dup_docs"),
        F.floor(
            F.sum("n_tok") * F.lit(1_000_000.0) / F.count(F.lit(1))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_tokens6"),
    )


_KA_K = 5


def _k_suppress_sql() -> str:
    return f"""
WITH {_QI_CLS_SQL}
SELECT 'before' AS stage,
       count(*)::BIGINT AS n_classes,
       coalesce(sum(sz), 0)::BIGINT AS n_rows,
       min(sz)::BIGINT AS achieved_k
FROM cls
UNION ALL
SELECT 'after_suppress',
       count(*)::BIGINT,
       coalesce(sum(sz), 0)::BIGINT,
       min(sz)::BIGINT
FROM cls WHERE sz >= {_KA_K}"""


@register(
    "dq_k_anonymity_suppress",
    _k_suppress_sql(),
    doc="The ENFORCEMENT step dq_k_anonymity's report feeds: suppress "
        f"(drop) every quasi-identifier class smaller than k={_KA_K} "
        "and report the release before/after — row and class counts "
        "plus the achieved k, which is >= k after suppression BY "
        "CONSTRUCTION (dropping whole classes cannot shrink the "
        "survivors; pytest pins the invariant). Suppression is the "
        "conservative enforcement; generalization (coarsening the QI "
        "buckets instead of dropping rows) is the recall-preserving "
        "alternative and reuses the same class table. SCALE: the same "
        "single QI-keyed pass as the report; applying the suppression "
        "to the corpus is one broadcast semi-join of the violating "
        "class keys against the fact.",
    tags=("dq", "quality", "agg", "scrub"),
)
def dq_k_anonymity_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cls = _qi_classes(docs)
    cls = cls.localCheckpoint(eager=False)  # before + after stages

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.coalesce(F.sum("sz"), F.lit(0)).cast("long")
            .alias("n_rows"),
            F.min("sz").cast("long").alias("achieved_k"),
        )

    return stage(cls, "before").unionByName(
        stage(cls.filter(F.col("sz") >= _KA_K), "after_suppress")
    )


# ---------------------------------------------------------------------------
# OHLC rollup: per-type hourly open/high/low/close over the value stream
# ---------------------------------------------------------------------------

def _ohlc_sql() -> str:
    from .registry import EVENTS_NORM

    return f"""
WITH {EVENTS_NORM},
r AS (SELECT event_type,
             epoch(date_trunc('hour', ts))::BIGINT AS hs,
             value,
             row_number() OVER (PARTITION BY event_type,
                                             date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type,
                                         date_trunc('hour', ts)) AS n
      FROM events_norm)
SELECT event_type, hs,
       min(CASE WHEN rn = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       min(CASE WHEN rn = n THEN value END) AS close,
       count(*)::BIGINT AS n_events
FROM r GROUP BY 1, 2
ORDER BY 1, 2"""


@register(
    "events_ohlc",
    _ohlc_sql(),
    doc="OHLC (open/high/low/close) hourly rollup of the event value "
        "stream per type — the candlestick aggregation every metrics / "
        "market pipeline ships. DETERMINISM WITHOUT ROUNDING: all four "
        "readouts are PICKS, not sums — high/low are order-independent "
        "min/max, open/close select the value at the (ts, event_id) "
        "order extremes via a row_number keyed by that total order — "
        "so raw doubles pass the exact-match gate with no float "
        "arithmetic anywhere. SCALE: the window partitions by (type, "
        "hour) — thousands of small partitions, never a global or "
        "per-type-corpus window — and the final groupBy rides the same "
        "key. (first()/last() over a window would be the compact "
        "form; the rn-pick keeps both engines on the identical, "
        "oracle-expressible plan.)",
    tags=("temporal", "agg", "window", "timeseries"),
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import load_events

    ev = load_events(spark, sf_dir)
    hour = F.date_trunc("hour", "ts")
    w = Window.partitionBy("event_type", hour).orderBy("ts", "event_id")
    wc = Window.partitionBy("event_type", hour)
    r = ev.select(
        "event_type",
        F.unix_timestamp(hour).alias("hs"),
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return (
        r.groupBy("event_type", "hs")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.min(
                F.when(F.col("rn") == F.col("n"), F.col("value"))
            ).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("event_type", "hs")
    )
