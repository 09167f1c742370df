"""LLM-data-pipeline query catalog (SURVEY.md section 2.8, north star).

Dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard), text analysis
(lang-ID, quality, token counting, fingerprint), multimodal metadata. The
embedding similarity entries are in catalog_similarity.py.

Oracle strategy: the MinHash/SimHash/LSH oracles are generated
programmatically from the SAME seeded parameters as the Spark operators,
using the shared cross-engine base hash
  Spark  conv(substr(md5(s),1,15),16,10)
  DuckDB ('0x' || substr(md5(s),1,15))::BIGINT
so even the sketch-based operators are value-hash verified, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_31, minhash_params
from ..operators.llm import dedup, text
from .registry import load_table, register

M31 = MERSENNE_31
NUM_HASHES = 6
BANDS = 3
SEED = 42


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

@register(
    "llm_dedup_exact",
    """SELECT md5(text) AS fp, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
       FROM documents GROUP BY 1""",
    doc="Exact dedup by content hash: one 16-byte-key shuffle, partial agg.",
    tags=("llm", "dedup"),
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "llm_token_stats",
    """SELECT doc_id,
              len(string_split(text, ' ')) AS n_tokens,
              len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
              length(text) AS n_chars_measured
       FROM documents""",
    doc="Per-document token statistics (counts, distinct, chars).",
    tags=("llm", "text"),
)
def llm_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(load_table(spark, sf_dir, "documents"))


def _in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@register(
    "llm_lang_id",
    f"""SELECT doc_id,
               len(list_filter(string_split(text,' '), x -> x IN ({_in_list(text.STOPWORDS['en'])}))) AS s_en,
               len(list_filter(string_split(text,' '), x -> x IN ({_in_list(text.STOPWORDS['de'])}))) AS s_de,
               len(list_filter(string_split(text,' '), x -> x IN ({_in_list(text.STOPWORDS['fr'])}))) AS s_fr,
               CASE WHEN len(list_filter(string_split(text,' '), x -> x IN ({_in_list(text.STOPWORDS['en'])}))) >= len(list_filter(string_split(text,' '), x -> x IN ({_in_list(text.STOPWORDS['de'])})))
                     AND len(list_filter(string_split(text,' '), x -> x IN ({_in_list(text.STOPWORDS['en'])}))) >= len(list_filter(string_split(text,' '), x -> x IN ({_in_list(text.STOPWORDS['fr'])})))
                    THEN 'en'
                    WHEN len(list_filter(string_split(text,' '), x -> x IN ({_in_list(text.STOPWORDS['de'])}))) >= len(list_filter(string_split(text,' '), x -> x IN ({_in_list(text.STOPWORDS['fr'])})))
                    THEN 'de' ELSE 'fr' END AS pred_lang
        FROM documents""",
    doc="Stopword-vote language ID heuristic (deterministic tie-break).",
    tags=("llm", "text"),
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "llm_quality_score",
    f"""SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text,' '), x -> x IN ({_in_list(text.STOPWORDS['en'])})))::DOUBLE
                 / len(string_split(text, ' '))::DOUBLE AS stop_ratio,
               len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::DOUBLE
                 / length(text)::DOUBLE AS punct_ratio,
               (len(string_split(text, ' ')) >= 5 AND len(string_split(text, ' ')) <= 100000
                AND len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::DOUBLE / length(text)::DOUBLE < 0.1)
                 AS quality_ok
        FROM documents""",
    doc="Quality features: length, stopword ratio, punctuation ratio, verdict.",
    tags=("llm", "text"),
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load_table(spark, sf_dir, "documents"))


@register(
    "llm_token_count",
    f"""SELECT doc_id,
               len(string_split(text, ' ')) AS ws_tokens,
               len(regexp_extract_all(text, '{text.BPE_ISH_PATTERN}')) AS bpe_ish_tokens
        FROM documents""",
    doc="Whitespace + BPE-ish regex token counts.",
    tags=("llm", "text"),
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_count(load_table(spark, sf_dir, "documents"))


@register(
    "llm_fingerprint",
    r"""SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents""",
    doc="Normalised-content fingerprint (lower + whitespace-collapse + md5).",
    tags=("llm", "text"),
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(load_table(spark, sf_dir, "documents"))


@register(
    "llm_multimodal_meta",
    """SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS content_md5
       FROM documents""",
    doc="Multimodal metadata surface: byte length + content hash of the "
        "opaque payload column (since round 7 the decode interior is "
        "real for uncompressed containers — see llm_multimodal_decode_"
        "ppm/_wav; compressed codecs remain honestly unimplemented in "
        "operators/llm/multimodal.py:real_decode).",
    tags=("llm", "multimodal"),
)
def llm_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5("text").alias("content_md5"),
    )


# --------------------------------------------------------------------------
# sketch-based dedup: shared SQL fragments
# --------------------------------------------------------------------------

_SHINGLES_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id,
              list_distinct(CASE WHEN len(t) >= 3
                   THEN list_transform(generate_series(1, len(t)-2),
                                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                   ELSE []::VARCHAR[] END) AS shd
       FROM tok)
"""

_BASE_HASH_CTE = _SHINGLES_CTE + """,
hs AS (SELECT doc_id,
              list_transform(shd, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h
       FROM sh)
"""


def _sig_exprs() -> list[str]:
    # same seeded family as minhash_signature: (a*x + b) mod (2^31-1), all
    # operands < 2^32 so BIGINT arithmetic is exact in both engines
    exprs = []
    for i, (a, b) in enumerate(minhash_params(NUM_HASHES, SEED)):
        exprs.append(
            f"coalesce(list_min(list_transform(h, x -> (x * {a} + {b}) % {M31})), {M31}) AS sig_{i}"
        )
    return exprs


_MINHASH_SIG_SQL = (
    "WITH " + _BASE_HASH_CTE + "SELECT doc_id, " + ", ".join(_sig_exprs()) + " FROM hs"
)

_R = NUM_HASHES // BANDS
_BAND_EXPRS = [
    f"({b}::VARCHAR || '_' || sig_{b*_R}::VARCHAR || '_' || sig_{b*_R+1}::VARCHAR)"
    for b in range(BANDS)
]

_MINHASH_PAIRS_SQL = (
    "WITH " + _BASE_HASH_CTE
    + ", sig AS (SELECT doc_id, " + ", ".join(_sig_exprs()) + " FROM hs)"
    + ", bands AS (SELECT doc_id, unnest([" + ", ".join(_BAND_EXPRS) + "]) AS band_key FROM sig) "
    + """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id"""
)


@register(
    "llm_minhash_signature",
    _MINHASH_SIG_SQL,
    doc="MinHash signatures (K=6, word-3-gram shingles, universal hash family "
        "mod 2^61-1): per-row JVM expressions, zero shuffle; the oracle "
        "recomputes the identical family in DuckDB HUGEINT arithmetic.",
    tags=("llm", "dedup", "sketch"),
)
def llm_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signature_df(
        load_table(spark, sf_dir, "documents"), num_hashes=NUM_HASHES, seed=SEED
    )


@register(
    "llm_dedup_minhash",
    _MINHASH_PAIRS_SQL,
    doc="MinHash LSH candidate pairs (3 bands x 2 rows): the band join "
        "shuffles only (band_key, doc_id) — the corpus never moves.",
    tags=("llm", "dedup", "sketch"),
)
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_candidate_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=NUM_HASHES, bands=BANDS, seed=SEED,
    )


_SIMHASH_BITS = 16
_SIMHASH_SQL = (
    """WITH tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
hs AS (SELECT doc_id, list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h FROM tok)
SELECT doc_id, ("""
    + " + ".join(
        f"(CASE WHEN coalesce(list_sum(list_transform(h, x -> ((x >> {j}) & 1) * 2 - 1)), 0) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(_SIMHASH_BITS)
    )
    + ")::BIGINT AS simhash FROM hs"
)


@register(
    "llm_dedup_simhash",
    _SIMHASH_SQL,
    doc="16-bit SimHash over distinct tokens (sign of per-bit vote sums); "
        "near-dups have small Hamming distance. Zero-shuffle per-row work.",
    tags=("llm", "dedup", "sketch"),
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"), bits=_SIMHASH_BITS)


@register(
    "llm_dedup_ngram_jaccard",
    "WITH " + _SHINGLES_CTE + """,
       ex AS (SELECT doc_id, unnest(shd) AS s FROM sh),
       sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY 1),
       pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                 FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)::DOUBLE AS jaccard
       FROM pairs
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)::DOUBLE >= 0.8""",
    doc="Exact word-3-gram Jaccard >= 0.8 via exploded-shingle self-join; "
        "at scale, frequency-cap ubiquitous shingles (max_shingle_freq) "
        "and use MinHash-LSH as the candidate generator.",
    tags=("llm", "dedup"),
)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    )


# --------------------------------------------------------------------------
# multimodal features, near-dup clusters, fingerprints and sampling
# --------------------------------------------------------------------------


@register(
    "llm_multimodal_features",
    """WITH m AS (SELECT doc_id AS media_id, text, strlen(text) AS n_bytes
                  FROM documents),
b AS (SELECT media_id, n_bytes,
             list_transform(generate_series(1, n_bytes::INT),
                            i -> ord(substr(text, i, 1)) % 8) AS bytes8
      FROM m)
SELECT media_id, n_bytes, j.j AS bin,
       round(len(list_filter(bytes8, x -> x = j.j))
             / greatest(1, n_bytes)::DOUBLE, 6) AS frac
FROM b, generate_series(0, 7) j(j)""",
    doc="Multimodal decode/feature-extract plumbing: opaque binary payload "
        "-> mapInPandas (Arrow-batched, bounded memory) -> fixed-dim "
        "feature vector, posexploded to one (media_id, bin, frac) row per "
        "histogram bucket so every value is a scalar the driver's "
        "order-insensitive hash can canonicalise (array columns are "
        "unsortable in its pandas compare). The decode is the "
        "deterministic byte-histogram stand-in "
        "(operators/llm/multimodal.py — compressed codecs raise; real "
        "container decode lives in llm_multimodal_decode_ppm/_wav; "
        "payloads here are ASCII so the SQL oracle reproduces bytes "
        "via codepoints).",
    tags=("llm", "multimodal", "udf"),
)
def llm_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.multimodal import extract_features_checked, text_as_media

    media = text_as_media(load_table(spark, sf_dir, "documents"))
    feats = extract_features_checked(media, dim=8)
    return feats.select(
        "media_id",
        "n_bytes",
        F.posexplode("feature").alias("bin", "frac"),
    ).withColumn("bin", F.col("bin").cast("long"))


_CLUSTERS_SQL = (
    "WITH RECURSIVE " + _BASE_HASH_CTE
    + ", sig AS (SELECT doc_id, " + ", ".join(_sig_exprs()) + " FROM hs)"
    + ", bands AS (SELECT doc_id, unnest([" + ", ".join(_BAND_EXPRS) + "]) AS band_key FROM sig)"
    + """, cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM bands a JOIN bands b
                    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
          UNION SELECT doc_b, doc_a FROM cand),
reach(src, dst) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src"""
)


@register(
    "llm_dup_clusters",
    _CLUSTERS_SQL,
    doc="Duplicate clusters: connected components over the MinHash LSH "
        "candidate pairs via iterative min-label propagation (driver-"
        "coordinated loop, one (node,label) shuffle per round, lineage "
        "truncated per iteration). Turns pairwise candidates into dedup "
        "groups with one keeper (min id). Oracle: recursive-CTE transitive "
        "closure.",
    tags=("llm", "dedup", "graph", "iterative"),
)
def llm_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_candidate_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=NUM_HASHES, bands=BANDS, seed=SEED,
    )
    return dedup.dup_clusters(pairs)


_WK, _WWIN = 5, 4
_WPOLY = " + ".join(
    f"ord(substr(text, CAST(i + {j} AS INT), 1))::BIGINT * {text.ROLL_BASE ** j}"
    for j in range(_WK)
)

_WINNOW_SQL = f"""WITH g AS (
  SELECT doc_id,
         CASE WHEN strlen(text) >= {_WK}
              THEN list_transform(generate_series(1, strlen(text) - {_WK - 1}),
                                  i -> ({_WPOLY}) % {text.ROLL_MOD})
              ELSE []::BIGINT[] END AS grams
  FROM documents),
m AS (
  SELECT doc_id,
         CASE WHEN len(grams) > 0
              THEN list_transform(generate_series(1, greatest(len(grams) - {_WWIN - 1}, 1)),
                                  w -> list_min(grams[w:w + {_WWIN - 1}]))
              ELSE []::BIGINT[] END AS mins
  FROM g)
SELECT doc_id, unnest(list_distinct(mins)) AS fp_hash FROM m"""


@register(
    "llm_winnow_fingerprint",
    _WINNOW_SQL,
    doc="Winnowing fingerprints (MOSS rolling-hash sketch): polynomial "
        "rolling hash of char 5-grams, min of each sliding 4-window, "
        "distinct selected hashes per doc. Guarantees shared substrings "
        ">= window+k-1 chars share a fingerprint — the local-similarity "
        "dual to MinHash. Arrow-vectorized map work (numpy strided sum + "
        "sliding_window_view), zero shuffle; engine='expr' keeps the "
        "pure-JVM array-expression plan.",
    tags=("llm", "text", "sketch"),
)
def llm_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=_WK, window=_WWIN
    )


@register(
    "llm_sample_hash",
    """SELECT doc_id, source
       FROM documents
       WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 10""",
    doc="Deterministic 10% sample by content-independent key hash: "
        "reproducible across runs/engines/cluster sizes (unlike "
        "df.sample's partition-dependent RNG), composable into "
        "train/val/test splits by disjoint hash ranges, and pushed down "
        "as a cheap per-row predicate — the training-data split "
        "primitive.",
    tags=("llm", "sampling"),
)
def llm_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash32

    d = load_table(spark, sf_dir, "documents")
    bucket = hash32(F.col("doc_id").cast("string")) % 100
    return d.filter(bucket < 10).select("doc_id", "source")


@register(
    "llm_vocab_topk",
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       SELECT token, count(*) AS freq
       FROM tok GROUP BY token
       ORDER BY freq DESC, token LIMIT 50""",
    doc="Corpus vocabulary head: explode tokens, partial-aggregated "
        "count, TakeOrderedAndProject top-k with deterministic tie-break "
        "— the vocab/stopword-discovery scan.",
    tags=("llm", "text", "topk"),
)
def llm_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return freq.orderBy(F.desc("freq"), F.asc("token")).limit(50)


# --------------------------------------------------------------------------
# corpus curation: per-source profile + pattern scrubbing
# --------------------------------------------------------------------------

@register(
    "llm_source_stats",
    """SELECT source,
              count(*) AS n_docs,
              round(avg(n_chars), 4) AS avg_chars,
              count(DISTINCT lang) AS n_langs,
              round(count(*) / (sum(count(*)) OVER ())::DOUBLE, 6) AS share
       FROM documents GROUP BY source""",
    doc="Per-source corpus profile (the data-mixture report every "
        "training pipeline starts from): doc counts, mean length, "
        "language spread, corpus share. One partial-aggregated groupBy "
        "shuffle on the low-cardinality source key; the share window "
        "runs over the ALREADY-AGGREGATED rows (#sources, not #docs), so "
        "the unpartitioned window is a non-issue at any input scale.",
    tags=("llm", "text", "profile"),
)
def llm_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    total = F.sum("n_docs").over(Window.partitionBy())
    return agg.withColumn(
        "share", F.round(F.col("n_docs").cast("double") / total, 6)
    )


# Java-regex / RE2 common-subset patterns (both engines must agree):
# an email shape (exercises the zero-match path on the synthetic corpus)
# and term/number scrubs that do hit.
SCRUB_PATTERNS = {
    "emails": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "hot_terms": "\\b(spark|shuffle)\\b",
    "numbers": "\\b[0-9]+\\b",
}


@register(
    "llm_regex_scrub",
    f"""SELECT doc_id,
               len(regexp_extract_all(text, '{SCRUB_PATTERNS["emails"]}')) AS n_emails,
               len(regexp_extract_all(text, '{SCRUB_PATTERNS["hot_terms"]}')) AS n_hot_terms,
               len(regexp_extract_all(text, '{SCRUB_PATTERNS["numbers"]}')) AS n_numbers,
               length(regexp_replace(regexp_replace(regexp_replace(text,
                   '{SCRUB_PATTERNS["emails"]}', '<redacted>', 'g'),
                   '{SCRUB_PATTERNS["hot_terms"]}', '<redacted>', 'g'),
                   '{SCRUB_PATTERNS["numbers"]}', '<redacted>', 'g')) AS redacted_len
        FROM documents""",
    doc="PII-shape pattern scrub: per-pattern match counts plus "
        "redacted-text length. regexp_count/regexp_replace stay in "
        "whole-stage codegen — linear per-row scans, zero shuffle "
        "(operators/llm/text.py regex_scrub).",
    tags=("llm", "text", "scrub"),
)
def llm_regex_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.regex_scrub(
        load_table(spark, sf_dir, "documents"), SCRUB_PATTERNS
    )


@register(
    "llm_dedup_exact_norm",
    """SELECT md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp,
              min(doc_id) AS keeper_doc_id, count(*) AS n_copies
       FROM documents GROUP BY 1""",
    doc="Normalization-aware exact dedup: lowercase, collapse runs of "
        "spaces, trim, THEN content-hash — catches the trivial-variant "
        "duplicates byte-exact dedup misses. Same single 16-byte-key "
        "shuffle as llm_dedup_exact; normalization is codegen string "
        "work at the scan.",
    tags=("llm", "dedup"),
)
def llm_dedup_exact_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    return (
        d.select(F.md5(norm).alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# train/eval decontamination + intra-doc repetition
# --------------------------------------------------------------------------

_NGRAM_SQL = (
    "list_transform(generate_series(1, len(t) - {m}), "
    "i -> array_to_string(t[i:i+{m}], ' '))"
)


@register(
    "llm_decontaminate",
    f"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        g0 AS (SELECT doc_id, unnest({_NGRAM_SQL.format(m=2)}) AS g
               FROM toks),
        g AS (SELECT DISTINCT doc_id, g FROM g0),
        bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 50 = 0)
       SELECT g.doc_id, count(*) AS n_hit_grams
       FROM g JOIN bench USING (g)
       WHERE g.doc_id % 50 <> 0
       GROUP BY 1""",
    doc="Benchmark decontamination (GPT-3 appendix-C style n-gram "
        "overlap): training docs sharing any word 3-gram with the "
        "held-out eval slice (doc_id % 50 == 0 stands in for the "
        "benchmark set). The eval side's distinct gram set broadcasts — "
        "the probe is a map-side hash join over the train scan, no "
        "shuffle of the big side (operators/llm/text.py:decontaminate).",
    tags=("llm", "text", "dedup"),
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 50 != 0)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return text.decontaminate(train, bench, n=3)


@register(
    "llm_repetition_score",
    f"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        g AS (SELECT doc_id, {_NGRAM_SQL.format(m=2)} AS gs FROM toks)
       SELECT doc_id, len(gs)::BIGINT AS n_grams,
              round((len(gs) - len(list_distinct(gs)))
                    / greatest(1, len(gs))::DOUBLE, 6) AS rep_ratio
       FROM g""",
    doc="Intra-document repetition: fraction of word 3-grams that repeat "
        "an earlier one — the boilerplate/low-entropy quality signal. "
        "Pure in-row array expressions (sequence/slice/array_distinct): "
        "map-only, zero shuffle at any scale "
        "(operators/llm/text.py:repetition_score).",
    tags=("llm", "text", "quality"),
)
def llm_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_score(load_table(spark, sf_dir, "documents"), n=3)


_BM25_TERMS = ("vector", "stream", "merge")


def _bm25_sql(k: int = 10) -> str:
    k1, b = text.BM25_K1, text.BM25_B
    tf_cols = ", ".join(
        f"len(list_filter(t, x -> x = '{w}'))::DOUBLE AS tf{i}"
        for i, w in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::DOUBLE AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    term = (
        "(ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * tf{{i}} * ({k1} + 1) / (tf{{i}} + {k1} * (1 - {b} + {b} * dl / avgdl)))"
    )
    score = " + ".join(term.format(i=i) for i in range(len(_BM25_TERMS)))
    return f"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                           FROM documents),
       tf AS (SELECT doc_id, len(t)::DOUBLE AS dl, {tf_cols} FROM tok),
       stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl,
                        {df_cols}
                 FROM tf)
       SELECT doc_id, round({score}, 4) AS bm25
       FROM tf, stats
       WHERE round({score}, 4) > 0
       ORDER BY bm25 DESC, doc_id LIMIT {k}"""


@register(
    "llm_bm25_search",
    _bm25_sql(),
    doc="Okapi BM25 top-10 for a 3-term query: per-term tf via JVM array "
        "filters (no explode), corpus stats (N, avgdl, per-term df) in ONE "
        "tiny aggregate broadcast back as scalars, score as a fixed-order "
        "sum so float addition order is identical cross-engine, then "
        "TakeOrderedAndProject. Zero wide shuffles at any scale "
        "(operators/llm/text.py:bm25_search).",
    tags=("llm", "text", "topk"),
)
def llm_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_search(
        load_table(spark, sf_dir, "documents"), list(_BM25_TERMS), k=10
    )


@register(
    "llm_cross_dedup",
    """WITH fp AS (SELECT doc_id, source,
                         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
                  FROM documents),
       corpus AS (SELECT DISTINCT fp FROM fp
                  WHERE CAST(substr(source, 4) AS BIGINT) < 10),
       batch AS (SELECT doc_id, fp FROM fp
                 WHERE CAST(substr(source, 4) AS BIGINT) >= 10)
       SELECT b.doc_id FROM batch b
       WHERE b.fp NOT IN (SELECT fp FROM corpus)""",
    doc="Cross-corpus exact dedup: the new-crawl-vs-existing-corpus gate "
        "every ingestion pipeline runs — normalized-content fingerprints "
        "(same md5 key as llm_dedup_exact_norm) for the incoming batch "
        "(src10+) anti-joined against the already-ingested corpus "
        "(src0-9). Compiles to a left-anti hash join on a 32-char key; at "
        "100 TB the corpus side is a bloom-filtered bucketed table so the "
        "probe never shuffles the batch.",
    tags=("llm", "dedup"),
)
def llm_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    src_n = F.substring("source", 4, 10).cast("long")
    fp = docs.select("doc_id", src_n.alias("src_n"), F.md5(norm).alias("fp"))
    corpus = fp.filter(F.col("src_n") < 10).select("fp").distinct()
    batch = fp.filter(F.col("src_n") >= 10)
    return batch.join(corpus, "fp", "left_anti").select("doc_id")


@register(
    "llm_inverted_index",
    """WITH ex AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents)
       SELECT term, count(*) AS df,
              array_to_string(list_sort(list(doc_id)), ',') AS postings
       FROM ex GROUP BY 1""",
    doc="Inverted-index construction: term -> document frequency + sorted "
        "posting list (rendered as a comma-joined string for the driver's "
        "scalar-only hash compare; the array form is text.inverted_index). "
        "The shuffle carries only (term, doc_id) pairs; "
        "sort_array(collect_list) pins posting order. Scale path: segment "
        "hot terms by doc-id range and delta-encode "
        "(operators/llm/text.py:inverted_index).",
    tags=("llm", "text"),
)
def llm_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = text.inverted_index(load_table(spark, sf_dir, "documents"))
    return idx.withColumn("postings", F.array_join("postings", ","))


@register(
    "llm_bpe_pair_counts",
    """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       p AS (SELECT unnest(CASE WHEN len(w) >= 2
                                THEN list_transform(generate_series(1, len(w) - 1),
                                                    i -> substr(w, i, 2))
                                ELSE []::VARCHAR[] END) AS pair FROM w)
       SELECT pair, count(*) AS n FROM p GROUP BY 1
       ORDER BY n DESC, pair LIMIT 20""",
    doc="One BPE tokenizer-training merge round: adjacent character-pair "
        "frequencies within words, top-20. Pair extraction is JVM array "
        "algebra inside codegen; the aggregate key space is bounded by "
        "alphabet^2, so each merge round at 100 TB is one map-heavy scan "
        "plus a trivial reduce (operators/llm/text.py:bpe_pair_counts).",
    tags=("llm", "text", "topk"),
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bpe_pair_counts(load_table(spark, sf_dir, "documents"), k=20)


@register(
    "llm_blocklist_filter",
    f"""SELECT source, count(*) AS n_docs,
               sum(CASE WHEN len(list_filter(string_split(text, ' '),
                                             x -> x IN ({_in_list(text.BLOCKLIST)}))) > 0
                        THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
               round(sum(CASE WHEN len(list_filter(string_split(text, ' '),
                                                   x -> x IN ({_in_list(text.BLOCKLIST)}))) > 0
                              THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 8)
                 AS flagged_share
        FROM documents GROUP BY 1""",
    doc="C4-style blocklist audit: per-source doc counts vs docs containing "
        "any blocklisted term (operators/llm/text.py:blocklist_filter). "
        "Membership test is F.exists over the token array — JVM-side, no "
        "explode — so the 100 TB cost is one map pass + a tiny per-source "
        "aggregate.",
    tags=("llm", "text", "filter"),
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.blocklist_filter(load_table(spark, sf_dir, "documents"))


@register(
    "llm_tfidf_topk",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       n AS (SELECT count(*) AS n_docs FROM documents),
       scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                         round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 8) AS tfidf
                  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
       ranked AS (SELECT *, row_number() OVER
                      (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
                  FROM scored)
       SELECT doc_id, term, tf, df, tfidf FROM ranked WHERE rn <= 3""",
    doc="Per-document top-3 keywords by TF-IDF "
        "(operators/llm/text.py:tfidf_top_terms): two partial-agg shuffles "
        "(tf, df), term-keyed join (Zipf skew -> AQE split), broadcast "
        "corpus-size scalar, row_number windowed on doc_id (max-cardinality "
        "key, never a single-task stage). ln rounds to 8 dp; ties break on "
        "term ASC.",
    tags=("llm", "text"),
)
def llm_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


@register(
    "llm_dataset_split",
    """WITH b AS (SELECT n_chars,
                         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
                  FROM documents)
       SELECT CASE WHEN bucket < 80 THEN 'train'
                   WHEN bucket < 90 THEN 'val'
                   ELSE 'test' END AS split,
              count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars_total
       FROM b GROUP BY 1""",
    doc="Deterministic 80/10/10 train/val/test split by key hash — the "
        "disjoint-range companion to llm_sample_hash: same engine-portable "
        "bucket hash (functions/hashing.py:hash32), so membership is "
        "reproducible across runs, engines, and cluster sizes, and a doc "
        "can never land in two splits. Map-only bucketing + a 3-group "
        "aggregate; at 100 TB the split column is computed on scan and "
        "used as a partition key for the write.",
    tags=("llm", "sampling"),
)
def llm_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash32

    d = load_table(spark, sf_dir, "documents")
    bucket = hash32(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )


@register(
    "llm_frame_sample",
    """WITH m AS (SELECT doc_id AS media_id, text, strlen(text) AS n_bytes
                  FROM documents),
       f AS (SELECT media_id, text, n_bytes,
                    greatest(1, floor((n_bytes * 10) / 40.0)::BIGINT) AS n_frames
             FROM m),
       i AS (SELECT media_id, text, n_bytes, n_frames,
                    unnest(list_distinct(list_transform(
                        generate_series(0, 3),
                        i -> floor(i * n_frames / 4.0)::BIGINT))) AS frame_idx
             FROM f)
       SELECT media_id, frame_idx, frame_idx * 40 AS ts_ms,
              md5(substr(text,
                         (floor(frame_idx * (n_bytes / n_frames::DOUBLE))::BIGINT
                          + 1)::INT, 16)) AS frame_sig
       FROM i""",
    doc="Video frame-sampling plumbing: k=4 uniform frames per clip from "
        "the metadata timeline (40 ms/frame), one explode row per sampled "
        "frame, decode stubbed behind a deterministic 16-byte slice + md5 "
        "signature (operators/llm/multimodal.py:frame_sample). The scale "
        "property: sampling reads only (id, meta) — column pruning drops "
        "the binary payload until the decoder stage — so frame selection "
        "at 100 TB costs a metadata scan, and only sampled offsets reach "
        "the codec. Casts are explicit floor() in the oracle because "
        "DuckDB rounds on BIGINT cast where Spark truncates.",
    tags=("llm", "multimodal"),
)
def llm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.multimodal import frame_sample

    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            (F.octet_length("text") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return frame_sample(media, frame_ms=40, k=4)
