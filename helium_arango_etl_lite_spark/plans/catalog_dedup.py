"""LLM dedup catalog: every ``llm_*`` entry tagged ``dedup`` except the
four embedding near-dup entries (catalog_similarity.py).

Each entry pairs a Spark program over ``operators/llm/dedup.py`` with a
DuckDB oracle. Both sides are built from one copy of each building
block, and both read the MinHash settings (``NUM_HASHES``, ``BANDS``,
``SEED``) and the Jaccard and containment thresholds from
``operators/llm/dedup.py``. ``catalog_llm``, ``catalog_round10b`` and
``catalog_similarity`` import the oracle fragments they share with this
family.

=============================  ============================  ==================================
building block                 oracle fragment               Spark side
=============================  ============================  ==================================
distinct word 3-gram shingles  ``_SHINGLES_CTE``             ``dedup.word_shingles``
word n-gram at index ``i``     ``_starts_sql``,              ``dedup.array_shingles``
                               ``_gram_sql``
MinHash signature              ``_SIG_CTES``                 ``dedup.minhash_signature_df``
signature as one key           ``_SIG_KEY_SQL``              ``_sig_key``
LSH bands                      ``_lsh_ctes``                 ``dedup._minhash_bands``
all-pairs band self-join       ``_BAND_PAIRS_SQL``           ``dedup.minhash_candidate_pairs``
exact Jaccard on candidates    ``_VERIFY_JOIN``              ``dedup.exact_jaccard_on_pairs``
exploded-shingle overlap       ``_overlap_sql``              ``dedup._shingle_overlap``
transitive closure             ``_closure_sql``,             ``dedup.dup_clusters``
                               ``_reach_sql``
doc -> cluster -> keeper       ``_collapsed_pipeline_sql``   ``_keepers``
normalized-content md5         ``_NORM_FP_SQL``              ``text._normalized_md5``
=============================  ============================  ==================================

The entries, by what they do:

* exact and normalized content keys: ``llm_dedup_exact``,
  ``llm_dedup_exact_norm``, ``llm_cross_dedup``,
  ``llm_curation_end_to_end``;
* per-doc sketches and sketch keys: ``llm_minhash_signature``,
  ``llm_dedup_simhash``, ``llm_split_leakage_check``,
  ``llm_incremental_dedup_bloom``;
* LSH candidates, their verification and clusters:
  ``llm_dedup_minhash``, ``llm_minhash_verify``,
  ``llm_dedup_edit_verify``, ``llm_dup_clusters``;
* the pipelines (exact collapse, LSH, verify, clusters, keepers):
  ``llm_dedup_pipeline``, ``llm_dedup_pipeline_staged``,
  ``llm_dedup_pipeline_star``;
* shingle overlap: ``llm_dedup_ngram_jaccard``,
  ``llm_dedup_ngram_jaccard_capped``, ``llm_dedup_containment``,
  ``llm_decontaminate``;
* sub-document spans: ``llm_window_dedup``, ``llm_paragraph_dedup``,
  ``llm_repeated_span_scrub``.

The MinHash, SimHash and LSH oracles are generated from the same seeded
parameters as the Spark operators, with the shared cross-engine md5
prefix hash, so the sketch entries are value-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_31, hash32, hash32_oracle_sql, minhash_params
from ..operators.llm import dedup, text
from ..operators.llm.dedup import (
    BAND_ROWS, BANDS, CONTAINMENT_THRESHOLD, JACCARD_THRESHOLD, NUM_HASHES,
    SEED, SIMHASH_BITS, SPAN_OKEY_SHIFT, SPAN_W,
)
from ..operators.llm.shards import pack_tar_shards
from ..operators.llm.text import _normalized_md5
from .catalog_round7 import _SHARD_HS, N_SHARDS
from .registry import load_table, register

# ---------------------------------------------------------------------------
# oracle fragments
# ---------------------------------------------------------------------------

_SHINGLES_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT doc_id,
              list_distinct(CASE WHEN len(t) >= 3
                   THEN list_transform(generate_series(1, len(t)-2),
                                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                   ELSE []::VARCHAR[] END) AS shd
       FROM tok)
"""

_HASH_CTES = _SHINGLES_CTE + """,
hs AS (SELECT doc_id,
              list_transform(shd, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h
       FROM sh)
"""

# the seeded family of minhash_signature_df: (a*x + b) mod (2^31-1), all
# operands < 2^32 so BIGINT arithmetic is exact in both engines
_SIG_SELECT = "SELECT doc_id, " + ", ".join(
    f"coalesce(list_min(list_transform(h, x -> (x * {a} + {b}) % {MERSENNE_31})), {MERSENNE_31}) AS sig_{i}"
    for i, (a, b) in enumerate(minhash_params(NUM_HASHES, SEED))
) + " FROM hs"

_SIG_CTES = _HASH_CTES + ", sig AS (" + _SIG_SELECT + ")"

_SIG_KEY_SQL = " || ':' || ".join(f"sig_{i}" for i in range(NUM_HASHES))


def _sig_key():
    """The whole signature as one ``:``-joined key (``_SIG_KEY_SQL``)."""
    return F.concat_ws(":", *[F.col(f"sig_{i}") for i in range(NUM_HASHES)])


def _lsh_ctes(docs: str = "documents") -> str:
    """tok, sh, hs, sig and bands (one ``(doc_id, band_key)`` row per
    band) over the document table ``docs``."""
    band_keys = ", ".join(
        "(" + " || '_' || ".join(
            [f"{b}::VARCHAR"]
            + [f"sig_{b * BAND_ROWS + j}::VARCHAR" for j in range(BAND_ROWS)]
        ) + ")"
        for b in range(BANDS)
    )
    return (
        _SIG_CTES
        + ", bands AS (SELECT doc_id, unnest([" + band_keys + "]) AS band_key FROM sig)"
    ).replace("FROM documents", f"FROM {docs}")


_BAND_PAIRS_SQL = """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM bands a JOIN bands b
                      ON a.band_key = b.band_key AND a.doc_id < b.doc_id"""

# (inter, un) of the two shingle sets of each pair in cand
_VERIFY_JOIN = """len(list_intersect(sa.shd, sb.shd)) AS inter,
                    len(sa.shd) + len(sb.shd)
                        - len(list_intersect(sa.shd, sb.shd)) AS un
             FROM cand c
             JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)"""


def _reach_sql(edges: str, r: str = "r") -> str:
    """Recursive transitive closure ``reach(src, dst)`` over the
    symmetric edge CTE ``edges``; min(dst) per src is its component."""
    e = edges[0]
    return f"""reach(src, dst) AS (
    SELECT src, src FROM {edges}
    UNION
    SELECT {r}.src, {e}.dst FROM reach {r} JOIN {edges} {e} ON {r}.dst = {e}.src)"""


def _closure_sql(pairs: str) -> str:
    """edges (``pairs`` in both directions) and their closure ``reach``."""
    return f"""edges AS (SELECT doc_a AS src, doc_b AS dst FROM {pairs}
          UNION SELECT doc_b, doc_a FROM {pairs}),
""" + _reach_sql("edges")


_LABELS_SQL = "SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src"


def _starts_sql(ws: str, n: int) -> str:
    """Start indexes of the word n-grams of the token list ``ws``."""
    return f"generate_series(1, len({ws}) - {n - 1})"


def _gram_sql(ws: str, n: int) -> str:
    """The word n-gram of ``ws`` starting at index ``i``."""
    return f"array_to_string({ws}[i:i+{n - 1}], ' ')"


# word 3-grams of t with multiplicity, in order
_NGRAMS_SQL = f"list_transform({_starts_sql('t', 3)}, i -> {_gram_sql('t', 3)})"


def _overlap_sql(op: str) -> str:
    """sizes (shingles per doc) and pairs (``inter`` = shared shingles per
    doc pair kept by ``a.doc_id <op> b.doc_id``) over the exploded
    shingles ``ex(doc_id, s)``."""
    return f"""sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY 1),
       pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                 FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id {op} b.doc_id
                 GROUP BY 1, 2)"""


def _ngram_jaccard_sql(ex: str) -> str:
    """Word-3-gram Jaccard over the exploded shingles the CTEs ``ex``
    leave in ``ex``."""
    return "WITH " + _SHINGLES_CTE + """,
       """ + ex + """,
       """ + _overlap_sql("<") + f"""
       SELECT doc_a, doc_b,
              inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)::DOUBLE AS jaccard
       FROM pairs
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)::DOUBLE >= {JACCARD_THRESHOLD}"""


_NORM_FP_SQL = r"md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))"


# ---------------------------------------------------------------------------
# exact and normalized content keys
# ---------------------------------------------------------------------------

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


@register(
    "llm_cross_dedup",
    f"""WITH fp AS (SELECT doc_id, source,
                         {_NORM_FP_SQL} AS fp
                  FROM documents),
       corpus AS (SELECT DISTINCT fp FROM fp
                  WHERE CAST(substr(source, 4) AS BIGINT) < 10),
       batch AS (SELECT doc_id, fp FROM fp
                 WHERE CAST(substr(source, 4) AS BIGINT) >= 10)
       SELECT b.doc_id FROM batch b
       WHERE b.fp NOT IN (SELECT fp FROM corpus)""",
    doc="Cross-corpus exact dedup: the new-crawl-vs-existing-corpus gate "
        "every ingestion pipeline runs — normalized-content fingerprints "
        "(the \\s+-collapsing md5 key of llm_fingerprint) for the incoming batch "
        "(src10+) anti-joined against the already-ingested corpus "
        "(src0-9). Compiles to a left-anti hash join on a 32-char key; at "
        "100 TB the corpus side is a bloom-filtered bucketed table so the "
        "probe never shuffles the batch.",
    tags=("llm", "dedup"),
)
def llm_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    src_n = F.substring("source", 4, 10).cast("long")
    fp = docs.select("doc_id", src_n.alias("src_n"), _normalized_md5().alias("fp"))
    corpus = fp.filter(F.col("src_n") < 10).select("fp").distinct()
    batch = fp.filter(F.col("src_n") >= 10)
    return batch.join(corpus, "fp", "left_anti").select("doc_id")


_E2E_MIN_TOKENS = 25

_E2E_SQL = f"""
WITH f AS (SELECT doc_id, text FROM documents
           WHERE len(string_split(text, ' ')) >= {_E2E_MIN_TOKENS}),
fp AS (SELECT doc_id, text, md5(text) AS fp FROM f),
k AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY 1),
u AS (SELECT fp.doc_id, fp.text FROM fp JOIN k USING (fp, doc_id)),
h AS (SELECT doc_id, text, {_SHARD_HS} AS hs FROM u),
s AS (SELECT doc_id, text,
             (list_position(hs, list_max(hs)) - 1)::BIGINT AS shard
      FROM h),
per AS (SELECT shard, count(*)::BIGINT AS n_members,
               sum(strlen(text))::BIGINT AS payload_bytes,
               sum(512 + 512 * ((strlen(text) + 511) // 512))::BIGINT
                 AS content
        FROM s GROUP BY 1)
SELECT shard, n_members, payload_bytes,
       (((content + 1024 + 10239) // 10240) * 10240)::BIGINT
         AS shard_bytes
FROM per"""


@register(
    "llm_curation_end_to_end",
    _E2E_SQL,
    doc="The whole curation chain in one plan: token-count quality "
        "filter -> exact-dedup (md5 collapse, min-doc_id keeper) -> "
        "rendezvous shard assignment (llm_shard_assign's argmax "
        "weights) -> pack each shard into a REAL USTAR tar "
        "(pack_tar_shards) -> report per-shard members / payload "
        "bytes / BLOB SIZE. The last column is the strongest check in "
        "the chain: Spark MEASURES length(shard blob) as written by "
        "the stdlib tar writer, while the oracle PREDICTS it by pure "
        "arithmetic (512-block member spans + 1024 trailer, rounded "
        "up to the 10240 record size) — agreement certifies every "
        "stage's row set AND the container's byte layout at once. "
        "SCALE: filter and dedup are one md5-keyed shuffle; shard "
        "assignment is map-only; packing is one shard-keyed group "
        "pass. This is the job a 100 TB corpus runs nightly.",
    tags=("llm", "dedup", "sampling", "storage", "scale"),
)
def llm_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    f = docs.filter(
        F.size(F.split("text", " ")) >= _E2E_MIN_TOKENS
    ).select("doc_id", "text")
    fp = f.withColumn("fp", F.md5("text"))
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    u = fp.join(keep, ["fp", "doc_id"]).select("doc_id", "text")
    hs = F.array(
        *[
            hash32(
                F.concat(F.lit(f"shard{s}:"), F.col("doc_id").cast("string"))
            )
            for s in range(N_SHARDS)
        ]
    )
    assigned = u.select(
        (F.array_position(hs, F.array_max(hs)) - 1)
        .cast("long")
        .cast("string")
        .alias("shard_id"),
        "doc_id",
        "text",
    )
    shards = pack_tar_shards(assigned, key_col="shard_id")
    payload = assigned.groupBy(
        F.col("shard_id").alias("source")
    ).agg(F.sum(F.octet_length("text")).alias("payload_bytes"))
    return (
        shards.join(payload, "source")
        .select(
            F.col("source").cast("long").alias("shard"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("payload_bytes").cast("long").alias("payload_bytes"),
            F.length("shard").cast("long").alias("shard_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# per-doc sketches and sketch keys
# ---------------------------------------------------------------------------

_MINHASH_SIG_SQL = "WITH " + _HASH_CTES + _SIG_SELECT


@register(
    "llm_minhash_signature",
    _MINHASH_SIG_SQL,
    doc="MinHash signatures (K=6, word-3-gram shingles, universal hash family "
        "mod 2^61-1): per-row JVM expressions, zero shuffle; the oracle "
        "recomputes the identical family in DuckDB HUGEINT arithmetic.",
    tags=("llm", "dedup", "sketch"),
)
def llm_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signature_df(load_table(spark, sf_dir, "documents"))


_SIMHASH_SQL = (
    """WITH tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents),
hs AS (SELECT doc_id, list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h FROM tok)
SELECT doc_id, ("""
    + " + ".join(
        f"(CASE WHEN coalesce(list_sum(list_transform(h, x -> ((x >> {j}) & 1) * 2 - 1)), 0) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
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
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


_LEAKAGE_SQL = (
    "WITH " + _SIG_CTES + ","
    + f"""
b AS (SELECT doc_id, {_SIG_KEY_SQL} AS fp,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
                 AS bucket
      FROM sig),
s AS (SELECT doc_id, fp,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM b),
g AS (SELECT fp,
             array_to_string(list_sort(list_distinct(list(split))), ',')
                 AS splits_key,
             count(DISTINCT split) AS ns,
             count(*) AS n_docs
      FROM s GROUP BY fp)
SELECT splits_key, count(*)::BIGINT AS n_groups,
       sum(n_docs)::BIGINT AS n_docs_leaked
FROM g WHERE ns > 1 GROUP BY splits_key"""
)


@register(
    "llm_split_leakage_check",
    _LEAKAGE_SQL,
    doc="Train/val/test contamination guard: after the hash-bucket split "
        "(same 80/10/10 rule as llm_dataset_split), any MinHash-"
        "signature-identical duplicate group whose members straddle "
        "splits is leaked evaluation data — the signature key catches "
        "near-verbatim duplicates that an md5-exact key misses (on this "
        "corpus md5-level leakage is zero at sf<=0.01 while signature-"
        "level leakage exists at every sf, which is the point of "
        "checking). Reports, per combination of splits touched, the "
        "leaked group and document counts; remediation is to re-home "
        "whole groups (split by the GROUP's min-id hash, not the "
        "doc's). Scale shape: the signature is the per-row zero-shuffle "
        "map stage shared with the dedup entries, then ONE fp-keyed "
        "partial-agg shuffle and a <= 4-row readout — a linear guard "
        "cheap enough to run on every corpus build.",
    tags=("llm", "sampling", "dedup"),
)
def llm_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup.minhash_signature_df(load_table(spark, sf_dir, "documents"))
    bucket = hash32(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    s = sig.select(_sig_key().alias("fp"), split.alias("split"))
    g = s.groupBy("fp").agg(
        F.collect_set("split").alias("cs"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        g.filter(F.size("cs") > 1)
        .groupBy(F.array_join(F.array_sort("cs"), ",").alias("splits_key"))
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_docs").alias("n_docs_leaked"),
        )
    )


_IBF_HASHES = 3
# filter size ADAPTS to history cardinality: bits = max(1024,
# 2^bitlength(2*n_keys - 1)) where n_keys counts DISTINCT history keys —
# the Bloom inserts distinct keys, so sizing on rows would oversize the
# filter whenever history carries internal duplicates (the x100 soak
# fixture showed exactly that: 400k rows but 5k distinct keys made a
# row-sized filter 200x too big and fp_rate degenerate-zero).
# ~2-4 bits per key is deliberately tight so
# the measured fp_rate stays non-trivial (~0.3) at EVERY scale while the
# packed word table stays ~n_hist/16 longs; production turns the same
# dial the other way (10 bits/key -> fp ~1%). The formula is exact
# integer arithmetic both engines reproduce: Python bit_length() ==
# DuckDB length(bin(x)) for x >= 1.
_IBF_BITS_SQL = "(SELECT greatest(1024, 1 << length(bin(greatest(2 * count(DISTINCT fp) - 1, 1)))) FROM hist)"


def _ibf_bits_py(n_hist: int) -> int:
    return max(1024, 1 << max(2 * n_hist - 1, 1).bit_length())


def _ibf_hash_sql(expr: str, i: int) -> str:
    salted = expr + " || ':ibf" + str(i) + "'"
    return f"({hash32_oracle_sql(salted)} % {_IBF_BITS_SQL})"


def _ibloom_sql() -> str:
    build_hashes = ", ".join(
        _ibf_hash_sql("fp", i) for i in range(_IBF_HASHES)
    )
    probe_hashes = ", ".join(
        f"{_ibf_hash_sql('n.fp', i)} AS h{i}" for i in range(_IBF_HASHES)
    )
    word_joins = " ".join(
        f"LEFT JOIN words w{i} ON w{i}.widx = pr.h{i} // 32"
        for i in range(_IBF_HASHES)
    )
    probe_pass = " AND ".join(
        f"(coalesce(w{i}.wv, 0) & (1::BIGINT << (pr.h{i} % 32))) <> 0"
        for i in range(_IBF_HASHES)
    )
    return (
        "WITH " + _SIG_CTES + ","
        + f"""
keyed AS (SELECT doc_id, {_SIG_KEY_SQL} AS fp FROM sig),
hist AS (SELECT fp FROM keyed WHERE doc_id % 5 <> 0),
newb AS (SELECT doc_id, fp FROM keyed WHERE doc_id % 5 = 0),
bits_t AS (SELECT DISTINCT unnest([{build_hashes}]) AS bit FROM hist),
words AS (SELECT bit // 32 AS widx,
                 bit_or(1::BIGINT << (bit % 32)) AS wv
          FROM bits_t GROUP BY 1),
truth AS (SELECT DISTINCT fp FROM hist),
pr AS (SELECT n.doc_id, n.fp, {probe_hashes} FROM newb n),
probe AS (SELECT pr.doc_id,
                 ({probe_pass}) AS bloom_pass,
                 t.fp IS NOT NULL AS is_dup
          FROM pr
          {word_joins}
          LEFT JOIN truth t ON t.fp = pr.fp)
SELECT count(*)::BIGINT AS n_new,
       sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_true_dup,
       sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END)::BIGINT AS n_pass,
       sum(CASE WHEN NOT bloom_pass THEN 1 ELSE 0 END)::BIGINT
         AS n_definitely_new,
       sum(CASE WHEN bloom_pass AND NOT is_dup THEN 1 ELSE 0 END)::BIGINT
         AS n_false_pos,
       round(sum(CASE WHEN bloom_pass AND NOT is_dup THEN 1 ELSE 0 END)
             / greatest(1, sum(CASE WHEN NOT is_dup THEN 1 ELSE 0 END))::DOUBLE,
             6) AS fp_rate
FROM probe"""
    )


@register(
    "llm_incremental_dedup_bloom",
    _ibloom_sql(),
    doc="Incremental corpus dedup, the shape every continuously-crawled "
        "training corpus needs: dedup a NEW batch (doc_id % 5 = 0) "
        "against the HISTORY corpus (the other 80%) WITHOUT joining the "
        "new batch to all of history. History's MinHash-signature keys "
        "(near-verbatim duplicate identity — signature-level duplicates "
        "straddle any split at every sf, so the true-dup path is "
        "exercised where an md5-exact key would measure zero) build a "
        "Bloom sized to the DISTINCT history keys (bits = "
        "2^ceil(log2(2*n_keys)), one bounded count action) packed into <= bits/32 (widx, word) "
        "rows, broadcast everywhere; each new doc tests "
        f"{_IBF_HASHES} positions with O(1) word lookups. "
        "Bloom-negative docs are DEFINITELY new (no false negatives by "
        "construction — pinned by n_pass >= n_true_dup) and skip the "
        "verify join entirely in the production shape "
        "(filter(bloom_pass) before the join), which therefore "
        "processes n_true_dup + fp_rate * n_new rows instead of n_new. "
        "This REGISTERED entry instruments BOTH paths — it joins every "
        "new doc to truth so the false-positive rate is measurable; "
        "the monitoring row it reports (batch size, true dups, bloom "
        "passes, definite-news, false positives, fp_rate) is what a "
        "deployment watches to know the shear is still paying. The "
        "2-4-bits-per-key sizing is deliberately tight so the FP path "
        "stays exercised (measured 0.30 at sf0.01, 0.43 at sf0.1 and "
        "x100 — SCALE_SOAK.md); production picks ~10 bits/key for ~1%. "
        "Same "
        "packed-word kernel as join_bloom_prefilter (13.6x vs "
        "array-scan probing, SCALE_SOAK.md); hashes are md5-derived so "
        "DuckDB reproduces every bit.",
    tags=("llm", "dedup", "sketch", "streaming"),
)
def llm_incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup.minhash_signature_df(load_table(spark, sf_dir, "documents"))
    # (doc_id, fp) is consumed by three plan branches (bloom build,
    # truth, probe) — checkpoint so the signature map stage (the entry's
    # only corpus-sized work) runs ONCE, not once per consumer
    keyed = sig.select("doc_id", _sig_key().alias("fp")).localCheckpoint(
        eager=False
    )
    hist = keyed.filter(F.col("doc_id") % 5 != 0).select("fp")
    newb = keyed.filter(F.col("doc_id") % 5 == 0)

    # bounded control plane: ONE distinct-count (a single long to the
    # driver) sizes the filter; the oracle mirrors it with a scalar
    # subquery over DISTINCT fp
    n_keys = hist.select(F.count_distinct("fp")).collect()[0][0]
    bits = _ibf_bits_py(n_keys)

    def ibf_hash(col, i: int):
        return hash32(F.concat(col, F.lit(f":ibf{i}"))) % bits

    bits_t = hist.select(
        F.explode(
            F.array(*[ibf_hash(F.col("fp"), i) for i in range(_IBF_HASHES)])
        ).alias("bit")
    ).distinct()
    words = bits_t.groupBy(F.expr("bit div 32").alias("widx")).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT))"))
        .alias("wv")
    )
    truth = hist.distinct().withColumnRenamed("fp", "t_fp")

    pr = newb.select(
        "doc_id", "fp",
        *[ibf_hash(F.col("fp"), i).alias(f"h{i}") for i in range(_IBF_HASHES)],
    )
    for i in range(_IBF_HASHES):
        wi = words.select(
            F.col("widx").alias(f"widx{i}"), F.col("wv").alias(f"wv{i}")
        )
        pr = pr.join(
            F.broadcast(wi),
            F.expr(f"h{i} div 32") == F.col(f"widx{i}"),
            "left",
        )
    pass_expr = None
    for i in range(_IBF_HASHES):
        bit_set = (
            F.coalesce(F.col(f"wv{i}"), F.lit(0)).bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(h{i} % 32 AS INT))")
            )
            != 0
        )
        pass_expr = bit_set if pass_expr is None else (pass_expr & bit_set)
    probe = pr.join(truth, F.col("fp") == F.col("t_fp"), "left").select(
        "doc_id",
        pass_expr.alias("bloom_pass"),
        F.col("t_fp").isNotNull().alias("is_dup"),
    )
    return probe.agg(
        F.count("*").cast("long").alias("n_new"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_true_dup"),
        F.sum(F.col("bloom_pass").cast("long")).cast("long").alias("n_pass"),
        F.sum((~F.col("bloom_pass")).cast("long")).cast("long")
        .alias("n_definitely_new"),
        F.sum((F.col("bloom_pass") & ~F.col("is_dup")).cast("long"))
        .cast("long")
        .alias("n_false_pos"),
        F.round(
            F.sum((F.col("bloom_pass") & ~F.col("is_dup")).cast("long"))
            / F.greatest(F.lit(1), F.sum((~F.col("is_dup")).cast("long"))),
            6,
        ).alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# LSH candidates, their verification and clusters
# ---------------------------------------------------------------------------

_MINHASH_PAIRS_SQL = "WITH " + _lsh_ctes() + " " + _BAND_PAIRS_SQL


@register(
    "llm_dedup_minhash",
    _MINHASH_PAIRS_SQL,
    doc="MinHash LSH candidate pairs (3 bands x 2 rows): the band join "
        "shuffles only (band_key, doc_id) — the corpus never moves.",
    tags=("llm", "dedup", "sketch"),
)
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_candidate_pairs(load_table(spark, sf_dir, "documents"))


VERIFY_PER_DOC_CAP = 8

_VERIFY_SQL = (
    "WITH " + _lsh_ctes()
    + ", cand0 AS (" + _BAND_PAIRS_SQL + """)
       , cand AS (SELECT doc_a, doc_b, n_cand_a
                  FROM (SELECT doc_a, doc_b,
                               row_number() OVER (PARTITION BY doc_a
                                                  ORDER BY doc_b) AS rk,
                               count(*) OVER (PARTITION BY doc_a)
                                   AS n_cand_a
                        FROM cand0)
                  WHERE rk <= """ + repr(VERIFY_PER_DOC_CAP) + """)
       SELECT doc_a, doc_b,
              round(CASE WHEN un > 0 THEN inter::DOUBLE / un::DOUBLE
                         ELSE 0.0 END, 4) AS jaccard,
              (CASE WHEN un > 0 THEN inter::DOUBLE / un::DOUBLE
                    ELSE 0.0 END) >= """ + repr(JACCARD_THRESHOLD) + """ AS verified,
              n_cand_a
       FROM (SELECT c.doc_a, c.doc_b, c.n_cand_a,
                    """ + _VERIFY_JOIN
)


@register(
    "llm_minhash_verify",
    _VERIFY_SQL,
    doc="Two-stage dedup: LSH band candidates, then EXACT word-3-gram "
        "Jaccard on candidates only. The quadratic verify join never sees "
        "the corpus — only LSH candidates; shingle arrays materialise "
        "solely for candidate docs (left-semi prune). False-positive "
        "candidates survive with verified=false, so the sketch stage's "
        "precision is directly observable. Registered form caps verified "
        "pairs at 8 smallest-id candidates per doc_a (pre-verify), "
        "bounding output at O(8n) instead of O(D^2/2) per D-copy dup "
        "group (SCALE_SOAK measured the uncapped contract at 27.3M "
        "pairs / 104.8 s under x100 verbatim duplication) while keeping "
        "every d_i-d_{i+1} chain link a downstream dup_clusters pass "
        "needs; n_cand_a reports the pre-cap fan-out so truncation is "
        "observable. The uncapped audit form stays available via "
        "minhash_verified_pairs(per_doc_cap=None).",
    tags=("llm", "dedup", "sketch"),
)
def llm_minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_verified_pairs(
        load_table(spark, sf_dir, "documents"), per_doc_cap=VERIFY_PER_DOC_CAP
    )


# dup when lev(a,b) <= floor(0.2 * max(len_a, len_b))
# cap = floor(0.2 * maxlen) via INTEGER floordiv on both sides: DuckDB's
# ::BIGINT cast ROUNDS doubles ((0.2*449)::BIGINT = 90, floor = 89), so a
# float cap would diverge the engines on every length ending in 5-9
_EDIT_SQL = (
    "WITH cands AS (" + _MINHASH_PAIRS_SQL + """),
j AS (SELECT c.doc_a, c.doc_b, da.text AS ta, db.text AS tb,
             greatest(length(da.text), length(db.text)) * 2 // 10 AS cap
      FROM cands c
      JOIN documents da ON c.doc_a = da.doc_id
      JOIN documents db ON c.doc_b = db.doc_id)
SELECT doc_a, doc_b,
       length(ta)::BIGINT AS len_a,
       length(tb)::BIGINT AS len_b,
       CASE WHEN levenshtein(ta, tb) <= cap
            THEN levenshtein(ta, tb) ELSE -1 END::BIGINT AS lev_capped,
       (levenshtein(ta, tb) <= cap) AS is_dup
FROM j"""
)


@register(
    "llm_dedup_edit_verify",
    _EDIT_SQL,
    doc="MinHash-LSH candidates verified by CHARACTER-level edit "
        "distance: dup when lev(a,b) <= 0.2*max(len). Token-level "
        "Jaccard (llm_minhash_verify) is order-blind — a doc with the "
        "same vocabulary reshuffled scores ~1.0 Jaccard but a huge edit "
        "distance; character edits (typos, OCR noise, template fills) "
        "score low Jaccard impact but small edit distance. This entry is "
        "the second lens. COST CONTRACT: Spark evaluates the BANDED "
        "threshold form levenshtein(a, b, t) — O(L*t) per pair, "
        "returning -1 past the cap, so a pair of 1 MB docs costs "
        "0.2 MB*1 MB band cells, not the full quadratic — while the "
        "oracle computes the full O(L^2) distance and applies the cap "
        "afterwards: cross-engine hash agreement certifies the banded "
        "algorithm against the textbook definition, not just the "
        "pipeline plumbing. Candidate volume is LSH-bounded (band-keyed "
        "shuffle of (band_key, doc_id) only); texts join in once, by "
        "doc_id, co-partitioned.",
    tags=("llm", "dedup"),
)
def llm_dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cands = dedup.minhash_candidate_pairs(docs)
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")
    )
    j = (
        cands.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn(
            "cap",
            F.floor(
                F.greatest(F.length("ta"), F.length("tb")) * 2 / 10
            ).cast("int"),
        )
    )
    # per-row threshold needs the SQL form — the Python wrapper only
    # accepts an int literal; -1 means "past the cap" (banded early-out)
    lev = F.expr("levenshtein(ta, tb, cap)")
    return j.select(
        "doc_a",
        "doc_b",
        F.length("ta").cast("long").alias("len_a"),
        F.length("tb").cast("long").alias("len_b"),
        lev.cast("long").alias("lev_capped"),
        (lev >= 0).alias("is_dup"),
    )


_CLUSTERS_SQL = (
    "WITH RECURSIVE " + _lsh_ctes()
    + ", cand AS (" + _BAND_PAIRS_SQL + "),\n"
    + _closure_sql("cand") + "\n" + _LABELS_SQL
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
    pairs = dedup.minhash_candidate_pairs(load_table(spark, sf_dir, "documents"))
    return dedup.dup_clusters(pairs)


# ---------------------------------------------------------------------------
# the pipelines: exact collapse -> LSH -> verify -> clusters -> keepers
# ---------------------------------------------------------------------------


def _keepers(mapped: DataFrame, labels: DataFrame) -> DataFrame:
    """Every doc of ``mapped(doc_id, rep)`` joins the cluster of its
    representative (``labels`` from dedup.dup_clusters; a rep in no
    verified pair is its own cluster); ``keep`` marks the cluster's
    min id."""
    cluster = F.coalesce(F.col("_cl"), F.col("rep"))
    return (
        mapped.join(
            labels.withColumnRenamed("doc_id", "rep").withColumnRenamed(
                "cluster_id", "_cl"
            ),
            "rep",
            "left",
        )
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            (F.col("doc_id") == cluster).alias("keep"),
        )
    )


def flat_dedup_pipeline(docs: DataFrame) -> DataFrame:
    """The TRULY FLAT pipeline chain — sketch -> capped verify -> CC ->
    keeper, with NO exact-collapse pre-stage. Kept as a TEST FIXTURE
    only (round-7, verdict task 2): on a duplication-factor-D corpus its
    LSH band self-join still enumerates ~D^2/2 intra-group candidate
    pairs before the cap shears them (measured 549 s at x100 verbatim
    duplication vs 24.9 s staged, SCALE_SOAK round-6), so the registered
    ``llm_dedup_pipeline`` entry composes the exact-collapse pre-stage
    instead and this form exists to pin that the composition does not
    change the cluster partition."""
    vp = dedup.minhash_verified_pairs(
        docs, per_doc_cap=VERIFY_PER_DOC_CAP
    ).filter(F.col("verified"))
    return _keepers(
        docs.select("doc_id", F.col("doc_id").alias("rep")),
        dedup.dup_clusters(vp),
    )


def _collapsed_pipeline_sql(
    per_doc_cap: int | None, star: bool = False
) -> str:
    """Oracle for the exact-collapse-first dedup pipeline, with an
    optional per-doc_a candidate cap between LSH banding and the exact
    verify (the registered llm_dedup_pipeline sets the cap; the staged
    entry verifies every candidate; llm_dedup_pipeline_star replaces
    the all-pairs candidate CTE with hub->member star pairs)."""
    if star:
        cand = """, hub AS (SELECT band_key, min(doc_id) AS hub
                   FROM bands GROUP BY 1),
cand AS (SELECT DISTINCT h.hub AS doc_a, b.doc_id AS doc_b
         FROM bands b JOIN hub h ON b.band_key = h.band_key
         WHERE b.doc_id <> h.hub),"""
    elif per_doc_cap is None:
        cand = ", cand AS (" + _BAND_PAIRS_SQL + "),"
    else:
        cand = ", cand0 AS (" + _BAND_PAIRS_SQL + """),
cand AS (SELECT doc_a, doc_b
         FROM (SELECT doc_a, doc_b,
                      row_number() OVER (PARTITION BY doc_a
                                         ORDER BY doc_b) AS rk
               FROM cand0)
         WHERE rk <= """ + repr(per_doc_cap) + """),"""
    return (
        "WITH RECURSIVE exmap AS (SELECT doc_id, "
        "min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents),\n"
        "docs_r AS (SELECT d.doc_id, d.text FROM documents d "
        "JOIN exmap m ON m.doc_id = d.doc_id WHERE d.doc_id = m.rep),\n"
        + _lsh_ctes("docs_r")
        + cand
        + """
vp AS (SELECT doc_a, doc_b
       FROM (SELECT c.doc_a, c.doc_b,
                    """ + _VERIFY_JOIN + """
       WHERE un > 0 AND inter::DOUBLE / un::DOUBLE >= """ + repr(JACCARD_THRESHOLD) + """),
""" + _closure_sql("vp") + """,
lab AS (""" + _LABELS_SQL + """)
SELECT m.doc_id,
       coalesce(l.cluster_id, m.rep) AS cluster_id,
       (m.doc_id = coalesce(l.cluster_id, m.rep)) AS keep
FROM exmap m LEFT JOIN lab l ON l.doc_id = m.rep"""
    )


def _collapsed_pipeline(
    spark: SparkSession, sf_dir: str, per_doc_cap: int | None,
    star: bool = False,
) -> DataFrame:
    """Shared Spark body of llm_dedup_pipeline / llm_dedup_pipeline_staged
    / llm_dedup_pipeline_star: exact-collapse to md5-representatives,
    MinHash-LSH + exact-Jaccard verify (candidate-capped, all-pairs, or
    star hub->member) on representatives only, connected components,
    then map every doc through its rep."""
    docs = load_table(spark, sf_dir, "documents")
    rep = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
    # ONE checkpoint of the exact-collapse window: the doc->rep map and
    # the representative set both derive from it, and
    # minhash_verified_pairs consumes the representatives on several
    # branches (signature path, shingle path, candidate-doc prune) —
    # without this every branch re-pays the md5-window shuffle
    base = docs.select("doc_id", "text", rep.alias("rep")).localCheckpoint(
        eager=False
    )
    mapped = base.select("doc_id", "rep")
    reps_docs = base.filter(F.col("doc_id") == F.col("rep")).select(
        "doc_id", "text"
    )
    if star:
        cands = dedup.minhash_star_pairs(reps_docs).localCheckpoint(
            eager=False
        )  # consumed by prune + verify join
        vp = dedup.exact_jaccard_on_pairs(reps_docs, cands)
    else:
        vp = dedup.minhash_verified_pairs(
            reps_docs, per_doc_cap=per_doc_cap,
            report_fanout=False,  # column unused here
        )
    return _keepers(mapped, dedup.dup_clusters(vp.filter(F.col("verified"))))


@register(
    "llm_dedup_pipeline",
    _collapsed_pipeline_sql(VERIFY_PER_DOC_CAP),
    doc="End-to-end dedup pipeline, production shape (round-7: the "
        "formerly-flat registered form now composes the exact-collapse "
        "pre-stage, retiring the last perf-weak entry): EXACT dedup "
        "collapses verbatim copies first (one md5-window shuffle), then "
        "MinHash-LSH candidates -> per-doc_a cap of 8 smallest-id "
        "candidates -> exact-Jaccard verification -> connected "
        "components over VERIFIED edges -> keeper decision, all on the "
        "collapsed REPRESENTATIVES, with every doc mapped to its final "
        "cluster through its exact-group rep. Both quadratic killers "
        "are now bounded: duplication-factor-D corpora collapse before "
        "the sketch (no D^2/2 intra-group candidate enumeration — the "
        "measured 549 s vs 24.9 s gap at x100 duplication, SCALE_SOAK "
        "round-6), and near-dup-heavy corpora that survive exact "
        "collapse are sheared by the candidate cap (O(8n) verify "
        "input; can split a cluster whose only true link ranks past "
        "the cap under band-collision false positives — see "
        "minhash_verified_pairs). The staged sibling entry is the "
        "cap-free audit form; the truly-flat chain lives on as the "
        "flat_dedup_pipeline test fixture.",
    tags=("llm", "dedup", "pipeline", "iterative"),
)
def llm_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _collapsed_pipeline(spark, sf_dir, VERIFY_PER_DOC_CAP)


@register(
    "llm_dedup_pipeline_staged",
    _collapsed_pipeline_sql(None),
    doc="Cap-free audit form of llm_dedup_pipeline (same exact-collapse "
        "pre-stage, shared body): EXACT dedup collapses verbatim copies "
        "first (one md5-window shuffle), then MinHash-LSH + Jaccard "
        "verify + connected components run on the collapsed "
        "REPRESENTATIVES only — every candidate pair verified, no "
        "per-doc cap — and every doc maps to its final cluster through "
        "its exact-group rep. Identical cluster partition to the flat "
        "chain (verbatim copies always share signatures — pinned by "
        "test), but the candidate-pair stage sees |distinct texts| "
        "docs, not |corpus|: a corpus with duplication factor D "
        "generates D^2/2 fewer intra-group pairs — the difference "
        "between finishing and GC death at 100x verbatim duplication "
        "(SCALE_SOAK round-5 pipeline rows).",
    tags=("llm", "dedup", "pipeline", "iterative"),
)
def llm_dedup_pipeline_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _collapsed_pipeline(spark, sf_dir, None)


@register(
    "llm_dedup_pipeline_star",
    _collapsed_pipeline_sql(None, star=True),
    doc="The dedup pipeline with STAR-topology LSH candidates: inside "
        "each band bucket every member pairs only with the bucket's "
        "min-id hub — O(bands x n) candidate pairs with no window pass, "
        "where all-pairs banding pays O(sum bucket^2) and the per-doc "
        "cap pays a row_number window plus SEVERED group connectivity. "
        "Born from the round-8 near-dup soak (SCALE_SOAK.md): at x100 "
        "non-verbatim duplication the capped pipeline under-merged 1.53x "
        "(145k vs 95k keepers) because cap eviction cut edges inside "
        "100-member groups; the star keeps every member linked to its "
        "hub, so bucket-coherent groups stay one component while the "
        "verify join stays linear. Trade-off: a member verifies against "
        "the HUB only (bands chances), so a group whose hub drifted "
        "past the Jaccard threshold can still split — precision is "
        "unchanged (every merge is an exactly-verified pair). Same "
        "exact-collapse pre-stage, verify threshold, CC, and doc->rep "
        "mapping as llm_dedup_pipeline "
        "(operators/llm/dedup.py:minhash_star_pairs).",
    tags=("llm", "dedup", "scale"),
)
def llm_dedup_pipeline_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _collapsed_pipeline(spark, sf_dir, None, star=True)


# ---------------------------------------------------------------------------
# shingle overlap
# ---------------------------------------------------------------------------

@register(
    "llm_dedup_ngram_jaccard",
    _ngram_jaccard_sql("ex AS (SELECT doc_id, unnest(shd) AS s FROM sh)"),
    doc="Exact word-3-gram Jaccard >= 0.8 via exploded-shingle self-join; "
        "at scale, frequency-cap ubiquitous shingles (max_shingle_freq) "
        "and use MinHash-LSH as the candidate generator.",
    tags=("llm", "dedup"),
)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


_HOT_SHINGLE_FREQ = 25


@register(
    "llm_dedup_ngram_jaccard_capped",
    _ngram_jaccard_sql(
        f"""ex0 AS (SELECT doc_id, unnest(shd) AS s FROM sh),
       hot AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) > {_HOT_SHINGLE_FREQ}),
       ex AS (SELECT ex0.* FROM ex0 ANTI JOIN hot ON ex0.s = hot.s)"""
    ),
    doc="The 100 TB form of llm_dedup_ngram_jaccard: ubiquitous shingles "
        "(doc frequency > 25 here) are removed by a broadcast ANTI join "
        "against the small hot set BEFORE the self-join, capping the "
        "quadratic pair fan-out that boilerplate shingles cause "
        "(SCALE_SOAK.md measured the uncapped op at 22.6 s on a "
        "10x-duplicated corpus). Jaccard is then computed over the "
        "surviving shingle sets on both engines, so the cap is part of "
        "the verified semantics, not a silent approximation.",
    tags=("llm", "dedup"),
)
def llm_dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), max_shingle_freq=_HOT_SHINGLE_FREQ
    )


_CONTAINMENT_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pos AS (SELECT doc_id, ws, unnest({_starts_sql('ws', 3)}) AS i
        FROM w WHERE len(ws) >= 3),
ex AS (SELECT DISTINCT doc_id, {_gram_sql('ws', 3)} AS s
       FROM pos),
{_overlap_sql('<>')}
SELECT doc_a, doc_b,
       round(inter::DOUBLE / sa.n_sh::DOUBLE, 6) AS containment
FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
WHERE round(inter::DOUBLE / sa.n_sh::DOUBLE, 6) >= {CONTAINMENT_THRESHOLD}"""


@register(
    "llm_dedup_containment",
    _CONTAINMENT_SQL,
    doc=f"Shingle CONTAINMENT |A n B|/|A| >= {CONTAINMENT_THRESHOLD} for ordered pairs "
        "(doc_a = the contained side, both directions emitted) — "
        "Broder's asymmetric resemblance, the score Jaccard-thresholded "
        "dedup is blind to: a short doc quoted verbatim inside a long "
        "one has containment ~1.0 but Jaccard ~|A|/|B|. Same linear "
        "explode + shingle-keyed self-join shape as "
        "llm_dedup_ngram_jaccard; at 100 TB frequency-cap hot shingles "
        "(max_shingle_freq) exactly as the capped Jaccard entry does "
        "(operators/llm/dedup.py:containment_pairs).",
    tags=("llm", "dedup"),
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.containment_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "llm_decontaminate",
    f"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                     FROM documents),
        g0 AS (SELECT doc_id, unnest({_NGRAMS_SQL}) AS g
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


# ---------------------------------------------------------------------------
# sub-document spans
# ---------------------------------------------------------------------------

_WIN = 32
_STRIDE = 8

_WINDOW_SQL = f"""
WITH w AS (SELECT doc_id,
                  CASE WHEN length(text) >= {_WIN}
                       THEN list_distinct(list_transform(
                                generate_series(1, length(text) - {_WIN - 1}, {_STRIDE}),
                                i -> md5(substr(text, i, {_WIN}))))
                       ELSE []::VARCHAR[] END AS ws
           FROM documents),
ex AS (SELECT DISTINCT doc_id, wh
       FROM (SELECT doc_id, unnest(ws) AS wh FROM w)),
dupw AS (SELECT wh FROM ex GROUP BY wh HAVING count(DISTINCT doc_id) > 1),
shared AS (SELECT doc_id, count(*) AS n_shared
           FROM ex JOIN dupw USING (wh) GROUP BY doc_id)
SELECT w.doc_id,
       len(w.ws) AS n_windows,
       coalesce(s.n_shared, 0) AS n_shared_windows,
       round(coalesce(s.n_shared, 0)::DOUBLE
             / greatest(len(w.ws), 1)::DOUBLE, 4) AS dup_ratio
FROM w LEFT JOIN shared s ON s.doc_id = w.doc_id
"""


@register(
    "llm_window_dedup",
    _WINDOW_SQL,
    doc=f"Exact repeated-substring detection: every {_WIN}-char window at "
        f"stride {_STRIDE} is md5-hashed; windows seen in >= 2 distinct docs "
        "mark cross-document duplicated text (suffix-array substring dedup "
        "made shuffle-shaped: explode factor bounded by len/stride, one "
        "groupBy on the 16-byte window hash). Hot boilerplate windows "
        "frequency-cap exactly like hot shingles at 100 TB.",
    tags=("llm", "dedup"),
)
def llm_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.window_dup_stats(
        load_table(spark, sf_dir, "documents"), window=_WIN, stride=_STRIDE
    )


@register(
    "llm_paragraph_dedup",
    """WITH s AS (SELECT doc_id, unnest(string_split(text, '. ')) AS sent
                  FROM documents),
       f AS (SELECT doc_id, md5(sent) AS h FROM s WHERE strlen(sent) > 0),
       d AS (SELECT h, count(DISTINCT doc_id) AS nd FROM f GROUP BY 1)
       SELECT f.doc_id, count(*) AS n_sents,
              sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
              round(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END)::DOUBLE
                    / count(*), 6) AS dup_ratio
       FROM f JOIN d USING (h) GROUP BY 1""",
    doc="Cross-document paragraph/sentence dedup signal (Dolma-style): "
        "fraction of each document's sentences that also appear verbatim "
        "in at least one OTHER document — the sub-document complement of "
        "llm_repetition_score (intra-doc) and llm_dedup_exact (whole-doc). "
        "Sentences travel as md5 hashes, so the shuffle key is 16 bytes "
        "regardless of sentence length; the distinct-doc count "
        "partial-aggregates map-side. At 100 TB add a frequency cap on "
        "ubiquitous boilerplate hashes (same dial as "
        "ngram_jaccard_pairs.max_shingle_freq).",
    tags=("llm", "dedup", "text"),
)
def llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sents = d.select(
        "doc_id", F.explode(F.split("text", "\\. ")).alias("sent")
    ).filter(F.length("sent") > 0)
    f = sents.select("doc_id", F.md5("sent").alias("h"))
    nd = f.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    dup = F.when(F.col("nd") > 1, 1).otherwise(0)
    return (
        f.join(nd, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sents"),
            F.sum(dup).cast("long").alias("n_dup"),
            F.round(F.sum(dup) / F.count(F.lit(1)), 6).alias("dup_ratio"),
        )
    )


_SPAN_SCRUB_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
occ AS (SELECT doc_id, i, {_gram_sql('ws', SPAN_W)} AS gram,
               doc_id * {SPAN_OKEY_SHIFT} + i AS okey
        FROM (SELECT doc_id, ws,
                     unnest({_starts_sql('ws', SPAN_W)}) AS i
              FROM d WHERE len(ws) >= {SPAN_W})),
keep AS (SELECT gram, min(okey) AS first_okey, count(*) AS n_occ
         FROM occ GROUP BY 1),
masked AS (SELECT o.doc_id, o.i
           FROM occ o JOIN keep k ON o.gram = k.gram
           WHERE k.n_occ >= 2 AND o.okey <> k.first_okey),
cov AS (SELECT DISTINCT doc_id, idx
        FROM (SELECT doc_id,
                     unnest(generate_series(i, i + {SPAN_W - 1})) AS idx
              FROM masked)),
tok AS (SELECT doc_id, idx, ws[idx] AS tk
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS idx
              FROM d)),
j AS (SELECT t.doc_id, t.idx, t.tk, (c.idx IS NOT NULL) AS m
      FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx)
SELECT doc_id,
       count(*)::BIGINT AS n_tokens,
       sum(CASE WHEN m THEN 1 ELSE 0 END)::BIGINT AS n_masked,
       round(sum(CASE WHEN m THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
           AS masked_frac,
       md5(coalesce(string_agg(tk, ' ' ORDER BY idx) FILTER (WHERE NOT m),
                    '')) AS clean_md5
FROM j GROUP BY doc_id"""


@register(
    "llm_repeated_span_scrub",
    _SPAN_SCRUB_SQL,
    doc=f"Exact repeated-span REMOVAL (word {SPAN_W}-grams): every span "
        "occurring >1x corpus-wide keeps only its first occurrence (min "
        "packed (doc_id,pos) key) and covered tokens are dropped — the "
        "rewrite stage of suffix-style substring dedup (Lee et al. 2022) "
        "where the fingerprint/window siblings only detect. The oracle "
        "value-hashes the md5 of each SCRUBBED document (order-exact "
        "string_agg reconstruction), so keeper choice, span coverage "
        "merging, and the rewrite itself are all pinned cross-engine. "
        "Plan: one shingle explode, a gram-keyed partial-agg (count + "
        "min key), a gram join that only repeated grams survive, and a "
        "per-doc coverage array join — the corpus re-shuffles zero "
        "times; the rewrite is per-row JVM filter-by-index + concat_ws "
        "(operators/llm/dedup.py:repeated_span_scrub).",
    tags=("llm", "dedup", "scale"),
)
def llm_repeated_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.repeated_span_scrub(load_table(spark, sf_dir, "documents"))
