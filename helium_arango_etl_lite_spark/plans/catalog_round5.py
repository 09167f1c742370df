"""Round-5 catalog additions (SURVEY.md section 2.8 north star):

* ``llm_minhash_verify`` — the two-stage production dedup shape:
  MinHash-LSH candidate generation followed by exact Jaccard verification
  computed ONLY on candidate pairs (recall stage then precision stage).
* ``llm_window_dedup`` — exact repeated-substring detection via sliding
  character-window hashes (scalable stand-in for suffix-array substring
  dedup, cf. Lee et al. 2022).
* ``llm_pipeline_funnel`` — staged quality-filter funnel with per-stage
  row accounting (the report every corpus-curation run ships with).

All three reuse the cross-engine hash/shingle fragments from
``catalog_llm`` so the sketch math is value-hash verified, not
rows-only. The product-quantization entries and
``llm_semantic_clusters`` are in catalog_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.llm import dedup
from .catalog_llm import (
    BANDS,
    NUM_HASHES,
    SEED,
    _BAND_EXPRS,
    _BASE_HASH_CTE,
    _sig_exprs,
)
from .registry import load_table, register

# ---------------------------------------------------------------------------
# two-stage MinHash-LSH -> exact-Jaccard verification
# ---------------------------------------------------------------------------

VERIFY_THRESHOLD = 0.8
VERIFY_PER_DOC_CAP = 8

_VERIFY_SQL = (
    "WITH " + _BASE_HASH_CTE
    + ", sig AS (SELECT doc_id, " + ", ".join(_sig_exprs()) + " FROM hs)"
    + ", bands AS (SELECT doc_id, unnest([" + ", ".join(_BAND_EXPRS) + "]) AS band_key FROM sig)"
    + """, cand0 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM bands a JOIN bands b
                       ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
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
                    ELSE 0.0 END) >= """ + repr(VERIFY_THRESHOLD) + """ AS verified,
              n_cand_a
       FROM (SELECT c.doc_a, c.doc_b, c.n_cand_a,
                    len(list_intersect(sa.shd, sb.shd)) AS inter,
                    len(sa.shd) + len(sb.shd)
                        - len(list_intersect(sa.shd, sb.shd)) AS un
             FROM cand c
             JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)"""
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
        load_table(spark, sf_dir, "documents"),
        threshold=VERIFY_THRESHOLD,
        num_hashes=NUM_HASHES, bands=BANDS, seed=SEED,
        per_doc_cap=VERIFY_PER_DOC_CAP,
    )


# ---------------------------------------------------------------------------
# sliding character-window substring dedup
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


# ---------------------------------------------------------------------------
# staged quality-filter funnel
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH f AS (SELECT (lang = 'en') AS c1,
                  length(text) BETWEEN 100 AND 20000 AS c2,
                  (len(list_distinct(string_split(text, ' ')))::DOUBLE
                   / greatest(len(string_split(text, ' ')), 1)::DOUBLE) >= 0.3 AS c3,
                  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
           FROM documents),
a AS (SELECT count(*)::BIGINT AS n0,
             sum((c1)::INT)::BIGINT AS n1,
             sum((c1 AND c2)::INT)::BIGINT AS n2,
             sum((c1 AND c2 AND c3)::INT)::BIGINT AS n3,
             sum((c1 AND c2 AND c3 AND keep)::INT)::BIGINT AS n4
      FROM f)
SELECT stage_idx, stage, rows_in, rows_out, rows_in - rows_out AS dropped
FROM (
  SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS rows_in, n0 AS rows_out FROM a
  UNION ALL SELECT 1, 'lang_en', n0, n1 FROM a
  UNION ALL SELECT 2, 'length_100_20000', n1, n2 FROM a
  UNION ALL SELECT 3, 'distinct_token_ratio', n2, n3 FROM a
  UNION ALL SELECT 4, 'exact_dedup_keeper', n3, n4 FROM a
)
"""


@register(
    "llm_pipeline_funnel",
    _FUNNEL_SQL,
    doc="Staged corpus-curation funnel (lang -> length -> lexical "
        "diversity -> exact-dedup keeper) with per-stage rows_in/rows_out/"
        "dropped accounting — one pass over the corpus: all stage "
        "predicates evaluate in a single projection, the only shuffle is "
        "the dedup-keeper window on md5(text), and the output is 5 rows.",
    tags=("llm", "text", "pipeline"),
)
def llm_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    c1 = F.col("lang") == "en"
    c2 = F.length("text").between(100, 20000)
    c3 = (
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(F.size(toks), F.lit(1)).cast("double")
    ) >= 0.3
    keep = F.col("doc_id") == F.min("doc_id").over(
        Window.partitionBy(F.md5(F.col("text")))
    )
    flagged = d.select(
        c1.alias("c1"),
        (c1 & c2).alias("c12"),
        (c1 & c2 & c3).alias("c123"),
        (c1 & c2 & c3 & keep).alias("c1234"),
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("c1").cast("int")).alias("n1"),
        F.sum(F.col("c12").cast("int")).alias("n2"),
        F.sum(F.col("c123").cast("int")).alias("n3"),
        F.sum(F.col("c1234").cast("int")).alias("n4"),
    )
    stages = agg.selectExpr(
        "stack(5, "
        "0, 'raw', n0, n0, "
        "1, 'lang_en', n0, n1, "
        "2, 'length_100_20000', n1, n2, "
        "3, 'distinct_token_ratio', n2, n3, "
        "4, 'exact_dedup_keeper', n3, n4"
        ") AS (stage_idx, stage, rows_in, rows_out)"
    )
    return stages.select(
        "stage_idx", "stage", "rows_in", "rows_out",
        (F.col("rows_in") - F.col("rows_out")).alias("dropped"),
    )


# ---------------------------------------------------------------------------
# Python UDTF surface (SURVEY.md section 2.7), driver-value-hashed
# ---------------------------------------------------------------------------

@register(
    "udtf_sentence_split",
    """WITH s AS (SELECT doc_id, string_split(text, '. ') AS parts FROM documents)
       SELECT doc_id,
              (unnest(generate_series(1, len(parts))) - 1)::INT AS sent_idx,
              unnest(parts) AS sentence
       FROM s""",
    doc="Python UDTF (PySpark >= 3.5) applied via lateral join: one "
        "(doc_id, sent_idx, sentence) row per segment — the imperative "
        "one-row-to-N expansion surface. The built-in posexplode form is "
        "the fast path (pinned equivalent by test); this registers the "
        "UDTF itself under the driver's value hash so section 2.7 is "
        "oracle-checked, not pytest-only.",
    tags=("udtf", "text"),
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm import text as text_ops

    return text_ops.sentence_split(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# end-to-end dedup pipeline: sketch -> verify -> cluster -> keeper
# ---------------------------------------------------------------------------

# The registered pipeline composes the exact-collapse pre-stage (below,
# shared with the staged entry) AND the per-doc candidate cap: see
# _STAGED_SQL / _staged_sql() after the staged entry's definition.


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
        docs, threshold=VERIFY_THRESHOLD,
        num_hashes=NUM_HASHES, bands=BANDS, seed=SEED,
        per_doc_cap=VERIFY_PER_DOC_CAP,
    ).filter(F.col("verified"))
    labels = dedup.dup_clusters(vp)
    return (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("cluster_id", "_cl"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_cl"), F.col("doc_id")).alias("cluster_id"),
            (F.coalesce(F.col("_cl"), F.col("doc_id")) == F.col("doc_id")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_D = 3
_CMS_W = 1024
_CMS_K = 20

from ..functions.hashing import hash32_oracle_sql  # noqa: E402

_CMS_SQL = (
    "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),\n"
    + "tb AS (SELECT t, "
    + ", ".join(
        f"{hash32_oracle_sql(repr(str(d) + '_') + ' || t')} % {_CMS_W} AS b{d}"
        for d in range(_CMS_D)
    )
    + " FROM tok),\n"
    + "cells AS (SELECT d, b, count(*)::BIGINT AS c FROM ("
    + " UNION ALL ".join(
        f"SELECT {d} AS d, b{d} AS b FROM tb" for d in range(_CMS_D)
    )
    + ") GROUP BY d, b),\n"
    + "cand AS (SELECT DISTINCT t, "
    + ", ".join(f"b{d}" for d in range(_CMS_D))
    + " FROM tb)\n"
    + "SELECT t AS token, least("
    + ", ".join(f"c{d}.c" for d in range(_CMS_D))
    + ") AS est_count FROM cand "
    + " ".join(
        f"JOIN cells c{d} ON c{d}.d = {d} AND c{d}.b = cand.b{d}"
        for d in range(_CMS_D)
    )
    + f" ORDER BY est_count DESC, token ASC LIMIT {_CMS_K}"
)


@register(
    "llm_heavy_hitters_cms",
    _CMS_SQL,
    doc=f"Count-Min Sketch heavy hitters ({_CMS_D} rows x {_CMS_W} buckets): "
        "the sketch build is one partial-agg'd shuffle whose output is "
        "depth*width cells REGARDLESS of corpus size (vs the full-vocabulary "
        "shuffle of an exact groupBy), mergeable cell-wise across executors/"
        "micro-batches; estimation broadcasts the tiny cell table. "
        "Estimates are >= true counts by construction (pinned by test).",
    tags=("llm", "text", "sketch"),
)
def llm_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm import text as text_ops

    return text_ops.cms_heavy_hitters(
        load_table(spark, sf_dir, "documents"),
        depth=_CMS_D, width=_CMS_W, k=_CMS_K,
    )


# ---------------------------------------------------------------------------
# oracle-checked HyperLogLog (vs the rows-only approx_count_distinct entry)
# ---------------------------------------------------------------------------

from ..operators.aggregates import HLL_M, HLL_NUMERATOR  # noqa: E402

_HLL_SQL = f"""
WITH h AS (SELECT event_type,
                  ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
           FROM events),
p AS (SELECT event_type, hv % {HLL_M} AS b,
             CASE WHEN hv // {HLL_M} = 0 THEN 55
                  ELSE 55 - length(bin(hv // {HLL_M})) END AS rho
      FROM h),
regs AS (SELECT event_type, b, max(rho) AS r FROM p GROUP BY 1, 2),
hll AS (SELECT event_type,
               sum((1::BIGINT << (55 - r)))::BIGINT AS zp,
               count(*)::BIGINT AS nb
        FROM regs GROUP BY 1),
est AS (SELECT event_type, nb,
               CASE WHEN raw <= {2.5 * HLL_M!r} AND ({HLL_M} - nb) > 0
                    THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / ({HLL_M} - nb)::DOUBLE)
                    ELSE raw END AS e
        FROM (SELECT event_type, nb,
                     {HLL_NUMERATOR!r} / ((zp + ({HLL_M} - nb) * (1::BIGINT << 55))::DOUBLE) AS raw
              FROM hll)),
ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
       FROM events GROUP BY 1)
SELECT ex.event_type, ex.n_exact,
       round(est.e, 4) AS n_hll,
       round(abs(est.e - ex.n_exact::DOUBLE) / ex.n_exact::DOUBLE, 4) AS rel_err
FROM ex JOIN est ON est.event_type = ex.event_type
"""


@register(
    "agg_hll_distinct",
    _HLL_SQL,
    doc="From-first-principles HyperLogLog (m=64) per event_type, next to "
        "the exact distinct count: unlike approx_count_distinct (HLL++ "
        "internals no oracle can reproduce — registered rows-only as "
        "agg_approx_distinct_scale), every step is deterministic in both "
        "engines, so the sketch itself is value-hashed. Register build = "
        "one partial-agg'd shuffle, <= m rows/group at ANY cardinality, "
        "registers merge (max) across executors/micro-batches; Z is the "
        "exact INTEGER sum(1 << (55-r)) — float summation order never "
        "enters the estimate.",
    tags=("agg", "sketch"),
)
def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import hll_distinct
    from .registry import load_events

    return hll_distinct(
        load_events(spark, sf_dir), group="event_type", value="user_id"
    )


# ---------------------------------------------------------------------------
# overlapping chunking (context-window splitting; complements llm_doc_pack)
# ---------------------------------------------------------------------------

_CHUNK = 64
_OVERLAP = 16
_CHUNK_STEP = _CHUNK - _OVERLAP

_CHUNK_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, toks,
             CASE WHEN len(toks) <= {_CHUNK} THEN [1]
                  ELSE generate_series(1, len(toks) - {_OVERLAP}, {_CHUNK_STEP}) END AS starts
      FROM t)
SELECT doc_id,
       (unnest(generate_series(1, len(starts))) - 1)::BIGINT AS chunk_idx,
       unnest(list_transform(starts,
              st -> least({_CHUNK}, len(toks) - st + 1)))::BIGINT AS n_tokens,
       unnest(list_transform(starts, st -> toks[st])) AS first_token,
       unnest(list_transform(starts,
              st -> toks[least(st + {_CHUNK} - 1, len(toks))])) AS last_token
FROM s
"""


@register(
    "llm_chunk_overlap",
    _CHUNK_SQL,
    doc=f"Overlapping context-window chunking ({_CHUNK} tokens, {_OVERLAP} "
        "overlap — the pre-training/RAG doc-splitting pass; complements "
        "llm_doc_pack, which packs SHORT docs together while this splits "
        "LONG docs apart). Map-only: per-row sequence + slice expressions, "
        "fan-out bounded by len/stride, zero shuffle — at 100 TB this is "
        "a pure scan whose output partitioning inherits the input's.",
    tags=("llm", "packing"),
)
def llm_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.when(
        F.size(toks) <= _CHUNK, F.array(F.lit(1))
    ).otherwise(
        F.sequence(F.lit(1), F.size(toks) - _OVERLAP, F.lit(_CHUNK_STEP))
    )
    base = d.select(F.col("doc_id"), toks.alias("toks"), starts.alias("starts"))
    ex = base.select(
        "doc_id", "toks",
        F.posexplode("starts").alias("chunk_idx", "st"),
    )
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long"),
        F.least(F.lit(_CHUNK), F.size("toks") - F.col("st") + 1)
        .cast("long").alias("n_tokens"),
        F.element_at("toks", F.col("st")).alias("first_token"),
        F.element_at(
            "toks", F.least(F.col("st") + F.lit(_CHUNK - 1), F.size("toks"))
        ).alias("last_token"),
    )


# ---------------------------------------------------------------------------
# span-corruption mask generation (T5-style denoising pretraining prep)
# ---------------------------------------------------------------------------

_SPAN_LEN = 3
_SPAN_MOD = 20  # 1-in-20 positions start a span -> ~15% tokens masked

_SPAN_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
m AS (SELECT doc_id, len(toks) AS n_tokens,
             list_distinct(flatten(list_transform(
                 list_filter(generate_series(1, len(toks)),
                     i -> ('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
                          % {_SPAN_MOD} = 0),
                 s -> generate_series(s, least(s + {_SPAN_LEN - 1}, len(toks)))))) AS masked,
             len(list_filter(generate_series(1, len(toks)),
                 i -> ('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
                      % {_SPAN_MOD} = 0)) AS n_spans
      FROM t)
SELECT doc_id, n_tokens, n_spans,
       len(masked) AS n_masked,
       round(len(masked)::DOUBLE / greatest(n_tokens, 1)::DOUBLE, 4) AS mask_ratio
FROM m
"""


@register(
    "llm_span_corruption_mask",
    _SPAN_SQL,
    doc=f"T5-style span-corruption mask generation: every token position "
        f"whose seeded hash32(doc_id:idx) lands on 1/{_SPAN_MOD} starts a "
        f"{_SPAN_LEN}-token span; overlapping spans merge (distinct "
        "indices), spans clip at the document end. Fully deterministic — "
        "the mask is a pure function of (doc_id, position), so re-runs "
        "and the oracle reproduce it exactly; map-only array expressions, "
        "zero shuffle, which is what a 100 TB denoising-prep pass needs.",
    tags=("llm", "text", "packing"),
)
def llm_span_corruption_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hash32

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)

    def is_start(i):
        return (
            hash32(F.concat(F.col("doc_id").cast("string"), F.lit(":"), i.cast("string")))
            % _SPAN_MOD
            == 0
        )

    starts = F.filter(F.sequence(F.lit(1), n), is_start)
    masked = F.array_distinct(
        F.flatten(
            F.transform(
                starts,
                lambda s: F.sequence(s, F.least(s + F.lit(_SPAN_LEN - 1), n)),
            )
        )
    )
    base = d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(starts).cast("long").alias("n_spans"),
        F.size(masked).cast("long").alias("n_masked"),
    )
    return base.select(
        "doc_id", "n_tokens", "n_spans", "n_masked",
        F.round(
            F.col("n_masked").cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
            4,
        ).alias("mask_ratio"),
    )


# ---------------------------------------------------------------------------
# staged dedup pipeline: exact-collapse FIRST, then sketch on representatives
# ---------------------------------------------------------------------------

_SHINGLES_R_CTE = _BASE_HASH_CTE.replace("FROM documents", "FROM docs_r")


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
        cand = """, cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM bands a JOIN bands b
                      ON a.band_key = b.band_key AND a.doc_id < b.doc_id),"""
    else:
        cand = """, cand0 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM bands a JOIN bands b
                       ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
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
        + _SHINGLES_R_CTE
        + ", sig AS (SELECT doc_id, " + ", ".join(_sig_exprs()) + " FROM hs)"
        + ", bands AS (SELECT doc_id, unnest([" + ", ".join(_BAND_EXPRS) + "]) AS band_key FROM sig)"
        + cand
        + """
vp AS (SELECT doc_a, doc_b
       FROM (SELECT c.doc_a, c.doc_b,
                    len(list_intersect(sa.shd, sb.shd)) AS inter,
                    len(sa.shd) + len(sb.shd)
                        - len(list_intersect(sa.shd, sb.shd)) AS un
             FROM cand c
             JOIN sh sa ON sa.doc_id = c.doc_a
             JOIN sh sb ON sb.doc_id = c.doc_b)
       WHERE un > 0 AND inter::DOUBLE / un::DOUBLE >= """ + repr(VERIFY_THRESHOLD) + """),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM vp
          UNION SELECT doc_b, doc_a FROM vp),
reach(src, dst) AS (
    SELECT src, src FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT m.doc_id,
       coalesce(l.cluster_id, m.rep) AS cluster_id,
       (m.doc_id = coalesce(l.cluster_id, m.rep)) AS keep
FROM exmap m LEFT JOIN lab l ON l.doc_id = m.rep"""
    )


_STAGED_SQL = _collapsed_pipeline_sql(None)


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
        cands = dedup.minhash_star_pairs(
            reps_docs, num_hashes=NUM_HASHES, bands=BANDS, seed=SEED,
        ).localCheckpoint(eager=False)  # consumed by prune + verify join
        vp = dedup.exact_jaccard_on_pairs(
            reps_docs, cands, threshold=VERIFY_THRESHOLD
        ).filter(F.col("verified"))
    else:
        vp = dedup.minhash_verified_pairs(
            reps_docs, threshold=VERIFY_THRESHOLD,
            num_hashes=NUM_HASHES, bands=BANDS, seed=SEED,
            per_doc_cap=per_doc_cap,
            report_fanout=False,  # column unused here
        ).filter(F.col("verified"))
    labels = dedup.dup_clusters(vp)
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
            F.coalesce(F.col("_cl"), F.col("rep")).alias("cluster_id"),
            (
                F.col("doc_id") == F.coalesce(F.col("_cl"), F.col("rep"))
            ).alias("keep"),
        )
    )


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
    _STAGED_SQL,
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
