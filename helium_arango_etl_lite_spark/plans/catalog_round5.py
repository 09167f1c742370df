"""Round-5 catalog additions (SURVEY.md section 2.8 north star):
``llm_pipeline_funnel`` — staged quality-filter funnel with per-stage
row accounting (the report every corpus-curation run ships with) — plus
Count-Min heavy hitters, oracle-checked HyperLogLog, overlapping
chunking, span-corruption masks and a Python UDTF. The two-stage MinHash
verify, window dedup and dedup pipeline entries are in catalog_dedup.py;
the product-quantization entries and ``llm_semantic_clusters`` are in
catalog_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import load_table, register


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


