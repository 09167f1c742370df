"""Round-8 catalog: quarantine decode for malformed media.

* ``llm_multimodal_quarantine_ppm`` / ``llm_multimodal_quarantine_wav`` —
  the round-7 verdict's task 6: the real container parsers raise typed
  errors on malformed input, but until now no registered entry exercised
  those paths. These entries push a DETERMINISTICALLY corrupted media
  fixture (classes keyed on doc_id % 10, built JVM-side) through a
  quarantining decode wrapper that splits each payload into an 'ok' row
  with integer-exact stats or a 'quarantined' row with a reason code
  naming the exact guard that fired — the binary-media twin of the JSONL
  source's PERMISSIVE corrupt-record path (``quarantine_replay``). The
  DuckDB oracle re-derives the stats for clean docs from the text with
  ord() and pins the reason code per corruption class, so a parser guard
  that stops firing (or fires for the wrong reason) hash-mismatches.

Reference parity note: the reference ETL (helium-arango-etl-lite) has no
media handling; this extends the north-star multimodal family
(plans/catalog_round7.py) with the failure-isolation behaviour a 100 TB
decode stage cannot ship without — one corrupt object must never kill
the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.llm import multimodal as mm
from ..operators.llm import similarity, text
from .registry import EVENTS_NORM, load_events, load_table, register

_PPM_ROW = 3 * mm.PPM_WIDTH

_PPM_QUAR_SQL = f"""
WITH d AS (SELECT doc_id, text, doc_id % 10 AS cls,
                  least({mm.PPM_MAX_H}, length(text) // {_PPM_ROW}) AS h
           FROM documents WHERE length(text) >= {_PPM_ROW}),
ok AS (SELECT doc_id, ({mm.PPM_WIDTH} * h)::BIGINT AS n_pixels,
              sum(ord(substr(text, i, 1)))::BIGINT AS sum_rgb
       FROM (SELECT doc_id, text, h,
                    unnest(generate_series(1, {_PPM_ROW} * h)) AS i
             FROM d WHERE cls NOT IN (3, 5, 7))
       GROUP BY doc_id, h)
SELECT d.doc_id AS media_id,
       CASE WHEN d.cls IN (3, 5, 7) THEN 'quarantined' ELSE 'ok' END
           AS status,
       CASE d.cls WHEN 3 THEN 'bad_magic' WHEN 5 THEN 'bad_maxval'
                  WHEN 7 THEN 'truncated' ELSE 'ok' END AS reason,
       ok.n_pixels AS n_pixels,
       ok.sum_rgb AS sum_rgb
FROM d LEFT JOIN ok ON d.doc_id = ok.doc_id"""


@register(
    "llm_multimodal_quarantine_ppm",
    _PPM_QUAR_SQL,
    doc="Quarantine split for malformed images: a deterministic fixture "
        "corrupts doc_id%10 classes JVM-side (3: wrong magic 'Q6', 5: "
        "header maxval 999 — the spec-valid 2-byte form the parser must "
        "reject rather than mis-decode as uint8, 7: raster 10 bytes "
        "short of the header's promise) and decode_ppm_quarantine maps "
        "each payload to exactly one row: 'ok' with integer-exact "
        "raster stats, or 'quarantined' with the reason code of the "
        "guard that fired. The oracle pins the reason PER CLASS, so "
        "this verifies WHICH ValueError path rejected each container, "
        "not merely that decode failed. Map-only Arrow batches, no "
        "shuffle — at 100 TB one corrupt object must never kill the "
        "decode stage (operators/llm/multimodal.py:"
        "decode_ppm_quarantine; the PERMISSIVE-mode pattern of "
        "quarantine_replay applied to binary media).",
    tags=("llm", "multimodal", "quality"),
)
def llm_multimodal_quarantine_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mm.decode_ppm_quarantine(mm.encode_ppm_corrupted(docs))


_WAV_QUAR_SQL = f"""
WITH d AS (SELECT doc_id, text, doc_id % 10 AS cls,
                  least({mm.WAV_MAX_SAMPLES}, length(text)) AS n
           FROM documents WHERE length(text) >= 1),
ok AS (SELECT doc_id, n::BIGINT AS n_samples,
              sum(ord(substr(text, i, 1)))::BIGINT AS sum_amp
       FROM (SELECT doc_id, text, n, unnest(generate_series(1, n)) AS i
             FROM d WHERE cls NOT IN (3, 5, 7, 9))
       GROUP BY doc_id, n)
SELECT d.doc_id AS media_id,
       CASE WHEN d.cls IN (3, 5, 7, 9) THEN 'quarantined' ELSE 'ok' END
           AS status,
       CASE d.cls WHEN 3 THEN 'not_riff' WHEN 5 THEN 'non_pcm'
                  WHEN 7 THEN 'truncated' WHEN 9 THEN 'empty_data'
                  ELSE 'ok' END AS reason,
       ok.n_samples AS n_samples,
       ok.sum_amp AS sum_amp
FROM d LEFT JOIN ok ON d.doc_id = ok.doc_id"""


@register(
    "llm_multimodal_quarantine_wav",
    _WAV_QUAR_SQL,
    doc="Quarantine split for malformed audio: corruption classes on "
        "doc_id%10 (3: 'RIFX' magic, 5: non-PCM/ADPCM format code in "
        "the fmt chunk — the honest NotImplementedError path, 7: data "
        "chunk declaring n bytes with the payload cut 10 short — the "
        "round-8 truncated-chunk guard, 9: container-VALID zero-length "
        "data chunk — the round-8 empty-data guard) flow through "
        "decode_wav_quarantine; clean docs yield integer-exact "
        "amplitude stats the oracle rebuilds from the text with ord(). "
        "Classes 7 and 9 exist precisely because the round-7 advisor "
        "showed truncation previously yielded silently-wrong sample "
        "counts and empty data an opaque numpy crash — both are now "
        "typed, classified quarantine rows. Map-only, no shuffle "
        "(operators/llm/multimodal.py:decode_wav_quarantine).",
    tags=("llm", "multimodal", "quality"),
)
def llm_multimodal_quarantine_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mm.decode_wav_quarantine(mm.encode_wav_corrupted(docs))


# ---------------------------------------------------------------------------
# temperature-scaled corpus mixture weights
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.7

_MIX_SQL = f"""
WITH per AS (SELECT source, count(*)::BIGINT AS n_docs,
                    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
             FROM documents GROUP BY 1),
tot AS (SELECT sum(n_tokens) AS total FROM per),
p AS (SELECT per.*, per.n_tokens::DOUBLE / tot.total AS share
      FROM per, tot),
z AS (SELECT sum(pow(share, {_MIX_ALPHA})) AS z FROM p)
SELECT p.source, p.n_docs, p.n_tokens,
       round(p.share, 6) AS share,
       round(pow(p.share, {_MIX_ALPHA}) / z.z, 6) AS mix_share,
       round(pow(p.share, {_MIX_ALPHA}) / z.z / p.share, 6) AS sample_weight
FROM p, z"""


@register(
    "llm_mixture_weights",
    _MIX_SQL,
    doc=f"Temperature-scaled corpus mixture (the multilingual-LM "
        f"sampling rule, alpha={_MIX_ALPHA}): per-source token share "
        "p_i, target mixture q_i ~ p_i^alpha renormalized, and the "
        "per-doc sample_weight q_i/p_i a downstream sampler multiplies "
        "into its keep probability — upweights tail sources, "
        "downweights dominant ones, the knob every pretraining mix "
        "uses. Dataflow: ONE source-keyed partial-agg shuffle over the "
        "corpus (token counts combine map-side), then all "
        "normalization runs on the ~|sources|-row table via two tiny "
        "broadcast cross-joins — the corpus is scanned once and never "
        "rescanned or re-shuffled. Complements llm_mix_rebalance "
        "(hard equalize-to-min downsampler): this computes the "
        "CONTINUOUS weights. Rounded 6dp on both engines.",
    tags=("llm", "sampling", "scale"),
)
def llm_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    # the ~|sources|-row aggregate feeds THREE consumers (total, share
    # table, normalizer) — without the checkpoint Catalyst re-derives
    # each from the source and scans the corpus four times (seen in the
    # plan; the recurring checkpoint-the-intermediate lesson, cf. the
    # trigram LM gram table). Plan test pins zero visible corpus scans.
    per = per.localCheckpoint(eager=False)
    tot = per.agg(F.sum("n_tokens").alias("total"))
    p = per.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total")).alias("share"),
    )
    z = p.agg(F.sum(F.pow("share", F.lit(_MIX_ALPHA))).alias("z"))
    q = F.pow("share", F.lit(_MIX_ALPHA)) / F.col("z")
    return p.crossJoin(F.broadcast(z)).select(
        "source", "n_docs", "n_tokens",
        F.round("share", 6).alias("share"),
        F.round(q, 6).alias("mix_share"),
        F.round(q / F.col("share"), 6).alias("sample_weight"),
    )


# ---------------------------------------------------------------------------
# per-source quality percentile via fixed-bin histograms (no global sort)
# ---------------------------------------------------------------------------

_QP_BINS = 32

_STOP_IN = ", ".join(f"'{w}'" for w in text.STOPWORDS["en"])

_QP_SQL = f"""
WITH q AS (SELECT doc_id, source,
                  len(list_filter(string_split(text, ' '),
                                  x -> x IN ({_STOP_IN})))::DOUBLE
                    / len(string_split(text, ' '))::DOUBLE AS stop_ratio
           FROM documents),
b AS (SELECT doc_id, source,
             least({_QP_BINS - 1},
                   floor(stop_ratio * {_QP_BINS})::BIGINT) AS q_bin
      FROM q),
h AS (SELECT source, q_bin, count(*)::BIGINT AS cnt
      FROM b GROUP BY 1, 2),
w AS (SELECT source, q_bin, cnt,
             coalesce(sum(cnt) OVER (PARTITION BY source ORDER BY q_bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS below,
             sum(cnt) OVER (PARTITION BY source) AS total
      FROM h)
SELECT b.doc_id, b.source, b.q_bin,
       round((w.below + 0.5 * w.cnt) / w.total, 6) AS pct_in_source
FROM b JOIN w ON b.source = w.source AND b.q_bin = w.q_bin"""


@register(
    "llm_quality_percentile",
    _QP_SQL,
    doc=f"Source-relative quality calibration: a doc's raw stopword "
        "ratio is not comparable across sources (forum text and "
        "reference text have different baselines), so corpus filters "
        "threshold on the PER-SOURCE percentile instead. The scalable "
        f"shape: quantize the score into {_QP_BINS} fixed bins, build "
        "a per-(source,bin) histogram (one partial-agg shuffle whose "
        f"result is <= |sources| x {_QP_BINS} rows), run the "
        "cumulative window on that tiny table, and broadcast-join the "
        "mid-bin percentile back onto the scan — NO per-source global "
        "sort ever touches the corpus, so one giant source cannot "
        "skew a partition the way percent_rank's sort would at "
        "100 TB. The corpus is scanned twice, both passes pruned to "
        "(doc_id, source, text-derived bin); the histogram resolution "
        "is the documented precision dial.",
    tags=("llm", "quality", "scale"),
)
def llm_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    stop_ratio = text.stopword_score(tok, "en").cast("double") / F.size(
        tok
    ).cast("double")
    b = docs.select(
        "doc_id", "source",
        F.least(
            F.lit(_QP_BINS - 1), F.floor(stop_ratio * _QP_BINS)
        ).cast("long").alias("q_bin"),
    )
    h = b.groupBy("source", "q_bin").agg(F.count(F.lit(1)).alias("cnt"))
    win = Window.partitionBy("source").orderBy("q_bin")
    w = h.select(
        "source", "q_bin", "cnt",
        F.coalesce(
            F.sum("cnt").over(
                win.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("below"),
        F.sum("cnt").over(
            Window.partitionBy("source").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    return b.join(F.broadcast(w), ["source", "q_bin"]).select(
        "doc_id", "source", "q_bin",
        F.round(
            (F.col("below") + 0.5 * F.col("cnt")) / F.col("total"), 6
        ).alias("pct_in_source"),
    )


# ---------------------------------------------------------------------------
# hard-negative mining from the exact sampled k-NN shortlist
# ---------------------------------------------------------------------------

_HN_SHORTLIST = 10   # ANN shortlist depth per query
_HN_K = 3            # hard negatives kept per query
_HN_DUP_T = 0.98     # cosine at/above this = positive/duplicate, excluded
_HN_MOD = 4          # deterministic query sample: vec_id % 4 == 0

_HN_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT a.vec_id AS qid, c.vec_id AS nid,
             round(list_dot_product(a.v, c.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(c.v, c.v))), 4) AS cos_sim
      FROM e a JOIN e c ON a.vec_id <> c.vec_id
      WHERE a.vec_id % {_HN_MOD} = 0),
r AS (SELECT qid, nid, cos_sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, nid) AS rank
      FROM p),
s AS (SELECT * FROM r WHERE rank <= {_HN_SHORTLIST}),
n AS (SELECT qid, nid, cos_sim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, nid) AS neg_rank
      FROM s WHERE cos_sim < {_HN_DUP_T})
SELECT qid, nid, cos_sim, neg_rank FROM n WHERE neg_rank <= {_HN_K}"""


@register(
    "llm_hard_negatives",
    _HN_SQL,
    doc=f"Hard-negative mining for embedding/retrieval training: for a "
        f"deterministic query sample (vec_id % {_HN_MOD}), take the "
        f"exact top-{_HN_SHORTLIST} neighbour shortlist, drop "
        f"positives/near-dups (cos >= {_HN_DUP_T}), keep the "
        f"{_HN_K} hardest remaining — the highest-similarity TRUE "
        "negatives that make contrastive batches informative. Mining "
        "from the shortlist (not the full ranking) is the production "
        "contract: at 100 TB the shortlist comes from the same sampled "
        "GEMM scan knn_join_sampled uses (query sample broadcasts, one "
        "corpus scan, per-partition top-k, bounded merge — never "
        "corpus x corpus), and the dedup filter + rerank run on "
        f"<= {_HN_SHORTLIST} rows per query. Same 4dp half-away "
        "rounding and ascending-id tie-break as every kNN entry "
        "(operators/llm/similarity.py:knn_join_sampled).",
    tags=("llm", "similarity", "sampling"),
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    short = similarity.knn_join_sampled(
        emb, k=_HN_SHORTLIST, sample_mod=_HN_MOD
    )
    neg = short.filter(F.col("cos_sim") < _HN_DUP_T)
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("nid")
    )
    return (
        neg.select(
            "qid", "nid", "cos_sim",
            F.row_number().over(w).alias("neg_rank"),
        )
        .filter(F.col("neg_rank") <= _HN_K)
    )


# ---------------------------------------------------------------------------
# small-file compaction planner (lakehouse maintenance)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 5_000  # rows per compacted output file

_COMPACT_SQL = f"""
WITH {EVENTS_NORM},
files AS (SELECT date_trunc('day', ts)::TIMESTAMP AS day,
                 count(*)::BIGINT AS n_rows
          FROM events_norm GROUP BY 1),
c AS (SELECT day, n_rows,
             coalesce(sum(n_rows) OVER (ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cum_before
      FROM files)
SELECT (cum_before // {_COMPACT_TARGET})::BIGINT AS group_id,
       count(*)::BIGINT AS n_files,
       sum(n_rows)::BIGINT AS total_rows,
       min(day) AS first_day,
       max(day) AS last_day
FROM c GROUP BY 1"""


@register(
    "storage_compaction_plan",
    _COMPACT_SQL,
    doc=f"Small-file compaction planner (the lakehouse maintenance pass "
        "every streaming ingest needs): day-partitioned event files are "
        "binned into compaction groups by running-total row count — "
        f"group = cumulative-rows-before // {_COMPACT_TARGET} — which "
        "is greedy sequential bin-packing expressed declaratively, and "
        "PRESERVES time order so compacted files keep their time "
        "clustering (the property Z-order/partition pruning depends "
        "on; random bin-packing would destroy it). Dataflow: one "
        "day-keyed partial-agg shuffle over the fact table, then the "
        "running-sum window and the group agg run on ONE ROW PER DAY — "
        "the unpartitioned window is bounded by the time span, never "
        "the corpus, so the single-task window is safe at any scale. "
        "The real compactor would feed group_id to a "
        "repartition-by-range write (operators/storage.py).",
    tags=("storage", "scale", "temporal"),
)
def storage_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    files = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    c = files.select(
        "day", "n_rows",
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        c.groupBy(
            F.floor(F.col("cum_before") / _COMPACT_TARGET)
            .cast("long")
            .alias("group_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").alias("total_rows"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
    )


# ---------------------------------------------------------------------------
# star-candidate dedup pipeline (the round-8 soak's answer)
# ---------------------------------------------------------------------------

from .catalog_round5 import _collapsed_pipeline, _collapsed_pipeline_sql  # noqa: E402


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
# repeated-span scrub: the rewrite stage of substring dedup
# ---------------------------------------------------------------------------

from ..operators.llm import dedup as _dedup  # noqa: E402
from ..functions.hashing import hash32 as _hash32  # noqa: E402

_SPAN_W = 5

_SPAN_SCRUB_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
occ AS (SELECT doc_id, i, array_to_string(ws[i:i+{_SPAN_W - 1}], ' ') AS gram,
               doc_id * {_dedup.SPAN_OKEY_SHIFT} + i AS okey
        FROM (SELECT doc_id, ws,
                     unnest(generate_series(1, len(ws) - {_SPAN_W - 1})) AS i
              FROM d WHERE len(ws) >= {_SPAN_W})),
keep AS (SELECT gram, min(okey) AS first_okey, count(*) AS n_occ
         FROM occ GROUP BY 1),
masked AS (SELECT o.doc_id, o.i
           FROM occ o JOIN keep k ON o.gram = k.gram
           WHERE k.n_occ >= 2 AND o.okey <> k.first_okey),
cov AS (SELECT DISTINCT doc_id, idx
        FROM (SELECT doc_id,
                     unnest(generate_series(i, i + {_SPAN_W - 1})) AS idx
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
    doc=f"Exact repeated-span REMOVAL (word {_SPAN_W}-grams): every span "
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
    return _dedup.repeated_span_scrub(
        load_table(spark, sf_dir, "documents"), span_w=_SPAN_W
    )


# ---------------------------------------------------------------------------
# shingle containment: asymmetric near-dup (quote / inclusion detection)
# ---------------------------------------------------------------------------

_CONT_T = 0.9

_CONTAINMENT_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
        FROM w WHERE len(ws) >= 3),
ex AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
       FROM pos),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY 1),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(inter::DOUBLE / sa.n_sh::DOUBLE, 6) AS containment
FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
WHERE round(inter::DOUBLE / sa.n_sh::DOUBLE, 6) >= {_CONT_T}"""


@register(
    "llm_dedup_containment",
    _CONTAINMENT_SQL,
    doc=f"Shingle CONTAINMENT |A n B|/|A| >= {_CONT_T} for ordered pairs "
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
    return _dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=_CONT_T
    )


# ---------------------------------------------------------------------------
# interval-overlap self-join: range join via cell blocking, no cartesian
# ---------------------------------------------------------------------------

_IV_CELL = 300  # blocking cell width >= max interval duration (60+239 s)

_INTERVAL_OVERLAP_SQL = f"""
WITH {EVENTS_NORM},
e AS (SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS s,
             floor(epoch(ts))::BIGINT + 60 + event_id % 240 AS t
      FROM events_norm)
SELECT a.user_id AS user_id, a.event_id AS event_a, b.event_id AS event_b,
       (least(a.t, b.t) - greatest(a.s, b.s))::BIGINT AS overlap_sec
FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
WHERE a.s < b.t AND b.s < a.t"""


@register(
    "join_interval_overlap",
    _INTERVAL_OVERLAP_SQL,
    doc="Interval-overlap self-join (half-open [start, start+60+id%240)) "
        "per user WITHOUT a range-join cartesian: each interval lands in "
        "the (<= 2) time cells of width >= max duration it touches, the "
        "join is a plain (user, cell) EQUI-join, the overlap predicate "
        "filters candidates, and distinct() collapses pairs that met in "
        "both cells. The oracle states the semantics as the naive "
        "inequality self-join DuckDB can afford at sf0.01; the Spark "
        "plan is the one that survives 100 TB — shuffle volume is "
        "2x events keyed by (user, cell), candidate volume is bounded "
        "by per-cell density, never |user|^2 — measured at x100 under a "
        "200k-event hot user: 9.9M candidate pairs, not 2e10 "
        "(SCALE_SOAK round 9). Residual dial: a user hot WITHIN one "
        "cell needs a cell-level salt cap (semdedup's max_cell_size "
        "pattern). The same blocking generalizes to any "
        "bounded-duration temporal join (ad attribution, session "
        "stitching).",
    tags=("join", "temporal", "scale"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    s = F.unix_timestamp("ts")
    e = ev.select(
        "event_id", "user_id", s.alias("s"),
        (s + 60 + F.pmod("event_id", F.lit(240))).alias("t"),
    )
    cells = e.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / _IV_CELL).cast("long"),
                F.floor((F.col("t") - 1) / _IV_CELL).cast("long"),
            )
        ).alias("cell"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.event_id") < F.col("b.event_id")),
        )
        .filter(
            (F.col("a.s") < F.col("b.t")) & (F.col("b.s") < F.col("a.t"))
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            (
                F.least(F.col("a.t"), F.col("b.t"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
            ).cast("long").alias("overlap_sec"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# partition-skew diagnostic: what a hash shuffle on this key would do
# ---------------------------------------------------------------------------

_SKEW_P = 64

_PARTITION_SKEW_SQL = f"""
WITH {EVENTS_NORM},
kc AS (SELECT user_id, count(*)::BIGINT AS n FROM events_norm GROUP BY 1),
b AS (SELECT (('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
              % {_SKEW_P}) AS bucket, n FROM kc),
agg AS (SELECT bucket, sum(n)::BIGINT AS n_rows, max(n)::BIGINT AS max_key
        FROM b GROUP BY 1)
SELECT bucket, n_rows,
       round(n_rows * {_SKEW_P}.0 / (sum(n_rows) OVER ())::DOUBLE, 6)
           AS load_factor,
       round(max_key::DOUBLE / n_rows::DOUBLE, 6) AS hot_key_share
FROM agg"""


@register(
    "dq_partition_skew",
    _PARTITION_SKEW_SQL,
    doc=f"Shuffle-skew pre-flight: simulate hash-partitioning events by "
        f"user_id into {_SKEW_P} buckets (the cross-engine md5-prefix "
        "hash, functions/hashing.py) and report per-bucket load_factor "
        "(1.0 = balanced) plus hot_key_share — the fraction of the "
        "bucket owned by its single heaviest key. The pair separates "
        "the two skew regimes that need DIFFERENT fixes: load_factor "
        "spread with low hot_key_share is hash unluckiness (more "
        "partitions / AQE fixes it), high hot_key_share is an "
        "irreducible hot key (only salting or a broadcast fixes it). "
        "Cost: one partial-agg key count over the fact table, then all "
        f"work on |keys| rows; the window runs on {_SKEW_P} rows.",
    tags=("dq", "scale"),
)
def dq_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    kc = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    b = kc.select(
        F.pmod(_hash32(F.col("user_id").cast("string")), F.lit(_SKEW_P))
        .alias("bucket"),
        "n",
    )
    agg = b.groupBy("bucket").agg(
        F.sum("n").alias("n_rows"), F.max("n").alias("max_key")
    )
    total = F.sum("n_rows").over(Window.partitionBy())
    return agg.select(
        "bucket",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(
            F.col("n_rows") * _SKEW_P / total.cast("double"), 6
        ).alias("load_factor"),
        F.round(
            F.col("max_key").cast("double") / F.col("n_rows").cast("double"),
            6,
        ).alias("hot_key_share"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point alarms: the "stateful" recursion as two windows
# ---------------------------------------------------------------------------

_CUSUM_MULT = 3      # slack per step = MULT * per-user mean (cents)
_CUSUM_H = 5000      # alarm threshold (cents)

_CUSUM_SQL = f"""
WITH {EVENTS_NORM},
e AS (SELECT user_id, ts, event_id, round(value * 100)::BIGINT AS xc
      FROM events_norm),
m AS (SELECT *, (sum(xc) OVER (PARTITION BY user_id))
                // (count(*) OVER (PARTITION BY user_id)) AS mean_c
      FROM e),
p AS (SELECT *, sum(xc - {_CUSUM_MULT} * mean_c)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS pf
      FROM m),
c AS (SELECT *, pf - least(min(pf) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING), 0)
                AS cusum
      FROM p)
SELECT user_id, count(*)::BIGINT AS n_events,
       sum(CASE WHEN cusum > {_CUSUM_H} THEN 1 ELSE 0 END)::BIGINT
           AS n_alarms,
       max(cusum)::BIGINT AS max_cusum,
       min(ts) FILTER (WHERE cusum > {_CUSUM_H}) AS first_alarm_ts
FROM c GROUP BY 1"""


@register(
    "events_cusum_alarm",
    _CUSUM_SQL,
    doc="One-sided CUSUM change-point alarms per user (Page 1954): "
        "s_i = max(0, s_(i-1) + x_i - slack) looks like a stateful "
        "recursion demanding applyInPandasWithState, but the identity "
        "s_i = p_i - min(0, min_(j<=i) p_j) (p = prefix sum of "
        "deviations) turns it into TWO ordinary window functions over "
        "one (user, ts)-sorted partition — fully declarative, one "
        "shuffle, Catalyst-optimizable, trivially parallel across "
        f"users. Slack = {_CUSUM_MULT}x the per-user mean, threshold "
        f"{_CUSUM_H} cents; ALL arithmetic in integer cents "
        "(round(value*100), floor-div mean), so prefix sums are exact "
        "and the alarm predicate can never flip on floating-point "
        "association order — the property that makes the cross-engine "
        "hash meaningful. Emits every user (zero-alarm users have "
        "first_alarm_ts NULL); the anomaly-zscore entry flags level "
        "outliers, this one flags sustained drifts too small to be "
        "outliers row-by-row.",
    tags=("temporal", "window", "dq"),
)
def events_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    e = ev.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
    )
    w_all = Window.partitionBy("user_id")
    w_ord = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mean_c = F.floor(
        F.sum("xc").over(w_all) / F.count(F.lit(1)).over(w_all)
    ).cast("long")
    dev = F.col("xc") - _CUSUM_MULT * F.col("mean_c")
    c = (
        e.withColumn("mean_c", mean_c)
        .withColumn("pf", F.sum(dev).over(w_ord))
        .withColumn(
            "cusum",
            F.col("pf") - F.least(F.min("pf").over(w_ord), F.lit(0)),
        )
    )
    alarm = F.col("cusum") > _CUSUM_H
    return c.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarms"),
        F.max("cusum").cast("long").alias("max_cusum"),
        F.min(F.when(alarm, F.col("ts"))).alias("first_alarm_ts"),
    )


@register(
    "stream_cusum_replay",
    _CUSUM_SQL,
    doc="The CUSUM monitor as a STREAMING stateful operator, hash-"
        "verified against the batch identity: per-user mean_c is "
        "calibrated batch-side (the history table), events replay as "
        "three EVENT-TIME-split micro-batches (the thirds of the time "
        "range, one file each with a pinned mtime so the file source's "
        "batch order is the time order), and applyInPandasWithState runs the "
        "literal Page recursion s = max(0, s + dev) with five integers "
        "of state per user — O(keys) forever, no timeline retained. "
        "The oracle is the SAME SQL as events_cusum_alarm: the "
        "recursion over micro-batch state and the two-window prefix-min "
        "identity must produce byte-identical per-user rows, the "
        "strongest cross-form equivalence check in the catalog "
        "(streaming/stateful.py:cusum_monitor).",
    tags=("streaming", "stateful", "temporal"),
)
def stream_cusum_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import cusum_monitor
    from .replay import last_emission, run_replay, time_thirds

    ev = load_events(spark, sf_dir)
    base = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("xc"),
    )
    w_all = Window.partitionBy("user_id")
    cal = base.withColumn(
        "mean_c",
        F.floor(
            F.sum("xc").over(w_all) / F.count(F.lit(1)).over(w_all)
        ).cast("long"),
    )

    # One execution of the windowed calibration plan: the min/max pass and
    # the three batch slices all read the cache instead of recomputing the
    # full-table window 4x (guide §1.2 "don't compute things you throw
    # away").
    cal = cal.persist()
    outs = run_replay(
        spark,
        "stream_cusum",
        lambda s: cusum_monitor(s, _CUSUM_MULT, _CUSUM_H),
        time_thirds(cal, "ts_us"),
    )
    cal.unpersist()
    return last_emission(outs, "user_id").select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_alarms").cast("long").alias("n_alarms"),
        F.col("max_cusum").cast("long").alias("max_cusum"),
        F.timestamp_micros(F.col("first_alarm_us")).alias("first_alarm_ts"),
    )
