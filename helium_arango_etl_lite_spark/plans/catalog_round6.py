"""Round-6 catalog: corpus-quality repetition rules and distributed
deterministic reservoir sampling (its power-iteration entry is in
catalog_similarity.py).

* ``llm_repetition_stats`` — the Gopher-style within-document repetition
  quality signals (duplicate-word fraction, top-bigram fraction) that
  gate web-scale pretraining corpora (cf. Rae et al. 2021, "Scaling
  Language Models: ... Gopher", Table A1's repetition filters).
* ``agg_reservoir_per_group`` — fixed-size deterministic per-group
  sample with a map-side partial top-k combine, the sampling primitive
  behind eval-set carving and per-source inspection pulls.

Reference parity note: the reference ETL (helium-arango-etl-lite) has no
analytics of this kind at all — these are north-star training-data
pipeline operators, same family as plans/catalog_llm.py.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.llm.dedup import array_shingles
from .registry import load_table, register


def _round_half_up(x: float, dp: int) -> float:
    """Round half AWAY from zero on the shortest decimal repr — the
    semantics of Spark's ``F.round`` on doubles (BigDecimal.valueOf);
    Python's builtin ``round`` is banker's and diverges on .5 ties.
    DuckDB's ``round`` instead rounds the SCALED BINARY double
    (round(x*10^dp)/10^dp): it agrees with this model whenever the
    scaled product lands on/above the tie (e.g. 2.675@2dp -> 2.68) but
    can land below it (1.005@2dp -> 1.00 vs 1.01 here) — pinned by
    ``test_round_half_up_matches_duckdb_semantics``. Oracle fixtures
    avoid such ties; a hit would fail the driver hash, not corrupt."""
    q = Decimal(1).scaleb(-dp)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))

# ---------------------------------------------------------------------------
# Gopher-style repetition quality rules
# ---------------------------------------------------------------------------

DUP_WORD_MAX = 0.8
TOP_BIGRAM_MAX = 0.18

_REPETITION_SQL = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
bg AS (SELECT doc_id,
              unnest(list_transform(range(1, len(a)),
                                    i -> a[i] || ' ' || a[i + 1])) AS b
       FROM tok),
bgm AS (SELECT doc_id, max(c) AS m
        FROM (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
        GROUP BY 1)
SELECT t.doc_id,
       len(a)::BIGINT AS n_words,
       round(1.0 - len(list_distinct(a))::DOUBLE / len(a)::DOUBLE, 4)
           AS dup_word_frac,
       round(coalesce(m, 0)::DOUBLE
             / greatest(len(a) - 1, 1)::DOUBLE, 4) AS top_bigram_frac,
       (round(1.0 - len(list_distinct(a))::DOUBLE / len(a)::DOUBLE, 4)
            > {DUP_WORD_MAX}
        OR round(coalesce(m, 0)::DOUBLE
                 / greatest(len(a) - 1, 1)::DOUBLE, 4)
            > {TOP_BIGRAM_MAX}) AS would_filter
FROM tok t LEFT JOIN bgm USING (doc_id)"""


@register(
    "llm_repetition_stats",
    _REPETITION_SQL,
    doc="Within-document repetition quality rules (the Gopher-family "
        "filters, Rae et al. 2021): duplicate-word fraction "
        "(1 - distinct/total) and the most-frequent-bigram fraction of "
        "all bigrams, plus the would-filter verdict at the registered "
        "thresholds (dup_word > 0.8 OR top_bigram > 0.18). Everything "
        "is keyed by doc_id — one bounded bigram explode (fan-out "
        "len-1), two partial-aggregated doc-keyed shuffles, no "
        "cross-document joins — so the filter is a linear scan at any "
        "corpus size. The verdict compares the ROUNDED fractions on "
        "both engines so threshold ties cannot diverge.",
    tags=("llm", "text", "quality"),
)
def llm_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.split("text", " ").alias("a"))
    base = tok.select(
        "doc_id",
        F.size("a").alias("n_words"),
        F.size(F.array_distinct("a")).alias("n_distinct"),
    )
    bigrams = tok.select(
        "doc_id", F.explode(array_shingles(F.col("a"), 2)).alias("b")
    )
    bgm = (
        bigrams.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("m"))
    )
    dup_frac = F.round(
        F.lit(1.0)
        - F.col("n_distinct").cast("double") / F.col("n_words").cast("double"),
        4,
    )
    top_frac = F.round(
        F.coalesce(F.col("m"), F.lit(0)).cast("double")
        / F.greatest(F.col("n_words") - 1, F.lit(1)).cast("double"),
        4,
    )
    return (
        base.join(bgm, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            dup_frac.alias("dup_word_frac"),
            top_frac.alias("top_bigram_frac"),
            (
                (dup_frac > DUP_WORD_MAX) | (top_frac > TOP_BIGRAM_MAX)
            ).alias("would_filter"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic per-group reservoir sample (partial top-k combine)
# ---------------------------------------------------------------------------

RESERVOIR_K = 20
_RS_SALT = "rs1_"

_RESERVOIR_SQL = f"""
WITH r AS (SELECT o_orderpriority AS priority, o_orderkey,
                  row_number() OVER (
                      PARTITION BY o_orderpriority
                      ORDER BY md5('{_RS_SALT}' || o_orderkey::VARCHAR),
                               o_orderkey) AS rk
           FROM orders),
n AS (SELECT o_orderpriority AS priority, count(*) AS n_group
      FROM orders GROUP BY 1)
SELECT priority, o_orderkey, rk, n_group
FROM r JOIN n USING (priority)
WHERE rk <= {RESERVOIR_K}"""


@register(
    "agg_reservoir_per_group",
    _RESERVOIR_SQL,
    doc=f"Fixed-size ({RESERVOIR_K}) deterministic sample per group "
        "(order priority): rank = salted md5 of the key, so the sample "
        "is uniform-ish, reproducible run-to-run, and stable under "
        "corpus append (a row's hash never changes — the property that "
        "makes eval sets carved this way re-derivable). The SCALE shape "
        "is the point: a naive per-group row_number window shuffles the "
        "whole fact table into one reducer per group (G hot "
        "partitions); here every input partition first shears to its "
        "LOCAL top-k per group inside an Arrow mapInPandas pass — "
        "O(groups * k) state per task, zero shuffle, and a built-in "
        "collect_list/slice agg would NOT do this: its partial buffers "
        "ship the full list, the slice only applies at the final agg — "
        "so the exact per-group window afterwards runs on at most "
        "k * partitions rows per group. Per-partition top-k is a "
        "superset of the global top-k, so the output is identical to "
        "the naive window (pinned by the oracle). Group totals "
        "reported alongside. Measured (SCALE_SOAK round 7, 15M rows x "
        "500 groups): the shear cuts the exchange input 47x (15M -> "
        "320k rows); on a single box the naive window's loopback "
        "shuffle is still cheaper in wall, so this shape pays off on "
        "a real network fabric, not on local[32] — documented from "
        "measurement. The vectorized chunk sort beats the per-row "
        "bisect loop 2x at 470k rows/partition (and loses below ~50k, "
        "where the bisect reject path is O(1) — partition size decides).",
    tags=("agg", "sampling", "scale"),
)
def agg_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    h = F.md5(F.concat(F.lit(_RS_SALT), F.col("o_orderkey").cast("string")))
    keyed = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderkey"),
        h.alias("h"),
    )

    k = RESERVOIR_K

    def local_topk(batches):
        # vectorized per-batch shear, then cross-batch re-reduce: each
        # Arrow chunk sorts on (h, key) ONCE and keeps its k-head per
        # group (pure pandas/numpy — no per-row Python, round-7 fix of
        # the r6 bisect.insort loop); the accumulator re-shears after
        # every merge so partition state stays O(groups * k) no matter
        # how many chunks stream through
        def shear(pdf):
            return (
                pdf.sort_values(["h", "o_orderkey"], kind="mergesort")
                .groupby("priority", sort=False)
                .head(k)
            )

        cols = ["priority", "o_orderkey", "h"]
        acc = None
        for pdf in batches:
            top = shear(pdf[cols])
            acc = top if acc is None else shear(pd.concat([acc, top]))
        yield acc if acc is not None else pd.DataFrame(columns=cols)

    local = keyed.mapInPandas(
        local_topk, "priority string, o_orderkey long, h string"
    )
    w = Window.partitionBy("priority").orderBy(F.asc("h"), F.asc("o_orderkey"))
    sample = (
        local.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .drop("h")
    )
    totals = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_group")
    )
    return sample.join(totals, "priority").select(
        "priority", "o_orderkey", "rk", "n_group"
    )
