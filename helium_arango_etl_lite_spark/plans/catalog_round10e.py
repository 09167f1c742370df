"""Round-10 widening (session 3, third wave): partition pruning and
MMR result diversification.

* ``storage_partition_prune`` — the OTHER physical-design axis next to
  storage_bucket_join: the events table is written partitioned by
  event_type, and a two-type predicate then prunes 3 of 5 partition
  directories AT PLANNING TIME (PartitionFilters in the scan, verified
  by plan + input_file_name assertions in tests/test_round10c_ops.py).
  At 100 TB partition pruning is the first and cheapest scan reducer:
  the pruned directories cost zero I/O, zero tasks, zero listing
  beyond the partition index. The oracle is the same aggregate over
  the unpartitioned table, proving layout changes nothing.
* ``llm_mmr_diversify`` — Maximal Marginal Relevance re-ranking
  (Carbonell & Goldstein 1998): from the top-12 cosine candidates,
  greedily pick 5 results maximizing lambda*relevance -
  (1-lambda)*max-similarity-to-already-picked — the standard
  diversification pass between retrieval and the user (near-duplicate
  hits waste result slots; BM25/cosine alone return them). The
  DISTRIBUTED part is candidate generation (brute-force or ANN top-N);
  the greedy loop runs on the N-bounded candidate table — k tiny
  argmax rounds, each one join against the selected set. The oracle
  unrolls all five rounds in SQL, so the greedy recursion itself is
  verified, not just the final set. Similarities are rounded to 4dp
  before the arithmetic (both engines), and the MMR combination uses
  only IEEE mul/sub on those rounded values, so scores agree exactly.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star storage/similarity families
(SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.llm.similarity import cosine
from .registry import EVENTS_NORM, load_events, load_table, register

# ---------------------------------------------------------------------------
# partition pruning: predicate hits the directory index, not the data
# ---------------------------------------------------------------------------

_PRUNE_TYPES = ("click", "purchase")

_PRUNE_SQL = f"""WITH {EVENTS_NORM}
SELECT event_type, count(*)::BIGINT AS n,
       sum(round(value * 100)::BIGINT)::BIGINT AS cents
FROM events_norm
WHERE event_type IN ('{_PRUNE_TYPES[0]}', '{_PRUNE_TYPES[1]}')
GROUP BY 1"""


@register(
    "storage_partition_prune",
    _PRUNE_SQL,
    doc="Partition-pruned scan: events are written "
        "partitionBy(event_type); the IN-two-types predicate is then "
        "a PARTITION filter, so 3 of 5 directories are skipped at "
        "planning time — no I/O, no tasks, not even file listing "
        "beyond the partition index (pytest asserts PartitionFilters "
        "in the scan plan AND that every file actually read lives "
        "under a surviving event_type= directory). The write "
        "clusters rows by the partition value in the SAME pass that "
        "lands them, which is the point at 100 TB: the layout "
        "decision is paid once, every downstream type-filtered query "
        "prunes for free. Complements storage_bucket_join (bucketing "
        "kills the join shuffle; partitioning kills the scan). The "
        "oracle runs the identical aggregate over the unpartitioned "
        "table: layout changes nothing about values.",
    tags=("storage", "physical"),
)
def storage_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = _partitioned_events(spark, sf_dir).filter(
        F.col("event_type").isin(*_PRUNE_TYPES)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )


def _partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events partitioned by event_type into scratch and read the
    partitioned table back (shared with the plan-assertion test)."""
    from .replay import scratch_dir

    scratch = scratch_dir("part_events")
    ev = load_events(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(scratch)
    return spark.read.parquet(scratch)


# ---------------------------------------------------------------------------
# MMR diversification: greedy re-rank over the bounded candidate set
# ---------------------------------------------------------------------------

_MMR_N = 12   # candidate pool (the distributed retrieval output)
_MMR_K = 5    # diversified results
_MMR_LAMBDA = 0.7

_MMR_COS4 = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


def _mmr_sql() -> str:
    lam, one_m = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 1)
    head = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cand AS (SELECT e.vec_id, e.v,
                {_MMR_COS4.format(a="e.v", b="q.qv")} AS rel
         FROM e, q WHERE e.vec_id <> 0
         ORDER BY rel DESC, e.vec_id LIMIT {_MMR_N}),
p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
             {_MMR_COS4.format(a="a.v", b="b.v")} AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
s1 AS (SELECT vec_id, rel, {lam} * rel AS mmr FROM cand
       ORDER BY rel DESC, vec_id LIMIT 1)"""
    parts = [head]
    prev_sel = "SELECT vec_id FROM s1"
    for r in range(2, _MMR_K + 1):
        parts.append(
            f""",
r{r} AS (SELECT c.vec_id, c.rel,
               {lam} * c.rel - {one_m} * max(p.s) AS mmr
        FROM cand c JOIN p ON p.ia = c.vec_id
                          AND p.ib IN ({prev_sel})
        WHERE c.vec_id NOT IN ({prev_sel})
        GROUP BY c.vec_id, c.rel
        ORDER BY mmr DESC, c.vec_id LIMIT 1)"""
        )
        prev_sel = f"{prev_sel} UNION SELECT vec_id FROM r{r}"
    selects = ["SELECT 1 AS rank, vec_id, rel, round(mmr, 6) AS mmr FROM s1"]
    for r in range(2, _MMR_K + 1):
        selects.append(
            f"SELECT {r} AS rank, vec_id, rel, round(mmr, 6) AS mmr FROM r{r}"
        )
    return "".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@register(
    "llm_mmr_diversify",
    _mmr_sql(),
    doc=f"Maximal Marginal Relevance re-ranking (Carbonell & Goldstein "
        f"1998): greedily select {_MMR_K} of the top-{_MMR_N} cosine "
        f"candidates maximizing {_MMR_LAMBDA}*relevance - "
        f"{round(1 - _MMR_LAMBDA, 1)}*max-sim-to-selected — the "
        "diversification pass between retrieval and the user that "
        "stops near-duplicate hits from wasting result slots. Scale "
        "split is explicit: candidate generation is the distributed "
        "stage (here brute-force top-N; any ANN entry slots in), and "
        f"the greedy loop touches only the {_MMR_N}-row candidate "
        f"table — {_MMR_K - 1} rounds of one tiny join + one argmax "
        "each, never the corpus. All similarities round to 4dp "
        "before the MMR arithmetic so both engines combine identical "
        "doubles; the oracle unrolls every greedy round, verifying "
        "the recursion, not just the final membership.",
    tags=("llm", "similarity", "eval"),
)
def llm_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id", "v",
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_N)
        .localCheckpoint()  # pin the pool: it feeds K joins below
    )
    a = cand.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va")
    )
    b = cand.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb")
    )
    pairs = (
        a.join(b, F.col("ia") != F.col("ib"))
        .select(
            "ia", "ib",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("s"),
        )
        .localCheckpoint()
    )
    lam, one_m = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 1)
    first = (
        cand.orderBy(F.desc("rel"), "vec_id").limit(1)
        .select("vec_id", "rel", (F.lit(lam) * F.col("rel")).alias("mmr"))
        .collect()[0]
    )
    picked = [(1, first["vec_id"], first["rel"], first["mmr"])]
    sel_ids = [first["vec_id"]]
    for r in range(2, _MMR_K + 1):
        nxt = (
            cand.filter(~F.col("vec_id").isin(sel_ids))
            .join(
                pairs.filter(F.col("ib").isin(sel_ids)),
                F.col("vec_id") == F.col("ia"),
            )
            .groupBy("vec_id", "rel")
            .agg(
                (
                    F.lit(lam) * F.col("rel")
                    - F.lit(one_m) * F.max("s")
                ).alias("mmr")
            )
            .orderBy(F.desc("mmr"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        picked.append((r, nxt["vec_id"], nxt["rel"], nxt["mmr"]))
        sel_ids.append(nxt["vec_id"])
    out = spark.createDataFrame(
        picked, "rank int, vec_id long, rel double, mmr double"
    )
    return out.select(
        "rank", "vec_id", "rel", F.round("mmr", 6).alias("mmr")
    )
