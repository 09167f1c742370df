"""Round-10 widening (session 3, third wave): partition pruning (its MMR
result-diversification entry is in catalog_similarity.py).

* ``storage_partition_prune`` — the OTHER physical-design axis next to
  storage_bucket_join: the events table is written partitioned by
  event_type, and a two-type predicate then prunes 3 of 5 partition
  directories AT PLANNING TIME (PartitionFilters in the scan, verified
  by plan + input_file_name assertions in tests/test_round10c_ops.py).
  At 100 TB partition pruning is the first and cheapest scan reducer:
  the pruned directories cost zero I/O, zero tasks, zero listing
  beyond the partition index. The oracle is the same aggregate over
  the unpartitioned table, proving layout changes nothing.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star storage family
(SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import EVENTS_NORM, load_events, register

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
