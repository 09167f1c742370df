"""Schema-first batch readers for JSON-lines block/txn dumps (SURVEY.md
section 2.1).

A dump holds one block or txn envelope per line. ``spark.read.json`` with an
explicit ``StructType`` replaces pydantic ``parse_obj`` (client.py:36);
PERMISSIVE mode with a ``_corrupt_record`` column replaces the
ValidationError retry loop (follower.py:58-69) — bad lines are quarantined,
not retried (``split_corrupt``, or ``streaming.follow.process_batch``'s
quarantine branch). The live follower reads the chain through
``sources/datasource.py`` instead; these readers serve replays of dumps.

Schema is always supplied explicitly (never inferred), so the reader makes
exactly one pass over a splittable directory.
"""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from ..schemas import BLOCK_SCHEMA, TXN_ENVELOPE_SCHEMA

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    s = copy.deepcopy(schema)
    return s.add(CORRUPT_COL, StringType(), True)


def read_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of a block dump. Malformed lines surface as rows whose
    data fields are NULL and whose ``_corrupt_record`` holds the raw line
    (stand-in for client.py:36's ValidationError)."""
    return (
        spark.read.schema(_with_corrupt(BLOCK_SCHEMA))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_txns(spark: SparkSession, path: str) -> DataFrame:
    """Transaction envelopes ``(hash, type, json)`` — the columnar stand-in
    for the reference's per-txn RPC (client.py:39-51). Each type-dispatched
    branch applies its own schema later via ``F.from_json``
    (operators/graph.py:graph_documents)."""
    return (
        spark.read.schema(_with_corrupt(TXN_ENVELOPE_SCHEMA))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition a PERMISSIVE read into (good, quarantine).

    Spark refuses a filter that references only the internal corrupt-record
    column of an un-materialised JSON scan (SPARK-21610), so the frame is
    cached first; callers in a streaming ``foreachBatch`` already hold a
    materialised batch and can filter directly.
    """
    df = df.cache()
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad
