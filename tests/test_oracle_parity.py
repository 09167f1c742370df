"""Local replica of the driver's correctness gate: every catalog query runs
on Spark AND its oracle SQL runs on DuckDB over the same parquet tables;
row count, sorted column names, and order-insensitive values must match
exactly (the driver hashes values — exact match is the bar, which is why
order-dependent float aggregates are rounded inside the queries)."""

from __future__ import annotations

import importlib.util
import math
import os

import duckdb
import pytest

from helium_arango_etl_lite_spark.plans.queries import QUERIES
from helium_arango_etl_lite_spark.plans.registry import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(rows, columns):
    """Sort columns by name (driver behavior), render values canonically."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def render(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return repr(v)
        if isinstance(v, bool):
            return str(bool(v))
        if v is None:
            return "NULL"
        return str(v)

    return sorted(tuple(render(r[i]) for i in order) for r in rows)


ORACLE_QUERIES = sorted(n for n, s in QUERIES.items() if s.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = QUERIES[name]
    sdf = spec.spark_fn(spark, sf_dir)

    # Scalar-only output pin, folded in here (it was a separate
    # whole-catalog sweep that re-built and re-ran every plan a second
    # time — ~400 s of pure duplication; the schema is already in hand):
    # the driver's pandas canonicalisation crashes on array/map/struct
    # columns and the crash aborts every query registered after the
    # offender (the round-2 failure class).
    from pyspark.sql.types import ArrayType, MapType, StructType

    non_scalar = [
        (f.name, f.dataType.simpleString())
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not non_scalar, f"{name}: non-scalar output columns {non_scalar}"

    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duck_con(sf_dir)
    res = con.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    ns, nd = normalize(spark_rows, spark_cols), normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


def test_every_query_has_an_oracle():
    """Coverage guard for the parametrized parity test above: it only
    covers entries WITH an oracle. While that is all 307 of them, a
    future no-oracle entry would silently escape both the parity check
    and the folded-in scalar-output check — this pin forces whoever
    adds one to extend the coverage deliberately.

    (Historically two whole-catalog sweeps lived here —
    ``test_every_query_runs_at_all`` re-ran all 307 queries a second
    time and ``test_outputs_are_scalar_only`` re-built and re-ran every
    plan a third time, ~800 s of the suite for zero added coverage once
    every entry has an oracle. The runs-at-all property is implied by
    the parity collect; the scalar pin moved into the parity test.)"""
    missing = [n for n, s in QUERIES.items() if s.oracle is None]
    assert not missing, (
        f"entries without an oracle escape the parity+scalar sweep: "
        f"{missing} — give them an oracle or add an explicit runs-at-all"
        " test for them here"
    )


def test_catalog_doc_matches_registry():
    """CATALOG.md is generated from the registry; a registry change that
    skips ``python tools/catalog_counts.py`` leaves stale counts."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "catalog_counts", os.path.join(repo, "tools", "catalog_counts.py")
    )
    catalog_counts = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(catalog_counts)
    with open(os.path.join(repo, "CATALOG.md"), encoding="utf-8") as f:
        assert f.read() == catalog_counts.render()
