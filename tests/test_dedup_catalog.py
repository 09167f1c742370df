"""Tests of the LLM dedup catalog entries (plans/catalog_dedup.py) that
the DuckDB oracle cannot express: split-leakage and incremental Bloom
invariants, the banded edit-distance verify against the textbook DP, and
the curation chain's tar-blob arithmetic."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import duckdb

from helium_arango_etl_lite_spark.plans.queries import QUERIES


def _plan(spark, sf_dir, name):
    df = QUERIES[name].spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_split_leakage_counts_are_consistent(spark, sf_dir):
    """Every leaked group spans >= 2 splits, so n_docs_leaked >= 2 *
    n_groups per row; and total leaked docs can never exceed the number
    of docs in signature-duplicate groups."""
    import pyspark.sql.functions as F

    from helium_arango_etl_lite_spark.operators.llm.dedup import (
        minhash_signature_df,
    )

    rows = QUERIES["llm_split_leakage_check"].spark_fn(spark, sf_dir).collect()
    assert rows, "fixture should contain signature-level leakage"
    for r in rows:
        assert len(r.splits_key.split(",")) >= 2
        assert r.n_docs_leaked >= 2 * r.n_groups
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = minhash_signature_df(docs)
    fp = F.concat_ws(":", *[F.col(f"sig_{i}") for i in range(6)])
    dup_docs = (
        sig.select(fp.alias("fp"))
        .groupBy("fp").count().filter("count > 1")
        .agg(F.sum("count")).collect()[0][0]
    )
    assert sum(r.n_docs_leaked for r in rows) <= dup_docs


def test_incremental_bloom_invariants(spark, sf_dir):
    """No false negatives (every true dup bloom-passes), counts add up,
    and the join-shear is real (some docs skip the verify join)."""
    r = (
        QUERIES["llm_incremental_dedup_bloom"]
        .spark_fn(spark, sf_dir)
        .collect()[0]
    )
    assert r.n_pass + r.n_definitely_new == r.n_new
    assert r.n_pass >= r.n_true_dup          # no false negatives
    assert r.n_false_pos == r.n_pass - r.n_true_dup
    assert r.n_definitely_new > 0            # the shear pays for itself
    assert r.n_true_dup > 0                  # signature key finds real dups


def test_edit_verify_banded_equals_textbook(spark, sf_dir):
    """Spark's banded levenshtein(a, b, cap) must agree with the full
    textbook DP on every candidate pair: the distance when <= cap, and
    exactly -1 when the true distance exceeds the cap."""
    out = QUERIES["llm_dedup_edit_verify"].spark_fn(spark, sf_dir)
    rows = out.collect()
    assert rows, "LSH produced no candidate pairs on the test corpus"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    for r in rows:
        a, b = texts[r["doc_a"]], texts[r["doc_b"]]
        cap = max(len(a), len(b)) * 2 // 10
        true = _lev(a, b)
        if true <= cap:
            assert r["lev_capped"] == true and r["is_dup"]
        else:
            assert r["lev_capped"] == -1 and not r["is_dup"]


def test_edit_verify_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "llm_dedup_edit_verify")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_curation_e2e_blob_size_equals_arithmetic(spark, sf_dir):
    out = QUERIES["llm_curation_end_to_end"].spark_fn(spark, sf_dir).toPandas()
    # every shard's measured blob size is the 10240-record prediction
    assert (out["shard_bytes"] % 10240 == 0).all()
    assert (out["payload_bytes"] < out["shard_bytes"]).all()
    # all 8 rendezvous shards receive members on the driver data
    assert sorted(out["shard"]) == list(range(8))


def test_curation_e2e_members_match_manual_chain(spark, sf_dir):
    import duckdb

    out = (
        QUERIES["llm_curation_end_to_end"].spark_fn(spark, sf_dir)
        .toPandas()
        .set_index("shard")
    )
    con = duckdb.connect()
    pdf = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).df()
    pdf = pdf[pdf["text"].str.split(" ").str.len() >= 25]
    keep = pdf.loc[pdf.groupby(pdf["text"].map(hash))["doc_id"].idxmin()]
    # keeper count must equal total members across shards (the hash
    # grouping here is python-hash exact-text, same equivalence classes
    # as md5)
    assert out["n_members"].sum() == len(keep)
