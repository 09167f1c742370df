"""Property-based tests (SURVEY.md section 5): key determinism, explode
row-count conservation, and sketch invariants, driven by hypothesis.
Example counts are kept small — each example is a Spark job."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from helium_arango_etl_lite_spark.functions.keys import (
    canonical_md5_key, reference_key_of_dict,
)
from helium_arango_etl_lite_spark.functions.hashing import (
    MERSENNE_31, minhash_signature,
)

txt = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters="|"),
    max_size=12,
)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(txt, st.one_of(st.none(), txt)), min_size=1, max_size=20))
def test_canonical_key_deterministic_and_null_safe(spark, rows):
    df = spark.createDataFrame(rows, "a string, b string")
    k1 = df.select(canonical_md5_key("a", "b").alias("k")).collect()
    k2 = df.select(canonical_md5_key("a", "b").alias("k")).collect()
    assert k1 == k2  # same doc -> same key (follower.py:293-294 contract)

    keyed = df.select("a", "b", canonical_md5_key("a", "b").alias("k")).collect()
    by_val = {}
    for r in keyed:
        by_val.setdefault((r["a"], r["b"]), set()).add(r["k"])
    for ks in by_val.values():
        assert len(ks) == 1
    distinct_vals = len(by_val)
    distinct_keys = len({k for ks in by_val.values() for k in ks})
    assert distinct_keys == distinct_vals  # distinct docs -> distinct keys


def test_null_is_distinct_from_empty_string(spark):
    df = spark.createDataFrame([("x", None), ("x", "")], ["a", "b"])
    ks = [r["k"] for r in df.select(canonical_md5_key("a", "b").alias("k")).collect()]
    assert ks[0] != ks[1]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(txt, max_size=6), min_size=1, max_size=20))
def test_explode_conserves_row_count(spark, arrays):
    df = spark.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "i long, arr array<string>"
    )
    exploded = df.select("i", F.explode("arr").alias("x"))
    assert exploded.count() == sum(len(a) for a in arrays)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(txt, min_size=1, max_size=8), min_size=1, max_size=10))
def test_minhash_invariants(spark, token_lists):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(token_lists)], ["i", "t"])
    sig = df.select(
        "i", minhash_signature(F.array_distinct(F.col("t")), 6).alias("sig")
    ).collect()
    for r in sig:
        assert len(r["sig"]) == 6
        assert all(0 <= v <= MERSENNE_31 for v in r["sig"])
    # token ORDER must not matter (min over a set)
    rev = df.select(
        "i",
        minhash_signature(F.array_distinct(F.reverse(F.col("t"))), 6).alias("sig"),
    ).collect()
    assert {r["i"]: r["sig"] for r in sig} == {r["i"]: r["sig"] for r in rev}


@settings(max_examples=20, deadline=None)
@given(st.dictionaries(st.text(max_size=8), st.one_of(st.integers(), st.text(max_size=8)), max_size=5))
def test_reference_key_matches_cpython_json(d):
    import hashlib, json

    expect = hashlib.md5(
        json.dumps(d, sort_keys=True).encode("utf-8")
    ).hexdigest()
    assert reference_key_of_dict(d) == expect


def test_minhash_arrow_and_expr_engines_agree(spark, sf_dir):
    """The Arrow (mapInPandas) signature and its pure-expression reference
    are physically different programs; their values must be bit-identical."""
    from helium_arango_etl_lite_spark.operators.llm.dedup import (
        _minhash_signature_expr, minhash_signature_df,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = minhash_signature_df(docs).orderBy("doc_id").collect()
    b = _minhash_signature_expr(docs).orderBy("doc_id").collect()
    assert a == b


def test_winnow_arrow_and_expr_engines_agree(spark, sf_dir):
    from helium_arango_etl_lite_spark.operators.llm.text import (
        _winnow_expr, winnow_fingerprints,
    )
    from helium_arango_etl_lite_spark.plans.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = winnow_fingerprints(docs).orderBy("doc_id", "fp_hash").collect()
    b = _winnow_expr(docs).orderBy("doc_id", "fp_hash").collect()
    assert a == b


def test_simhash_arrow_and_expr_engines_agree(spark, sf_dir):
    from helium_arango_etl_lite_spark.operators.llm.dedup import _simhash_expr, simhash
    from helium_arango_etl_lite_spark.plans.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = simhash(docs).orderBy("doc_id").collect()
    b = _simhash_expr(docs).orderBy("doc_id").collect()
    assert a == b


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=-10_000, max_value=10_000),
             min_size=1, max_size=60, unique=True),
    st.integers(min_value=1, max_value=12),
)
def test_distributed_ntile_matches_window_ntile(spark, vals, k):
    from pyspark.sql import Window

    from helium_arango_etl_lite_spark.operators.aggregates import (
        distributed_ntile,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: r["ntile"]
        for r in distributed_ntile(df, ["v"], k).collect()
    }
    want = {
        r["v"]: r["nt"]
        for r in df.select(
            "v", F.ntile(k).over(Window.orderBy("v")).alias("nt")
        ).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=5_000),
             min_size=1, max_size=60),
)
def test_distributed_prefix_sum_matches_window_sum(spark, vals):
    from pyspark.sql import Window

    from helium_arango_etl_lite_spark.operators.aggregates import (
        distributed_prefix_sum,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i long, v long")
    got = {
        r["i"]: r["running"]
        for r in distributed_prefix_sum(df, ["i"], "v").collect()
    }
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["i"]: r["s"] for r in df.select("i", F.sum("v").over(w).alias("s")).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-10.0, max_value=10.0,
                      allow_nan=False, allow_infinity=False, width=32),
            min_size=4, max_size=8,
        ),
        min_size=1, max_size=12,
    ),
)
def test_quantize_int8_error_bound(spark, vectors):
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        quantize_int8,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vectors)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for r in quantize_int8(df).collect():
        # rounding to the nearest int8 level keeps every element within
        # scale/2, so the RMSE obeys the same bound (plus 1e-6 display
        # rounding slack); zero vectors quantize losslessly
        assert r["rmse"] <= r["scale"] / 2 + 1e-6
        assert r["n_saturated"] >= 1 or r["scale"] == 0.0
        assert r["rmse"] >= 0.0


def test_bm25_ranks_higher_tf_higher(spark):
    from helium_arango_etl_lite_spark.operators.llm.text import bm25_search

    # same length docs, increasing occurrences of the query term: BM25
    # must rank strictly by tf, and docs without the term score zero
    # (and are filtered from the result)
    docs = [
        (i, "spark " * (i + 1) + "pad " * (5 - i)) for i in range(3)
    ] + [(9, "pad pad pad pad pad pad")]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in docs], "doc_id long, text string"
    )
    got = bm25_search(df, ["spark"], k=10).collect()
    assert [r["doc_id"] for r in got] == [2, 1, 0]
    assert got[0]["bm25"] > got[1]["bm25"] > got[2]["bm25"] > 0


word = st.text(alphabet="abcx", min_size=1, max_size=3)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(word, min_size=0, max_size=12), min_size=1, max_size=6))
def test_word_shingles_all_matches_reference(spark, docs):
    """The zip_with shingle kernel must equal the naive Python reference
    IN ORDER and WITH MULTIPLICITY (the LM trainer counts occurrences),
    and word_shingles must be exactly its order-preserving dedup."""
    from helium_arango_etl_lite_spark.operators.llm.dedup import (
        word_shingles, word_shingles_all,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["all"], r["dedup"])
        for r in df.select(
            "doc_id",
            word_shingles_all(F.col("text"), 3).alias("all"),
            word_shingles(F.col("text"), 3).alias("dedup"),
        ).collect()
    }
    for i, toks in enumerate(docs):
        # NOTE: split(" ") on "" yields [""], matching Spark's split —
        # the reference must tokenize identically
        ref_toks = " ".join(toks).split(" ")
        ref = [
            " ".join(ref_toks[j : j + 3]) for j in range(len(ref_toks) - 2)
        ]
        assert got[i][0] == ref, (toks, got[i][0], ref)
        seen: list[str] = []
        for s in ref:
            if s not in seen:
                seen.append(s)
        assert got[i][1] == seen


def test_trigram_lm_smoothing_bounds(spark, sf_dir):
    """Every per-doc mean log-prob must lie in (ln(a/(T + a*V)), 0):
    the worst single trigram is an unseen gram (ct=0, possibly cap-
    truncated) under the most common context (cb <= T, the total
    trigram occurrences), and the ceiling is strict because cb >= ct
    and a*V > a."""
    import math

    from helium_arango_etl_lite_spark.plans.catalog_round7 import _LM_ALPHA
    from helium_arango_etl_lite_spark.plans.queries import QUERIES

    docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = docs_tbl.select(
        F.explode(F.split("text", " ")).alias("u")
    ).distinct().count()

    rows = QUERIES["llm_trigram_lm_score"].spark_fn(spark, sf_dir).collect()
    assert rows
    total_tri = sum(r["n_trigrams"] for r in rows)
    floor = math.log(_LM_ALPHA / (total_tri + _LM_ALPHA * vocab))
    for r in rows:
        assert floor - 1e-9 < r["avg_logprob"] < 0.0, r
