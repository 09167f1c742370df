"""Tests for the round-8 late operators (plans/catalog_round8b.py):
MAD outliers, edit-distance verify, logistic-regression
training."""
from __future__ import annotations

import io
from contextlib import redirect_stdout

import duckdb
import numpy as np
import pytest

from helium_arango_etl_lite_spark.plans.registry import QUERIES
from helium_arango_etl_lite_spark.plans import catalog_round8b as r8b


def _plan(spark, sf_dir, name):
    df = QUERIES[name].spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# events_mad_outliers
# ---------------------------------------------------------------------------

def test_mad_outliers_matches_naive_pandas(spark, sf_dir):
    out = (
        QUERIES["events_mad_outliers"].spark_fn(spark, sf_dir)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    ev = QUERIES["events_mad_outliers"].spark_fn.__globals__  # noqa: F841
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    pdf = con.execute(
        "SELECT user_id, round(epoch_ms(ts::TIMESTAMP)) AS t, value FROM events"
    ).df()
    for uid, g in pdf.groupby("user_id"):
        xc = np.round(g["value"].values * 100).astype(np.int64)
        med2 = int(2 * np.median(xc))
        dev2 = np.abs(2 * xc - med2)
        mad4 = int(2 * np.median(dev2))
        row = out.loc[uid]
        assert row["med2_c"] == med2
        assert row["mad4_c"] == mad4
        assert row["n_outliers"] == int(np.sum(2 * dev2 > 6 * mad4))
        assert row["max_dev2_c"] == int(dev2.max())


def test_mad_plan_single_shuffle_no_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_mad_outliers")
    # both medians are window aggregates over the same user_id
    # partitioning and the final agg reuses it: one hash exchange on
    # user_id, no joins anywhere (the registry's utilisation round-robin
    # repartition of the tiny test parquet is not the operator's doing)
    import re

    assert "Join" not in plan, plan
    hash_ex = re.findall(r"hashpartitioning\(user_id", plan)
    assert len(hash_ex) == 1, plan


# ---------------------------------------------------------------------------
# llm_dedup_edit_verify
# ---------------------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


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


# ---------------------------------------------------------------------------
# llm_logreg_train
# ---------------------------------------------------------------------------

def test_logreg_matches_numpy_trajectory(spark, sf_dir):
    """The distributed GD trajectory must reproduce a single-node NumPy
    reference running the identical per-step 6dp rounding."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    f = con.execute(
        "WITH " + r8b._LR_FEAT_CTE + " SELECT y, x1, x2, x3 FROM feat"
    ).df()
    y = f["y"].values
    X = np.column_stack([np.ones(len(f)), f["x1"], f["x2"], f["x3"]])
    w = np.zeros(4)
    for _ in range(r8b._LR_STEPS):
        z = X @ w  # fixed w: association order immaterial at 6dp rounding
        p = np.round(1 / (1 + np.exp(-z)), 6)
        g = np.round((X * (p - y)[:, None]).mean(axis=0), 6)
        w = np.round(w - r8b._LR_RATE * g, 6)
    out = (
        QUERIES["llm_logreg_train"].spark_fn(spark, sf_dir)
        .toPandas().set_index("dim").sort_index()
    )
    got_w = out.loc[0:3, "value"].values
    assert np.allclose(got_w, w, atol=2e-6), (got_w, w)
    assert (out["kind"].values[:4] == "weight").all()
    assert out.loc[4, "kind"] == "accuracy"
    # training must beat coin-flipping on the separable-ish label
    assert out.loc[4, "value"] >= 0.5


def test_logreg_learns_nonzero_weights(spark, sf_dir):
    out = (
        QUERIES["llm_logreg_train"].spark_fn(spark, sf_dir)
        .toPandas().set_index("dim")
    )
    assert np.abs(out.loc[0:3, "value"].values).sum() > 0
