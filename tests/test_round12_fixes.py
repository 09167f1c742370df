"""Round-12 fix regressions: ADVICE r11 items + verdict housekeeping.

Covers: the events_cuped var(X)=0 guard (identical NULL in Spark and
DuckDB), kcenter_coreset's descriptive error on a missing seed, the
scratch-sweep PermissionError-means-alive rule, and the English-only
docstring guard that would have caught the round-11 Cyrillic slip.
"""

import glob
import os
import unicodedata

import duckdb
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_non_ascii_letters_in_source():
    """Docstrings/comments are English-only: non-ASCII LETTERS (any
    Unicode category L*) are banned across the package, the entry file,
    the benchmark and the tools.
    Typographic punctuation (em dash, arrows, section sign) stays legal
    — the round-11 slip was a Cyrillic word, not a dash."""
    files = glob.glob(
        os.path.join(REPO, "helium_arango_etl_lite_spark/**/*.py"),
        recursive=True,
    ) + glob.glob(os.path.join(REPO, "perfbench/*.py")) + glob.glob(
        os.path.join(REPO, "tools/*.py")
    ) + [os.path.join(REPO, "__spark_entry__.py")]
    offenders = []
    for p in files:
        for lineno, line in enumerate(open(p, encoding="utf-8"), 1):
            for ch in line:
                if ord(ch) > 127 and unicodedata.category(ch).startswith("L"):
                    offenders.append(f"{p}:{lineno}: {ch!r} in {line.strip()[:60]}")
    assert not offenders, "\n".join(offenders)


def test_stream_drivers_only_in_the_replay_runner():
    """Every catalog stream replay goes through plans/replay.py: no other
    module under plans/ builds its own stream query."""
    banned = ("readStream", "writeStream", "trigger(availableNow",
              'option("maxFilesPerTrigger"')
    offenders = []
    for p in glob.glob(os.path.join(REPO, "helium_arango_etl_lite_spark/plans/*.py")):
        if os.path.basename(p) == "replay.py":
            continue
        for lineno, line in enumerate(open(p, encoding="utf-8"), 1):
            offenders += [f"{p}:{lineno}: {b}" for b in banned if b in line]
    assert not offenders, "\n".join(offenders)


def test_kcenter_missing_seed_raises_descriptive_error(spark):
    from helium_arango_etl_lite_spark.operators.llm.similarity import (
        kcenter_coreset,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="seed vec_id=99 not present"):
        kcenter_coreset(emb, k=2, seed_id=99)
    empty = emb.filter(F.lit(False))
    with pytest.raises(ValueError, match="not present"):
        kcenter_coreset(empty, k=2, seed_id=1)


def test_cuped_degenerate_varx_yields_null_in_both_engines(spark):
    """All users identical pre-period spend -> var(X)=0 -> theta,
    mean_adj_cents and var_reduction are NULL, identically in the Spark
    plan and the DuckDB oracle (ADVICE r11: DuckDB's x/0 is
    version-dependent, so the guard must be explicit CASE/when)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from helium_arango_etl_lite_spark.plans.catalog_round11 import (
        _cuped_sql,
        events_cuped,
    )

    # two users, identical pre-period purchase value, differing post
    def t(day):
        return dt.datetime(2024, 1, day, 0, 0, 0)

    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(
                [t(1), t(9), t(1), t(9)], pa.timestamp("us")
            ),
            "user_id": pa.array([10, 10, 20, 20], pa.int64()),
            "event_type": pa.array(["purchase"] * 4),
            "value": pa.array([5.0, 7.0, 5.0, 9.0], pa.float64()),
            "props": pa.array(["{}"] * 4),
        }
    )
    tmp = os.path.join("/tmp", "cuped_degenerate_fixture")
    os.makedirs(tmp, exist_ok=True)
    path = os.path.join(tmp, "events.parquet")
    pq.write_table(tbl, path)

    out = {r["arm"]: r for r in events_cuped(spark, tmp).collect()}
    assert out, "expected at least one arm"
    for r in out.values():
        assert r["theta"] is None
        assert r["mean_adj_cents"] is None
        assert r["var_reduction"] is None
        assert r["mean_post_cents"] is not None

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')"
    )
    orc = con.execute(_cuped_sql()).fetchdf()
    assert orc["theta"].isna().all()
    assert orc["mean_adj_cents"].isna().all()
    assert orc["var_reduction"].isna().all()


def test_scratch_sweep_never_removes_alive_foreign_pid(monkeypatch, tmp_path):
    """PermissionError from os.kill(pid, 0) means the PID is ALIVE (it
    exists, just isn't ours) — the dir must survive the sweep even when
    older than 24h (ADVICE r11: the old code reclaimed aged dirs here,
    which could delete another user's in-use scratch mid-run)."""
    import tempfile

    from helium_arango_etl_lite_spark.plans.replay import scratch_dir

    # scratch_dir imports tempfile locally — patch the shared module
    # objects, not attributes on the replay module
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    root = tmp_path / "spark_graft_replay"
    foreign = root / "424242"
    foreign.mkdir(parents=True)
    (foreign / "data").write_text("in use")
    # make it look 48h old
    old = 1_000_000.0
    os.utime(foreign, (old, old))

    real_kill = os.kill

    def fake_kill(pid, sig):
        if pid == 424242:
            raise PermissionError("not our process, but alive")
        return real_kill(pid, sig)

    monkeypatch.setattr(os, "kill", fake_kill)
    d = scratch_dir("round12_fix_test")
    assert os.path.isdir(d)
    assert (foreign / "data").exists(), "alive foreign PID dir was swept"

    # a DEAD pid dir (ProcessLookupError) is still reclaimed
    dead = root / "434343"
    dead.mkdir()
    os.utime(dead, (old, old))

    def fake_kill2(pid, sig):
        if pid == 434343:
            raise ProcessLookupError("gone")
        if pid == 424242:
            raise PermissionError("alive")
        return real_kill(pid, sig)

    monkeypatch.setattr(os, "kill", fake_kill2)
    scratch_dir("round12_fix_test")
    assert not dead.exists(), "dead PID dir should be reclaimed"
    assert (foreign / "data").exists()
