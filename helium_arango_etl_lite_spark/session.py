"""SparkSession factory with scale-appropriate defaults.

Tested on local[N]; the config values are chosen to also be sane on a real
multi-executor cluster (AQE on, shuffle partitions sized explicitly,
broadcast threshold left to AQE's runtime re-plan).
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "helium-arango-etl-lite-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    ``shuffle_partitions`` defaults to the parallelism of the master —
    on a real cluster you would size this to ~2-3x total cores or rely
    on AQE coalescing, which is enabled here.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle coalescing, skew-join splitting, dynamic
        # broadcast conversion — load-bearing at 100 TB (power-law keys).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst deliberately stays at its default (true).
        # Optimization round 13 A/B-tested size-based coalescing
        # (parallelismFirst=false + 64m advisory): -5% on a 16-query
        # subset, but the FULL bench falsified it — queries whose
        # shuffle output is small in bytes yet compute-heavy per row
        # (window/regex/array kernels over sub-64MB exchanges, and the
        # exact-kNN GEMM whose corpus frame must stay spread across
        # cores) coalesced to ONE post-shuffle partition and
        # serialized: llm_ann_ivf_pq_recall 5.4s -> 24.8s, an
        # events/window cluster +16s total. Bytes are the wrong proxy
        # for these stages' cost; the default keeps them parallel.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas_udf / mapInPandas / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # catalog tables (bucketed layouts) land outside the repo; static
        # conf, so it must be set before the first session is created
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "spark-graft-warehouse"),
            ),
        )
    )
    # Escape hatch for experiments and per-deployment tuning: extra confs
    # from the environment, e.g.
    #   SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd;spark.foo=1"
    # Applied LAST so they override the defaults above. Empty by default.
    for k, v in parse_extra_conf(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")):
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(session: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set ``conf`` on ``session`` inside the block and restore the
    previous values when it exits, however it exits."""
    prev = {k: session.conf.get(k) for k in conf}
    for k, v in conf.items():
        session.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            session.conf.set(k, v)


def parse_extra_conf(extra: str) -> list[tuple[str, str]]:
    """Parse the ``SPARK_GRAFT_EXTRA_CONF`` override string
    (semicolon-separated ``key=value`` pairs) into (key, value) tuples.

    Malformed entries (no '=', or an empty key) are SKIPPED with a
    stderr warning instead of becoming empty-string configs, and every
    applied override is logged so a run that deviates from the
    committed configuration records that it did (ADVICE r13: an
    inherited env var could otherwise silently change engine config
    under bench / correctness runs)."""
    pairs: list[tuple[str, str]] = []
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        k, eq, v = kv.partition("=")
        if not eq or not k.strip():
            print(
                f"get_spark: ignoring malformed SPARK_GRAFT_EXTRA_CONF "
                f"entry {kv!r} (expected key=value)",
                file=sys.stderr,
            )
            continue
        print(
            f"get_spark: override from SPARK_GRAFT_EXTRA_CONF: "
            f"{k.strip()}={v.strip()}",
            file=sys.stderr,
        )
        pairs.append((k.strip(), v.strip()))
    return pairs
