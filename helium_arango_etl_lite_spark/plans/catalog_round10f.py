"""Round-10 widening (session 3, fourth wave): snapshot diffing,
schema evolution, sequence transitions, and classifier calibration.

* ``cdc_snapshot_diff`` — generate the change log FROM two snapshots:
  the inverse of cdc_apply, and how warehouses produce CDC when the
  source system keeps no log. Old state (as of a 2/3-span cut) and new
  state (final, minus accounts closed by the fixture's
  last-event-is-error rule) full-outer-join on the key and classify
  into I / U / D, emitting NOTHING for unchanged keys — a diff that
  re-emits no-ops re-writes the whole table downstream. One shuffle
  per snapshot (both by the diff key, so the join itself co-locates).
* ``storage_schema_evolution`` — the mergeSchema read: an early batch
  written WITHOUT the channel column and a later batch written WITH
  it read back as one table, old rows NULL-filled. Schema drift is a
  fact of life for a 100 TB table fed for years; the entry proves the
  engine's answer (parquet schema merge) keeps old data queryable and
  the oracle (explicit NULL union) pins the exact semantics.
* ``events_markov_transitions`` — first-order Markov transition matrix
  over each user's event-type sequence: one lag window + one pair
  count; row-normalized probabilities are round-half-up RATIONALS of
  two counts ((2e6*n + rowsum) // (2*rowsum)) — integer-exact on both
  engines. The sequence-model readout funnels/sessionization build on.
* ``llm_eval_calibration`` — reliability readout for the NB classifier:
  bucket documents by winning-score quintile (cut points are four
  scalars from one percentile aggregate, broadcast back — the
  ccnet-buckets discipline, no global sort) and report per-bucket
  accuracy as an exact rational. Closes the eval family next to
  llm_eval_confusion: confusion says HOW OFTEN the model is right,
  calibration says whether its CONFIDENCE ranks that correctly.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star ETL/storage/eval families
(SURVEY.md section 2.8).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import EVENTS_NORM, load_events, register

# ---------------------------------------------------------------------------
# snapshot diff -> CDC ops (the inverse of cdc_apply)
# ---------------------------------------------------------------------------

# Per-user state rows at a time horizon: the LAST event's type + cents.
_STATE_SQL = """SELECT user_id, event_type AS attr,
       round(value * 100)::BIGINT AS cents
FROM (SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events_norm WHERE ts {cond}) WHERE rn = 1"""

_DIFF_SQL = f"""WITH {EVENTS_NORM},
b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
      FROM events_norm),
old AS ({_STATE_SQL.format(cond="< (SELECT make_timestamp(lo + (hi - lo) * 2 // 3) FROM b)")}),
newf AS ({_STATE_SQL.format(cond="IS NOT NULL")}),
closed AS (SELECT user_id FROM newf WHERE attr = 'error'),
new AS (SELECT * FROM newf WHERE user_id NOT IN (SELECT user_id FROM closed))
SELECT coalesce(o.user_id, n.user_id) AS user_id,
       CASE WHEN o.user_id IS NULL THEN 'I'
            WHEN n.user_id IS NULL THEN 'D'
            ELSE 'U' END AS op,
       n.attr AS attr, n.cents AS cents
FROM old o FULL OUTER JOIN new n ON o.user_id = n.user_id
WHERE o.user_id IS NULL OR n.user_id IS NULL
   OR o.attr <> n.attr OR o.cents <> n.cents"""


@register(
    "cdc_snapshot_diff",
    _DIFF_SQL,
    doc="Snapshot-diff CDC generation — the INVERSE of cdc_apply, and "
        "how a warehouse produces a change feed when the source keeps "
        "no log: old state (as of the 2/3-span horizon) and new state "
        "(final; the fixture closes accounts whose last event is "
        "'error', so the D path is genuinely exercised) full-outer-"
        "join on the key and classify I/U/D, emitting NOTHING for "
        "unchanged keys. Each snapshot is one user-keyed window "
        "(latest row per user); both snapshots shuffle on the SAME "
        "key the diff joins on, so the join is co-located. At 100 TB "
        "the unchanged-key suppression is the point: a daily diff of "
        "a 10B-row dimension emits only the delta, and "
        "applying this output through cdc_apply reproduces the new "
        "snapshot (round-trip property pinned in pytest).",
    tags=("etl", "cdc", "join"),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    cut = lo + (hi - lo) * 2 // 3

    def state(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias("attr"),
                F.round(F.col("value") * 100).cast("long").alias("cents"),
            )
        )

    old = state(ev.filter(F.unix_micros("ts") < cut))
    newf = state(ev)
    new = newf.filter(F.col("attr") != "error")  # closed accounts drop
    o = old.select(
        F.col("user_id").alias("uo"), F.col("attr").alias("ao"),
        F.col("cents").alias("co"),
    )
    n = new.select(
        F.col("user_id").alias("un"), F.col("attr").alias("an"),
        F.col("cents").alias("cn"),
    )
    j = o.join(n, o["uo"] == n["un"], "full_outer")
    op = (
        F.when(F.col("uo").isNull(), F.lit("I"))
        .when(F.col("un").isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
    )
    changed = (
        F.col("uo").isNull()
        | F.col("un").isNull()
        | (F.col("ao") != F.col("an"))
        | (F.col("co") != F.col("cn"))
    )
    return j.filter(changed).select(
        F.coalesce("uo", "un").alias("user_id"),
        op.alias("op"),
        F.col("an").alias("attr"),
        F.col("cn").alias("cents"),
    )


# ---------------------------------------------------------------------------
# schema evolution: mergeSchema read over batches with drifting columns
# ---------------------------------------------------------------------------

_EVOLVE_SQL = f"""WITH {EVENTS_NORM},
b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
      FROM events_norm),
cut AS (SELECT lo + (hi - lo) // 2 AS c FROM b),
unioned AS (
  SELECT event_id, event_type, round(value * 100)::BIGINT AS cents,
         NULL::VARCHAR AS channel
  FROM events_norm, cut WHERE epoch_us(ts) < c
  UNION ALL
  SELECT event_id, event_type, round(value * 100)::BIGINT AS cents,
         CASE WHEN event_id % 2 = 0 THEN 'web' ELSE 'app' END AS channel
  FROM events_norm, cut WHERE epoch_us(ts) >= c)
SELECT event_type, count(*)::BIGINT AS n,
       count(channel)::BIGINT AS n_with_channel,
       sum(CASE WHEN channel = 'web' THEN 1 ELSE 0 END)::BIGINT AS n_web,
       sum(cents)::BIGINT AS cents
FROM unioned GROUP BY 1"""


@register(
    "storage_schema_evolution",
    _EVOLVE_SQL,
    doc="Schema-evolution read: an early batch written WITHOUT the "
        "channel column and a later batch written WITH it, read back "
        "as ONE table via parquet mergeSchema — old rows NULL-fill the "
        "new column and every aggregate treats them uniformly (the "
        "oracle is the explicit NULL union, pinning the semantics). "
        "Column addition is the benign-but-universal drift on a table "
        "fed for years; the entry proves the read path needs no "
        "backfill rewrite of old files. At 100 TB mergeSchema's footer "
        "union is driver-side metadata work — bounded by file count, "
        "not data — and production tables pin the merged schema in a "
        "catalog instead of re-deriving it per query; the NULL-fill "
        "semantics verified here are identical.",
    tags=("storage", "physical", "etl"),
)
def storage_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .replay import scratch_dir

    ev = load_events(spark, sf_dir)
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    cut = lo + (hi - lo) // 2
    base = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_micros("ts").alias("ts_us"),
    )
    scratch = scratch_dir("schema_evolution")
    old_p = os.path.join(scratch, "v1")
    new_p = os.path.join(scratch, "v2")
    base.filter(F.col("ts_us") < cut).drop("ts_us").write.mode(
        "overwrite"
    ).parquet(old_p)
    (
        base.filter(F.col("ts_us") >= cut)
        .drop("ts_us")
        .withColumn(
            "channel",
            F.when(F.col("event_id") % 2 == 0, F.lit("web")).otherwise(
                F.lit("app")
            ),
        )
        .write.mode("overwrite")
        .parquet(new_p)
    )
    merged = spark.read.option("mergeSchema", "true").parquet(old_p, new_p)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("channel").cast("long").alias("n_with_channel"),
        F.sum((F.col("channel") == "web").cast("long"))
        .cast("long")
        .alias("n_web"),
        F.sum("cents").cast("long").alias("cents"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event-type sequences
# ---------------------------------------------------------------------------

_MARKOV_SQL = f"""WITH {EVENTS_NORM},
seq AS (SELECT user_id, event_type AS cur,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events_norm),
pair AS (SELECT prev, cur, count(*)::BIGINT AS n FROM seq
         WHERE prev IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT prev, sum(n)::BIGINT AS rowsum FROM pair GROUP BY 1)
SELECT p.prev, p.cur, p.n,
       ((2000000 * p.n + t.rowsum) // (2 * t.rowsum))::BIGINT AS p6
FROM pair p JOIN tot t USING (prev)"""


@register(
    "events_markov_transitions",
    _MARKOV_SQL,
    doc="First-order Markov transition matrix over each user's "
        "event-type sequence: one user-keyed lag window produces the "
        "(prev, cur) stream, one partial-agg shuffle counts the 25 "
        "cells, and row-normalized transition probabilities are "
        "round-half-up RATIONALS of two counts — integer-exact on "
        "both engines, no float division until the consumer wants "
        "one. The sequence-model baseline that funnel and session "
        "entries implicitly assume; at 100 TB the only corpus-sized "
        "work is the lag window's user shuffle, which "
        "sessionization-family queries already pay and share.",
    tags=("analytics", "window", "events"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    pair = seq.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n"))
    tot = pair.groupBy("prev").agg(F.sum("n").alias("rowsum"))
    return (
        pair.join(F.broadcast(tot), "prev")
        .select(
            "prev",
            "cur",
            F.col("n").cast("long").alias("n"),
            F.expr("(2000000 * n + rowsum) div (2 * rowsum)")
            .cast("long")
            .alias("p6"),
        )
    )


# ---------------------------------------------------------------------------
# classifier calibration: accuracy per winning-score quintile
# ---------------------------------------------------------------------------


def _calibration_sql() -> str:
    from .catalog_round8d import _NB_SCORE_SQL

    return f"""
WITH scored AS ({_NB_SCORE_SQL}),
cuts AS (SELECT round(quantile_cont(score6, 0.2), 6) AS c1,
                round(quantile_cont(score6, 0.4), 6) AS c2,
                round(quantile_cont(score6, 0.6), 6) AS c3,
                round(quantile_cont(score6, 0.8), 6) AS c4
         FROM scored),
b AS (SELECT (1 + CASE WHEN score6 >= c1 THEN 1 ELSE 0 END
                + CASE WHEN score6 >= c2 THEN 1 ELSE 0 END
                + CASE WHEN score6 >= c3 THEN 1 ELSE 0 END
                + CASE WHEN score6 >= c4 THEN 1 ELSE 0 END)::BIGINT
           AS bucket,
             CASE WHEN correct THEN 1 ELSE 0 END AS ok
      FROM scored, cuts)
SELECT bucket, count(*)::BIGINT AS n, sum(ok)::BIGINT AS n_correct,
       ((2000000 * sum(ok) + count(*)) // (2 * count(*)))::BIGINT AS acc6
FROM b GROUP BY 1"""


@register(
    "llm_eval_calibration",
    _calibration_sql(),
    doc="Reliability readout for the NB classifier: documents bucket "
        "by winning-score quintile (four cut points from ONE "
        "percentile aggregate, broadcast back onto a map-side CASE — "
        "the ccnet-buckets discipline, no global sort, no 1-task "
        "window) and each bucket reports accuracy as an exact "
        "round-half-up rational. A well-calibrated ranker shows "
        "accuracy increasing with the score bucket; flat buckets mean "
        "the confidence signal is uninformative and downstream "
        "selective-prediction thresholds are arbitrary. Completes the "
        "eval family: llm_eval_confusion measures correctness, this "
        "measures whether CONFIDENCE orders it.",
    tags=("llm", "eval"),
)
def llm_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .catalog_round8d import llm_naive_bayes_score

    scored = llm_naive_bayes_score(spark, sf_dir).select(
        "score6", F.col("correct").cast("long").alias("ok")
    ).localCheckpoint(eager=False)  # feeds cuts + the bucket scan
    cuts = scored.agg(
        *[
            F.round(F.percentile("score6", q), 6).alias(f"c{i}")
            for i, q in enumerate((0.2, 0.4, 0.6, 0.8), start=1)
        ]
    )
    bucket = (
        F.lit(1)
        + (F.col("score6") >= F.col("c1")).cast("long")
        + (F.col("score6") >= F.col("c2")).cast("long")
        + (F.col("score6") >= F.col("c3")).cast("long")
        + (F.col("score6") >= F.col("c4")).cast("long")
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ok").cast("long").alias("n_correct"),
            F.expr(
                "(2000000 * sum(ok) + count(1)) div (2 * count(1))"
            )
            .cast("long")
            .alias("acc6"),
        )
    )
