"""Round-3 catalog: set operations, grouping sets, time-range windows,
rank distributions, string aggregation, and the remaining LLM
training-data-pipeline passes (char entropy, sequence-length buckets,
importance sampling). Its semantic-dedup and k-means entries are in
catalog_similarity.py, its paragraph-dedup and capped-Jaccard entries in
catalog_dedup.py.

Same contract as every catalog module: each entry pairs a Spark DataFrame
program with the DuckDB oracle SQL the driver runs side-by-side; aliases
and value rendering match exactly (ints stay BIGINT, weeks stay TIMESTAMP,
float reductions round inside both programs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash32, hash32_oracle_sql
from ..operators.llm.dedup import array_shingles
from .registry import EVENTS_NORM, load_events, load_table, register


# ---------------------------------------------------------------------------
# relational / OLAP additions
# ---------------------------------------------------------------------------


@register(
    "set_ops_customers",
    """WITH h1 AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                     AND o_orderdate < TIMESTAMP '1997-07-01'),
       h2 AS (SELECT DISTINCT o_custkey FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-07-01'
                AND o_orderdate < TIMESTAMP '1998-01-01')
       SELECT o_custkey AS custkey, 'both' AS segment
       FROM (SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2)
       UNION ALL
       SELECT o_custkey AS custkey, 'h1_only' AS segment
       FROM (SELECT o_custkey FROM h1 EXCEPT SELECT o_custkey FROM h2)
       UNION ALL
       SELECT o_custkey AS custkey, 'h2_only' AS segment
       FROM (SELECT o_custkey FROM h2 EXCEPT SELECT o_custkey FROM h1)""",
    doc="INTERSECT / EXCEPT set algebra: customers active in both halves "
        "of 1997, only H1, or only H2. Spark plans set ops as "
        "aggregate-free left-semi / left-anti joins over the distinct "
        "key sets; the date filters push to the orders scan, so both "
        "inputs are pruned before the first shuffle. At 100 TB the two "
        "halves share one exchange on o_custkey (same key, AQE-reused).",
    tags=("setop", "relational"),
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h1 = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .select("o_custkey")
        .distinct()
    )
    h2 = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_custkey")
        .distinct()
    )
    both = h1.intersect(h2).select(
        F.col("o_custkey").alias("custkey"), F.lit("both").alias("segment")
    )
    only1 = h1.exceptAll(h2).select(
        F.col("o_custkey").alias("custkey"), F.lit("h1_only").alias("segment")
    )
    only2 = h2.exceptAll(h1).select(
        F.col("o_custkey").alias("custkey"), F.lit("h2_only").alias("segment")
    )
    return both.unionAll(only1).unionAll(only2)


@register(
    "agg_grouping_sets",
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
              coalesce(o_orderpriority, 'ALL') AS priority,
              count(*) AS n,
              round(sum(o_totalprice), 2) AS total
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                               (o_orderstatus, o_orderpriority), ())""",
    doc="GROUPING SETS over (status), (priority), (status, priority), () "
        "— the general form of which agg_rollup / agg_cube are the "
        "lattice special cases. Spark expands the sets into one Expand "
        "node feeding a single hash aggregate: one scan, one shuffle, "
        "all four groupings. NULL markers are coalesced to 'ALL' on both "
        "engines so the driver's renderer sees identical strings.",
    tags=("agg", "olap"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    gs = o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"],
         ["o_orderstatus", "o_orderpriority"], []],
        "o_orderstatus", "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    return gs.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "n",
        "total",
    )


@register(
    "window_time_range_sum",
    f"""WITH {EVENTS_NORM}
       SELECT event_id, user_id, ts,
              round(sum(value) OVER (
                  PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
                6) AS hour_sum
       FROM events_norm""",
    doc="Time-RANGE window frame: per-user trailing 1-hour sum of value "
        "at every event — the true range frame (peers by timestamp "
        "distance, not row offset) that window_moving_avg's ROWS frame "
        "approximates. Spark orders on unix_micros and uses an integer "
        "rangeBetween, exactly DuckDB's inclusive INTERVAL bound. One "
        "shuffle on user_id; frames evaluate in a single sorted pass "
        "per partition at any scale.",
    tags=("window", "temporal"),
)
def window_time_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 6).alias("hour_sum"),
    )


@register(
    "window_rank_distribution",
    """SELECT s_suppkey AS suppkey, s_nationkey AS nationkey,
              round(percent_rank() OVER
                  (PARTITION BY s_nationkey ORDER BY s_acctbal), 8)
                AS pct_rank,
              round(cume_dist() OVER
                  (PARTITION BY s_nationkey ORDER BY s_acctbal), 8)
                AS cume
       FROM supplier""",
    doc="percent_rank + cume_dist over account balance within nation — "
        "the distributional window functions (rank-based, peer-aware) "
        "complementing window_ntile_decile's bucketing. Identical SQL "
        "definitions on both engines; one shuffle on the partition key.",
    tags=("window", "olap"),
)
def window_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal")
    return s.select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_nationkey").alias("nationkey"),
        F.round(F.percent_rank().over(w), 8).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 8).alias("cume"),
    )


@register(
    "agg_string_agg",
    """SELECT s_nationkey AS nationkey,
              count(*) AS n_suppliers,
              string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv
       FROM supplier GROUP BY 1""",
    doc="Ordered string aggregation (LISTAGG): per-nation sorted CSV of "
        "supplier names. Spark form is concat_ws over "
        "array_sort(collect_list(...)) — collect_list is the one "
        "aggregate whose result order is partition-dependent, so the "
        "array_sort is load-bearing for determinism on ANY cluster "
        "layout. Bounded group sizes only (a dimension roster, not a "
        "fact table): the row grows with the group.",
    tags=("agg", "string"),
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    return s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.concat_ws(",", F.array_sort(F.collect_list("s_name"))).alias(
            "supplier_csv"
        ),
    )


@register(
    "agg_stats_profile",
    """SELECT l_returnflag AS flag,
              round(stddev_samp(l_extendedprice), 4) AS price_sd,
              round(var_samp(l_discount), 8) AS disc_var,
              round(corr(l_quantity, l_extendedprice), 8) AS qty_price_corr,
              round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_cov
       FROM lineitem GROUP BY 1""",
    doc="Statistical-moment profile per return flag: sample stddev / "
        "variance, Pearson correlation, sample covariance — the "
        "column-statistics pass a data-quality or feature-engineering "
        "stage runs. All four are single-pass partial-aggregable "
        "(sum/sum2/sumxy moments), so the shuffle carries O(groups) "
        "moment tuples at any scale.",
    tags=("agg", "stats"),
)
def agg_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_sd"),
        F.round(F.var_samp("l_discount"), 8).alias("disc_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 8).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_cov"
        ),
    )


# ---------------------------------------------------------------------------
# LLM training-data pipeline additions
# ---------------------------------------------------------------------------


@register(
    "llm_char_entropy",
    """WITH ch AS (
         SELECT doc_id,
                unnest(list_transform(generate_series(1, length(text)),
                                      i -> substr(text, i, 1))) AS ch
         FROM documents),
       cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
       tot AS (SELECT doc_id, sum(c) AS n FROM cnt GROUP BY 1)
       SELECT cnt.doc_id,
              round(-sum((cnt.c / tot.n) * ln(cnt.c / tot.n)), 6) AS entropy
       FROM cnt JOIN tot USING (doc_id)
       GROUP BY 1""",
    doc="Per-document character-level Shannon entropy (nats) — the "
        "gibberish / compression-quality signal used alongside "
        "llm_quality_score. Explode to (doc_id, char), count, entropy "
        "over the per-doc distribution: two shuffles on doc_id-keyed "
        "pairs, both partial-aggregated map-side, so the exploded stream "
        "never materialises. Rounded to 6 dp (order-dependent double "
        "sum over <=|alphabet| terms).",
    tags=("llm", "text", "quality"),
)
def llm_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text")),
                lambda i: F.substr(F.col("text"), i, F.lit(1)),
            )
        ).alias("ch"),
    )
    cnt = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
    )


@register(
    "llm_seq_len_buckets",
    """WITH toks AS (
         SELECT len(string_split(text, ' '))::BIGINT AS n_tokens
         FROM documents)
       SELECT CASE WHEN n_tokens <= 1 THEN 1
                   ELSE (1::BIGINT << length(bin(n_tokens - 1))) END
                AS bucket_max,
              count(*) AS n_docs,
              sum(n_tokens)::BIGINT AS total_tokens
       FROM toks GROUP BY 1""",
    doc="Sequence-length histogram on power-of-two buckets (bucket_max = "
        "2^ceil(log2(n))) — the batch-shape planning pass before packing "
        "(llm_doc_pack): how many docs fit each context size. The bucket "
        "is integer bit-length arithmetic on both engines (no float log, "
        "no boundary ambiguity). Map-only + a tiny aggregate.",
    tags=("llm", "packing", "stats"),
)
def llm_seq_len_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    # ceil(log2(n)) as the binary-string length of n-1: pure integer path
    # (shiftleft's bit count must be an expression -> SQL form)
    bucket = F.when(F.col("n_tokens") <= 1, F.lit(1).cast("long")).otherwise(
        F.expr(
            "shiftleft(cast(1 as bigint), "
            "length(conv(cast(n_tokens - 1 as string), 10, 2)))"
        )
    )
    return (
        toks.select(bucket.alias("bucket_max"), "n_tokens")
        .groupBy("bucket_max")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@register(
    "llm_importance_sample",
    f"""WITH w AS (
         SELECT doc_id, source, n_chars,
                least(1.0, n_chars / 400.0) AS p,
                ({hash32_oracle_sql("doc_id::VARCHAR || ':is'")} % 10000)
                  / 10000.0 AS u
         FROM documents)
       SELECT doc_id, source, round(p, 6) AS p
       FROM w WHERE u < p""",
    doc="Deterministic importance sampling: accept each document with "
        "probability proportional to a quality weight (here a length "
        "ramp, capped at 1) by comparing the weight against a uniform "
        "draw derived from the doc key's hash — reproducible across "
        "runs, engines, and cluster sizes, unlike rand(). Map-only "
        "filter; at 100 TB this is the resampling pass that reshapes a "
        "corpus mixture without a shuffle.",
    tags=("llm", "sampling"),
)
def llm_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    p = F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0))
    u = (
        hash32(F.concat(F.col("doc_id").cast("string"), F.lit(":is"))) % 10000
    ) / F.lit(10000.0)
    return d.filter(u < p).select(
        "doc_id", "source", F.round(p, 6).alias("p")
    )


@register(
    "window_first_last",
    f"""WITH {EVENTS_NORM}
       SELECT DISTINCT user_id,
              first_value(event_type) OVER w AS first_type,
              last_value(event_type) OVER w AS last_type,
              nth_value(event_type, 2) OVER w AS second_type
       FROM events_norm
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING)""",
    doc="first_value / last_value / nth_value over each user's full "
        "ordered history (unbounded frame, deterministic ts+event_id "
        "order) — entry/exit/second-touch attribution in one window "
        "pass. DISTINCT collapses the per-event frame results to one row "
        "per user; both the window and the distinct hash on user_id, so "
        "AQE reuses a single exchange.",
    tags=("window", "temporal"),
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    ).distinct()


@register(
    "llm_oov_rate",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                    FROM documents),
       vocab AS (SELECT t FROM (
           SELECT t, count(*) AS c, row_number() OVER
                  (ORDER BY count(*) DESC, t ASC) AS rn
           FROM tok GROUP BY t) WHERE rn <= 100),
       flags AS (SELECT tok.doc_id,
                        CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END AS oov
                 FROM tok LEFT JOIN vocab ON tok.t = vocab.t)
       SELECT doc_id, count(*) AS n_tokens,
              sum(oov)::BIGINT AS n_oov,
              round(sum(oov)::DOUBLE / count(*), 6) AS oov_rate
       FROM flags GROUP BY 1""",
    doc="Out-of-vocabulary rate per document against the corpus's own "
        "top-100 token vocabulary — the train-then-apply shape every "
        "corpus-derived filter uses: pass 1 aggregates the vocabulary "
        "(partial-agg shuffle on token), pass 2 scores docs with the "
        "vocabulary BROADCAST to a map-side left join (no second "
        "corpus-wide shuffle on token). At 100 TB the vocab stays tiny "
        "by construction (top-k), so the broadcast never grows with "
        "the data.",
    tags=("llm", "text", "quality"),
)
def llm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    # top-100 via orderBy().limit() -> TakeOrderedAndProject: per-partition
    # top-k then a 100-row merge — NOT a global row_number window, which
    # would sort every distinct token of the corpus through ONE task
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(100)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    flags = tok.join(F.broadcast(vocab), "t", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        flags.select("doc_id", oov.alias("oov"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("oov").cast("long").alias("n_oov"),
            F.round(F.sum("oov") / F.count(F.lit(1)), 6).alias("oov_rate"),
        )
    )


@register(
    "llm_ngram_lm_score",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
       uni AS (SELECT unnest(a) AS w FROM tok),
       ucnt AS (SELECT w, count(*) AS cu FROM uni GROUP BY 1),
       nu AS (SELECT count(*) AS n FROM uni),
       bg AS (SELECT doc_id,
                     unnest(CASE WHEN len(a) >= 2
                            THEN list_transform(generate_series(1, len(a) - 1),
                                                i -> a[i] || ' ' || a[i + 1])
                            ELSE []::VARCHAR[] END) AS b
              FROM tok),
       bcnt AS (SELECT b, count(*) AS cb FROM bg GROUP BY 1),
       scored AS (SELECT bg.doc_id,
                         ln((bcnt.cb + 1.0)
                            / (ucnt.cu + (SELECT count(*) FROM ucnt)))
                           AS lp
                  FROM bg
                  JOIN bcnt ON bg.b = bcnt.b
                  JOIN ucnt ON string_split(bg.b, ' ')[1] = ucnt.w)
       SELECT doc_id, count(*) AS n_bigrams,
              round(avg(lp), 6) AS mean_logprob
       FROM scored GROUP BY 1""",
    doc="Bigram language-model quality score (CCNet/KenLM-style filter): "
        "train add-one-smoothed bigram probabilities on the corpus "
        "itself, then score each document's mean log P(w_i | w_{i-1}). "
        "Train = two partial-agg shuffles (unigram, bigram counts); "
        "apply = explode bigrams and join counts on the bigram key "
        "(Zipf-skewed -> AQE skew split), one avg per doc. The smoothing "
        "denominator uses the unigram-context count + |V|, all integer "
        "inputs so the only float is the final ln, rounded 6 dp.",
    tags=("llm", "text", "quality"),
)
def llm_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.split("text", " ").alias("a"))
    uni = tok.select(F.explode("a").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cu"))
    vocab_size = ucnt.count()  # tiny scalar (|V|), like the corpus-size
    # scalars in llm_tfidf_topk; computed once driver-side
    bg = tok.select(
        "doc_id", F.explode(array_shingles(F.col("a"), 2)).alias("b")
    ).withColumn("w1", F.split("b", " ")[0])
    bcnt = bg.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    scored = (
        bg.join(bcnt, "b")
        .join(ucnt, bg["w1"] == ucnt["w"])
        .select(
            "doc_id",
            F.log(
                (F.col("cb") + F.lit(1.0))
                / (F.col("cu") + F.lit(float(vocab_size)))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
    )


@register(
    "window_sliding_time",
    f"""WITH {EVENTS_NORM},
       slid AS (SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000
                                      - i.i * 900000000) AS win_start,
                       value
                FROM events_norm, generate_series(0, 3) i(i))
       SELECT win_start, count(*) AS n_events,
              round(sum(value), 6) AS sum_value
       FROM slid GROUP BY 1""",
    doc="Sliding time window (1 h window, 15 min slide): every event "
        "contributes to exactly 4 overlapping windows — Spark's "
        "F.window(ts, '1 hour', '15 minutes') compiles the fan-out into "
        "an Expand (no self-join), then one partial-agg shuffle on the "
        "window start. The streaming twin (streaming/windows.py "
        "windowed_activity) runs the same expression incrementally with "
        "a watermark; the oracle reproduces the window set as "
        "floor-to-slide minus 0..3 slide steps.",
    tags=("window", "agg", "temporal"),
)
def window_sliding_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n_events", "sum_value")
    )


@register(
    "llm_mix_rebalance",
    f"""WITH per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       tgt AS (SELECT min(n_docs) AS target FROM per),
       rated AS (SELECT per.source, per.n_docs,
                        tgt.target::DOUBLE / per.n_docs AS rate
                 FROM per, tgt),
       kept AS (SELECT d.source, count(*) AS n_kept
                FROM documents d JOIN rated r ON d.source = r.source
                WHERE ({hash32_oracle_sql("d.doc_id::VARCHAR || ':mix'")}
                       % 1000000) / 1000000.0 < r.rate
                GROUP BY 1)
       SELECT rated.source, rated.n_docs, round(rated.rate, 6) AS rate,
              coalesce(kept.n_kept, 0)::BIGINT AS n_kept
       FROM rated LEFT JOIN kept ON rated.source = kept.source""",
    doc="Corpus-mixture rebalancing: downsample every source to the "
        "smallest source's size with a deterministic hash draw per doc "
        "(the mixture-reweighting pass of a training-data pipeline, e.g. "
        "equalizing domains before packing). Per-source rates derive "
        "from one tiny aggregate that broadcasts back onto the scan — "
        "the corpus itself is filtered map-side, no shuffle. Hash draw "
        "is salt ':mix', reproducible anywhere (functions/hashing.py).",
    tags=("llm", "sampling"),
)
def llm_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tgt = per.agg(F.min("n_docs").alias("target"))
    rated = per.crossJoin(F.broadcast(tgt)).select(
        "source",
        "n_docs",
        (F.col("target").cast("double") / F.col("n_docs")).alias("rate"),
    )
    u = (
        hash32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))) % 1_000_000
    ) / F.lit(1_000_000.0)
    kept = (
        d.join(F.broadcast(rated), "source")
        .filter(u < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rated.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.round("rate", 6).alias("rate"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


@register(
    "join_salted_skew",
    """SELECT o.o_orderpriority AS priority,
              count(*) AS n,
              round(sum(l.l_extendedprice), 2) AS revenue
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY 1""",
    doc="Skew-salted join with verified-identical output: the fact side "
        "gets a salt column pmod(hash64(key), 8), the dimension side is "
        "replicated across the 8 salts with one explode, and the join "
        "key becomes (key, salt) — a hot orderkey's rows now spread over "
        "8 reducers instead of one straggler. The oracle is the PLAIN "
        "join: salting must be a pure physical rewrite, so hash-matching "
        "against the unsalted SQL proves output equivalence, the same "
        "verification style as agg_payment_volume_salted. (With AQE's "
        "skewJoin this is often unnecessary; the manual form covers "
        "aggregation-free pipelines and engines without runtime "
        "re-planning.)",
    tags=("join", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salt = 8
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(n_salt)).cast("int")
    )
    o = load_table(spark, sf_dir, "orders").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    j = li.join(
        o,
        (li["l_orderkey"] == o["o_orderkey"]) & (li["_salt"] == o["_salt"]),
    )
    return j.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@register(
    "llm_ccnet_buckets",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
       uni AS (SELECT unnest(a) AS w FROM tok),
       ucnt AS (SELECT w, count(*) AS cu FROM uni GROUP BY 1),
       bg AS (SELECT doc_id,
                     unnest(CASE WHEN len(a) >= 2
                            THEN list_transform(generate_series(1, len(a) - 1),
                                                i -> a[i] || ' ' || a[i + 1])
                            ELSE []::VARCHAR[] END) AS b
              FROM tok),
       bcnt AS (SELECT b, count(*) AS cb FROM bg GROUP BY 1),
       scored AS (SELECT bg.doc_id,
                         ln((bcnt.cb + 1.0)
                            / (ucnt.cu + (SELECT count(*) FROM ucnt))) AS lp
                  FROM bg
                  JOIN bcnt ON bg.b = bcnt.b
                  JOIN ucnt ON string_split(bg.b, ' ')[1] = ucnt.w),
       per_doc AS (SELECT doc_id, round(avg(lp), 6) AS mean_logprob
                   FROM scored GROUP BY 1),
       cuts AS (SELECT round(quantile_cont(mean_logprob, 1.0/3.0), 6) AS t1,
                       round(quantile_cont(mean_logprob, 2.0/3.0), 6) AS t2
                FROM per_doc)
       SELECT CASE WHEN mean_logprob >= t2 THEN 'head'
                   WHEN mean_logprob >= t1 THEN 'middle'
                   ELSE 'tail' END AS bucket,
              count(*) AS n_docs
       FROM per_doc, cuts GROUP BY 1""",
    doc="CCNet-style corpus partitioning: score every document with the "
        "bigram-LM mean log-prob (llm_ngram_lm_score) and split the "
        "corpus into head/middle/tail terciles. The tercile cut-points "
        "are TWO scalars from one percentile aggregate, broadcast back "
        "onto a map-side CASE — no global sort, no single-task ntile "
        "window, so the bucketing step is shuffle-free at any corpus "
        "size (the same design as window_ntile_decile_scalable, cheaper "
        "because only the cuts are needed, not per-row ranks). Cuts and "
        "scores round to 6 dp on both engines before comparison.",
    tags=("llm", "text", "quality", "sampling"),
)
def llm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = llm_ngram_lm_score(spark, sf_dir).select("doc_id", "mean_logprob")
    cuts = per_doc.agg(
        F.round(F.percentile("mean_logprob", 1.0 / 3.0), 6).alias("t1"),
        F.round(F.percentile("mean_logprob", 2.0 / 3.0), 6).alias("t2"),
    )
    bucket = (
        F.when(F.col("mean_logprob") >= F.col("t2"), F.lit("head"))
        .when(F.col("mean_logprob") >= F.col("t1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        per_doc.crossJoin(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "window_gap_islands",
    f"""WITH {EVENTS_NORM},
       flagged AS (
         SELECT user_id, ts, event_id, value,
                CASE WHEN ts - lag(ts) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_island
         FROM events_norm),
       islands AS (
         SELECT user_id, ts, value,
                sum(new_island) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS island_id
         FROM flagged)
       SELECT user_id, island_id::BIGINT AS island_id,
              count(*) AS n_events,
              min(ts) AS island_start, max(ts) AS island_end,
              round(sum(value), 6) AS sum_value
       FROM islands GROUP BY 1, 2""",
    doc="Gaps-and-islands sessionization: lag() flags a row starting a "
        "new island when the gap to the previous event exceeds 30 min, "
        "a running sum of flags numbers the islands, then one aggregate "
        "per (user, island). Window-function twin of agg_session_window "
        "(native session_window) — same session boundaries by "
        "construction, but expressible on any engine with windows and "
        "composable mid-query. Both windows and the final aggregate "
        "hash on user_id: ONE exchange total, reused across all three "
        "stages. Ties inside the lag order break on event_id; the "
        "running sum's ROWS frame is peer-safe because (ts, event_id) "
        "is unique per user.",
    tags=("window", "temporal", "session"),
)
def window_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wo))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap <= 30 * 60 * 1_000_000, F.lit(0))
        .otherwise(F.lit(1))
        .alias("new_island"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.select(
        "user_id",
        "ts",
        "value",
        F.sum("new_island").over(wr).cast("long").alias("island_id"),
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("island_start"),
        F.max("ts").alias("island_end"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


@register(
    "events_anomaly_zscore",
    f"""WITH {EVENTS_NORM},
       stats AS (SELECT user_id, avg(value) AS mu,
                        stddev_samp(value) AS sd, count(*) AS n
                 FROM events_norm GROUP BY 1)
       SELECT e.event_id, e.user_id,
              round((e.value - s.mu) / s.sd, 6) AS zscore
       FROM events_norm e JOIN stats s ON e.user_id = s.user_id
       WHERE s.n >= 30 AND s.sd > 0
         AND abs((e.value - s.mu) / s.sd) >= 3.0""",
    doc="Per-user z-score anomaly flags: one moment-aggregate pass "
        "(avg/stddev partial-aggregate map-side), joined back onto the "
        "event stream on the same user_id key — the two windows share "
        "one exchange partitioning, and at 100 TB the stats side is "
        "millions of rows (one per user), not billions, so the join-back "
        "broadcasts or co-partitions cheaply. Degenerate users (n < 30 "
        "or zero variance) are excluded before the division on both "
        "engines. The outlier threshold (|z| >= 3) cuts output to the "
        "anomalies themselves — a monitoring/data-quality pass over the "
        "reference's timestamped payment stream (follower.py:154).",
    tags=("agg", "stats", "quality"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    stats = ev.groupBy("user_id").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
        F.count(F.lit(1)).alias("n"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(stats, "user_id")
        .filter((F.col("n") >= 30) & (F.col("sd") > 0) & (F.abs(z) >= 3.0))
        .select("event_id", "user_id", F.round(z, 6).alias("zscore"))
    )
