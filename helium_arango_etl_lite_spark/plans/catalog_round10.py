"""Round-10 catalog: the three scale dials the r9 verdict named.

* ``llm_ann_graph_route_reuse`` — the graph-ANN BUILD/SEARCH split:
  the r9 soak measured the neighbour-graph build at ~412 s for 500k
  vectors while the beam search itself was nearly free, so the build
  must be paid ONCE and amortized across query batches. The operator
  is split into :func:`build_route_graph` + :func:`route_on_graph`
  (operators/llm/similarity.py); this entry materializes ONE graph and
  routes TWO query batches over it. The oracle unrolls BOTH walks over
  one shared edge CTE — the same certify-the-traversal discipline as
  llm_ann_graph_route.
* ``llm_gzip_jsonl_capped`` / ``llm_gzip_quarantine_capped`` — the
  member-capped shard key applied to the gzip-JSONL container: the r9
  soak's one remaining uncapped fixture packed 20 x 25k-member blobs
  at x100 (37.2 s quarantine walk, 12 idle cores); keying the pack by
  source + per-source sequence bucket bounds members/blob exactly like
  llm_webdataset_index_capped bounds the tar shards.
* ``join_interval_overlap_capped`` — the cell-level salt cap the
  join_interval_overlap docstring named as its residual dial: a user
  hot WITHIN one blocking cell still went quadratic; the
  llm_semdedup_capped max-cell-size salt discipline bounds the pair
  stage at O(n * cap) per (user, cell). Recall-only approximation
  (cross-salt pairs are missed) — the overlap-diagnostic trade
  SemDeDup makes, mirrored exactly by the oracle.

Reference parity note: the reference ETL (helium-arango-etl-lite) has
none of these; they extend the north-star similarity + storage + join
families (SURVEY.md section 2.8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash32, hash32_oracle_sql
from .catalog_round9 import (
    _CAP_MEMBERS, _GR_BEAM, _GR_EDGE_K, _GR_EMOD, _GR_ENTRIES, _GR_HOPS,
    _GR_K, _GR_QMOD, _GR_SEEDS, _gr_final_select, _gr_shared_ctes,
    _gr_walk_ctes,
)
from .registry import EVENTS_NORM, load_events, load_table, register

# ---------------------------------------------------------------------------
# graph-ANN build/search split: one build, many query batches
# ---------------------------------------------------------------------------

_GRR_SQL = (
    _gr_shared_ctes()
    + ","
    + _gr_walk_ctes(0, "a")
    + ","
    + _gr_walk_ctes(1, "b")
    + _gr_final_select("a", "0 AS batch, ")
    + "\nUNION ALL"
    + _gr_final_select("b", "1 AS batch, ")
)


@register(
    "llm_ann_graph_route_reuse",
    _GRR_SQL,
    doc="Graph-ANN BUILD AMORTIZATION — the r9 soak pinned the cost "
        "split: the neighbour-graph build is ~412 s at 500k vectors "
        "while routing is nearly free, so a production index must be "
        "built ONCE and serve many query batches. The operator is now "
        "split (similarity.py:build_route_graph / route_on_graph): "
        "this entry materializes one edge graph (eager localCheckpoint "
        "— the persist a real deployment writes to storage) and routes "
        f"TWO query batches over it (vec_id % {_GR_QMOD} == 0 and "
        "== 1), unioned with a batch tag. The second batch re-plans "
        "from the CHECKPOINTED edges RDD — zero LSH/bucket/top-k "
        "re-computation (the measured x100 behaviour is in "
        "SCALE_SOAK.md: second batch ~= search-only). The oracle "
        "unrolls BOTH beam walks over ONE shared edge CTE, so the "
        "driver hash certifies that both batches routed over the SAME "
        "graph. SCALE: per-hop state is (Q0+Q1) x beam broadcast rows; "
        "the build's 2 corpus scans happen once, not per batch "
        "(operators/llm/similarity.py:build_route_graph).",
    tags=("llm", "similarity", "topk", "graph", "scale"),
)
def llm_ann_graph_route_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.similarity import build_route_graph, route_on_graph
    from .catalog_llm import EMB_DIM, NEAR_DUP_PLANES

    emb = load_table(spark, sf_dir, "embeddings")
    edges = build_route_graph(
        emb, edge_k=_GR_EDGE_K, seeds=_GR_SEEDS,
        num_planes=NEAR_DUP_PLANES, dim=EMB_DIM,
    ).localCheckpoint(eager=True)  # the one materialized build
    kw = dict(
        k=_GR_K, hops=_GR_HOPS, beam=_GR_BEAM, n_entries=_GR_ENTRIES,
        entry_mod=_GR_EMOD, query_mod=_GR_QMOD,
    )
    # Both query batches share ONE walk: every step of route_on_graph is
    # partitioned by query_id, so routing {rem 0} u {rem 1} together is
    # row-identical to two separate calls while paying the per-hop
    # checkpoint/job overhead once (this entry was job-count-bound:
    # 143 jobs for ~1k tiny tasks). The batch tag is recovered from the
    # id: batch = query_id % QMOD, which is 0/1 exactly for the two rems.
    b = route_on_graph(emb, edges, query_rem=(0, 1), **kw)
    return b.select(
        F.pmod(F.col("query_id"), F.lit(_GR_QMOD)).cast("int").alias("batch"),
        "*",
    )


# ---------------------------------------------------------------------------
# incremental graph-ANN index maintenance: append a batch, no rebuild
# ---------------------------------------------------------------------------

_APPEND_MOD = 10  # new batch = vec_id % 10 == 0 (10% ingest)


def _ann_append_graph_parts() -> tuple[str, str]:
    """(CTE head, union-select body) of the append-graph oracle —
    shared between llm_ann_index_append (whose final select is the
    edge list itself) and round 11's llm_ann_graph_persist (which
    names the same union ``edges`` and unrolls a beam walk over it)."""
    from .catalog_round9 import _gr_bucket_expr

    cos = ("round(list_dot_product(a.v, c.v)"
           " / (sqrt(list_dot_product(a.v, a.v))"
           " * sqrt(list_dot_product(c.v, c.v))), 4)")
    parts, sels = [], []
    for t, seed in enumerate(_GR_SEEDS):
        b = _gr_bucket_expr(seed)
        parts.append(f"""
bo{t} AS (SELECT vec_id, v, ({b})::BIGINT AS bucket FROM eo),
ba{t} AS (SELECT vec_id, v, ({b})::BIGINT AS bucket FROM e),
bn{t} AS (SELECT vec_id, v, ({b})::BIGINT AS bucket FROM en),
op{t} AS (SELECT a.vec_id AS src, c.vec_id AS dst, {cos} AS cs
        FROM bo{t} a JOIN bo{t} c
          ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
ok{t} AS (SELECT src, dst FROM (
           SELECT src, dst, row_number() OVER (
               PARTITION BY src ORDER BY cs DESC, dst) AS rk
           FROM op{t}) WHERE rk <= {_GR_EDGE_K}),
np{t} AS (SELECT a.vec_id AS src, c.vec_id AS dst, {cos} AS cs
        FROM bn{t} a JOIN ba{t} c
          ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
nk{t} AS (SELECT src, dst FROM (
           SELECT src, dst, row_number() OVER (
               PARTITION BY src ORDER BY cs DESC, dst) AS rk
           FROM np{t}) WHERE rk <= {_GR_EDGE_K})""")
        sels.append(f"SELECT src, dst FROM ok{t}")
        sels.append(f"SELECT src, dst FROM nk{t}")
        sels.append(f"SELECT dst AS src, src AS dst FROM nk{t}")
    head = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
eo AS (SELECT * FROM e WHERE vec_id % {_APPEND_MOD} != 0),
en AS (SELECT * FROM e WHERE vec_id % {_APPEND_MOD} = 0),{",".join(parts)}"""
    return head, " UNION ALL ".join(sels)


def _ann_append_sql() -> str:
    head, union_sel = _ann_append_graph_parts()
    return f"""{head}
SELECT DISTINCT src, dst FROM ({union_sel})"""


@register(
    "llm_ann_index_append",
    _ann_append_sql(),
    doc="INCREMENTAL ANN index maintenance — the ingest path a "
        "production graph index runs, vs build_route_graph's full "
        f"rebuild: a new batch (vec_id % {_APPEND_MOD} == 0, 10% of "
        "the corpus) is linked into the OLD corpus's graph without "
        "recomputing a single old-old edge. Contract: old edges = the "
        "bucketed top-k build over the old subset; new out-edges = "
        "each new vector's bucketed top-k among the FULL corpus (same "
        "pinned planes — the asymmetric corpus= form of "
        "knn_join_bucketed); back-links = their reverses, which is "
        "what makes the new batch REACHABLE by later walks rather "
        "than only able to leave. Intentionally differs from a "
        "rebuild: old vectors keep their original neighbour lists (a "
        "rebuild might evict an old neighbour for a closer new one) — "
        "the standard freshness/cost trade of incremental index "
        "maintenance, stated rather than hidden. COST: O(|new| x "
        "bucket density) per ingest, never O(|old|^2) — continuous "
        "ingest amortizes like build-once/route-many does for queries. "
        "The oracle replays old build, asymmetric append, and "
        "back-link insertion per plane table in pure SQL "
        "(operators/llm/similarity.py:append_route_graph).",
    tags=("llm", "similarity", "graph", "scale"),
)
def llm_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.similarity import append_route_graph
    from .catalog_llm import EMB_DIM, NEAR_DUP_PLANES

    return append_route_graph(
        load_table(spark, sf_dir, "embeddings"), new_mod=_APPEND_MOD,
        edge_k=_GR_EDGE_K, seeds=_GR_SEEDS,
        num_planes=NEAR_DUP_PLANES, dim=EMB_DIM,
    )


# ---------------------------------------------------------------------------
# streaming ANN ingest: the append path as a real multi-batch stream
# ---------------------------------------------------------------------------

_INGEST_BATCHES = 3


def _stream_ann_sql() -> str:
    from .catalog_round9 import _gr_bucket_expr

    cos = ("round(list_dot_product(a.v, c.v)"
           " / (sqrt(list_dot_product(a.v, a.v))"
           " * sqrt(list_dot_product(c.v, c.v))), 4)")
    parts, sels = [], []
    for t, seed in enumerate(_GR_SEEDS):
        b = _gr_bucket_expr(seed)
        for bt in range(_INGEST_BATCHES):
            parts.append(f"""
q{t}_{bt} AS (SELECT vec_id, v, ({b})::BIGINT AS bucket FROM e
        WHERE vec_id % {_INGEST_BATCHES} = {bt}),
c{t}_{bt} AS (SELECT vec_id, v, ({b})::BIGINT AS bucket FROM e
        WHERE vec_id % {_INGEST_BATCHES} <= {bt}),
p{t}_{bt} AS (SELECT a.vec_id AS src, c.vec_id AS dst, {cos} AS cs
        FROM q{t}_{bt} a JOIN c{t}_{bt} c
          ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
k{t}_{bt} AS (SELECT src, dst FROM (
           SELECT src, dst, row_number() OVER (
               PARTITION BY src ORDER BY cs DESC, dst) AS rk
           FROM p{t}_{bt}) WHERE rk <= {_GR_EDGE_K})""")
            sels.append(f"SELECT src, dst FROM k{t}_{bt}")
            sels.append(f"SELECT dst AS src, src AS dst FROM k{t}_{bt}")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),{",".join(parts)}
SELECT DISTINCT src, dst FROM ({" UNION ALL ".join(sels)})"""


@register(
    "stream_ann_ingest_replay",
    _stream_ann_sql(),
    doc="CONTINUOUS ANN index maintenance as a REAL stream — the "
        "llm_ann_index_append contract run through Structured "
        "Streaming: embeddings arrive in "
        f"{_INGEST_BATCHES} micro-batches (vec_id % {_INGEST_BATCHES}, "
        "one file per trigger, availableNow), and each batch's "
        "foreachBatch (1) appends its vectors to the corpus state "
        "table, (2) computes the batch's bucketed top-k out-edges "
        "against the corpus SO FAR (same pinned planes, the asymmetric "
        "knn_join_bucketed), and (3) appends out-edges + back-links to "
        "the edges state table — every vector gets linked AT ARRIVAL "
        "TIME, which is how a production index stays routable during "
        "ingest instead of waiting for a nightly rebuild. The oracle "
        "unrolls ALL batches: per plane table and per batch it rebuilds "
        "the corpus-so-far, replays the asymmetric top-k and the "
        "back-link insertion, so the driver hash certifies the "
        "arrival-order semantics end to end. Arrival order is pinned "
        "by file mtimes (plans/replay.py: slice i is batch i). SCALE: "
        "per batch O(|batch| x bucket density) — the streaming twin of "
        "the append soak's economics "
        "(operators/llm/similarity.py:knn_join_bucketed corpus= form; "
        "plans/catalog_round10.py).",
    tags=("streaming", "similarity", "graph", "state", "scale"),
)
def stream_ann_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.similarity import knn_join_bucketed
    from .catalog_llm import EMB_DIM, NEAR_DUP_PLANES
    from .replay import run_replay, scratch_dir

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    corpus = scratch_dir("stream_ann/corpus")

    def link(df: DataFrame, bid: int) -> DataFrame:
        df.write.mode("append").parquet(corpus)
        full = spark.read.parquet(corpus)
        per = [
            knn_join_bucketed(
                df, k=_GR_EDGE_K, seed=s, num_planes=NEAR_DUP_PLANES,
                dim=EMB_DIM, corpus=full,
            ).select(F.col("qid").alias("src"), F.col("nid").alias("dst"))
            for s in _GR_SEEDS
        ]
        out = per[0]
        for t in per[1:]:
            out = out.unionByName(t)
        back = out.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        return out.unionByName(back)

    outs = run_replay(
        spark,
        "stream_ann",
        lambda s: s,
        [
            emb.filter(F.pmod(F.col("vec_id"), F.lit(_INGEST_BATCHES)) == b)
            for b in range(_INGEST_BATCHES)
        ],
        output_mode="append",
        per_batch=link,
    )
    return outs.select("src", "dst").distinct()


# ---------------------------------------------------------------------------
# member-capped gzip-JSONL shards (the r9 soak's last uncapped fixture)
# ---------------------------------------------------------------------------

_GZC_SQL = f"""
WITH d AS (SELECT source, doc_id, text,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id)
                    - 1 AS seq
           FROM documents)
SELECT source || '/' || (seq // {_CAP_MEMBERS})::VARCHAR AS shard_key,
       (seq % {_CAP_MEMBERS})::BIGINT AS member_idx,
       doc_id,
       strlen(text)::BIGINT AS n_bytes,
       md5(text) AS text_md5
FROM d"""


@register(
    "llm_gzip_jsonl_capped",
    _GZC_SQL,
    doc="Member-capped gzip-JSONL packing — the r9 soak's ONE remaining "
        "uncapped fixture fixed: the uncapped per-source policy packed "
        "20 x 25k-member blobs at x100 (37.2 s walk, 12 idle cores); "
        "the pack key becomes source + (per-source sequence // "
        f"{_CAP_MEMBERS}) — llm_webdataset_index_capped's key applied "
        "to the gzip container — so no blob ever exceeds "
        f"{_CAP_MEMBERS} members regardless of corpus size: growth "
        "adds blobs, never members-per-blob, keeping pack groups "
        "bounded and walk tasks uniform at 100 TB. The capped key ALSO "
        "gives the container the completeness check the gzip framing "
        "cannot (a truncation on a member boundary leaves a valid "
        "shorter blob — see read_gzip_jsonl_quarantine): every full "
        f"bucket must hold exactly {_CAP_MEMBERS} members. The read "
        "side walks each blob member-by-member (zlib.decompressobj "
        "framing, per-member CRC32), json-parses, and emits md5 + byte "
        "length of the parsed text; the oracle predicts member_idx "
        "from pure rank arithmetic and the hash from the source table "
        "(operators/llm/shards.py:pack_gzip_jsonl key_col).",
    tags=("llm", "storage", "multimodal", "scale"),
)
def llm_gzip_jsonl_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.shards import pack_gzip_jsonl, read_gzip_jsonl

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    capped = docs.select(
        F.concat(
            F.col("source"),
            F.lit("/"),
            F.floor((F.row_number().over(w) - 1) / _CAP_MEMBERS)
            .cast("string"),
        ).alias("shard_key"),
        "doc_id",
        "text",
    )
    out = read_gzip_jsonl(pack_gzip_jsonl(capped, key_col="shard_key"))
    return out.withColumnRenamed("source", "shard_key")


def _gzip_quarantine_capped_sql() -> str:
    h = hash32_oracle_sql("'gqc:' || shard_key")
    return f"""
WITH d AS (SELECT source, doc_id,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id)
                    - 1 AS seq
           FROM documents),
s AS (SELECT source || '/' || (seq // {_CAP_MEMBERS})::VARCHAR AS shard_key,
             count(*)::BIGINT AS n_docs
      FROM d GROUP BY 1)
SELECT shard_key,
       CASE WHEN {h} % 3 = 0 THEN 'ok' ELSE 'quarantined' END AS status,
       CASE {h} % 3 WHEN 0 THEN 'ok'
                    WHEN 1 THEN 'corrupt'
                    ELSE 'truncated' END AS reason,
       CASE WHEN {h} % 3 = 0 THEN n_docs ELSE NULL END AS n_members
FROM s"""


@register(
    "llm_gzip_quarantine_capped",
    _gzip_quarantine_capped_sql(),
    doc="The corrupt-blob quarantine walk over CAPPED gzip-JSONL blobs "
        "— the r9 soak's 37.2 s / 12-idle-core walk was an artifact of "
        "20 giant blobs, not of the walker: with members/blob bounded "
        f"at {_CAP_MEMBERS} the same corpus becomes thousands of "
        "uniform map tasks (SCALE_SOAK.md round 10 measures the x100 "
        "wall next to the capped tar's ~20 s). Corruption classes are "
        "keyed on the CAPPED shard key (hash % 3: intact / one deflate "
        "byte flipped in the first member -> inflate/CRC32 guard / cut "
        "5 bytes short -> mid-member truncation guard) and the oracle "
        "pins reason + member count per class from the same hash and "
        "rank arithmetic. Map-only after the pack; one rotted blob "
        "costs one quarantine row "
        "(operators/llm/shards.py:read_gzip_jsonl_quarantine).",
    tags=("llm", "storage", "dq", "scale"),
)
def llm_gzip_quarantine_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.shards import (
        corrupt_gzip_shards, pack_gzip_jsonl, read_gzip_jsonl_quarantine,
    )

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    capped = docs.select(
        F.concat(
            F.col("source"),
            F.lit("/"),
            F.floor((F.row_number().over(w) - 1) / _CAP_MEMBERS)
            .cast("string"),
        ).alias("shard_key"),
        "doc_id",
        "text",
    )
    shards = pack_gzip_jsonl(capped, key_col="shard_key").withColumn(
        "cls",
        (hash32(F.concat(F.lit("gqc:"), F.col("source"))) % 3).cast("int"),
    )
    out = read_gzip_jsonl_quarantine(corrupt_gzip_shards(shards, "cls"))
    return out.withColumnRenamed("source", "shard_key")


# ---------------------------------------------------------------------------
# windowed audio features over the real WAV decode (energy + ZCR frames)
# ---------------------------------------------------------------------------

_AF_WIN = 16


def _audio_features_sql() -> str:
    from ..operators.llm import multimodal as mm

    n_max = mm.WAV_MAX_SAMPLES
    return f"""
WITH d AS (SELECT doc_id, text,
                  least({n_max}, length(text))::BIGINT AS n
           FROM documents
           WHERE length(text) >= 1 AND strlen(text) = length(text)),
b AS (SELECT doc_id, n, i,
             ord(substr(text, i::INT, 1))::BIGINT AS raw,
             (i - 1) // {_AF_WIN} AS win
      FROM (SELECT doc_id, text, n,
                   unnest(generate_series(1, n)) AS i FROM d)),
t AS (SELECT doc_id, sum(raw)::BIGINT AS tot FROM b GROUP BY 1),
z AS (SELECT b.doc_id, win, i, n, raw - 128 AS v,
             (raw * n >= tot) AS sg,
             lead(raw * n >= tot) OVER (PARTITION BY b.doc_id ORDER BY i)
                 AS nsg
      FROM b JOIN t ON b.doc_id = t.doc_id)
SELECT doc_id AS media_id,
       win AS window_idx,
       count(*)::BIGINT AS n_samples,
       sum(v * v)::BIGINT AS energy,
       sum(CASE WHEN i % {_AF_WIN} != 0 AND i < n
                 AND sg != nsg THEN 1 ELSE 0 END)::BIGINT
           AS n_zero_cross
FROM z GROUP BY 1, 2"""


@register(
    "llm_audio_features",
    _audio_features_sql(),
    doc=f"Windowed audio FEATURE extraction — the step past "
        "llm_multimodal_decode_wav's whole-clip stats that audio "
        f"curation actually gates on: per {_AF_WIN}-sample frame of "
        "each clip, integer-exact energy (sum of squared spec-centered "
        "amplitude) and DC-REMOVED zero-crossing count (sign flips of "
        "v*n >= sum(v) within the frame — mean subtraction is what "
        "every real ZCR does first, and the integer cross-multiplied "
        "form avoids float-mean rounding ambiguity across engines) — "
        "the two features silence trimming and "
        "speech/music gating are built from. The clip is a REAL "
        "RIFF/WAVE file built JVM-side and decoded by the "
        "chunk-walking parser (parse_wav), so the oracle reproduces "
        "every frame's numbers from the source text with ord() — a "
        "parser wrong about the data offset, or a windowing wrong at "
        "the partial last frame, mismatches immediately. ASCII-only "
        "doc filter on both sides (byte == char, the PNG/tar "
        "discipline). Map-only Arrow batches, zero shuffle; frames "
        "of a clip are one numpy pass, clips embarrassingly parallel "
        "(operators/llm/multimodal.py:audio_features; reference has "
        "no multimodal surface — north-star extension).",
    tags=("llm", "multimodal"),
)
def llm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.octet_length("text") == F.length("text"))
        & (F.length("text") >= 1)
    )
    return mm.audio_features(
        mm.encode_wav_from_text(docs), window=_AF_WIN
    )


# ---------------------------------------------------------------------------
# iterative BPE tokenizer training (the loop llm_bpe_pair_counts is one
# round of, run to completion — oracle unrolls every merge round)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 5


def _bpe_ctes(rounds: int = _BPE_ROUNDS) -> str:
    """DuckDB mirror of ``text._bpe_loop``: the word-type table, the
    per-token-delimited encoding, and ``rounds`` unrolled CTE blocks of
    (pair count -> argmax -> replace-merge) — the same certify-the-
    whole-loop discipline as the graph-ANN walk oracle. The final
    merged table is ``e{rounds}``; the per-round argmaxes are ``b{r}``."""
    ctes = ["""
wt AS (SELECT w, count(*)::BIGINT AS freq
       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w),
e0 AS (SELECT freq,
              array_to_string(list_transform(
                  generate_series(1, length(w)),
                  i -> '|' || substr(w, i, 1) || '|'), '') AS enc
       FROM wt)"""]
    for r in range(rounds):
        ctes.append(f"""
p{r} AS (SELECT freq, ts, unnest(generate_series(1, len(ts) - 1)) AS i
       FROM (SELECT freq, string_split(trim(enc, '|'), '||') AS ts
             FROM e{r})
       WHERE len(ts) >= 2),
c{r} AS (SELECT ts[i] AS lt, ts[i + 1] AS rt, sum(freq)::BIGINT AS cnt
       FROM p{r} GROUP BY 1, 2),
b{r} AS (SELECT lt, rt, cnt FROM c{r}
       ORDER BY cnt DESC, lt, rt LIMIT 1),
e{r + 1} AS (SELECT freq,
              replace(enc, '|' || b{r}.lt || '||' || b{r}.rt || '|',
                           '|' || b{r}.lt || b{r}.rt || '|') AS enc
       FROM e{r} CROSS JOIN b{r})""")
    return "WITH " + ",".join(ctes)


def _bpe_train_sql(rounds: int = _BPE_ROUNDS) -> str:
    finals = [
        f"SELECT {r} AS round, lt, rt, lt || rt AS merged, cnt FROM b{r}"
        for r in range(rounds)
    ]
    return _bpe_ctes(rounds) + "\n" + "\nUNION ALL\n".join(finals)


def _bpe_encode_sql(rounds: int = _BPE_ROUNDS, k: int = 20) -> str:
    return _bpe_ctes(rounds) + f"""
SELECT token, sum(freq)::BIGINT AS cnt
FROM (SELECT freq, unnest(string_split(trim(enc, '|'), '||')) AS token
      FROM e{rounds})
GROUP BY 1 ORDER BY cnt DESC, token LIMIT {k}"""


@register(
    "llm_bpe_train",
    _bpe_train_sql(),
    doc=f"FULL iterative BPE tokenizer training, {_BPE_ROUNDS} merge "
        "rounds — the loop llm_bpe_pair_counts is one round of, run to "
        "completion over the word-TYPE table (Sennrich's recipe: train "
        "on distinct words weighted by corpus frequency — vocabulary-"
        "sized at ANY corpus size, which is what makes tokenizer "
        "training feasible at 100 TB). The merge itself is expressed as "
        "ONE literal string replace over a per-token-delimited encoding "
        "('|c||h|...' — each token carries its own delimiters, so "
        "left-to-right non-overlapping replace IS greedy BPE merge "
        "order and boundary overlaps are impossible); both engines run "
        "the identical op, keeping every round inside codegen. Per "
        "round: one map pass + one (lt,rt)-keyed partial agg + a "
        "single-row argmax first() (the bounded driver action "
        "llm_kmeans_iter already models). THE ORACLE UNROLLS ALL "
        f"{_BPE_ROUNDS} ROUNDS — pair counting, the (cnt DESC, lt, rt) "
        "argmax, and the replace-merge are replayed in pure SQL CTEs, "
        "so the driver hash certifies the training loop itself, not "
        "just one round's counts "
        "(operators/llm/text.py:bpe_train; reference has no tokenizer "
        "surface — north-star extension).",
    tags=("llm", "text", "scale"),
)
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.text import bpe_train

    return bpe_train(
        load_table(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS
    )


def _bpe_curve_sql(rounds: int = _BPE_ROUNDS) -> str:
    finals = [
        f"SELECT {r} AS round,"
        f" sum(len(string_split(trim(enc, '|'), '||')) * freq)::BIGINT"
        f" AS total_tokens FROM e{r}"
        for r in range(rounds + 1)
    ]
    return _bpe_ctes(rounds) + "\n" + "\nUNION ALL\n".join(finals)


@register(
    "llm_bpe_compression_curve",
    _bpe_curve_sql(),
    doc="Tokenizer-training PROGRESS measurement: the corpus token "
        f"count after round 0 (characters) and each of {_BPE_ROUNDS} "
        "merges — the compression curve a tokenizer job monitors to "
        "decide when more merges stop paying (each point drops by "
        "exactly the non-overlapping occurrence count of that round's "
        "merged pair). Each readout is one vocabulary-sized aggregate "
        "over the word-type table (token count weighted by word "
        "frequency) — no corpus pass per point. The oracle replays the "
        "merge chain AND reads the count off every intermediate e{r} "
        "CTE, certifying the whole trajectory, not just the endpoint "
        "(operators/llm/text.py:bpe_compression_curve).",
    tags=("llm", "text", "scale"),
)
def llm_bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.text import bpe_compression_curve

    return bpe_compression_curve(
        load_table(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS
    )


@register(
    "llm_bpe_encode",
    _bpe_encode_sql(),
    doc=f"The SCORING side of BPE — train the same {_BPE_ROUNDS} merges "
        "as llm_bpe_train, then TOKENIZE the corpus with the final "
        "merge table and report the top-20 tokens by corpus frequency "
        "(the vocabulary report a tokenizer job actually emits). "
        "Because training runs on the word-TYPE table, tokenizing the "
        "corpus costs NO second corpus pass: split the final encodings "
        "and weight by word frequency — the dictionary trick that "
        "makes the whole pipeline vocabulary-sized after one corpus "
        "scan. The oracle re-derives the merge table (all rounds "
        "unrolled) AND the final tokenization in one SQL chain, so the "
        "driver hash certifies train + apply end-to-end "
        "(operators/llm/text.py:bpe_encode).",
    tags=("llm", "text", "topk", "scale"),
)
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.llm.text import bpe_encode

    return bpe_encode(
        load_table(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS, k=20
    )


# ---------------------------------------------------------------------------
# interval-overlap join with the cell-level salt cap (the residual dial)
# ---------------------------------------------------------------------------

_IV_CELL = 300   # blocking cell width >= max interval duration (60+239 s)
_IVC_CAP = 1     # fixture-scale cap: (user, cell) groups hold 1-3 events
# at the test SFs, so only cap=1 makes the salt split value-visible to
# the driver hash (the llm_semdedup_capped "cap must BIND" discipline);
# the production dial is the per-cell pair budget, e.g. ~1k


def _interval_overlap_capped_sql() -> str:
    salt = hash32_oracle_sql("event_id::VARCHAR || ':iv'")
    return f"""
WITH {EVENTS_NORM},
e AS (SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS s,
             floor(epoch(ts))::BIGINT + 60 + event_id % 240 AS t
      FROM events_norm),
c AS (SELECT event_id, user_id, s, t,
             unnest(generate_series(s // {_IV_CELL},
                                    (t - 1) // {_IV_CELL})) AS cell
      FROM e),
sz AS (SELECT user_id, cell, count(*)::BIGINT AS cn
       FROM c GROUP BY 1, 2),
sc AS (SELECT c.event_id, c.user_id, c.s, c.t, c.cell,
              {salt} % greatest(1, ceil(sz.cn / {_IVC_CAP}.0)::BIGINT)
                  AS salt
       FROM c JOIN sz USING (user_id, cell))
SELECT DISTINCT a.user_id AS user_id, a.event_id AS event_a,
       b.event_id AS event_b,
       (least(a.t, b.t) - greatest(a.s, b.s))::BIGINT AS overlap_sec
FROM sc a JOIN sc b
  ON a.user_id = b.user_id AND a.cell = b.cell AND a.salt = b.salt
 AND a.event_id < b.event_id
WHERE a.s < b.t AND b.s < a.t"""


@register(
    "join_interval_overlap_capped",
    _interval_overlap_capped_sql(),
    doc="join_interval_overlap with the CELL-LEVEL SALT CAP its "
        "docstring named as the residual dial: the r9 skew soak "
        "(200k-event hot user) proved per-cell density bounds the "
        "candidate volume, but a user hot WITHIN one "
        f"{_IV_CELL} s cell still goes quadratic. Fix = "
        "llm_semdedup_capped's discipline: each (user, cell) group "
        "larger than the cap is salt-split into ceil(size/cap) "
        "sub-groups by an md5-derived hash of the event id, and "
        "pairing runs within a sub-group only — the pair stage is "
        "bounded at O(n * cap) TOTAL no matter how hot one cell gets. "
        "Recall-only approximation: cross-salt pairs are missed, every "
        "emitted pair still satisfies the exact overlap predicate — "
        "the trade an overlap DIAGNOSTIC (dq-style concurrency "
        "profiling) makes; use the uncapped entry when exactness "
        f"matters. The fixture cap ({_IVC_CAP}) BINDS at both test SFs "
        "(groups of 2-3 events split), so the driver hash covers the "
        "salt arithmetic itself, exactly mirrored in the oracle's "
        "sz/sc CTEs. PLAN: the size lookup joins back on the SAME "
        "(user, cell) key the pair join shuffles on — no new shuffle "
        "axis (plans/catalog_round10.py).",
    tags=("join", "temporal", "scale"),
)
def join_interval_overlap_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_events(spark, sf_dir)
    s = F.unix_timestamp("ts")
    e = ev.select(
        "event_id", "user_id", s.alias("s"),
        (s + 60 + F.pmod("event_id", F.lit(240))).alias("t"),
    )
    return interval_overlap_salted(e, cap=_IVC_CAP)


def interval_overlap_salted(
    e: DataFrame, cap: int, cell_w: int = _IV_CELL
) -> DataFrame:
    """Salt-capped interval-overlap pairing over a prepared
    (event_id, user_id, s, t) frame — the capped entry's plan with the
    cap as a dial, so soaks can measure production-scale caps (e.g.
    500) against hot-cell fixtures without re-deriving the plan."""
    cells = e.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / cell_w).cast("long"),
                F.floor((F.col("t") - 1) / cell_w).cast("long"),
            )
        ).alias("cell"),
    )
    sz = cells.groupBy("user_id", "cell").agg(F.count("*").alias("cn"))
    salted = cells.join(sz, ["user_id", "cell"]).withColumn(
        "salt",
        hash32(F.concat(F.col("event_id").cast("string"), F.lit(":iv")))
        % F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.col("cn") / cap).cast("long"),
        ),
    )
    a, b = salted.alias("a"), salted.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.event_id") < F.col("b.event_id")),
        )
        .filter(
            (F.col("a.s") < F.col("b.t")) & (F.col("b.s") < F.col("a.t"))
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            (
                F.least(F.col("a.t"), F.col("b.t"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
            ).cast("long").alias("overlap_sec"),
        )
        .distinct()
    )
