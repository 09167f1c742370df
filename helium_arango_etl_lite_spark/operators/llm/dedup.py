"""Deduplication operators for LLM data pipelines (SURVEY.md section 2.8):
exact, MinHash+LSH, SimHash, n-gram Jaccard and containment, repeated
windows and spans.

Every operator is assembled from one copy of each kernel:

===============================  ================================  ==============================
kernel                           helper                            operators that use it
===============================  ================================  ==============================
whitespace tokens                :func:`tokens`                    every word-level operator here
                                                                   and in text.py
word n-gram shingles (zip_with   :func:`array_shingles`            word_shingles(_all),
over shifted slices)                                               repeated_span_scrub,
                                                                   text.decontaminate,
                                                                   text.repetition_score,
                                                                   the catalog's bigram entries
MinHash signature (Arrow)        :func:`minhash_signature_df`      _minhash_bands,
                                                                   the signature entries
LSH band keys, checkpointed      ``_minhash_bands``                minhash_candidate_pairs,
                                                                   minhash_star_pairs
exact Jaccard on candidates      :func:`exact_jaccard_on_pairs`    minhash_verified_pairs,
                                                                   star-candidate consumers
shingle-overlap self-join        ``_shingle_overlap``              ngram_jaccard_pairs,
                                                                   containment_pairs
===============================  ================================  ==============================

``_minhash_signature_expr`` and ``_simhash_expr`` are the pure-JVM
expression forms of the two Arrow kernels, kept as the references the
agreement tests compare against.

Every document frame carries ``ID_COL`` and ``TEXT_COL``; shingles are
word ``SHINGLE_N``-grams. The settings no caller varies are module
constants, and the catalog's DuckDB oracles (plans/catalog_dedup.py)
read the same ones:

=========================  =====  ==========================================
constant                   value  what it sets
=========================  =====  ==========================================
``NUM_HASHES``             6      MinHash signature length K
``BANDS``, ``BAND_ROWS``   3, 2   LSH bands, signature rows per band
``SEED``                   42     seed of the (a, b) MinHash family
``JACCARD_THRESHOLD``      0.8    exact shingle Jaccard that verifies a pair
``CONTAINMENT_THRESHOLD``  0.9    shingle containment that flags a pair
``SIMHASH_BITS``           16     SimHash width
``SPAN_W``                 5      word length of a scrubbed repeated span
=========================  =====  ==========================================

Scale design (100 TB):
 * exact dedup — one hash-shuffle on a 16-byte key; map-side partial agg.
 * MinHash/LSH — signature computation is embarrassingly parallel
   (per-partition Arrow batches, zero shuffle); the LSH band join shuffles
   only (band_id, doc_id) pairs — tiny vs the corpus.
 * n-gram Jaccard — exploded-shingle self-join; at scale, frequency-cap
   shingles first (drop shingles appearing in > F docs) to kill the
   quadratic hot keys; the LSH path is the primary one, Jaccard the
   verifier on candidate pairs.
 * embedding near-dup — brute force is the sf-small oracle baseline;
   the LSH-bucketed variant (similarity.py) is the scale path.
"""

from __future__ import annotations

import hashlib
import operator
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ...functions.hashing import MERSENNE_31, hash64, minhash_params, minhash_signature
from ..graph_algorithms import undirected

TEXT_COL = "text"  # text column of every document frame
ID_COL = "doc_id"  # id column of every document frame
SHINGLE_N = 3  # word n-gram length of the dedup shingles
NUM_HASHES = 6
BANDS = 3
BAND_ROWS = NUM_HASHES // BANDS
SEED = 42
JACCARD_THRESHOLD = 0.8
CONTAINMENT_THRESHOLD = 0.9
SIMHASH_BITS = 16
SPAN_W = 5
#: dup_clusters stops after this many label-propagation rounds
CC_MAX_ITERATIONS = 20


def tokens(text_col: Column | str) -> Column:
    """Whitespace tokens (single-space split, matching the oracle)."""
    return F.split(text_col, " ")


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash: keeper = min id, plus
    multiplicity. groupBy on md5 — partial-aggregated, single shuffle."""
    return (
        df.select(F.md5(F.col(TEXT_COL)).alias("fp"), F.col(ID_COL))
        .groupBy("fp")
        .agg(F.min(ID_COL).alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles: :func:`word_shingles_all`, order-
    preserving dedup. Empty array when the doc has < n tokens."""
    return F.array_distinct(word_shingles_all(text_col, n))


def word_shingles_all(text_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles WITH multiplicity, in occurrence order — the
    counting form behind :func:`word_shingles` (which distincts it), the
    n-gram language-model trainers and text.py's decontamination and
    repetition scores, where each occurrence must contribute to the
    count. Empty array when the doc has < n tokens."""
    return array_shingles(tokens(text_col), n)


def array_shingles(t: Column, n: int = 3) -> Column:
    """The shingle kernel over an ALREADY-SPLIT token array — callers
    that also need the tokens themselves (e.g. span scrubbing) split
    once and share the array instead of paying a second split.

    Pure JVM array expressions: a chain of ``zip_with`` over ``n``
    shifted slices — shingle i is ``t[i] .. t[i+n-1]`` joined by spaces,
    in index order, identical to the oracle's ``generate_series(1,
    len-n+1)``. Why zip_with and not ``transform(sequence(...), i ->
    element_at ...)``: both are interpreted higher-order functions, but
    the transform form re-resolves ``n`` element_at lookups plus index
    arithmetic per shingle through the interpreter, measured 27x slower
    (58.1 s vs 2.1 s exploding 26M shingles from 500k docs, SCALE_SOAK
    round 7) than zipping pre-shifted slices, which the codegen'd slice
    kernel materialises once."""
    length = F.greatest(F.size(t) - (n - 1), F.lit(0))

    def shifted(j: int) -> Column:
        return F.slice(t, j, length)

    grams = shifted(n)
    for j in range(n - 1, 0, -1):
        grams = F.zip_with(
            shifted(j), grams, lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(F.size(t) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def minhash_signature_df(df: DataFrame) -> DataFrame:
    """Per-doc MinHash signature as ``sig_0..sig_{K-1}`` columns
    (K = ``NUM_HASHES``, family seeded by ``SEED``):
    min over distinct word shingles of
    ``(a_i * hash32(shingle) + b_i) mod (2^31-1)``.

    Arrow-batched ``mapInPandas``: md5 per shingle via hashlib (C speed),
    the K permuted mins as one vectorized numpy broadcast. Measured 3-10x
    faster AND far lower variance than the expression form
    (:func:`_minhash_signature_expr`, bit-identical by test) at sf0.1 —
    Catalyst evaluates higher-order functions interpreted (outside
    whole-stage codegen), and the per-token K-slot accumulator arrays
    churn the JVM heap. Zero shuffle: per-partition map work, linear
    scale-out.
    """
    import numpy as np
    import pandas as pd

    params = minhash_params(NUM_HASHES, SEED)
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)
    out_schema = StructType(
        [StructField(ID_COL, df.schema[ID_COL].dataType)]
        + [StructField(f"sig_{i}", LongType()) for i in range(NUM_HASHES)]
    )
    empty_sig = np.full(NUM_HASHES, MERSENNE_31, dtype=np.int64)

    def batches(it):
        for pdf in it:
            rows = []
            for did, txt in zip(pdf[ID_COL].values, pdf[TEXT_COL].values):
                toks = txt.split(" ")
                if len(toks) >= SHINGLE_N:
                    shingles = {
                        " ".join(toks[i : i + SHINGLE_N])
                        for i in range(len(toks) - SHINGLE_N + 1)
                    }
                    hs = np.fromiter(
                        (
                            int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                            for s in shingles
                        ),
                        dtype=np.int64,
                        count=len(shingles),
                    )
                    sig = ((a_vec[:, None] * hs[None, :] + b_vec[:, None])
                           % MERSENNE_31).min(axis=1)
                else:
                    sig = empty_sig
                rows.append((did, *sig))
            yield pd.DataFrame(rows, columns=out_schema.fieldNames())

    return df.select(F.col(ID_COL), F.col(TEXT_COL)).mapInPandas(batches, out_schema)


def _minhash_signature_expr(df: DataFrame) -> DataFrame:
    """:func:`minhash_signature_df` as pure JVM array expressions (one
    fold with a K-slot accumulator; md5 once per shingle) — the
    reference the Arrow kernel is tested bit-identical against."""
    sig = minhash_signature(word_shingles(F.col(TEXT_COL), SHINGLE_N), NUM_HASHES, SEED)
    return df.select(F.col(ID_COL), sig.alias("sig")).select(
        ID_COL,
        *[F.col("sig").getItem(i).alias(f"sig_{i}") for i in range(NUM_HASHES)],
    )


def _minhash_bands(df: DataFrame) -> DataFrame:
    """LSH banding: the signature split into ``BANDS`` bands of
    ``BAND_ROWS`` rows, one ``(doc_id, band_key)`` row per band. Both
    consumers read it twice, so it is checkpointed and the signature
    computation (the expensive map stage) runs once."""
    sig = minhash_signature_df(df)
    band_cols = [
        F.concat_ws(
            "_", F.lit(b),
            *[F.col(f"sig_{b * BAND_ROWS + j}") for j in range(BAND_ROWS)],
        ).alias(f"band_{b}")
        for b in range(BANDS)
    ]
    banded = sig.select(F.col(ID_COL), F.explode(F.array(*band_cols)).alias("band_key"))
    return banded.localCheckpoint(eager=False)


def minhash_candidate_pairs(df: DataFrame) -> DataFrame:
    """Docs sharing any LSH band key (:func:`_minhash_bands`) are
    candidate duplicates.

    The self-join shuffles only (band_key, doc_id) — the full text never
    moves. Output: distinct (doc_a, doc_b) with doc_a < doc_b.
    """
    banded = _minhash_bands(df)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col(f"a.{ID_COL}") < F.col(f"b.{ID_COL}")))
        .select(F.col(f"a.{ID_COL}").alias("doc_a"), F.col(f"b.{ID_COL}").alias("doc_b"))
        .distinct()
    )


def minhash_star_pairs(df: DataFrame) -> DataFrame:
    """STAR-topology LSH candidates: within each band bucket, every doc
    pairs with the bucket's MINIMUM doc id (the hub) instead of with
    every other member — O(BANDS * n) candidate pairs with NO window
    pass, versus O(sum bucket^2) for all-pairs banding or a
    row_number-capped subset of it.

    Why this exists (round-8 soak, SCALE_SOAK.md): on a x100 near-dup
    corpus the per-doc candidate CAP bounds the verify join but SEVERS
    group connectivity (145k keepers vs 95k uncapped — edges inside
    100-member groups are evicted before verification). The star keeps
    every member connected to its bucket hub, so a bucket-coherent
    duplicate group stays one component through the hub while the
    candidate count stays linear. The trade: a member whose exact
    Jaccard to the HUB falls below threshold loses its link even when it
    would have verified against a nearer sibling — each band's
    independent hub gives it ``BANDS`` chances. Deterministic: hub =
    min id, so a given corpus always stars the same way.

    Output: distinct (doc_a, doc_b) with doc_a < doc_b (the hub is the
    bucket min, so hub < member always holds).
    """
    banded = _minhash_bands(df)
    hub = banded.groupBy("band_key").agg(F.min(ID_COL).alias("hub"))
    return (
        banded.join(hub, "band_key")
        .filter(F.col(ID_COL) != F.col("hub"))
        .select(F.col("hub").alias("doc_a"), F.col(ID_COL).alias("doc_b"))
        .distinct()
    )


def exact_jaccard_on_pairs(df: DataFrame, cands: DataFrame) -> DataFrame:
    """The exact-Jaccard PRECISION stage over an arbitrary candidate-pair
    DataFrame (columns ``doc_a``, ``doc_b`` + optional pass-through
    columns): shingle arrays are materialised only for docs appearing in
    a candidate pair (left-semi prune), so the verify join input is
    |candidate docs|, never |corpus|. Shared by
    :func:`minhash_verified_pairs` (all-pairs / capped candidates) and
    :func:`minhash_star_pairs` consumers (star candidates).

    Output: (doc_a, doc_b, jaccard, verified, *pass-through).
    """
    extra_cols = [c for c in cands.columns if c not in ("doc_a", "doc_b")]
    cand_docs = (
        cands.select(F.col("doc_a").alias(ID_COL))
        .union(cands.select(F.col("doc_b").alias(ID_COL)))
        .distinct()
    )
    sh = (
        df.select(
            F.col(ID_COL), word_shingles(F.col(TEXT_COL), SHINGLE_N).alias("shd")
        )
        .join(cand_docs, ID_COL, "left_semi")
    )
    a = sh.select(F.col(ID_COL).alias("doc_a"), F.col("shd").alias("sh_a"))
    b = sh.select(F.col(ID_COL).alias("doc_b"), F.col("shd").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(jac, 4).alias("jaccard"),
            (jac >= JACCARD_THRESHOLD).alias("verified"),
            *extra_cols,
        )
    )


def simhash(df: DataFrame) -> DataFrame:
    """``SIMHASH_BITS``-wide SimHash over distinct whitespace tokens.

    bit_j = sign of sum over tokens of (2*((hash64(token) >> j) & 1) - 1);
    near-duplicates have small Hamming distance between simhash values.
    Zero shuffle.

    One md5 per distinct token via hashlib, the per-bit votes as a single
    numpy broadcast — the ``SIMHASH_BITS`` interpreted aggregate folds of the
    expression form (:func:`_simhash_expr`, bit-identical by test) each
    re-walk the token array outside codegen, which measured slower and
    GC-noisy.
    """
    import numpy as np
    import pandas as pd

    out_schema = StructType(
        [
            StructField(ID_COL, df.schema[ID_COL].dataType),
            StructField("simhash", LongType()),
        ]
    )
    shifts = None

    def batches(it):
        nonlocal shifts
        if shifts is None:
            shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        for pdf in it:
            out = np.empty(len(pdf), dtype=np.int64)
            for i, txt in enumerate(pdf[TEXT_COL].values):
                toks = dict.fromkeys(txt.split(" "))  # distinct, order-free
                hs = np.fromiter(
                    (
                        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                        for s in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                votes = (((hs[:, None] >> shifts[None, :]) & 1) * 2 - 1).sum(axis=0)
                out[i] = ((votes >= 0).astype(np.int64) << shifts).sum()
            yield pd.DataFrame({ID_COL: pdf[ID_COL].values, "simhash": out})

    return df.select(F.col(ID_COL), F.col(TEXT_COL)).mapInPandas(batches, out_schema)


def _simhash_expr(df: DataFrame) -> DataFrame:
    """:func:`simhash` as pure JVM expressions — the reference the Arrow
    kernel is tested bit-identical against."""
    hs = F.transform(F.array_distinct(tokens(F.col(TEXT_COL))), hash64)

    def _vote(j: int):
        # close over j: PySpark infers HOF arity from the lambda signature
        return lambda s, h: s + F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1

    acc = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        vote = F.aggregate(hs, F.lit(0).cast("long"), _vote(j))
        acc = acc + F.shiftleft((vote >= 0).cast("long"), j)
    return df.select(F.col(ID_COL), acc.alias("simhash"))


def dup_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over candidate duplicate pairs ``(doc_a,
    doc_b)``: every document gets ``cluster_id`` = the minimum doc id
    reachable through pair edges — the step that turns pairwise
    candidates (MinHash/LSH/Jaccard) into dedup groups with one keeper
    each.

    Iterative min-label propagation WITH pointer jumping: each round,
    every node takes the min of its own label, its neighbors' labels,
    and its label's label (path compression — the Hash-to-Min idea).
    The jump halves remaining chain lengths each round, so convergence
    is O(log diameter) rounds, not O(diameter) — chain-shaped graphs
    (e.g. mutual-kNN chains through embedding space) converge within
    the ``CC_MAX_ITERATIONS`` budget where plain propagation would
    silently stop early and emit split clusters. Each round is two
    (node, label)-sized shuffles; ``localCheckpoint`` truncates the
    growing plan lineage so round N doesn't replay rounds 1..N-1; the
    loop exits early on convergence.
    """
    # EAGER checkpoint of the pair edges: `pairs` is typically the tail
    # of an expensive lineage (LSH candidates -> shingle semi-join ->
    # exact-Jaccard verify), and it is consumed by BOTH union branches
    # plus the label init below — inside the first iteration's job those
    # branches re-derive the unmaterialized lineage instead of sharing
    # one pass (round-8 soak: the star pipeline measured 494 s at x100
    # near-dup where its sequentially-materialized stages sum to ~112 s;
    # the loop's own eager checkpoints already run at construction time,
    # so this adds no new eagerness, only ordering).
    pairs = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).localCheckpoint(eager=True)
    edges = undirected(pairs)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(CC_MAX_ITERATIONS):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        propagated = labels.join(
            neighbor_min, labels["node"] == neighbor_min["src"], "left"
        ).select(
            "node",
            F.col("label").alias("old"),  # carried for the convergence
            # check below — avoids re-joining new vs old labels per round
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
        )
        # pointer jump: label <- min(label, label[label]); label values
        # are always node ids, so the self-join resolves (left: a node
        # whose label is already a root sees no row)
        jump = propagated.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        new_full = (
            propagated.join(jump, propagated["label"] == jump["pnode"], "left")
            .select(
                "node",
                "old",
                F.least(
                    F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))
                ).alias("label"),
            )
            # LAZY checkpoint: the convergence aggregate below is the
            # first action over it, so ONE job both materializes the
            # truncated-lineage blocks and returns the changed count.
            # The old shape (eager checkpoint pass + a separate
            # limit(1).count() job) paid two sequential job launches per
            # round; this query's wall is dominated by exactly that
            # fixed per-job latency, not data volume (r12 adjudication
            # of the r11 llm_dup_clusters flag — SCALE_SOAK round 12).
            .localCheckpoint(eager=False)
        )
        changed = new_full.agg(
            F.sum((F.col("label") != F.col("old")).cast("int")).alias("c")
        ).collect()[0]["c"]
        labels = new_full.select("node", "label")
        if not changed:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _shingle_overlap(
    df: DataFrame, max_shingle_freq: int | None,
    pair: Callable[[Column, Column], Column],
) -> tuple[DataFrame, DataFrame]:
    """The exploded-shingle self-join behind both overlap scores:
    ``inter`` = |A intersect B| per doc pair ``(doc_a, doc_b)`` kept by
    ``pair(a.doc_id, b.doc_id)``, joined to ``na`` = |A|, plus the
    per-doc shingle counts ``(doc_id, n_sh)``. With
    ``max_shingle_freq`` the shingles in more docs than that are dropped
    first (the quadratic hot keys at 100 TB)."""
    sh = df.select(
        F.col(ID_COL), F.explode(word_shingles(F.col(TEXT_COL), SHINGLE_N)).alias("s")
    )
    if max_shingle_freq is not None:
        # drop ubiquitous shingles via a broadcast ANTI join against the
        # small hot set — broadcasting the keep-set would ship nearly the
        # whole shingle vocabulary to every executor at scale
        freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("f"))
        hot = freq.filter(F.col("f") > max_shingle_freq).select("s")
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    # three consumers (per-doc sizes + both self-join sides) would each
    # re-run the shingle explode; checkpoint so it is evaluated once
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(ID_COL).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & pair(F.col(f"a.{ID_COL}"), F.col(f"b.{ID_COL}")))
        .groupBy(F.col(f"a.{ID_COL}").alias("doc_a"), F.col(f"b.{ID_COL}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(ID_COL).alias("doc_a"), F.col("n_sh").alias("na"))
    return inter.join(sa, "doc_a"), sizes


def ngram_jaccard_pairs(
    df: DataFrame, max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for document pairs (doc_a < doc_b)
    sharing >= 1 shingle: jaccard = inter / (|A| + |B| - inter) over
    :func:`_shingle_overlap`. At 100 TB set ``max_shingle_freq`` to drop
    ubiquitous shingles (quadratic hot keys); left None at oracle scale
    for exactness.
    """
    inter, sizes = _shingle_overlap(df, max_shingle_freq, operator.lt)
    sb = sizes.select(F.col(ID_COL).alias("doc_b"), F.col("n_sh").alias("nb"))
    jacc = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
    return (
        inter.join(sb, "doc_b")
        .select("doc_a", "doc_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def minhash_verified_pairs(
    df: DataFrame, per_doc_cap: int | None = None, report_fanout: bool = True,
) -> DataFrame:
    """Two-stage dedup: MinHash-LSH candidate generation (recall stage)
    followed by EXACT n-gram Jaccard computed only on the candidate pairs
    (precision stage) — the canonical production shape for corpus dedup.

    Scale design: the quadratic exact-Jaccard self-join never runs on the
    corpus — only on LSH candidates (linear-ish in true duplicates). The
    shingle arrays are materialised solely for docs that appear in a
    candidate pair (left-semi prune before the array columns shuffle), so
    the verify stage's join input is |candidate docs|, not |corpus|.

    ``per_doc_cap``: with ``None`` every candidate pair is verified and
    emitted — O(D^2/2) pairs per D-copy duplicate group (SCALE_SOAK
    measured 27.3M pairs / 104.8 s at x100 verbatim duplication), fine
    for audits, fatal as a standing contract on duplication-heavy
    corpora. With a cap, each ``doc_a`` keeps only its ``cap`` smallest
    ``doc_b`` candidates BEFORE the exact-Jaccard verify, bounding both
    the verify join input and the output at O(cap * n). Connectivity
    under the cap is a LOW-FALSE-POSITIVE property, not a guarantee: in
    a verbatim group {d1 < ... < dD} the chain link d_i-d_{i+1} survives
    as long as d_i has fewer than ``cap`` band-collision false-positive
    candidates with ids below d_{i+1}; when FP candidates crowd out the
    only true link, it is evicted before verification and the group can
    split (the authoritative caveat — see ``llm_dedup_pipeline``'s doc).
    Ranking is by doc_b id, deterministic, so a given corpus always caps
    the same way. The pre-cap candidate count is reported per doc_a
    (``n_cand_a``) so the truncation is observable, never silent —
    unless the caller passes ``report_fanout=False`` (consumers like
    the dedup pipeline discard the column, and at scale the fan-out
    count is a second window pass over every candidate pair).

    Output: (doc_a, doc_b, jaccard, verified[, n_cand_a]) — false-positive
    candidates survive with ``verified = false``, making the precision of
    the sketch stage directly observable.
    """
    cands = minhash_candidate_pairs(df)
    # both join sides consume cands; checkpoint so the LSH band join and
    # the signature map stage run once, not three times
    cands = cands.localCheckpoint(eager=False)
    if per_doc_cap is not None:
        w = Window.partitionBy("doc_a")
        cands = cands.withColumn(
            "_rk", F.row_number().over(w.orderBy(F.col("doc_b").asc()))
        )
        if report_fanout:
            # n_cand_a flows to the output as a pass-through column
            cands = cands.withColumn("n_cand_a", F.count(F.lit(1)).over(w))
        cands = (
            cands.filter(F.col("_rk") <= per_doc_cap)
            .drop("_rk")
            .localCheckpoint(eager=False)
        )
    return exact_jaccard_on_pairs(df, cands)


def window_dup_stats(
    df: DataFrame, window: int = 32, stride: int = 8
) -> DataFrame:
    """Exact repeated-substring detection via fixed sliding character
    windows (the scalable stand-in for suffix-array substring dedup, cf.
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): every ``window``-char slice at ``stride`` offsets is
    md5-hashed; a window seen in >= 2 distinct docs marks cross-document
    duplicated text.

    Scale design: explode factor is bounded by len/stride (vs len shingles
    for word n-grams); the only shuffles are a groupBy on the 16-byte
    window hash and a per-doc count. Hot boilerplate windows behave like
    hot shingles — frequency-cap them exactly as ngram_jaccard_pairs does
    when a corpus has giant template families.

    Output per doc: total windows, windows shared with another doc, and
    the duplicated-window ratio.
    """
    t = F.col(TEXT_COL)
    starts = F.when(
        F.length(t) >= window,
        F.sequence(F.lit(1), F.length(t) - (window - 1), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    wins = F.array_distinct(
        F.transform(starts, lambda i: F.md5(t.substr(i, F.lit(window))))
    )
    base = df.select(F.col(ID_COL), wins.alias("ws")).localCheckpoint(eager=False)
    ex = base.select(F.col(ID_COL), F.explode("ws").alias("wh"))
    dupw = (
        ex.groupBy("wh")
        .agg(F.count_distinct(F.col(ID_COL)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("wh")
    )
    shared = (
        ex.join(dupw, "wh")
        .groupBy(ID_COL)
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
    return (
        base.select(F.col(ID_COL), F.size("ws").alias("n_windows"))
        .join(shared, ID_COL, "left")
        .select(
            ID_COL,
            "n_windows",
            F.coalesce("n_shared_windows", F.lit(0)).alias("n_shared_windows"),
            F.round(
                F.coalesce("n_shared_windows", F.lit(0)).cast("double")
                / F.greatest(F.col("n_windows"), F.lit(1)).cast("double"),
                4,
            ).alias("dup_ratio"),
        )
    )


def containment_pairs(df: DataFrame) -> DataFrame:
    """Shingle CONTAINMENT |A intersect B| / |A| for ordered pairs — the
    asymmetric cousin of :func:`ngram_jaccard_pairs`, and the right
    score for quote/inclusion detection: a short document embedded
    verbatim inside a long one has containment ~1.0 while its symmetric
    Jaccard is tiny (|A|/|B|), so Jaccard-thresholded dedup never sees
    it. Broder's resemblance-vs-containment distinction, applied to
    training corpora where boilerplate wrappers swallow whole articles.

    Emits BOTH directions (doc_a contained-in doc_b is not doc_b
    contained-in doc_a); ``doc_a`` is the contained side. Same scale
    posture and self-join as the Jaccard form (:func:`_shingle_overlap`);
    no frequency cap, so the score is exact.
    """
    inter, _ = _shingle_overlap(df, None, operator.ne)
    cont = F.round(F.col("inter").cast("double") / F.col("na").cast("double"), 6)
    return (
        inter.select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


SPAN_OKEY_SHIFT = 1 << 20  # packs (doc_id, position) into one BIGINT


def repeated_span_scrub(df: DataFrame) -> DataFrame:
    """Exact repeated-SPAN removal — the rewrite stage of suffix-style
    substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): every word ``SPAN_W``-gram occurring more
    than once in the corpus keeps its FIRST occurrence (min packed
    (doc_id, position) key) and every other occurrence is masked; a
    token is dropped when any masked span covers it. Detection-only
    siblings: :func:`window_dup_stats` (strided char windows) and the
    per-doc fingerprint entries — this one actually produces the
    scrubbed corpus.

    Per doc: token count, masked-token count/fraction, and the md5 of
    the scrubbed text (order-exact reconstruction), so the oracle pins
    the rewrite itself, not just counts.

    Scale shape: ONE corpus-linear shingle explode, a gram-keyed
    partial-agg shuffle for (count, first-occurrence) per gram, a join
    back on gram to find non-keeper occurrences (only REPEATED grams
    survive the filter, so the masked-span set is small on organic
    corpora), then per-doc coverage aggregates on a doc_id shuffle of
    those spans only. The corpus itself never re-shuffles: coverage
    comes back as ONE small array per affected doc and the rewrite is
    per-row JVM array expressions (filter-by-index + concat_ws + md5).
    Hot boilerplate grams cost one agg row each (partial-agg combines
    map-side); their occurrence lists DO flow through the span join —
    at 100 TB frequency-cap them exactly as ngram_jaccard_pairs does.
    """
    d = df.select(
        F.col(ID_COL), tokens(F.col(TEXT_COL)).alias("ws")
    ).localCheckpoint(eager=False)  # occurrence branch + rewrite branch
    occ = (
        d.select(
            F.col(ID_COL),
            F.posexplode(array_shingles(F.col("ws"), SPAN_W)).alias(
                "p0", "gram"
            ),
        )
        # 1-based token index i; packed order key = doc_id * 2^20 + i —
        # the pack keeps "first occurrence" a plain MIN. assert_true
        # makes a >2^20-token doc FAIL LOUDLY instead of silently
        # corrupting keeper selection via key overlap.
        .select(
            F.col(ID_COL),
            (F.col("p0") + 1).alias("i"),
            "gram",
            F.when(
                F.assert_true(F.col("p0") + 1 < SPAN_OKEY_SHIFT).isNull(),
                F.col(ID_COL) * SPAN_OKEY_SHIFT + F.col("p0") + 1,
            ).alias("okey"),
        )
    )
    keep = occ.groupBy("gram").agg(
        F.min("okey").alias("first_okey"), F.count(F.lit(1)).alias("n_occ")
    )
    masked = (
        occ.join(keep.filter(F.col("n_occ") >= 2), "gram")
        .filter(F.col("okey") != F.col("first_okey"))
        .select(F.col(ID_COL), "i")
    )
    cov = (
        masked.select(
            F.col(ID_COL),
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (SPAN_W - 1))
            ).alias("idx"),
        )
        .groupBy(ID_COL)
        .agg(F.array_sort(F.collect_set("idx")).alias("cov"))
    )
    j = d.join(cov, ID_COL, "left").select(
        F.col(ID_COL),
        "ws",
        F.coalesce("cov", F.array().cast("array<int>")).alias("cov"),
    )
    kept = F.filter(
        F.col("ws"),
        lambda x, i: ~F.array_contains(F.col("cov"), (i + 1).cast("int")),
    )
    n_tok = F.size("ws").cast("long")
    # cov indices never exceed the token count (spans start at real
    # positions), so masked count == |cov|
    n_masked = F.size("cov").cast("long")
    return j.select(
        F.col(ID_COL),
        n_tok.alias("n_tokens"),
        n_masked.alias("n_masked"),
        F.round(n_masked.cast("double") / n_tok.cast("double"), 6).alias(
            "masked_frac"
        ),
        F.md5(F.concat_ws(" ", kept)).alias("clean_md5"),
    )
