"""Text-analysis operators for LLM data pipelines (north-star extensions,
SURVEY.md section 2.8): language-ID, quality scoring, token counting,
fingerprints, decontamination, search, tokenizer training and sketches.

Every operator is assembled from one copy of each kernel:

===============================  ================================  ============================
kernel                           helper                            operators that use it
===============================  ================================  ============================
whitespace tokens                ``dedup.tokens``                  lang_id, token_stats,
                                                                   quality_score, token_count,
                                                                   bm25_search, inverted_index,
                                                                   bpe_pair_counts,
                                                                   blocklist_filter,
                                                                   tfidf_top_terms,
                                                                   cms_token_buckets,
                                                                   _bpe_loop, _unigram_build
word n-grams, with multiplicity  ``dedup.word_shingles_all``       decontaminate,
                                                                   repetition_score
stopword occurrence count        :func:`stopword_score`            lang_id, quality_score
normalized-content md5           ``_normalized_md5``               fingerprint, the catalog's
                                                                   cross-corpus dedup and
                                                                   dataset card
winnowing fingerprints (Arrow)   :func:`winnow_fingerprints`       the winnowing entries
BPE merge loop                   ``_bpe_loop``                     bpe_train, bpe_encode,
                                                                   bpe_compression_curve,
                                                                   bpe_fertility
BPE pieces of an encoding        ``_bpe_pieces``                   the same four
Count-Min cells                  :func:`cms_token_buckets`,        cms_heavy_hitters and the
                                 :func:`cms_cell_increments`,      streaming sketch replay
                                 :func:`cms_estimate_topk`
unigram-LM Viterbi + EM          ``_unigram_build``                unigram_segment_counts,
                                                                   unigram_corpus_nll,
                                                                   unigram_em_counts
===============================  ================================  ============================

``_winnow_expr`` is the pure-JVM expression form of the winnowing
kernel, kept as the reference the agreement test compares against.
Document frames carry ``dedup.ID_COL`` and ``dedup.TEXT_COL``.

Apart from the vectorized Arrow winnowing kernel, all hot-path logic is
built-in pyspark.sql.functions (JVM, whole-stage codegen) — per-row string
work at 100 TB must not drop into row-at-a-time Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .dedup import ID_COL, TEXT_COL, tokens, word_shingles_all

# Tiny deterministic stopword lists for the n-gram/stopword language
# heuristic. Real deployments swap in fastText/CLD3 via mapInPandas; the
# heuristic keeps the operator oracle-checkable.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
}

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-alnum marks.
# Kept Java/RE2-compatible so the DuckDB oracle matches byte-for-byte.
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def stopword_score(tok: Column, lang: str) -> Column:
    """Occurrence count (duplicates included) of ``lang`` stopwords."""
    words = STOPWORDS[lang]
    return F.size(F.filter(tok, lambda t: t.isin(*words)))


def lang_id(df: DataFrame) -> DataFrame:
    """Stopword-vote language ID with a deterministic tie-break (en>de>fr)."""
    tok = tokens(TEXT_COL)
    s_en, s_de, s_fr = (stopword_score(tok, l) for l in ("en", "de", "fr"))
    pred = (
        F.when((s_en >= s_de) & (s_en >= s_fr), F.lit("en"))
        .when(s_de >= s_fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return df.select(
        ID_COL,
        s_en.alias("s_en"),
        s_de.alias("s_de"),
        s_fr.alias("s_fr"),
        pred.alias("pred_lang"),
    )


def token_stats(df: DataFrame) -> DataFrame:
    """Per-document token statistics: counts, distinct counts, char length."""
    tok = tokens(TEXT_COL)
    return df.select(
        ID_COL,
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_distinct_tokens"),
        F.length(TEXT_COL).alias("n_chars_measured"),
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality features: length, stopword ratio, punctuation ratio,
    and a boolean keep/drop verdict. Per-row double division — bit-identical
    across engines, no rounding needed."""
    tok = tokens(TEXT_COL)
    n_tokens = F.size(tok)
    stop_ratio = stopword_score(tok, "en").cast("double") / n_tokens.cast("double")
    punct_n = F.size(F.regexp_extract_all(F.col(TEXT_COL), F.lit("[^a-zA-Z0-9 ]"), F.lit(0)))
    punct_ratio = punct_n.cast("double") / F.length(TEXT_COL).cast("double")
    return df.select(
        ID_COL,
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        ((n_tokens >= 5) & (n_tokens <= 100000) & (punct_ratio < 0.1)).alias("quality_ok"),
    )


def token_count(df: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (SURVEY 2.8)."""
    return df.select(
        ID_COL,
        F.size(tokens(TEXT_COL)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(TEXT_COL), F.lit(BPE_ISH_PATTERN), F.lit(0))).alias("bpe_ish_tokens"),
    )


def _normalized_md5() -> Column:
    """md5 of the lowercased text with every whitespace run collapsed
    to one space and the ends trimmed."""
    return F.md5(F.trim(F.regexp_replace(F.lower(F.col(TEXT_COL)), r"\s+", " ")))


def fingerprint(df: DataFrame) -> DataFrame:
    """Normalised-content fingerprint: md5 of lowercase, whitespace-collapsed
    text. The exact-dedup key for content-equivalent documents."""
    return df.select(ID_COL, _normalized_md5().alias("fp"))


#: polynomial rolling-hash parameters (Rabin-Karp family): hash of a
#: k-gram at position i is sum_j code(c[i+j]) * B^j mod M. Chosen so every
#: intermediate stays far inside int64 (127 * 131^5 < 2^42).
ROLL_BASE = 131
ROLL_MOD = (1 << 31) - 1


def winnow_fingerprints(df: DataFrame, k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash sketch of
    Schleimer/Wilkerson/Aiken's MOSS): hash every character ``k``-gram with
    a polynomial rolling hash, then keep the minimum hash of each sliding
    ``window`` of positions; the distinct selected hashes are the document's
    fingerprint set. Guarantees every shared substring of length
    >= ``window + k - 1`` contributes at least one common fingerprint —
    the local-similarity dual to MinHash's global Jaccard sketch.

    Arrow-batched mapInPandas — the k-gram polynomial is one strided
    numpy sum, the sliding minimum one ``sliding_window_view``. Catalyst
    runs higher-order array expressions interpreted (not codegen), and the
    expression form's (:func:`_winnow_expr`, bit-identical by test)
    per-position zip_with chains showed erratic multi-second GC stalls at
    sf0.1; the vectorized path is faster and stable. Zero shuffle.
    Output: one row per (doc, fingerprint).
    """
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    weights = np.array([ROLL_BASE**j for j in range(k)], dtype=np.int64)
    out_schema = StructType(
        [
            StructField(ID_COL, df.schema[ID_COL].dataType),
            StructField("fp_hash", LongType()),
        ]
    )

    def batches(it):
        for pdf in it:
            ids: list = []
            fps: list = []
            for did, txt in zip(pdf[ID_COL].values, pdf[TEXT_COL].values):
                codes = np.fromiter(
                    (ord(c) for c in txt), dtype=np.int64, count=len(txt)
                )
                n = codes.size
                if n < k:
                    continue
                m = n - k + 1
                acc = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    acc += codes[j : j + m] * weights[j]
                grams = acc % ROLL_MOD
                if m >= window:
                    mins = sliding_window_view(grams, window).min(axis=1)
                else:
                    mins = grams.min(keepdims=True)
                sel = np.unique(mins)
                ids.extend([did] * sel.size)
                fps.extend(sel.tolist())
            # explicit dtypes: an all-empty batch must still carry
            # Arrow-mappable columns, not object/float64 defaults
            yield pd.DataFrame(
                {
                    ID_COL: pd.Series(ids, dtype=pdf[ID_COL].dtype),
                    "fp_hash": pd.Series(fps, dtype="int64"),
                }
            )

    return df.select(F.col(ID_COL), F.col(TEXT_COL)).mapInPandas(
        batches, out_schema
    )


def _winnow_expr(df: DataFrame, k: int = 5, window: int = 4) -> DataFrame:
    """:func:`winnow_fingerprints` as built-in array expressions
    (sequence / transform / slice / zip_with folds), no Python workers —
    the reference the Arrow kernel is tested bit-identical against."""
    t = F.col(TEXT_COL)
    n = F.length(t)
    # char codes once per row; the k-gram polynomial is assembled from k
    # SHIFTED SLICES zip_with-ed together — pure array-to-array kernels
    # (no per-position index lookups, no lambda captures of outer columns)
    codes = F.transform(F.split(t, ""), lambda c: F.ascii(c).cast("long"))
    m = n - (k - 1)  # number of k-gram positions
    acc = F.slice(codes, F.lit(1), m)  # j=0 term (B^0 == 1)
    for j in range(1, k):
        weight = F.lit(ROLL_BASE ** j).cast("long")
        acc = F.zip_with(
            acc, F.slice(codes, F.lit(1 + j), m), lambda a, c: a + c * weight
        )
    grams = F.when(
        n >= k, F.transform(acc, lambda x: x % ROLL_MOD)
    ).otherwise(F.array().cast("array<long>"))
    n_grams = F.size(grams)
    # sliding-window minimum as a least() fold over `window` shifted slices
    mn = n_grams - (window - 1)
    wacc = F.slice(grams, F.lit(1), mn)
    for j in range(1, window):
        wacc = F.zip_with(
            wacc, F.slice(grams, F.lit(1 + j), mn), lambda a, b: F.least(a, b)
        )
    mins = (
        F.when(n_grams >= window, wacc)
        .when(n_grams > 0, F.array(F.array_min(grams)))
        .otherwise(F.array().cast("array<long>"))
    )
    return df.select(
        F.col(ID_COL), F.explode(F.array_distinct(mins)).alias("fp_hash")
    )


def decontaminate(train: DataFrame, benchmark: DataFrame, n: int = 5) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at least
    one word ``n``-gram with the benchmark/eval set (the train-test overlap
    scrub every LLM pipeline runs before training; GPT-3 appendix C /
    PaLM-style 13-gram matching, scaled to this corpus's short docs).

    Plan shape: both sides explode to distinct (doc, gram) pairs; the
    benchmark side's distinct gram set is tiny by construction (eval
    suites are thousands of docs, not billions) so it BROADCASTS, making
    the contamination probe a map-side hash join over the train scan —
    no shuffle of the 100 TB side. Returns one row per contaminated train
    doc: (id, n_hit_grams).
    """
    grams = F.explode(word_shingles_all(TEXT_COL, n))
    train_g = train.select(F.col(ID_COL), grams.alias("g")).distinct()
    bench_g = benchmark.select(grams.alias("g")).distinct()
    return (
        train_g.join(F.broadcast(bench_g), "g")
        .groupBy(ID_COL)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


def repetition_score(df: DataFrame, n: int = 3) -> DataFrame:
    """Intra-document repetition: fraction of word ``n``-grams that are
    repeats of an earlier one (1 - distinct/total). The within-doc twin of
    corpus-level dedup — high scores mark boilerplate/spam/low-entropy
    text that quality filters drop.

    Entirely array expressions over one scan: no explode, no shuffle —
    total and distinct counts come from the in-row gram array, so at any
    scale this is a map-only pass.
    """
    g = word_shingles_all(TEXT_COL, n)
    total = F.size(g)
    distinct = F.size(F.array_distinct(g))
    return df.select(
        F.col(ID_COL),
        total.cast("long").alias("n_grams"),
        F.round(
            (total - distinct) / F.greatest(F.lit(1), total), 6
        ).alias("rep_ratio"),
    )


#: what regex_scrub replaces every pattern occurrence with
REDACTION = "<redacted>"


def regex_scrub(df: DataFrame, patterns: dict[str, str]) -> DataFrame:
    """Pattern-based scrubbing (PII redaction shape): for each named regex,
    count its matches; also report the length of the text after replacing
    every pattern occurrence with ``REDACTION``.

    regexp_count / regexp_replace are JVM codegen expressions — one linear
    scan per row per pattern, zero shuffle, embarrassingly parallel at
    100 TB. Patterns must stay in the Java-regex/RE2 common subset so the
    DuckDB oracle matches byte-for-byte.
    """
    cols: list[Column] = [F.col(ID_COL)]
    for name, pat in patterns.items():
        cols.append(F.regexp_count(F.col(TEXT_COL), F.lit(pat)).cast("long").alias(f"n_{name}"))
    redacted = F.col(TEXT_COL)
    for pat in patterns.values():
        redacted = F.regexp_replace(redacted, pat, REDACTION)
    cols.append(F.length(redacted).cast("long").alias("redacted_len"))
    return df.select(*cols)


def sentence_split_udtf():
    """Python UDTF (SURVEY.md §2.7's general one-row-to-N expansion form,
    PySpark >= 3.5): segment a document into (doc_id, sent_idx, sentence)
    rows. The reference's analog is the per-txn-type document expansion
    (follower.py:143-202), whose engine form is ``explode`` — built-ins
    stay the fast path; a UDTF is for expansions that need imperative
    per-row logic (stateful tokenizers, real segmenters). Constructed
    lazily because the decorator registers against the active session.

    Equivalence contract (pinned by test): identical rows to
    ``explode(posexplode)`` over ``split(text, '. ')``.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, sent_idx: int, sentence: string")
    class SentenceSplit:
        def eval(self, doc_id: int, text: str):
            if text is None:
                return
            for i, s in enumerate(text.split(". ")):
                yield doc_id, i, s

    return SentenceSplit


def sentence_split(df: DataFrame) -> DataFrame:
    """Apply :func:`sentence_split_udtf` via a lateral join — one
    (doc_id, sent_idx, sentence) row per segment. Input id column is
    renamed before the join (the UDTF emits its own ``doc_id``)."""
    fn = sentence_split_udtf()
    return (
        df.select(F.col(ID_COL).alias("_in_id"), F.col(TEXT_COL).alias("_in_text"))
        .lateralJoin(fn(F.col("_in_id").outer(), F.col("_in_text").outer()))
        .select("doc_id", "sent_idx", "sentence")
    )


# Okapi BM25 constants (standard Robertson defaults).
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(df: DataFrame, query_terms: list[str], k: int = 10) -> DataFrame:
    """BM25 ranking of documents against a bag of query terms.

    Spark-first plan: per-term tf comes from JVM array expressions over the
    token array (``F.size(F.filter(...))`` — no explode, no shuffle); the
    corpus statistics (N, avgdl, per-term document frequency) reduce to ONE
    tiny global aggregate that broadcasts back via crossJoin. The score is
    an explicit fixed-order sum over the query terms, so float addition
    order is identical cross-engine; idf uses the Lucene form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` which stays positive for
    ubiquitous terms. At 100 TB the same plan holds: one scan for the
    stats pass (or a maintained stats table), one map-side scoring scan,
    TakeOrderedAndProject for the top-k — zero wide shuffles.
    """
    tok = tokens(TEXT_COL)
    dl = F.size(tok).cast("double")

    def _tf(w: str) -> Column:
        # bind the literal outside the lambda: a 2-arg lambda would make
        # F.filter pass the array INDEX as the second argument
        lit_w = F.lit(w)
        return F.size(F.filter(tok, lambda t: t == lit_w)).cast("double")

    scored = df.select(
        ID_COL,
        dl.alias("dl"),
        *[_tf(w).alias(f"tf{i}") for i, w in enumerate(query_terms)],
    )
    stats = scored.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("double")).alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    norm_len = 1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")

    def term_score(i: int):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
        )
        tf = F.col(f"tf{i}")
        return idf * tf * (BM25_K1 + 1) / (tf + BM25_K1 * norm_len)

    score = term_score(0)
    for i in range(1, len(query_terms)):
        score = score + term_score(i)
    return (
        scored.crossJoin(F.broadcast(stats))
        .select(ID_COL, F.round(score, 4).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc(ID_COL))
        .limit(k)
    )


def inverted_index(df: DataFrame) -> DataFrame:
    """Posting-list construction: term -> document frequency + sorted doc-id
    list — the index behind keyword search and n-gram contamination probes.

    One explode of per-doc DISTINCT terms, one groupBy(term): the shuffle
    carries (term, doc_id) pairs only, never the text. ``sort_array`` after
    ``collect_list`` makes the posting order deterministic regardless of
    task arrival order. At 100 TB, hot-term posting lists outgrow a single
    row: segment them (term, shard) with a doc-id range per shard, write
    delta-encoded to a term-bucketed table, and filter on a minimum ``df``
    to drop the hapax tail that dominates vocabulary size.
    """
    ex = df.select(
        F.col(ID_COL), F.explode(F.array_distinct(tokens(TEXT_COL))).alias("term")
    )
    return ex.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list(ID_COL)).alias("postings"),
    )


def bpe_pair_counts(df: DataFrame, k: int = 20) -> DataFrame:
    """One merge round of BPE-style tokenizer training: frequency of
    adjacent character pairs within whitespace words, top-k.

    The pair extraction is pure JVM array algebra — flatten(transform(
    words, w -> char bigrams of w)) — so the scan stays in whole-stage
    codegen and the only shuffle is the final (pair, count) aggregate,
    whose key space is bounded by the alphabet squared. That invariance
    (tiny agg key space however large the corpus) is what makes BPE
    training feasible at 100 TB: each merge round is one map-heavy scan +
    one trivial reduce, and the real implementation just re-runs this with
    the current merge table applied.
    """
    pairs = F.flatten(F.transform(tokens(TEXT_COL), lambda w: F.when(
        F.length(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(w) - 1),
            lambda i: F.substring(w, i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))))
    return (
        df.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


def bpe_train(df: DataFrame, rounds: int = 5) -> DataFrame:
    """FULL iterative BPE tokenizer training for ``rounds`` merge
    rounds — the loop :func:`bpe_pair_counts` is one round of, run to
    completion over the word-TYPE table (the classic Sennrich recipe:
    train on distinct words weighted by corpus frequency, which at any
    corpus size is vocabulary-sized, not corpus-sized).

    Deterministic, engine-portable semantics (so a SQL oracle can
    unroll every round):

    * corpus -> word-frequency table (``^[a-z]+$`` words only);
    * each word is encoded as per-token-delimited text ``|c||h||a|...``
      — each token carries its OWN delimiters, so a pair merge is
      exactly one literal ``replace('|lt||rt|' -> '|ltrt|')``: string
      replace scans left-to-right non-overlapping, which IS greedy BPE
      merge order, and the per-token delimiters make boundary overlaps
      impossible (this is what lets both engines express the merge as
      one codegen'd string op instead of a per-word fold);
    * per round: count adjacent token pairs weighted by word frequency
      (overlapping pairs count, the standard convention), pick argmax
      with (count DESC, left ASC, right ASC) tiebreak, merge, repeat.

    Returns one row per merge round: (round, lt, rt, merged, cnt).

    SCALE: each round is one map pass over the word-type table + one
    (lt, rt)-keyed partial aggregate whose key space is bounded by the
    current vocab squared but in practice tiny, + ONE driver-side
    ``first()`` fetching the single argmax row (O(1) bytes — the same
    bounded driver action as llm_kmeans_iter's centroid refresh). The
    word-type table never grows with corpus size beyond vocabulary, so
    100 TB of text trains at the cost of its distinct-word dictionary
    (reference has no tokenizer surface — north-star extension)."""
    merges, _ = _bpe_loop(df, rounds)
    return df.sparkSession.createDataFrame(
        merges, "round int, lt string, rt string, merged string, cnt long"
    )


def _bpe_pieces() -> Column:
    """The token array of a BPE word encoding ``enc`` (``|c||h|...``)."""
    return F.split(F.expr("trim(BOTH '|' FROM enc)"), r"\|\|")


def _bpe_loop(
    df: DataFrame, rounds: int, on_round=None
) -> tuple[list, DataFrame]:
    """The shared BPE training loop: returns (merge rows, the word-type
    table with all merges applied) — :func:`bpe_train` reports the
    merges, :func:`bpe_encode` tokenizes with the final table, and
    :func:`bpe_compression_curve` passes ``on_round(r, wt)`` to read
    the table out after round 0 (chars) and each merge."""
    words = (
        df.select(F.explode(tokens(F.col(TEXT_COL))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    enc = F.expr(
        "array_join(transform(split(w, ''), c -> concat('|', c, '|')), '')"
    )
    wt = words.select("freq", enc.alias("enc"))
    # the word-type table is vocabulary-sized and is re-scanned every
    # round: materialize it once (at fleet scale: persist to storage)
    wt = wt.localCheckpoint(eager=True)
    if on_round is not None:
        on_round(0, wt)

    merges = []
    for r in range(rounds):
        pairs = (
            wt.select("freq", _bpe_pieces().alias("ts"))
            .filter(F.size("ts") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(ts) - 1),"
                        " i -> struct(ts[i - 1] AS lt, ts[i] AS rt))"
                    )
                ).alias("p"),
            )
            .groupBy("p.lt", "p.rt")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "lt", "rt").first()
        if best is None:
            break
        lt, rt, cnt = best["lt"], best["rt"], int(best["cnt"])
        merges.append((r, lt, rt, lt + rt, cnt))
        wt = wt.select(
            "freq",
            F.expr(
                "replace(enc, '|{0}||{1}|', '|{0}{1}|')".format(
                    lt.replace("'", "''"), rt.replace("'", "''")
                )
            ).alias("enc"),
        ).localCheckpoint(eager=True)
        if on_round is not None:
            on_round(r + 1, wt)

    return merges, wt


def bpe_compression_curve(df: DataFrame, rounds: int = 5) -> DataFrame:
    """Tokenizer-training PROGRESS measurement: corpus token count
    after EACH merge round (round 0 = character tokenization) — the
    compression curve a tokenizer job monitors to decide when more
    merges stop paying. Token counts are word-type token counts
    weighted by corpus frequency, so each point is one vocabulary-sized
    aggregate; the loop itself is :func:`_bpe_loop` re-run with a
    per-round readout (a second tiny agg per round, nothing
    corpus-sized)."""
    def n_tokens(frame: DataFrame) -> int:
        return int(
            frame.select(
                F.sum(F.size(_bpe_pieces()) * F.col("freq")).alias("n")
            ).first()["n"]
        )

    points: list[tuple[int, int]] = []
    _bpe_loop(
        df, rounds, on_round=lambda r, wt: points.append((r, n_tokens(wt)))
    )
    return df.sparkSession.createDataFrame(
        points, "round int, total_tokens long"
    )


def bpe_encode(df: DataFrame, rounds: int = 5, k: int = 20) -> DataFrame:
    """The SCORING side of BPE: train ``rounds`` merges
    (:func:`_bpe_loop`), tokenize the corpus with the final merge
    table, and report the top-``k`` tokens by corpus frequency — the
    vocabulary report a tokenizer-training job actually emits. Because
    training runs on the word-TYPE table, 'tokenize the corpus' is just
    splitting the final encodings and weighting by word frequency — no
    second corpus pass (the dictionary trick again). Same scale shape
    as :func:`bpe_train` plus one token-keyed partial agg."""
    _, wt = _bpe_loop(df, rounds)
    return (
        wt.select("freq", F.explode(_bpe_pieces()).alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(k)
    )


#: default blocklist for the C4-style term filter; real deployments load a
#: curated list and broadcast it the same way.
BLOCKLIST = ["dup", "slow", "drop"]


def blocklist_filter(df: DataFrame) -> DataFrame:
    """C4-style blocklist audit: per-source document counts vs. documents
    containing any ``BLOCKLIST`` term, plus the flagged share.

    The membership test is ``F.exists`` over the token array — pure JVM,
    inside whole-stage codegen, no explode — so the scan emits one boolean
    per row and the only shuffle is the final tiny per-source aggregate
    (partial/map-side combined). The word list rides into the plan as
    literals; a large curated list would swap to a broadcast join against
    exploded tokens instead. At 100 TB this is a single map-heavy pass.
    """
    flagged = F.exists(tokens(TEXT_COL), lambda t: t.isin(*BLOCKLIST))
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(flagged.cast("long")).alias("n_flagged"),
        )
        .withColumn(
            "flagged_share",
            F.round(F.col("n_flagged").cast("double") / F.col("n_docs").cast("double"), 8),
        )
    )


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k keywords by TF-IDF (keyword extraction).

    Plan: explode tokens -> groupBy(doc, term) for tf -> groupBy(term) for
    document frequency (both aggs partial/map-side combined) -> tf joins
    dfreq on term -> corpus size N broadcast via crossJoin -> row_number
    window partitioned by doc_id. The window key is the document id —
    maximal cardinality, so no single-task stage at any scale. The tf⋈df
    join shuffles on term; vocabulary is Zipf-skewed, which AQE's skew-join
    split absorbs (hot terms like stopwords carry near-zero idf anyway and
    a production variant drops df/N > 0.5 terms before the join). The
    score rounds to 8 dp so the one cross-engine float op (ln) compares
    exactly, and ties break on term ASC for a deterministic top-k.
    """
    tok = df.select(ID_COL, F.explode(tokens(TEXT_COL)).alias("term"))
    tf = tok.groupBy(ID_COL, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                8,
            ),
        )
    )
    w = Window.partitionBy(ID_COL).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(ID_COL, "term", "tf", "df", "tfidf")
    )


def cms_heavy_hitters(
    df: DataFrame, depth: int = 3, width: int = 1024, k: int = 20
) -> DataFrame:
    """Heavy-hitter tokens via a Count-Min Sketch (Cormode & Muthukrishnan):
    ``depth`` hash rows x ``width`` buckets; every token increments one
    cell per row, and a token's estimate is the MIN of its cells —
    always >= the true count, with overestimate bounded by the collision
    mass in its lightest bucket.

    Why a sketch at 100 TB: the exact token groupBy shuffles the whole
    vocabulary (billions of keys, Zipf-skewed); the CMS build reduces to
    depth*width cells (3072 rows here) regardless of corpus size — a
    bounded, MERGEABLE partial aggregate (per-executor sketches sum
    cell-wise), which is also the shape a streaming heavy-hitter pass
    needs. The candidate-estimation join broadcasts the tiny cell table.

    Determinism: buckets come from the cross-engine md5-based hash32
    (``functions/hashing.py``), so the oracle reproduces the sketch
    exactly; ties at the top-k boundary break on ascending token.
    """
    tb = cms_token_buckets(df, depth=depth, width=width)
    tb = tb.localCheckpoint(eager=False)
    # sketch build: one explode to (row, bucket), one partial-agg'd
    # shuffle whose output is <= depth*width rows — corpus-size-free
    cells = (
        cms_cell_increments(tb, depth=depth)
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    return cms_estimate_topk(tb, cells, depth=depth, k=k)


def cms_token_buckets(df: DataFrame, depth: int = 3, width: int = 1024) -> DataFrame:
    """Tokenize and bucket: ``(t, b0..b{depth-1})`` — one row per token
    OCCURRENCE, bucket per hash row from the cross-engine md5 hash32.
    Shared by the one-shot sketch build (:func:`cms_heavy_hitters`) and
    the streaming sketch maintenance (``stream_heavy_hitters_replay``),
    so both paths count the exact same cells."""
    from ...functions.hashing import hash32

    tok = df.select(F.explode(tokens(F.col(TEXT_COL))).alias("t"))
    buckets = [
        (hash32(F.concat(F.lit(f"{d}_"), F.col("t"))) % width)
        .cast("int")
        .alias(f"b{d}")
        for d in range(depth)
    ]
    return tok.select(F.col("t"), *buckets)


def cms_cell_increments(tb: DataFrame, depth: int = 3) -> DataFrame:
    """One ``(d, b)`` row per cell increment — the sketch's additive
    event stream. Grouping+counting these IS the sketch build; in the
    streaming form each micro-batch's increments flow into per-cell
    state instead (the CMS's cell-wise mergeability, used literally)."""
    return tb.select(
        F.posexplode(
            F.array(*[F.col(f"b{d}") for d in range(depth)])
        ).alias("d", "b")
    )


def cms_estimate_topk(
    tb: DataFrame, cells: DataFrame, depth: int = 3, k: int = 20
) -> DataFrame:
    """Estimate + top-k over a built sketch: per candidate token the
    estimate is the MIN of its ``depth`` cells (always >= truth); the
    tiny cell table broadcasts. ``cells`` must be ``(d, b, c)``."""
    cand = tb.distinct()
    est = cand
    for d in range(depth):
        cells_d = cells.filter(F.col("d") == d).select(
            F.col("b").alias(f"b{d}"), F.col("c").alias(f"c{d}")
        )
        est = est.join(F.broadcast(cells_d), f"b{d}")
    return (
        est.select(
            F.col("t").alias("token"),
            F.least(*[F.col(f"c{d}") for d in range(depth)]).alias("est_count"),
        )
        .orderBy(F.desc("est_count"), F.asc("token"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# unigram-LM subword segmentation (Kudo 2018, SentencePiece family)
# ---------------------------------------------------------------------------

UNI_MAX_WLEN = 8       # Viterbi unroll depth: words longer are excluded
UNI_MAX_PLEN = 4       # longest candidate piece
UNI_TOP_PIECES = 2048  # multi-char piece cap (all single chars retained)
UNI_SENT = -(10 ** 12) # integer sentinel for "piece not in vocabulary"


def _unigram_build(df: DataFrame):
    """Shared build for the unigram family. Returns a namespace with the
    word-type table, the raw window tables, the capped piece vocabulary,
    the round-1 scored windows and DP tables, and the reusable pieces
    (``score_windows``, ``dp``, ``pick``, ``mem_counts``) an EM round
    needs to re-score and re-segment. See unigram_segment_counts for
    the algorithm and scale notes."""
    from types import SimpleNamespace

    tok = F.explode(tokens(F.col(TEXT_COL))).alias("w")
    wt = (
        df.select(tok)
        .filter(
            F.col("w").rlike("^[a-z]+$")
            & (F.length("w") <= UNI_MAX_WLEN)
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    wt = wt.localCheckpoint(eager=False)  # feeds windows + both DPs

    win_expr = F.expr(
        "flatten(transform(sequence(1, length(w)), a -> "
        f"transform(sequence(a, least(length(w), a + {UNI_MAX_PLEN - 1})), "
        "b -> struct(a, b))))"
    )

    def windows(piece_expr: str) -> DataFrame:
        return (
            wt.select(
                "w", "freq", F.length("w").alias("L"),
                F.explode(win_expr).alias("ab"),
            )
            .select(
                "w", "freq", "L",
                F.col("ab.a").alias("a"), F.col("ab.b").alias("b"),
            )
            .withColumn("piece", F.expr(piece_expr))
        )

    fwd = windows("substring(w, a, b - a + 1)")
    fwd = fwd.localCheckpoint(eager=False)  # counts + scoring + member
    rwin = windows("reverse(substring(reverse(w), a, b - a + 1))")
    rwin = rwin.localCheckpoint(eager=False)
    cnts = fwd.groupBy("piece").agg(F.count(F.lit(1)).alias("c"))
    cnts = cnts.localCheckpoint(eager=False)
    singles = cnts.filter(F.length("piece") == 1)
    multis = (
        cnts.filter(F.length("piece") > 1)
        .orderBy(F.desc("c"), F.asc("piece"))
        .limit(UNI_TOP_PIECES)
    )
    keep = singles.unionByName(multis)
    keep = keep.localCheckpoint(eager=False)  # total + scores + EM vocab

    def scores_from(counts: DataFrame) -> DataFrame:
        """counts(piece, c) -> broadcast score table in micro-nats."""
        tot = counts.agg(F.sum("c").cast("long").alias("t"))
        sc = counts.crossJoin(F.broadcast(tot)).select(
            "piece",
            F.floor(
                F.lit(1_000_000.0) * F.log(F.col("c") / F.col("t"))
            )
            .cast("long")
            .alias("s6"),
        )
        return F.broadcast(sc.localCheckpoint(eager=False))

    def score_windows(sc: DataFrame) -> tuple[DataFrame, DataFrame]:
        def scored(wins: DataFrame) -> DataFrame:
            return wins.join(sc, "piece", "left").select(
                "w", "freq", "L", "a", "b", "piece",
                F.coalesce(F.col("s6"), F.lit(UNI_SENT)).alias("s6"),
            )

        sw = scored(fwd)
        return sw.localCheckpoint(eager=False), scored(rwin)

    def dp(wins: DataFrame, prefix: str) -> DataFrame:
        piv = wins.groupBy("w").agg(
            *[
                F.max(
                    F.when(
                        (F.col("a") == a) & (F.col("b") == b),
                        F.col("s6"),
                    )
                ).alias(f"s_{a}_{b}")
                for a in range(1, UNI_MAX_WLEN + 1)
                for b in range(
                    a, min(UNI_MAX_WLEN, a + UNI_MAX_PLEN - 1) + 1
                )
            ]
        )
        out = piv
        for i in range(1, UNI_MAX_WLEN + 1):
            terms = []
            for j in range(max(0, i - UNI_MAX_PLEN), i):
                fj = (
                    F.lit(0)
                    if j == 0
                    else F.col(f"{prefix}_{j}")
                )
                terms.append(
                    F.coalesce(
                        fj + F.col(f"s_{j + 1}_{i}"), F.lit(UNI_SENT)
                    )
                )
            out = out.withColumn(
                f"{prefix}_{i}",
                F.greatest(*terms) if len(terms) > 1 else terms[0],
            )
        return out.select(
            "w", *[f"{prefix}_{i}" for i in range(1, UNI_MAX_WLEN + 1)]
        )

    def pick(col_prefix: str, idx: Column) -> Column:
        expr = F.lit(UNI_SENT)
        for i in range(1, UNI_MAX_WLEN + 1):
            expr = F.when(
                idx == i, F.col(f"{col_prefix}_{i}")
            ).otherwise(expr)
        return F.when(idx == 0, F.lit(0)).otherwise(expr)

    def mem_counts(
        sw: DataFrame, dpf: DataFrame, dpr: DataFrame
    ) -> DataFrame:
        """Full on-optimal-path piece counts (the hard-EM E-step)."""
        mem = (
            sw.join(dpf, "w")
            .join(dpr, "w")
            .filter(
                (F.col("s6") > UNI_SENT)
                & (
                    pick("f", F.col("a") - 1)
                    + F.col("s6")
                    + pick("rf", F.col("L") - F.col("b"))
                    == pick("f", F.col("L"))
                )
            )
        )
        return mem.groupBy("piece").agg(
            F.sum("freq").cast("long").alias("cnt")
        )

    sw, rw = score_windows(scores_from(keep))
    dpf = dp(sw, "f")
    dpr = dp(rw, "rf")
    return SimpleNamespace(
        wt=wt, keep=keep, sw=sw, dpf=dpf, dpr=dpr,
        scores_from=scores_from, score_windows=score_windows,
        dp=dp, pick=pick, mem_counts=mem_counts,
    )


def unigram_segment_counts(df: DataFrame, k: int = 20) -> DataFrame:
    """Unigram-LM subword segmentation with on-optimal-path piece counts
    — the OTHER major subword algorithm next to BPE (SentencePiece's
    default): score candidate pieces by corpus substring statistics,
    Viterbi-segment every word under the piece log-probs, and count the
    pieces the optimal segmentations use (the hard-EM E-step readout).

    Spark-first shape (the bpe_train dictionary trick, pushed further):

    * ONE corpus scan builds the word-TYPE table; everything after is
      vocabulary-sized regardless of corpus size.
    * Candidate pieces = all substrings of length <= UNI_MAX_PLEN of the
      word types; the multi-char vocabulary is capped at UNI_TOP_PIECES
      (count DESC, piece ASC) and every single char is retained, so the
      score table is broadcast-BOUNDED by construction and every word
      stays segmentable.
    * Scores are fixed-pointed to integer micro-nats
      (floor(1e6 * ln(count/total))) BEFORE the DP, so Viterbi compares
      integers — no float max/argmax anywhere. (The ln itself is the
      one transcendental: both engines evaluate it on bit-identical
      rationals, so a flip needs a 1-ulp JVM-vs-libm difference landing
      exactly on a floor boundary — vanishingly unlikely, same stance
      as llm_weighted_sample.)
    * The Viterbi recurrence is UNROLLED into codegen'd integer column
      expressions: forward best f_1..f_8 and, on the reversed word,
      suffix best rf_1..rf_8 — no UDF, no recursion, no driver loop.
    * The M-step count avoids backtracking entirely: a piece occurrence
      [a, b] lies on SOME optimal segmentation iff
      f_{a-1} + s(piece) + rf_{L-b} == f_L — a pure filter over the
      window table joined to the two DP tables (all word-keyed,
      vocabulary-sized). Words with several optimal segmentations count
      every piece on ANY of them (deterministic, documented; ties are
      common under quantized scores).

    Scale dials, named: UNI_MAX_WLEN bounds the unroll (longer words are
    excluded here; production raises the unroll or pre-chunks rare long
    words), UNI_TOP_PIECES bounds the broadcast.
    """
    b = _unigram_build(df)
    return (
        b.mem_counts(b.sw, b.dpf, b.dpr)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(k)
    )


def unigram_corpus_nll(df: DataFrame) -> DataFrame:
    """Corpus negative log-likelihood under the unigram segmentation —
    the progress metric a tokenizer-training job monitors (the
    bpe_compression_curve readout for the unigram family): NLL6 =
    -sum over word types of freq * f_L, in integer micro-nats (f_L is
    already fixed-point, so the corpus sum is exact — no float
    accumulation). Also reports word-type count and the token total
    covered. Same vocabulary-sized machinery as
    unigram_segment_counts; one extra word-keyed join, one 1-row agg.
    """
    b = _unigram_build(df)
    per_word = (
        b.wt.select("w", "freq", F.length("w").alias("L"))
        .join(b.dpf, "w")
        .select("freq", b.pick("f", F.col("L")).alias("fl"))
    )
    return per_word.agg(
        F.count(F.lit(1)).cast("long").alias("n_word_types"),
        F.sum("freq").cast("long").alias("n_tokens"),
        (-F.sum(F.col("freq") * F.col("fl"))).cast("long").alias("nll6"),
    )


def unigram_em_counts(df: DataFrame, k: int = 20) -> DataFrame:
    """ONE full hard-EM round on top of the unigram segmentation — the
    M-step + re-segmentation that turns the substring-statistics
    initialization into actual unigram-LM training (Kudo 2018's loop,
    hard-assignment variant): round-1 optimal-path piece counts become
    the new piece probabilities (add-one smoothing over the SAME capped
    vocabulary, so never-used pieces stay segmentable and the broadcast
    stays bounded), every word is re-segmented under the new integer
    micro-nat scores, and the round-2 counts are read out next to
    round 1's. Returns the top-k pieces per round with a ``round``
    column — the trajectory readout, like llm_bpe_compression_curve.

    Everything reuses the round-1 build: the word-type table, the raw
    window tables, and the DP/membership machinery are built once; the
    EM round adds one vocabulary-sized count join, a re-broadcast of
    the score table, and a second unrolled DP — no new corpus scan.
    """
    b = _unigram_build(df)
    m1 = b.mem_counts(b.sw, b.dpf, b.dpr)
    m1 = m1.localCheckpoint(eager=False)  # readout + M-step
    c2 = (
        b.keep.select("piece")
        .join(m1, "piece", "left")
        .select(
            "piece",
            (F.coalesce(F.col("cnt"), F.lit(0)) + 1).alias("c"),
        )
    )
    sw2, rw2 = b.score_windows(b.scores_from(c2))
    m2 = b.mem_counts(sw2, b.dp(sw2, "f"), b.dp(rw2, "rf"))

    def top(m: DataFrame, rnd: int) -> DataFrame:
        return (
            m.orderBy(F.desc("cnt"), F.asc("piece"))
            .limit(k)
            .select(F.lit(rnd).alias("round"), "piece", "cnt")
        )

    return top(m1, 1).unionByName(top(m2, 2))


def bpe_fertility(df: DataFrame, rounds: int) -> DataFrame:
    """Tokenizer FERTILITY distribution — tokens-per-word after the
    learned BPE merges, the standard readout for comparing tokenizers
    (lower fertility = fewer pieces per word = cheaper training): for
    each piece count, how many word TYPES segment into that many pieces
    and how many corpus words they cover. Rides :func:`_bpe_loop`
    unchanged, so the readout is one vocabulary-sized aggregate over
    the final word-type encodings — no extra corpus pass."""
    _, wt = _bpe_loop(df, rounds)
    n_pieces = F.size(_bpe_pieces()).cast("long")
    return (
        wt.select(n_pieces.alias("n_pieces"), "freq")
        .groupBy("n_pieces")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_word_types"),
            F.sum("freq").cast("long").alias("corpus_words"),
        )
        .orderBy("n_pieces")
    )
