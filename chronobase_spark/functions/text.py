"""Text analysis over the ``documents`` table (SURVEY.md §2.4).

Everything is native Spark SQL expressions (split / transform /
aggregate / regexp) so the token pipeline stays inside whole-stage
codegen — at 100 TB of text, a row-at-a-time Python UDF here would be
the single dominant cost.

The corpus' ``text`` is whitespace-separated tokens (FIXTURES.md), so
tokenization is a split; the regexes also handle general punctuation so
the same functions survive real text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from chronobase_spark.functions.packing import md5_u16
from chronobase_spark.plans.barrier import barrier

# Tiny English stopword list for quality scoring (public knowledge).
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens(text: Column) -> Column:
    """Whitespace tokenization after lowercase + punctuation strip.

    ONE regex pass (r18): split directly on runs of non-alphanumerics.
    The maximal [a-z0-9] runs this yields are exactly the tokens the
    old two-pass form (replace [^a-z0-9\\s] with space, trim, split on
    \\s+) produced — any non-alphanumeric character acts as a separator
    either way, and leading/trailing separators only contribute empty
    strings, which the filter drops. Bit-identical over every sf
    documents table and an adversarial literal frame (NULL, empty,
    punctuation-only, unicode whitespace, tabs/newlines — 0 mismatches,
    OPTIMIZATION_r18.md family K; tests/test_dedup.py keeps that frame
    as a regression check); the saved
    regexp_replace is one fewer full pass over every text byte in the
    corpus (interleaved A/B: the shingle map stage −29%)."""
    return F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != F.lit(""))


def with_tokens(text: Column, fn) -> Column:
    """Evaluate ``fn(toks)`` with the token array bound to a lambda
    variable (single-element ``transform`` as the expression-level
    "let"), so tokenization runs exactly once no matter how many times
    ``fn`` references it. Referencing the Python-side ``tokens(text)``
    column object N times re-evaluates the regex+split pipeline N times
    per row — Catalyst inlines projections into higher-order-function
    lambdas and does not CSE across them (see dedup/ngram.py)."""
    return F.get(F.transform(F.array(tokens(text)), fn), 0)


def token_count(text: Column) -> Column:
    """Number of tokens."""
    return F.size(tokens(text))


def _stop_count(tk: Column) -> Column:
    return F.size(F.filter(tk, lambda t: t.isin(*STOPWORDS)))


def bigram_dup_stats(text: Column) -> Column:
    """struct(n_grams, n_distinct_grams) over NON-distinct word bigrams —
    the Gopher-style repetition signal (a high duplicate-bigram fraction
    marks boilerplate/spam; see the public Gopher/MassiveText filtering
    rules). Pure expression: linear in tokens, stays in codegen."""

    def stats(tk: Column) -> Column:
        n = F.greatest(F.size(tk) - 1, F.lit(0))
        grams = F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.concat_ws(" ", F.get(tk, i), F.get(tk, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.struct(
            F.size(grams).cast("bigint").alias("n_grams"),
            F.size(F.array_distinct(grams)).cast("bigint").alias("n_distinct_grams"),
        )

    return with_tokens(text, stats)


def top_token_stats(text: Column) -> Column:
    """struct(n_tok, top_c): total token instances and the highest
    single-token multiplicity (the Gopher top-token-fraction signal) as
    a MAP-ONLY expression — max run length over the sorted token array
    in one fold. r17 optimization (guide §2.2, remove shuffles
    outright): this replaces the explode → groupBy(doc, tok) →
    groupBy(doc) → join-back chain that shuffled EVERY token instance
    of the corpus twice; max multiplicity of a token equals the longest
    equal-run in the sorted array, so the values are identical by
    construction. One tokenization (with_tokens let-binding), one
    JVM-native array_sort, one O(n)-lambda fold. NULL/empty text folds
    to (0, 0) — callers gate on n_tok > 0 exactly as the join-NULL
    path did before."""

    def stats(tk: Column) -> Column:
        s = F.array_sort(tk)
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        )

        def step(acc: Column, t: Column) -> Column:
            run = F.when(
                acc["prev"].isNotNull() & (t == acc["prev"]), acc["run"] + 1
            ).otherwise(F.lit(1).cast("bigint"))
            return F.struct(
                t.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        best = F.aggregate(s, init, step, lambda acc: acc["best"])
        # per-field coalesce: a NULL text tokenizes to a NULL array,
        # which flows to NULL size/fold results INSIDE a non-NULL
        # struct — coalescing the struct itself would never fire
        return F.struct(
            F.coalesce(F.size(tk).cast("bigint"), F.lit(0).cast("bigint")).alias(
                "n_tok"
            ),
            F.coalesce(best, F.lit(0).cast("bigint")).alias("top_c"),
        )

    return with_tokens(text, stats)


def token_features(text: Column) -> Column:
    """struct(n_tokens, n_distinct, stop_ratio) from ONE tokenization
    pass — the bundled form for quality pipelines that need several
    token statistics per document."""
    return with_tokens(
        text,
        lambda tk: F.struct(
            F.size(tk).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(tk)).cast("bigint").alias("n_distinct"),
            F.round(
                _stop_count(tk).cast("double")
                / F.greatest(F.size(tk), F.lit(1)).cast("double"),
                6,
            ).alias("stop_ratio"),
        ),
    )


def lang_id(text: Column) -> Column:
    """Heuristic language ID via stopword/character evidence — returns a
    best-guess code from a fixed candidate set, 'unk' when no evidence.
    A real pipeline would use a trained n-gram model; this is the
    deterministic, dependency-free heuristic variant (the corpus text is
    synthetic English-like tokens, so this mostly exercises plumbing)."""
    markers = {
        "en": ("the", "and", "of", "to"),
        "es": ("el", "la", "de", "que"),
        "fr": ("le", "la", "et", "les"),
        "de": ("der", "die", "und", "das"),
        "zh": (),  # CJK detected by codepoint below
    }
    def best_of(tk: Column) -> Column:
        scores = []
        for lang, words in markers.items():
            if words:
                s = F.size(F.filter(tk, lambda t: t.isin(*words)))
            else:
                s = F.when(text.rlike(r"[一-鿿]"), F.lit(1000)).otherwise(F.lit(0))
            scores.append(F.struct(s.alias("score"), F.lit(lang).alias("lang")))
        return F.array_max(F.array(*scores))

    # nested let: bind the winning struct too, so neither the token array
    # nor the argmax struct is evaluated more than once per row
    return with_tokens(
        text,
        lambda tk: F.get(
            F.transform(
                F.array(best_of(tk)),
                lambda b: F.when(b["score"] > 0, b["lang"]).otherwise(F.lit("unk")),
            ),
            0,
        ),
    )


def tfidf_top_terms(docs, k: int = 3):
    """Top-k TF-IDF terms per document, with a linear (un-logged) IDF
    ``N/df`` — integer-ratio double arithmetic, so Spark and the SQL
    oracle produce bit-identical scores (``ln`` could differ in the last
    ulp between engines). Plan: one explode + two hash aggregations
    (both map-side partial), a broadcast join of the vocabulary-sized
    document-frequency table, and one windowed top-k. At 100 TB the
    vocabulary ≪ corpus, so the broadcast holds; nothing is quadratic."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.col("text")), " +")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double") * F.col("n_docs") / F.col("df_docs"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "term", "tf", "score")
    )


def char_entropy(text: Column) -> Column:
    """Per-document Shannon entropy (nats) of the character
    distribution — the classic cheap gibberish/boilerplate signal
    (near-zero for `aaaa...` spam, anomalously high for base64/binary
    junk; used alongside the Gopher-style token rules in public
    training-data pipelines).

    Cross-engine exactness: floating-point addition is not
    associative, so a groupBy-then-sum would hash-differ between
    engines on summation order. Instead the per-char counts are folded
    IN SORTED CHARACTER ORDER inside one expression (the "identical
    sequential fold" rule this module's float ops follow), so both
    engines evaluate bit-identical operand sequences; the result is
    emitted as integer micro-nats (multiply-then-round, FIXTURES.md
    quantization rule). Map-only: no shuffle, linear in doc
    length × alphabet size, stays in codegen.
    """
    cs = F.filter(F.split(text, ""), lambda c: c != F.lit(""))

    def ent(chars: Column) -> Column:
        # r17 optimization (guide §4: per-row work): per-char counts via
        # run-length encoding over ONE sorted array instead of one
        # filter-scan per distinct char — the old form evaluated
        # |distinct| × |chars| interpreted HOF lambdas per document
        # (~37k for a 1 KB doc); this form is sort + ~|chars| + 2·|distinct|
        # lambda evaluations (measured 3.4× on the map stage). The VALUES
        # are bit-identical: run lengths over the sorted array ARE the
        # per-char counts, emitted in ascending char order — exactly the
        # array_sort(array_distinct(...)) fold order the docstring's
        # cross-engine exactness rule requires — and the c·ln(c) fold
        # below is unchanged.
        # F.get (0-based) everywhere, never element_at: ANSI mode (the
        # Spark 4 default) makes out-of-range element_at THROW, and the
        # last run's lookahead is deliberately out of range. The bounds
        # array is itself bound via the expression-level "let" before
        # the lookahead transform references it twice — a bare Python
        # reference re-evaluates the whole O(n) boundary filter PER
        # ELEMENT (the module's documented no-CSE-across-HOF-lambdas
        # trap; measured 6× slower than the scan it replaced).
        def rle_counts(sorted_chars: Column) -> Column:
            n_ = F.size(sorted_chars)

            def from_bounds(bounds: Column) -> Column:
                return F.transform(
                    bounds,
                    lambda b, j: F.coalesce(F.get(bounds, j + 1), n_ + 1) - b,
                )

            bounds_expr = F.filter(
                F.sequence(F.lit(1), n_),
                lambda i: (i == 1)
                | (
                    F.get(sorted_chars, i - 1)
                    != F.get(sorted_chars, i - 2)
                ),
            )
            return F.get(F.transform(F.array(bounds_expr), from_bounds), 0)

        counts = F.when(
            F.size(chars) > 0,
            F.get(F.transform(F.array(F.array_sort(chars)), rle_counts), 0),
        ).otherwise(F.array().cast("array<int>"))
        n = F.size(chars).cast("double")
        s = F.aggregate(
            counts,
            F.lit(0.0),
            lambda acc, c: acc + c.cast("double") * F.log(c.cast("double")),
        )
        return F.when(
            n > 0,
            F.round((F.log(n) - s / n) * F.lit(1000000.0), 0).cast("bigint"),
        )

    # bind the char array once (the expression-level "let" — see
    # with_tokens) so split+filter runs once, not once per reference
    return F.get(F.transform(F.array(cs), ent), 0)


def bm25_scores(docs):
    """Per-(document, term) BM25 scores (Robertson/Spärck Jones BM25
    with the Lucene-style non-negative idf ``ln(1 + (N − df + 0.5)/(df
    + 0.5))``) — the ranking-function upgrade over tf-idf and the
    lexical scorer behind bm25_top_terms and the hybrid-retrieval
    fusion (functions/retrieval.py).

    Plan shape (same scale posture as tfidf_top_terms): one explode +
    two map-side-partial hash aggregations; the vocabulary-sized df
    table broadcasts; the per-doc length table joins on the id key
    (corpus-sized → shuffle_hash, never broadcast); N and avgdl are a
    1-row broadcast.

    Cross-engine exactness: tf/df/dl are integers, avgdl is one double
    division of exact integers, and the score expression tree is
    written identically in the SQL oracle (same literals, same
    association), so the only transcendental is ``ln`` over identical
    doubles; the score is emitted as integer micro-units
    (multiply-then-round, FIXTURES.md quantization rule) so any
    downstream ranking compares identically on both engines. Returns
    (doc_id, term, tf, score_micro).
    """
    k1, b = 1.2, 0.75
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.col("text")), " +")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    consts = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - F.col("df_docs") + F.lit(0.5))
        / (F.col("df_docs") + F.lit(0.5))
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
    )
    score = F.round(
        idf * (F.col("tf") * F.lit(k1 + 1.0)) / norm * F.lit(1000000.0), 0
    ).cast("bigint")
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl.hint("shuffle_hash"), "doc_id")
        .crossJoin(F.broadcast(consts))
        .select("doc_id", "term", "tf", score.alias("score_micro"))
    )


def bm25_top_terms(docs, k: int = 3):
    """Top-k BM25 terms per document — windowed top-k over
    ``bm25_scores``, partitioned by document (never global)."""
    from pyspark.sql import Window

    scored = bm25_scores(docs)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "term", "tf", "score_micro")
    )


def inverted_index(docs, max_postings: int = 100):
    """Inverted-index build: one row per distinct term with its document
    frequency and a bounded, sorted posting list (the ``max_postings``
    lowest doc ids) — the retrieval-side complement of the posting-list
    pruning the near-dup pipelines use internally (dedup/ngram.py).

    Scale shape: explode distinct per-doc terms, ONE shuffle on term for
    a row_number window, then an aggregate that reuses the window's
    partitioning (no second exchange). df counts every posting, but
    collect_list only sees rows the rank filter kept, so aggregation
    state is bounded by ``max_postings`` per term no matter how hot the
    term — an unbounded collect_list over a stopword's postings is the
    100 TB failure mode this avoids.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("term"),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    ranked = toks.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(
            F.collect_list(F.when(F.col("rn") <= max_postings, F.col("doc_id")))
        ).alias("postings"),
    )


def bigram_lm_scores(docs):
    """Per-document log-probability under an add-one-smoothed bigram
    language model trained on the corpus itself — the classic
    perplexity-style quality signal LLM data pipelines use to rank
    documents against an in-domain reference distribution (Chen &
    Goodman 1996 smoothing family; the same shape CCNet/KenLM filtering
    uses, here with the corpus as its own LM).

    Model: P(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V), with V the
    corpus unigram vocabulary size. A document scores
    Σ over its bigram instances of ln P(w2 | w1).

    Plan shape (all partial-agged hash aggregates):
      1. per-doc bigram term frequencies (one shuffle on (doc, gram) —
         collapses repeated grams so the LM join below is per gram
         TYPE per doc, not per instance);
      2. corpus bigram counts c12 and left-context counts c1 (gram-type
         sized, shuffled on the gram/word keys);
      3. V as a 1-row broadcast;
      4. doc grams ⋈ LM table on the gram key — corpus-sized both
         sides → shuffle_hash, never broadcast. Hot grams ("the X")
         skew this key; AQE skew-join splits them, and the TF collapse
         in (1) already bounds the per-doc fan-in;
      5. one final groupBy(doc) integer sum.

    Cross-engine exactness: c12/c1/V/tf are integers; each gram's
    ln((c12+1)/(c1+V)) term is quantized to integer micro-nats
    (multiply-round-cast, FIXTURES.md rule) BEFORE the weighted sum,
    so the per-doc total is an exact integer sum in any order — the
    ln() is the only transcendental and both engines evaluate it on
    identical exact doubles. Returns (doc_id, n_grams, logprob_micro);
    docs with fewer than two tokens have no bigrams and no row, on
    both engines (explode/unnest of an empty gram list).
    """
    # persist the per-doc TF table: it feeds the corpus gram counts AND
    # the score join, and without materialization each branch re-scans
    # and re-explodes the whole corpus (measured 8 parquet scans in the
    # diamond DAG; the dup_clusters edge persist is the same pattern)
    doc_grams = _doc_bigram_tf(docs).persist()
    gram_counts = doc_grams.groupBy("gram").agg(F.sum("tf").alias("c12"))
    lm = _lm_from_gram_counts(gram_counts, _lm_vocab(gram_counts, docs))
    return (
        doc_grams.join(lm.hint("shuffle_hash"), "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_grams"),
            F.sum(F.col("tf") * F.col("term_micro")).alias("logprob_micro"),
        )
    )


def kn_bigram_scores(docs):
    """Per-document log-probability under an interpolated Kneser-Ney
    bigram LM trained on the corpus itself — the smoothing that
    actually wins LM-quality filtering shootouts (Chen & Goodman 1999:
    KN dominates add-one/Katz across corpora), next to the suite's
    add-one model (`bigram_lm_scores`) so the two rank signals can be
    compared on the same grams.

    Model (absolute discount d = 0.5, a power-of-two so the discount
    is float-exact):

        P(w2|w1) = (c(w1w2) − d)/c(w1·)
                 + (d · N1+(w1·)/c(w1·)) · N1+(·w2)/N_bigram_types

    where N1+(w1·) is the distinct-continuation count of w1 and
    N1+(·w2) the distinct-context count of w2 (the continuation
    probability that makes "Francisco" unlikely outside "San" even
    though its raw unigram count is high). Scoring the training corpus
    itself, every scored gram has c12 ≥ 1, so the discounted term is
    strictly positive and no unseen back-off path exists here (the
    streaming LM stage owns that case for the add-one model).

    Cross-engine exactness: all five counts are exact BIGINTs; the
    probability is assembled with an explicitly parenthesized,
    identical cast/op tree on both engines (IEEE ops on identical
    doubles are deterministic), quantized to integer micro-nats before
    the tf-weighted per-doc sum — order-free integer totals, the
    bigram-LM pattern. Plan: the shared per-doc TF table (persisted —
    it feeds the corpus counts AND the score join), THREE vocab-
    bounded aggregates (context, continuation, 1-row type total), two
    word-keyed shuffle_hash joins to assemble the LM, one gram-keyed
    shuffle_hash score join (AQE-skew territory, fan-in bounded by the
    TF collapse), one final per-doc integer sum."""
    doc_grams = _doc_bigram_tf(docs).persist()
    gc = doc_grams.groupBy("gram").agg(F.sum("tf").alias("c12"))
    lm, _ctx, _cont, _tot = _kn_tables(gc)
    return (
        doc_grams.join(lm.hint("shuffle_hash"), "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_grams"),
            F.sum(F.col("tf") * F.col("term_micro"))
            .cast("bigint")
            .alias("kn_logprob_micro"),
        )
    )


def _kn_tables(gram_counts):
    """The frozen-KN model tables from a (gram, c12) corpus count:
    lm(gram, term_micro) for seen grams, ctx(w1, c1, n1) and
    cont(w2, ncont) for the unseen-gram back-off ladder, and the 1-row
    n_types total. ONE definition shared by the batch scorer and the
    streaming model builder so their term trees can never drift."""
    gs = gram_counts.select(
        "gram",
        "c12",
        F.substring_index("gram", " ", 1).alias("w1"),
        F.substring_index("gram", " ", -1).alias("w2"),
    )
    ctx = gs.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1"),
    )
    cont = gs.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("ncont")
    )
    tot = gs.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    term = (
        F.round(
            F.log(
                (F.col("c12").cast("double") - F.lit(0.5))
                / F.col("c1").cast("double")
                + (
                    (F.lit(0.5) * F.col("n1").cast("double"))
                    / F.col("c1").cast("double")
                )
                * (
                    F.col("ncont").cast("double")
                    / F.col("n_types").cast("double")
                )
            )
            * F.lit(1000000.0),
            0,
        ).cast("bigint")
    )
    lm = (
        gs.join(ctx.hint("shuffle_hash"), "w1")
        .join(cont.hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(tot))
        .select("gram", term.alias("term_micro"))
    )
    return lm, ctx, cont, tot


def kn_bigram_model(docs):
    """Train the frozen KN model for in-stream scoring
    (streaming/docs.kn_score_stage): returns (lm, ctx, cont, n_types)
    where lm/ctx/cont are the _kn_tables DataFrames and n_types is a
    Python int (one 1-row collect — a frozen model constant, the
    bigram_lm_model V pattern)."""
    gc = (
        _doc_bigram_tf(docs)
        .groupBy("gram")
        .agg(F.sum("tf").alias("c12"))
    )
    lm, ctx, cont, tot = _kn_tables(gc)
    n_types = tot.collect()[0]["n_types"]
    return lm, ctx, cont, int(n_types)


def space_distinct_tokens(text: Column) -> Column:
    """Distinct space-split token count (trim + lower, empties dropped)
    — the repo's "lexical diversity" quality signal, shared by the
    dynamic-threshold filter, the importance-weighted sampler, and the
    signal-correlation diagnostic so the three can never drift apart
    (each pairs with the IDENTICAL expression in its SQL oracle)."""
    return F.size(
        F.array_distinct(
            F.filter(
                F.split(F.trim(F.lower(text)), " "),
                lambda t: t != F.lit(""),
            )
        )
    )


def diversity_keep(id_col: Column, text: Column) -> tuple[Column, Column]:
    """(n_distinct, keep): importance-weighted thinning, keep
    probability p = min(distinct tokens, 64)/64, decided by the pure
    BIGINT cross-multiplication ``bucket·64 < min(d,64)·65536`` on the
    content-free md5 16-bit id bucket — one definition for the batch
    ``quality_weighted_sample`` and the streaming
    ``weighted_sample_stage``, so their per-row flags are identical.
    NULL text counts as '' (n_distinct 0 ⇒ keep false)."""
    n_distinct = space_distinct_tokens(F.coalesce(text, F.lit(""))).cast("bigint")
    keep = md5_u16(id_col) * 64 < F.least(n_distinct, F.lit(64)) * 65536
    return n_distinct, keep


def lm_tokens(text_col: Column) -> Column:
    """The bigram-LM tokenization: plain space split of trimmed
    lowercase (NULL text coalesced to empty). One definition shared by
    the batch trainer/scorer and the streaming scoring stage so their
    gram vocabularies can never drift."""
    return F.filter(
        F.split(F.trim(F.lower(F.coalesce(text_col, F.lit("")))), " "),
        lambda t: t != F.lit(""),
    )


def lm_grams(text_col: Column) -> Column:
    """Per-row array of adjacent word bigrams ("w1 w2" strings) under
    ``lm_tokens`` — a pure codegen-able expression (no explode), so the
    streaming stage can build grams statelessly per arriving row with
    the IDENTICAL definition the batch trainer uses. The left context
    w1 is recoverable from the gram itself (tokens contain no spaces,
    so ``substring_index(gram, ' ', 1)`` is exact) — no struct needed.

    The token array is bound ONCE via the with_tokens-style
    expression-level "let": referencing the trim+lower+split+filter
    pipeline inside the per-index lambda re-evaluates it for EVERY
    element access (Catalyst inlines into HOF lambdas and never CSEs
    across them — the documented 30x trap), turning gram construction
    O(len^2) per document; measured 6.9 s -> 1.7 s for the corpus
    gram count at sf0.1."""

    def grams(tk: Column) -> Column:
        n = F.greatest(F.size(tk) - 1, F.lit(0))
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.concat_ws(" ", F.get(tk, i), F.get(tk, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.get(F.transform(F.array(lm_tokens(text_col)), grams), 0)


def _doc_bigram_tf(docs):
    """(id, gram, tf): per-document bigram term frequencies — one
    shuffle on (id, gram), collapsing repeated grams so downstream LM
    joins are per gram TYPE per doc, not per instance.

    Input spread (catalog.spread — identity at scale): the tokenize +
    gram-assembly explode serializes on an unsplittable scan
    (interleaved A/B at sf0.1: 0.58 s → 0.20 s, r17,
    OPTIMIZATION_r17.md family D)."""
    from chronobase_spark.catalog import spread

    docs = spread(docs, key="doc_id")
    # NO pre-filter here (r18, measured): the explode's generator input
    # is the inline gram EXPRESSION, not an aliased column, and Spark 4
    # infers no generate filter for that shape — the gram tree already
    # evaluates exactly once per row (plan-verified). An experimental
    # `size(lm_tokens) >= 2` pre-filter was pushed below the spread
    # Exchange onto the unsplittable single-task scan and ADDED a
    # serialized corpus tokenize pass: interleaved A/B read +10-13% on
    # all three LM queries — reverted (guide §1: measure, don't assume).
    return (
        docs.select(
            F.col("doc_id"), F.explode(lm_grams(F.col("text"))).alias("gram")
        )
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _lm_vocab(gram_counts, docs):
    """1-row corpus unigram vocabulary size — the add-one denominator's
    V, counting tokens from ALL docs including single-token docs that
    produce no bigrams — WITHOUT a second corpus-wide token explode.

    Identity: every token of a doc is the left context w1 of some
    bigram EXCEPT the doc's last token, so
    vocab = {w1 over gram TYPES} ∪ {last token per doc}
    (a single-token doc's only token IS its last token; empty/NULL
    docs contribute nothing). The w1 side reads the already-aggregated
    gram-type table (bounded by distinct bigrams, not token
    instances); the last-token side is one map-only F.get per row
    (0-based, NULL-safe out of range — ANSI element_at(-1) would throw
    on empty docs). This replaces the full token-instance explode +
    distinct shuffle the derivation used to pay — the explode was the
    redundant second corpus pass in the suite's slowest query
    (q_bigram_lm_logprob r9 bench 6.5 s)."""
    tk = lm_tokens(F.col("text"))
    # barrier: the isNotNull used to inline the tokenize + get
    # tree and re-run it as the pushed predicate (2 tokenize per row on
    # the scan side); behind the Generate it reads the attribute.
    last = (
        barrier(docs, t=F.get(tk, F.size(tk) - 1))
        .where(F.col("t").isNotNull())
        .select("t")
    )
    w1s = gram_counts.select(F.substring_index("gram", " ", 1).alias("t"))
    return w1s.unionByName(last).agg(F.countDistinct("t").alias("v"))


def _lm_from_gram_counts(gram_counts, vocab):
    """(gram, term_micro) from a (gram, c12) corpus count table: derive
    the left context with substring_index, aggregate the c1 row sums,
    and quantize each ln-term to integer micro-nats."""
    gc = gram_counts.withColumn("w1", F.substring_index("gram", " ", 1))
    left_counts = gc.groupBy(F.col("w1").alias("lw1")).agg(
        F.sum("c12").alias("c1")
    )
    return (
        gc.join(left_counts.hint("shuffle_hash"), gc.w1 == left_counts.lw1)
        .crossJoin(F.broadcast(vocab))
        .select(
            "gram",
            F.round(
                F.log(
                    (F.col("c12").cast("double") + F.lit(1.0))
                    / (F.col("c1").cast("double") + F.col("v").cast("double"))
                )
                * F.lit(1000000.0),
                0,
            )
            .cast("bigint")
            .alias("term_micro"),
        )
    )


def bigram_lm_model(docs):
    """The FULL frozen model for out-of-corpus scoring: (lm, left, v)
    — the (gram, term_micro) table, the (w1, c1) left-context count
    table (what add-one smoothing needs to score an UNSEEN gram in a
    seen context: P = 1/(c1+V), which ln(1/V) alone overestimates for
    every seen context — r7 review finding), and the vocabulary size
    as a driver-side int (one scalar collect at train time, the
    dup_clusters convergence-scalar precedent)."""
    gram_counts = (
        docs.select(F.explode(lm_grams(F.col("text"))).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    vocab = _lm_vocab(gram_counts, docs)
    lm = _lm_from_gram_counts(gram_counts, vocab)
    left = (
        gram_counts.withColumn("w1", F.substring_index("gram", " ", 1))
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    v = int(vocab.collect()[0][0])
    return lm, left, v


def lm_trigrams(text_col: Column) -> Column:
    """Per-row array of adjacent word trigrams ("w1 w2 w3" strings)
    under ``lm_tokens`` — the 3-gram sibling of ``lm_grams``, sharing
    its expression-level token "let" (Catalyst never CSEs across HOF
    lambdas — the documented 30x trap) and its no-explode purity so the
    streaming scorer can reuse the identical definition."""

    def grams(tk: Column) -> Column:
        n = F.greatest(F.size(tk) - 2, F.lit(0))
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.concat_ws(
                    " ", F.get(tk, i), F.get(tk, i + 1), F.get(tk, i + 2)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.get(F.transform(F.array(lm_tokens(text_col)), grams), 0)


def _doc_trigram_tf(docs):
    """(id, gram, tf): per-document trigram term frequencies — the
    _doc_bigram_tf shape one order up (incl. its r17 input spread)."""
    from chronobase_spark.catalog import spread

    docs = spread(docs, key="doc_id")
    # no pre-filter — the _doc_bigram_tf r18 measurement one order up
    # (no inferred filter exists for the inline-expression explode; an
    # added pre-filter serialized an extra tokenize below the spread
    # Exchange and measured WORSE).
    return (
        docs.select(
            F.col("doc_id"), F.explode(lm_trigrams(F.col("text"))).alias("gram")
        )
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


# Jelinek-Mercer interpolation weights: exact binary fractions
# (1/2, 3/8, 1/8) so the lambda multiplies are float-exact on both
# engines; they sum to 1.
JM_L3, JM_L2, JM_L1 = 0.5, 0.375, 0.125


def _jm_marginals(tri_counts, docs):
    """The bigram and unigram corpus marginals the JM trigram mixture
    needs, derived WITHOUT a second or third corpus-wide explode — the
    _lm_vocab identity one order up:

    * every bigram instance of a doc is the SUFFIX of some trigram
      instance except the doc's first bigram, so
      c(b1 b2) = Σ_trigram c123·[suffix = b1 b2] + Σ_docs [first
      bigram = b1 b2] (a 2-token doc's only bigram IS its first);
    * every token instance is the w3 of some trigram instance except
      the doc's first two tokens, so
      c(w) = Σ_trigram c123·[w3 = w] + Σ_docs ([t0 = w] + [t1 = w]);
    * N = Σ_docs len(tokens) — a map-only 1-row sum.

    The suffix sides read the already-aggregated trigram-type table
    (vocab-bounded); the correction sides are map-only F.get
    projections per doc. Returns (bi, uni, n_tok) where bi = (b, c23,
    c2p) keyed by the bigram STRING (tokens contain no spaces, so
    substring_index round-trips exactly), uni = (w, c3), n_tok a 1-row
    (n) DataFrame."""
    tk = lm_tokens(F.col("text"))
    suffix_b = tri_counts.select(
        F.substring_index("gram", " ", -2).alias("b"),
        F.col("c123").alias("cnt"),
    )
    # barrier on both correction sides (r18): the isNotNull
    # predicates (and the bc join's inferred substring_index notnull)
    # used to inline the first-gram when-trees and re-tokenize every
    # doc up to 3× in the pushed Filter (the 663-char conditions in
    # the committed r17/r18-before plans); behind the Generate the
    # predicates read the materialized attribute.
    first_b = (
        barrier(
            docs,
            b=F.when(
                F.size(tk) >= 2,
                F.concat_ws(" ", F.get(tk, 0), F.get(tk, 1)),
            ),
        )
        .where(F.col("b").isNotNull())
        .select("b", F.lit(1).alias("cnt"))
    )
    bc = (
        suffix_b.unionByName(first_b)
        .groupBy("b")
        .agg(F.sum("cnt").cast("bigint").alias("c23"))
    )
    b1c = (
        bc.withColumn("b1", F.substring_index("b", " ", 1))
        .groupBy("b1")
        .agg(F.sum("c23").cast("bigint").alias("c2p"))
    )
    bi = (
        bc.withColumn("b1", F.substring_index("b", " ", 1))
        .join(b1c.hint("shuffle_hash"), "b1")
        .select("b", "c23", "c2p")
    )
    suffix_w = tri_counts.select(
        F.substring_index("gram", " ", -1).alias("w"),
        F.col("c123").alias("cnt"),
    )
    first_w = (
        barrier(
            docs,
            _w2=F.filter(
                F.array(F.get(tk, 0), F.get(tk, 1)),
                lambda t: t.isNotNull(),
            ),
        )
        .select(F.explode("_w2").alias("w"))
        .select("w", F.lit(1).alias("cnt"))
    )
    uni = (
        suffix_w.unionByName(first_w)
        .groupBy("w")
        .agg(F.sum("cnt").cast("bigint").alias("c3"))
    )
    n_tok = docs.select(F.size(tk).alias("n")).agg(
        F.sum(F.when(F.col("n") > 0, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n")
    )
    return bi, uni, n_tok


def _jm_tables(tri_counts, docs):
    """(lm, bi, uni, n_tok) from a (gram, c123) trigram count table:
    lm = (gram, term_micro) for seen trigrams under the JM mixture

        P(w3|w1 w2) = λ3·c123/c12p + λ2·c23/c2p + λ1·c3/N

    with each level a proper ML conditional (c12p = the trigram-prefix
    context sum, c2p = the bigram-context sum, N = token instances).
    Scoring the training corpus itself every component count is ≥ 1,
    so ln is finite with no back-off path (the streaming stage owns
    unseen grams). Each gram's ln-term is quantized to integer
    micro-nats on an explicitly parenthesized op tree — (λ·cnum)/cden
    per level, three levels summed left-to-right — identical in the
    SQL oracle. ONE definition shared by the batch scorer and the
    streaming model builder so the term trees can never drift."""
    gs = tri_counts.select(
        "gram",
        "c123",
        F.substring_index("gram", " ", 2).alias("w12"),
        F.substring_index("gram", " ", -2).alias("w23"),
        F.substring_index("gram", " ", -1).alias("w3"),
    )
    pc = gs.groupBy("w12").agg(F.sum("c123").cast("bigint").alias("c12p"))
    bi, uni, n_tok = _jm_marginals(tri_counts, docs)
    term = (
        F.round(
            F.log(
                (F.lit(JM_L3) * F.col("c123").cast("double"))
                / F.col("c12p").cast("double")
                + (F.lit(JM_L2) * F.col("c23").cast("double"))
                / F.col("c2p").cast("double")
                + (F.lit(JM_L1) * F.col("c3").cast("double"))
                / F.col("n").cast("double")
            )
            * F.lit(1000000.0),
            0,
        ).cast("bigint")
    )
    lm = (
        gs.join(pc.hint("shuffle_hash"), "w12")
        .join(bi.hint("shuffle_hash"), gs.w23 == bi.b)
        .join(uni.hint("shuffle_hash"), gs.w3 == uni.w)
        .crossJoin(F.broadcast(n_tok))
        .select("gram", term.alias("term_micro"))
    )
    return lm, bi, uni, n_tok


def jm_trigram_scores(docs):
    """Per-document log-probability under a Jelinek-Mercer interpolated
    TRIGRAM LM trained on the corpus itself — the third smoother in
    the LM-quality family (add-one bigram, Kneser-Ney bigram, JM
    trigram), extending the ranking signal to second-order context
    (Jelinek & Mercer 1980; Chen & Goodman 1999's JM baseline).

    Plan: the shared per-doc trigram TF table persists (it feeds the
    corpus counts AND the score join — the bigram family's measured
    diamond-DAG pattern); all lower-order marginals derive from the
    trigram-type table plus map-only edge corrections (_jm_marginals —
    no second corpus explode); LM assembly is three vocab-bounded
    shuffle_hash joins + a 1-row broadcast; scoring is one gram-keyed
    shuffle_hash join and a final per-doc integer sum. Returns
    (doc_id, n_grams, jm_logprob_micro); docs with fewer than three
    tokens have no trigrams and no row, on both engines."""
    doc_tris = _doc_trigram_tf(docs).persist()
    tri_counts = doc_tris.groupBy("gram").agg(
        F.sum("tf").cast("bigint").alias("c123")
    )
    lm, _bi, _uni, _n = _jm_tables(tri_counts, docs)
    return (
        doc_tris.join(lm.hint("shuffle_hash"), "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_grams"),
            F.sum(F.col("tf") * F.col("term_micro"))
            .cast("bigint")
            .alias("jm_logprob_micro"),
        )
    )


def jm_trigram_model(docs):
    """Train the frozen JM trigram model for in-stream scoring
    (streaming/docs.jm_score_stage): returns (lm, bi, uni, n_tokens)
    where lm/bi/uni are the _jm_tables DataFrames and n_tokens is a
    Python int (one 1-row collect — a frozen model constant, the
    bigram_lm_model V pattern)."""
    tri_counts = (
        docs.select(F.explode(lm_trigrams(F.col("text"))).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c123"))
    )
    lm, bi, uni, n_tok = _jm_tables(tri_counts, docs)
    n = int(n_tok.collect()[0]["n"])
    return lm, bi, uni, n


# Hashed n-gram feature space for DSIR importance resampling: 3 hex
# chars of md5 -> 4096 buckets (the published method uses 10k hashed
# buckets; the bucket count only trades collision noise for table
# size and every aggregate below is |buckets|-bounded either way).
DSIR_BUCKETS = 4096


def dsir_bucket(gram: Column) -> Column:
    """Portable hashed-feature bucket id in [0, 4096): first 3 hex
    chars of md5, the md5_stratified_keep idiom applied to gram text
    so both engines bucket identically."""
    return F.conv(F.substring(F.md5(gram), 1, 3), 16, 10).cast("bigint")


def dsir_select(docs, target_lang: str = "en", lang_col: str = "lang"):
    """Data Selection via Importance Resampling (DSIR — Xie et al.
    2023, arXiv:2302.03169): select raw-pool documents whose hashed
    n-gram feature distribution looks like a TARGET domain. Feature =
    md5-hashed bigram bucket (4096 buckets); per-bucket importance
    log-ratio ln(p_target/p_raw) with add-one smoothing over the full
    bucket space, quantized to integer micro-nats BEFORE the per-doc
    sum (the LM-family exactness contract, so w_micro is an order-free
    BIGINT on both engines); per-doc weight = Σ tf·ratio_micro. The
    target here is the ``lang = target_lang`` slice of the corpus —
    the canonical "select web text that looks like the curated
    high-resource domain" instantiation.

    Acceptance is importance resampling made deterministic and
    content-free: doc i survives iff u_i < exp((w̄_i − m)/1e6) with
    u_i the md5 16-bit bucket of doc_id (the quality_weighted_sample
    accept idiom), w̄_i = w_micro/n_grams the per-gram average
    (length-debiased, the published per-token variant) and m the
    corpus max of w̄ — self-normalized so the best-matching doc has
    acceptance 1. Evaluated in log space: ln((u+1)/65536)·1e6 <
    w̄_i − m; the only transcendentals are ln on identical doubles,
    the same trust class as every LM oracle here.

    Plan shape at 100 TB: one corpus gram explode collapsed to a
    cached (doc, bucket) TF table (linear, doc-keyed); raw AND target
    bucket counts come from ONE conditional-sum aggregate over that
    table (≤4096 rows — no second corpus pass, the bigram_lm r10
    lesson, and no bucket-bucket join); one 1-row totals broadcast
    builds the ratio table and one 1-row max broadcast normalizes;
    scoring is one broadcast join + a per-doc partial-agged sum over
    the persisted weight table; the accept test is map-only. Returns
    (doc_id, n_grams, w_micro, accepted); docs without bigrams have
    no feature evidence and no row, like the LM scorers.

    ``target_lang``/``lang_col`` parameterize the target-domain
    predicate end to end (threaded into the bucket pass); the
    registered oracle (queries._dsir_sql) is GENERATED from the same
    parameters, so a non-default configuration stays oracle-checkable
    instead of silently diverging from a hardcoded 'en' (r13 advice)."""
    dbk = _dsir_doc_buckets(docs, target_lang, lang_col).persist()
    ratio = _dsir_ratio(dbk)
    # persist: the weight table feeds BOTH the 1-row max and the final
    # accept projection — without it the whole scoring subtree (ratio
    # assembly + doc-keyed aggregate) executes twice (the mad_outliers
    # 2-column-projection lesson; 3 BIGINTs per doc, cheap to hold)
    w = (
        dbk.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_grams"),
            F.sum(F.col("tf") * F.col("r_micro")).cast("bigint").alias("w_micro"),
        )
        .persist()
    )
    avg = F.col("w_micro").cast("double") / F.col("n_grams").cast("double")
    m = w.agg(F.max(avg).alias("m"))
    return (
        w.crossJoin(F.broadcast(m))
        .select(
            "doc_id",
            "n_grams",
            "w_micro",
            dsir_accept_col(
                F.col("doc_id"), F.col("w_micro"), F.col("n_grams"), F.col("m")
            ).alias("accepted"),
        )
    )


def _dsir_doc_buckets(docs, target_lang: str, lang_col: str = "lang"):
    """(id, is_t, bucket, tf): per-document hashed-bigram bucket term
    frequencies — the one corpus-linear pass every DSIR surface derives
    its model tables from. Target membership is resolved to a 1-byte
    flag BEFORE the explode: carrying the lang string through a
    corpus-scale gram shuffle pays string bytes per gram row for a
    predicate the map side can evaluate once per document.

    Input spread (catalog.spread — identity at scale): the bigram
    explode + per-gram md5 bucket serializes on an unsplittable scan
    (interleaved A/B at sf0.1: 0.72 s → 0.26 s, r17,
    OPTIMIZATION_r17.md family D)."""
    from chronobase_spark.catalog import spread

    docs = spread(docs, key="doc_id")
    is_t = (F.col(lang_col) == target_lang).cast("int").alias("is_t")
    return (
        docs.select(
            F.col("doc_id"),
            is_t,
            F.explode(lm_grams(F.col("text"))).alias("gram"),
        )
        .select("doc_id", "is_t", dsir_bucket(F.col("gram")).alias("bucket"))
        .groupBy("doc_id", "is_t", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def _dsir_bucket_counts(dbk):
    """(bucket, c_r, c_t): raw and target mass per bucket in ONE
    ≤4096-row aggregate — a conditional sum, not a second pass + join
    (the target side is a filter of the same table, so splitting it
    into its own aggregate paid one extra scan of the TF table and a
    bucket-bucket join for nothing)."""
    return dbk.groupBy("bucket").agg(
        F.sum("tf").alias("c_r"),
        F.sum(F.when(F.col("is_t") == 1, F.col("tf")).otherwise(0)).alias(
            "c_t"
        ),
    )


def _dsir_ratio(dbk):
    """(bucket, r_micro): the ≤4096-row importance log-ratio table,
    derived from the doc-bucket TF table (raw AND target counts — no
    second corpus pass), add-one smoothed over the full bucket space,
    micro-nat quantized."""
    bc = _dsir_bucket_counts(dbk)
    tots = bc.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))
    b = float(DSIR_BUCKETS)
    return bc.crossJoin(F.broadcast(tots)).select(
        "bucket",
        F.round(
            F.log(
                (
                    (F.col("c_t").cast("double") + F.lit(1.0))
                    / (F.col("n_t").cast("double") + F.lit(b))
                )
                / (
                    (F.col("c_r").cast("double") + F.lit(1.0))
                    / (F.col("n_r").cast("double") + F.lit(b))
                )
            )
            * F.lit(1000000.0),
            0,
        )
        .cast("bigint")
        .alias("r_micro"),
    )


def dsir_accept_col(id_col: Column, w_micro: Column, n_grams: Column,
                    m: Column) -> Column:
    """The self-normalized log-space accept test as a pure column:
    u < exp((w̄ − m)/1e6) with u the content-free md5 16-bit bucket of
    the id — ONE definition shared by the batch selector and the
    in-stream admission stage so the two surfaces can never drift."""
    u = md5_u16(id_col)
    avg = w_micro.cast("double") / n_grams.cast("double")
    return (
        F.log((u.cast("double") + F.lit(1.0)) / F.lit(65536.0))
        * F.lit(1000000.0)
        < avg - m
    )


def dsir_model(docs):
    """Train the FROZEN DSIR model for in-stream admission
    (streaming/docs.dsir_admit_stage): returns (ratio, unseen_micro, m)
    — the ≤4096-row (bucket, r_micro) table, the unseen-bucket back-off
    ratio round(ln((n_r+B)/(n_t+B))·1e6) as a Python int (the add-one
    ratio of a bucket with zero mass on BOTH sides — a bucket the
    training corpus never touched scores the smoothing prior, exactly
    the lm_score_stage unseen-gram contract), and the training corpus'
    max per-gram weight m as a Python float (the self-normalization
    reference; two 1-row collects — the bigram_lm_model frozen-constant
    pattern).

    The returned ratio table is MATERIALIZED (its ≤4096 rows are
    collected and re-created as a local DataFrame) and the
    corpus-sized (doc, bucket) TF cache is unpersisted before
    returning: the frozen model must not pin a corpus-scale cached
    table across retrains in a long-lived session (r13 advice — the
    intake_decomp_probe retrain loop is exactly that use case)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    dbk = _dsir_doc_buckets(docs, "en").persist()
    ratio_plan = _dsir_ratio(dbk)
    totals = dbk.agg(
        F.sum("tf").alias("n_r"),
        F.sum(F.when(F.col("is_t") == 1, F.col("tf")).otherwise(0)).alias(
            "n_t"
        ),
    ).collect()[0]
    n_r, n_t = int(totals["n_r"] or 0), int(totals["n_t"] or 0)
    b = float(DSIR_BUCKETS)
    unseen_micro = int(
        Decimal(repr(math.log((n_r + b) / (n_t + b)) * 1e6)).quantize(
            0, rounding=ROUND_HALF_UP
        )
    )
    m = float(
        dbk.join(F.broadcast(ratio_plan), "bucket")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.col("tf") * F.col("r_micro")).cast("double")
                / F.sum("tf").cast("double")
            ).alias("avg")
        )
        .agg(F.max("avg").alias("m"))
        .collect()[0]["m"]
    )
    ratio = docs.sparkSession.createDataFrame(
        ratio_plan.collect(), schema="bucket bigint, r_micro bigint"
    )
    dbk.unpersist()
    return ratio, unseen_micro, m


# ---------------------------------------------------------------------------
# PII detection / redaction (LLM-pipeline scrubbing pass)
# ---------------------------------------------------------------------------
# Patterns are deliberately written in the regex subset that Java
# (Spark) and RE2 (DuckDB) evaluate identically — character classes,
# bounded repetition, literal anchors; no backrefs, no lookaround — so
# the scrub is oracle-checkable cross-engine. Real pipelines swap in
# stricter pattern sets; the operator shape (map-only regexp count +
# global replace, zero shuffles until the reporting aggregate) is what
# matters at 100 TB.

EMAIL_RE = r"[a-z0-9]+@[a-z0-9]+\.[a-z]+"
PHONE_RE = r"555-[0-9]{4}"


def email_count(text: Column) -> Column:
    """How many email-shaped spans the document contains."""
    return F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0)))


def phone_count(text: Column) -> Column:
    """How many phone-shaped spans the document contains."""
    return F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), F.lit(0)))


def redact_pii(text: Column) -> Column:
    """Replace every email/phone span with a typed placeholder —
    Spark's regexp_replace is global, mirroring DuckDB's 'g' flag."""
    red = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(red, PHONE_RE, "<PHONE>")


# Token width of the boilerplate/template group key (the C4-style
# header/footer span) — one constant shared by the batch query
# (queries.boilerplate_templates), its SQL oracle, and the streaming
# template_stage, so the three surfaces can never drift.
TEMPLATE_WIDTH = 12


def template_end_hashes(text: Column) -> Column:
    """struct(prefix_h, suffix_h): md5 over the first/last
    TEMPLATE_WIDTH tokens — the boilerplate/template group keys. NULL
    for documents shorter than TEMPLATE_WIDTH tokens (they cannot carry
    a full template span; the batch query's size filter and this NULL
    agree). Defined
    ONCE so the batch query and the in-stream twin
    (streaming/docs.template_stage) share the literal expression and
    stay drained-equal by construction. Pure per-row expression — one
    tokenization via the expression-level let (with_tokens)."""

    def ends(tk: Column) -> Column:
        ok = F.size(tk) >= TEMPLATE_WIDTH
        return F.struct(
            F.when(ok, F.md5(F.array_join(F.slice(tk, 1, TEMPLATE_WIDTH), " "))).alias(
                "prefix_h"
            ),
            F.when(
                ok, F.md5(F.array_join(F.slice(tk, -TEMPLATE_WIDTH, TEMPLATE_WIDTH), " "))
            ).alias("suffix_h"),
        )

    return with_tokens(text, ends)


def datacard_signals(text: Column) -> Column:
    """struct(h, n_tokens, n_distinct, n_stop): the per-document signal
    row the corpus datacard aggregates (queries.corpus_datacard) —
    content hash, token count, lexical-diversity mass, stopword mass.
    Defined ONCE so the batch datacard and the in-stream twin
    (streaming/docs.datacard_stage) share the literal expression and
    stay drained-equal by construction. Pure per-row expression; NULL
    text yields NULL fields (the batch query filters NULL text out —
    both surfaces agree nothing is counted)."""
    return with_tokens(
        text,
        lambda tk: F.struct(
            F.md5(text).alias("h"),
            F.size(tk).cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(tk)).cast("bigint").alias("n_distinct"),
            _stop_count(tk).cast("bigint").alias("n_stop"),
        ),
    )


def span_hashes(toks_col: str = "toks", width: int = 8) -> Column:
    """md5 fingerprint of every ``width``-token sliding window of a
    token-array column — the candidate unit of ExactSubstr span dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"), with the suffix array replaced by hash
    aggregation. Defined ONCE here so the batch span queries
    (repeated_spans, span_dedup_assign, pretrain_pipeline_report) and
    the in-stream twin (streaming/docs.span_stage) share the literal
    expression and stay drained-equal by construction.

    Guard: Spark's sequence(1, n) is DESCENDING for n < 1 (would emit
    phantom spans for docs shorter than the window); the CASE gates it
    to an empty array, matching DuckDB's empty generate_series. NULL
    token arrays (NULL text) also fall to the empty array — a NULL doc
    contributes no spans on either engine."""
    return F.expr(
        f"""CASE WHEN size({toks_col}) >= {width}
                 THEN transform(sequence(1, size({toks_col}) - {width - 1}),
                                i -> md5(array_join(slice({toks_col}, i, {width}), ' ')))
                 ELSE array() END"""
    )
