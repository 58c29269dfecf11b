"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm): hash every positional k-gram, slide
a window of ``w`` consecutive hashes, keep each window's minimum. Any
sufficiently long match between two documents is guaranteed to share a
selected fingerprint, at ~2/(w+1) the storage of full k-gram sets —
the local-similarity dedup primitive between exact fingerprints
(functions.text.fingerprint, whole-doc) and shingle Jaccard
(dedup.ngram, full k-gram sets).

The reference engine has no text analysis at all (SURVEY.md §2); this
extends the dedup family.

Portability: k-gram hashes are md5-derived 32-bit ints
(``conv(substr(md5(gram),1,8),16,10)``, the repo's portable-hash rule),
window minima are integer mins, so the WHOLE pipeline — selection
included — is oracle-checked against DuckDB, and pinned against a
pure-Python winnower in tests/test_dedup.py.

Scale shape: fingerprinting is map-only (per-doc array expressions,
whole-stage codegen); the pair search is the posting-list pattern —
explode distinct fingerprints, prune hot ones by document frequency
(boilerplate kills the f² term, same max_df rule as dedup.ngram), one
shuffle_hash self-join on the fingerprint key, then a partial-agged
count per pair. Nothing quadratic in corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronobase_spark.functions.text import tokens

K = 4  # words per k-gram
W = 4  # winnowing window (hashes per window)


def selected_fingerprints(text, k: int = K, w: int = W):
    """Column expression: the document's DISTINCT selected fingerprints
    (array<bigint>) — pure per-row, so it serves the batch operator AND
    the stateless streaming stage (streaming/docs.winnow_stage)
    identically.

    Positional k-grams (NOT distinct — winnowing needs the sequence),
    md5-hashed to 32-bit ints, then min of each w-window."""
    # Spark's sequence(a, b) DESCENDS when b < a (it never yields
    # empty), so short docs need explicit empty-array guards; and every
    # multiply-referenced intermediate (token array, gram-hash array)
    # binds to a lambda variable via a single-element transform — the
    # expression-level "let" — because HOF lambdas are interpreted and
    # Catalyst does not CSE across them (dedup/ngram.py rule: a bare
    # reference re-evaluates the whole upstream pipeline per window).
    empty = F.array().cast("array<bigint>")

    def windows_of(hh):
        return F.when(
            F.size(hh) >= w,
            F.transform(
                F.sequence(F.lit(1), F.size(hh) - w + 1),
                lambda i: F.array_min(F.slice(hh, i, w)),
            ),
        ).otherwise(empty)

    def fps_of(tk):
        grams = F.when(
            F.size(tk) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - k),
                # gram assembly via k direct element reads + concat_ws
                # (r18, dedup/ngram.py rule: slice allocates a k-array
                # per gram; every read is in range by construction and
                # tokens are never NULL, so the md5 input string — and
                # hence the fingerprint — is bit-identical).
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(" ", *[F.get(tk, i + j) for j in range(k)])
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint"),
            ),
        ).otherwise(empty)
        return F.get(F.transform(F.array(grams), windows_of), 0)

    return F.array_distinct(F.get(F.transform(F.array(tokens(text)), fps_of), 0))


def winnow_fingerprints(df: DataFrame, k: int = K, w: int = W) -> DataFrame:
    """(doc, fp): one row per document per selected fingerprint.

    Input spread (catalog.spread): the per-row fingerprint expression
    (one md5 per positional k-gram + window minima) is the heavy-CPU
    class that serializes on unsplittable scans — interleaved A/B at
    sf0.1: 1.62 s → 1.06 s (r17)."""
    from chronobase_spark.catalog import spread

    fps = selected_fingerprints(F.col("text"), k, w)
    # Row filter on token count, NOT on size(_fps) (r18): Catalyst
    # inlines a filter on the projected alias and pushes it below the
    # spread Exchange, so the WHOLE fingerprint expression (one md5 per
    # positional k-gram + window minima — the heaviest per-row expr in
    # the dedup family) used to evaluate twice per surviving row: once
    # as the pushed predicate, once as the projection. A doc has ≥1
    # selected fingerprint iff it has ≥ k+w−1 tokens (grams need ≥k
    # tokens; the window pass needs ≥w gram hashes, i.e. ≥ k+w−1
    # tokens; array_distinct of a non-empty array is non-empty), so the
    # pushed predicate now pays ONE tokenize instead of the full
    # fingerprint chain — identical surviving rows by construction.
    # explode_outer, not explode: Catalyst's InferFiltersFromGenerate
    # adds `size(_fps) > 0 AND isnotnull(_fps)` below a plain explode of
    # an aliased column, and after inlining that predicate re-evaluates
    # the WHOLE fingerprint expression twice per row — exactly the
    # duplication the token filter above exists to remove (verified in
    # the r18 plan dumps). No filter is inferable for an outer explode;
    # the token filter already guarantees `_fps` is non-NULL and
    # non-empty for every surviving row, so the emitted rows are
    # identical (no NULL-fp rows can appear).
    return (
        spread(df, key="doc_id")
        .filter(F.size(tokens(F.col("text"))) >= k + w - 1)
        .select(F.col("doc_id").alias("doc"), fps.alias("_fps"))
        .select("doc", F.explode_outer("_fps").alias("fp"))
    )


def winnow_dup_pairs(df: DataFrame, min_shared: int = 3, max_df: int = 50) -> DataFrame:
    """(doc_a, doc_b, n_shared): pairs sharing ≥ ``min_shared`` selected
    fingerprints, hot fingerprints (document frequency > ``max_df``)
    pruned first — boilerplate shared by half the corpus must not
    drive an f² join."""
    fps = winnow_fingerprints(df)
    rare = fps.join(
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
        .hint("shuffle_hash"),
        "fp",
    )
    # Pair generation via bounded posting lists (r17 — the ngram
    # _pair_candidates pattern, guide §3.4): collapse each rare
    # fingerprint's posting list with ONE collect_list aggregate — safe
    # ONLY because the max_df prune already ran, so no list exceeds
    # max_df — and emit the C(f,2) ordered pairs map-side. This
    # replaces the rare ⋈ rare self-join (one fewer corpus-sized
    # ShuffledHashJoin; the groupBy(fp) reuses the prune join's hash
    # partitioning). Same pair multiset: (doc, fp) rows are distinct
    # per doc (array_distinct upstream), so one row per shared
    # fingerprint per pair either way; the emitted pair SET per fp is
    # order-independent, so collect_list's nondeterministic order
    # cannot change the counts.
    posts = rare.groupBy("fp").agg(F.collect_list("doc").alias("_docs"))
    pair_arr = F.flatten(
        F.transform(
            F.col("_docs"),
            lambda x: F.transform(
                F.filter(F.col("_docs"), lambda y: y > x),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        posts.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
