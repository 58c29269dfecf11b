"""Edit-distance (Levenshtein) near-duplicate pairs — the
character-level member of the near-dup family (SURVEY.md §2.4).

MinHash/SimHash/n-gram Jaccard all operate on token/shingle SETS, so
they miss the character-level near-dups that matter for crawled text:
small in-place edits (typo fixes, template variable substitutions,
date stamps) that leave most shingles intact but also the pairs whose
shingles differ everywhere while the CHARACTER stream is nearly
identical. Exact edit distance is the ground-truth verifier for those
— but it is O(|a|·|b|) per pair, so the design problem is entirely
about which pairs ever reach the DP.

Scale shape (canopy blocking, the standard entity-resolution trick):

1. **Block** on (lang, prefix) — documents that are near-identical at
   a sane relative threshold almost always share their first few tens
   of characters (an edit budget of r·max_len spread over the whole
   string rarely lands every edit in the prefix). The block key is
   cheap, deterministic, and SQL-portable, and the self-join is a
   plain equi-join: shuffle on the block key, quadratic only WITHIN a
   canopy whose size the prefix length controls (lengthen the prefix
   to tighten canopies at higher corpus density).
2. **Length-gap prune** before the DP: ``|len(a) − len(b)|`` is a free
   lower bound on edit distance, so pairs whose length gap already
   exceeds the budget never run the O(n·m) kernel. Semantics-neutral
   (implied by the final threshold), pure compute saving.
3. **Verify** with the built-in ``levenshtein`` expression (JVM
   codegen, no Python).

At 100 TB the canopy join shuffles on (lang, prefix) — a high-card
key family with bounded group sizes — and carries shuffle_hash hints
on both corpus-derived sides so a stats misestimate can never promote
one to a broadcast (the band-join rule, dedup/_bands.py).

Reference parity: the reference has no text operators at all (its
Data is opaque bytes, row.go:6-10); this extends the §2.4 dedup
family mandated by the north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronobase_spark.dedup._bands import band_join


def levenshtein_near_pairs(
    df: DataFrame,
    prefix_len: int = 24,
    rel_threshold: float = 0.3,
) -> DataFrame:
    """Document pairs (a < b) in the same (lang, prefix) canopy whose
    Levenshtein distance is ≤ ``rel_threshold`` × the longer length.

    Returns (doc_a, doc_b, lev_dist) — integer distances, so the
    result is exactly reproducible by any engine with a classic
    Levenshtein (the SQL oracle runs DuckDB's).
    """
    docs = df.select(
        F.col("doc_id").alias("doc"),
        F.col("lang"),
        F.col("text").alias("txt"),
        F.substring(F.col("text"), 1, prefix_len).alias("pre"),
        F.length(F.col("text")).alias("len"),
    )
    # two-frame form: the a.doc < b.doc test lives in the DP guard below
    cand = band_join(docs, docs, keys=("lang", "pre"))
    mx = F.greatest(F.col("a.len"), F.col("b.len")).cast("double")
    budget = F.lit(rel_threshold) * mx
    gap = (F.col("a.len") - F.col("b.len")).cast("double")
    lev = F.levenshtein(F.col("a.txt"), F.col("b.txt"))
    # The DP is GUARDED by the cheap predicates via when(): Catalyst
    # pushes filter conjuncts into the join condition ahead of the
    # original residuals, so expressing `doc< AND gap AND lev` as plain
    # conjuncts ran the O(n*m) kernel on every canopy row pair —
    # including each doc against ITSELF (measured 5.7 s -> the DP cost
    # was all self/duplicate pairs, only 79 real candidates). when()
    # short-circuits: self-pairs and gap-pruned pairs never reach the
    # DP, by construction rather than by conjunct-order luck.
    guarded = F.when(
        (F.col("a.doc") < F.col("b.doc")) & (F.abs(gap) <= budget), lev
    )
    # The projection re-evaluates the DP for SURVIVORS only (filter and
    # project don't share subexpressions, and any project-then-filter
    # rewrite gets undone by predicate pushdown re-inlining the
    # expression). Accepted: survivors are the true near-dup pairs — a
    # vanishing fraction of canopy candidates — so the second DP is
    # bounded by output size, not corpus size.
    return cand.filter(guarded.cast("double") <= budget).select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        lev.cast("bigint").alias("lev_dist"),
    )
