"""Exact and normalized exact deduplication.

The canonical first pass of any training-data pipeline: group on the
(normalized) content, keep one representative. One hash shuffle on the
content key; at 100 TB, group on a digest (xxhash64/sha2 of the text)
instead of the raw text so the shuffle carries 8-32 bytes per row, not
the document body.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize(text: Column) -> Column:
    """Canonical form for near-exact matching: lowercase, strip
    punctuation, collapse whitespace."""
    cleaned = F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def dedup_exact(df: DataFrame) -> DataFrame:
    """Keep the minimum-id representative per exact text; report group
    size. Returns (doc_id, dup_count) — dup_count > 1 marks duplicate
    clusters."""
    return df.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    ).select("doc_id", "dup_count")


def dedup_normalized(df: DataFrame) -> DataFrame:
    """Exact dedup on the normalized form (case/punct/whitespace
    -insensitive)."""
    return (
        df.select(F.col("doc_id"), normalize(F.col("text")).alias("_norm"))
        .groupBy("_norm")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("doc_id", "dup_count")
    )


def canonical_map(df: DataFrame) -> DataFrame:
    """Duplicate-cluster canonical assignment: every row keeps its id
    plus the minimum id sharing its normalized text — the keep-one
    mapping a training pipeline joins back onto the corpus to drop (or
    downweight) duplicates without losing row identity. One window min
    over the normalized key (a single hash shuffle); at 100 TB, window
    over a digest of the text (see dedup_by_digest) so the shuffle
    carries hashes, not bodies."""
    w = Window.partitionBy(normalize(F.col("text")))
    canonical = F.min("doc_id").over(w).alias("canonical_id")
    return df.select(
        F.col("doc_id"),
        canonical,
    ).withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_id"))
