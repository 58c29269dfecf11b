"""SimHash (Charikar) 64-bit near-duplicate signatures.

Each token hashes to 64 bits; per document, each bit position
accumulates +1/-1 by token bit value; the signature's bit i is the sign
of accumulator i. Near-duplicate docs differ in few signature bits
(small Hamming distance).

Implementation is one explode + one aggregation with 64 conditional-sum
expressions — a single shuffle on doc id, all JVM-side. Signature bits
depend on Spark's xxhash64 → no cross-engine SQL oracle (rows-only
check); semantics pinned in tests/test_dedup.py.

Scale: at 100 TB the explode is map-side and the aggregate is partial
(map-side combine) + final — the shuffle carries 64 ints per doc, not
tokens. Hamming-ball candidate search uses the standard trick of
grouping on 4 × 16-bit signature chunks (two near-dup docs within
Hamming distance 3 agree on ≥1 chunk — pigeonhole).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronobase_spark.dedup._bands import (
    CHUNK_KEYS,
    band_join,
    chunk_bands,
    chunk_hamming,
    hamming_distance,
)
from chronobase_spark.functions.text import tokens

BITS = 64
CHUNKS = 4  # 16-bit chunks for Hamming-ball LSH


def simhash(df: DataFrame) -> DataFrame:
    """(doc, simhash: bigint) per document. Input spread
    (catalog.spread): tokenize + per-token hash + 64 conditional sums
    serialize on an unsplittable scan (r17; interleaved A/B on the md5
    twin: 1.99 s → 1.62 s min at sf0.1)."""
    from chronobase_spark.catalog import spread

    tok = spread(df, key="doc_id").select(
        F.col("doc_id").alias("doc"), F.explode(tokens(F.col("text"))).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(BITS)
    ]
    agg = tok.groupBy("doc").agg(*bit_sums)
    sig = F.lit(0).cast("long")
    for i in range(BITS):
        # bit 63 is the sign bit of a 64-bit long: its set-value wraps to
        # long.min in two's complement.
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(bit_val).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select("doc", sig.alias("simhash"))


def simhash_md5_chunks(df: DataFrame) -> DataFrame:
    """(doc, c0..c3): the 64-bit SimHash held as four UNSIGNED 16-bit
    chunk ints — the portable-hash twin of simhash(). Token bits come
    from two md5-derived 32-bit halves (``conv(substr(md5(tok),1,8))``
    and ``substr(...,9,8)``), which Spark and DuckDB compute
    bit-identically, and the chunked representation sidesteps the
    two's-complement sign-bit packing that a signed 64-bit signature
    needs — every chunk is 0..65535, safe in any engine's BIGINT.
    Input spread like :func:`simhash` (two md5s per token — heavier
    still)."""
    from chronobase_spark.catalog import spread

    tok = spread(df, key="doc_id").select(
        F.col("doc_id").alias("doc"), F.explode(tokens(F.col("text"))).alias("tok")
    ).select(
        "doc",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("h1" if i < 32 else "h2"), i % 32)
                .bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(BITS)
    ]
    agg = tok.groupBy("doc").agg(*bit_sums)
    chunk_cols = []
    for j in range(CHUNKS):
        c = F.lit(0).cast("bigint")
        for r in range(16):
            c = c + F.when(
                F.col(f"b{16 * j + r}") > 0, F.lit(1 << r).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        chunk_cols.append(c.alias(f"c{j}"))
    return agg.select("doc", *chunk_cols)


def simhash_md5_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Oracle-checkable SimHash near-pairs: same chunk-LSH pigeonhole
    pipeline as simhash_near_pairs, but every hash is md5-portable so
    the FULL pipeline (bit sums, chunking, band join, Hamming verify)
    hash-verifies against DuckDB. Returns (doc_a, doc_b, hamming)."""
    sigs = simhash_md5_chunks(df)
    cs = [f"c{j}" for j in range(CHUNKS)]
    chunked = sigs.select(
        "doc", *cs, F.explode(chunk_bands([F.col(c) for c in cs])).alias("k")
    ).select("doc", *cs, "k.chunk_id", "k.chunk_val")
    return (
        band_join(chunked, keys=CHUNK_KEYS)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            chunk_hamming("a.c", "b.c", CHUNKS).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming``, found by chunk-LSH:
    any pair within distance CHUNKS-1 shares at least one identical
    16-bit chunk (pigeonhole), so group-join on chunks then verify.

    No persist: both self-join sides are the identical sub-plan, so the
    tokenize+hash shuffle-map stage executes once and Spark's exchange
    reuse (ReusedExchange, on by default) feeds both sides from the same
    shuffle files — only the cheap 64-column agg re-runs per side. A
    persist here leaked a cached signature table per call for the
    session lifetime (r3 verdict) and bought nothing the exchange reuse
    doesn't already provide."""
    sigs = simhash(df)
    vals = [
        F.shiftright(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF))
        for i in range(CHUNKS)
    ]
    chunked = sigs.select(
        "doc", "simhash", F.explode(chunk_bands(vals)).alias("c")
    ).select("doc", "simhash", "c.chunk_id", "c.chunk_val")
    return (
        band_join(chunked, keys=CHUNK_KEYS)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        # filter BEFORE distinct: chunk collisions at distance > max are
        # the common case, so the Hamming cut shrinks the dedup shuffle
        # by its selectivity instead of shuffling every candidate pair.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
