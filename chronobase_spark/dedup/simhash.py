"""SimHash (Charikar) 64-bit near-duplicate signatures, md5-portable.

Each token hashes to 64 bits; per document, each bit position
accumulates +1/-1 by token bit value; the signature's bit i is the sign
of accumulator i. Near-duplicate docs differ in few signature bits
(small Hamming distance).

Token bits come from two md5-derived 32-bit halves of the token, which
Spark and DuckDB compute bit-identically, and the signature is held as
four UNSIGNED 16-bit chunk ints (0..65535, safe in any engine's BIGINT,
no two's-complement sign-bit packing). So the whole pair finder — bit
sums, chunking, band join, Hamming verify — hash-verifies against a
DuckDB oracle (registry query ``simhash_md5_pairs``). The token bits
(:func:`md5_bit_vote`) and the chunk assembly (:func:`md5_chunks`) are
shared with the per-row streaming fold (streaming/docs.simhash_stage),
so batch and stream signatures cannot drift.

Scale: the batch explode is map-side and the aggregate is partial
(map-side combine) + final — the shuffle carries 64 ints per doc, not
tokens. Hamming-ball candidate search groups on the 4 × 16-bit chunks:
two docs within Hamming distance 3 agree on ≥1 chunk (pigeonhole).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chronobase_spark.dedup._bands import (
    CHUNK_KEYS,
    band_join,
    chunk_bands,
    chunk_hamming,
)
from chronobase_spark.functions.text import tokens

BITS = 64
CHUNKS = 4  # 16-bit chunks for Hamming-ball LSH


def md5_halves(tok: Column) -> Column:
    """struct(h1, h2): the token's two md5-derived 32-bit halves
    (``conv(substr(md5(tok),1,8))`` and ``substr(...,9,8)``) — its 64
    SimHash bits, bit i from h1 for i < 32 and from h2 above."""
    return F.struct(
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(F.md5(tok), 9, 8), 16, 10).cast("bigint").alias("h2"),
    )


def md5_bit_vote(h: Column, i: int) -> Column:
    """+1 if bit ``i`` of a token's :func:`md5_halves` ``h`` is set,
    else −1: one token's vote on signature bit i."""
    half = h["h1"] if i < 32 else h["h2"]
    return F.when(F.shiftright(half, i % 32).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)


def md5_chunks(bit_sums: list[Column]) -> list[Column]:
    """The CHUNKS unsigned 16-bit chunk ints of a signature whose bit i
    is set iff ``bit_sums[i] > 0``; chunk j holds bits 16j..16j+15."""
    chunks = []
    for j in range(CHUNKS):
        c = F.lit(0).cast("bigint")
        for r in range(16):
            c = c + F.when(
                bit_sums[16 * j + r] > 0, F.lit(1 << r).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        chunks.append(c)
    return chunks


def simhash_md5_chunks(df: DataFrame) -> DataFrame:
    """(doc, c0..c3): each document's 64-bit SimHash as four unsigned
    16-bit chunk ints; docs with no tokens get no row. Input spread
    (catalog.spread): tokenize + two md5s per token + 64 conditional
    sums serialize on an unsplittable scan (r17)."""
    from chronobase_spark.catalog import spread

    tok = spread(df, key="doc_id").select(
        F.col("doc_id").alias("doc"), F.explode(tokens(F.col("text"))).alias("tok")
    ).select("doc", md5_halves(F.col("tok")).alias("h"))
    agg = tok.groupBy("doc").agg(
        *[F.sum(md5_bit_vote(F.col("h"), i)).alias(f"b{i}") for i in range(BITS)]
    )
    chunks = md5_chunks([F.col(f"b{i}") for i in range(BITS)])
    return agg.select("doc", *[c.alias(f"c{j}") for j, c in enumerate(chunks)])


def simhash_md5_near_pairs(df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within Hamming distance 3
    (CHUNKS − 1, so the chunk-LSH pigeonhole loses no pair). Band join
    on any shared chunk, then verify the full Hamming distance; the
    Hamming cut runs before the distinct, so chunk collisions at larger
    distances — the common case — never reach the dedup shuffle."""
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
        .filter(F.col("hamming") <= CHUNKS - 1)
        .distinct()
    )
