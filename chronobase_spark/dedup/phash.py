"""Perceptual-hash near-duplicate detection over decoded image rasters.

The text-side near-dup families (MinHash / SimHash / winnowing / CDC)
all fingerprint token or byte streams; this module is their multimodal
member: a 64-bit dHash computed from the DECODED pixel raster
(functions.multimodal.dhash_chunks — real PPM header parse + integer
numpy pooling), so payloads that differ in a few pixels land within a
small Hamming distance, exactly the image-dedup primitive a pretraining
media pipeline runs (pHash/dHash over thumbnails).

Candidate generation is the chunk-LSH pigeonhole of
dedup.simhash.simhash_md5_near_pairs, through the same dedup._bands
helpers: four 16-bit signature chunks, group-join on any shared chunk,
verify exact Hamming ≤ 3 — any pair within distance 3 shares at least
one identical chunk, so the banded result EQUALS the brute-force
all-pairs result (pinned in tests/test_dedup.py) while staying
sub-quadratic.

Everything is deterministic integer math (no engine-internal hashing),
so the full pipeline — decode, pooling, bits, band join, Hamming verify
— hash-verifies against a DuckDB oracle reproducing the raster from the
document bytes. The reference carries media as an opaque ``Row.Data
[]byte`` (reference internal/storage/row.go:9) and has no dedup at all.

Scale: the decode is map-only (bytes never shuffle — only doc_id + 4
ints); the band join shuffles 4 fixed-width rows per image and the
Hamming cut applies before the pair distinct, the measured sub-quadratic
posture of the simhash family (SCALING.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chronobase_spark.dedup._bands import (
    CHUNK_KEYS,
    band_join,
    chunk_bands,
    chunk_hamming,
)
from chronobase_spark.functions import multimodal

CHUNKS = 4
# Below 8 raster rows the 8x8 pooling grid has empty rows whose zero
# cells hash identically, collapsing tiny images into one degenerate
# LSH bucket (quadratic pair blowup). Real media dedup skips
# thumbnails for the same reason; 8 rows x 16 px x 3 channels = 337+
# payload bytes in the fixture encoding.
MIN_RASTER_ROWS = 8
MIN_PAYLOAD_BYTES = (MIN_RASTER_ROWS - 1) * multimodal.PPM_WIDTH * 3 + 1


def dhash_chunk_table(docs: DataFrame) -> DataFrame:
    """(doc, c0..c3, chunk_id, chunk_val): each image's full dHash
    chunks plus one exploded pigeonhole-band row per 16-bit chunk —
    the table BOTH the batch pair self-join and the frozen-corpus
    admission model are built from (one definition, so the two
    surfaces band on exactly the same keys). Rows whose payload fails
    the raster gate carry NULL chunks upstream and are dropped by the
    explode's struct equality never matching NULL — callers must
    pre-gate (phash_near_pairs contract)."""
    sigs = multimodal.dhash_chunks(
        multimodal.to_ppm_payload(docs)
    )
    cs = [f"c{j}" for j in range(CHUNKS)]
    return sigs.select(
        F.col("doc_id").alias("doc"),
        *cs,
        F.explode(chunk_bands([F.col(c) for c in cs])).alias("k"),
    ).select("doc", *cs, "k.chunk_id", "k.chunk_val")


def phash_band_model(docs: DataFrame) -> DataFrame:
    """Freeze the corpus-side model for streaming image-dedup admission
    (streaming/docs.phash_admit_stage): the persisted chunk table —
    dhash_chunk_table verbatim, so admission bands on the LITERAL keys
    the batch pair finder self-joins. Input must already pass the
    raster gate (MIN_PAYLOAD_BYTES); callers own the cache's lifetime
    (unpersist on retrain — the minhash_band_model convention)."""
    return dhash_chunk_table(docs).persist()


def phash_band_model_bucketed(
    docs: DataFrame,
    table_prefix: str = "chrono_phash_model",
    buckets: int = 32,
) -> DataFrame:
    """``phash_band_model`` persisted as a BUCKETED TABLE on the
    admission join's exact keys (``chunk_id, chunk_val``) — the image
    member of the pre-bucketed frozen-model lever (see dedup.minhash.
    minhash_band_model_bucketed for the measurement: identical
    verdicts, no per-trigger store exchange, the only form that works
    when the store outgrows executor memory). Decode runs ONCE at
    write time; per trigger only the arriving payloads decode."""
    from chronobase_spark.sources.writers import write_bucketed

    spark = docs.sparkSession
    name = f"{table_prefix}_chunks"
    write_bucketed(
        dhash_chunk_table(docs),
        name,
        ["chunk_id", "chunk_val"],
        buckets,
        sort_col=["chunk_id", "chunk_val"],
    )
    return spark.table(name)


def phash_near_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) for every image pair whose dHash Hamming
    distance is ≤ 3 (≤ CHUNKS-1 keeps the pigeonhole
    guarantee exact). Input rows must already pass the minimum-raster
    gate (see MIN_PAYLOAD_BYTES)."""
    chunked = dhash_chunk_table(docs)
    return (
        band_join(chunked, keys=CHUNK_KEYS)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            chunk_hamming("a.c", "b.c", CHUNKS).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )
