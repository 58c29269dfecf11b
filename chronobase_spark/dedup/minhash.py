"""MinHash + LSH banding near-duplicate detection — the sub-quadratic
scale path (Broder's MinHash; Leskovec/Rajaraman/Ullman banding scheme).

Pipeline (all native column ops, no UDF):
  1. shingle each doc (word n-grams);
  2. lane i of a doc's signature = min over its shingles of a per-lane
     hash of the shingle;
  3. split the signature into bands; docs agreeing on any whole band
     are candidates (group by band value);
  4. verify candidates with exact shingle Jaccard ≥ 0.5 on the
     candidate subset only.

Two lane hashes live here:

* **md5** (BANDS × ROWS_PER_BAND = 4 × 4 lanes): the one scheme of
  every surface but chronobench's dedup phase — the batch finder
  ``minhash_md5_pairs``, the admission models, the streaming
  ``signature_stage`` / ``minhash_admit_stage`` (:func:`md5_row_bands`)
  and the DuckDB oracles, which compute the same lanes bit for bit.
* **xxhash64** (LSH_BANDS × LSH_ROWS_PER_BAND = 16 × 8 lanes):
  ``minhash_signature``, ``lsh_candidates`` and ``minhash_dedup_pairs``,
  which chronobench's dedup phase times. Spark-internal, so its
  registry query is rows-only; tests/test_dedup.py pins it against
  exact Jaccard brute force. Moving chronobench to md5 costs about 3
  points of pair recall at 4 × 4 (ROADMAP item 5).

Scale: stage 2 is map-only; stage 3 shuffles (band_id, band_val, doc)
triples — constant bytes/doc; stage 4 touches only candidate pairs.
Nothing is quadratic in corpus size; with 16 bands × 8 rows, sim 0.8 →
~0.93 candidate probability, sim 0.3 → ~0.001.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chronobase_spark.catalog import spread
from chronobase_spark.dedup._bands import band_join, jaccard_sizes, with_shingles
from chronobase_spark.dedup.ngram import shingles

#: Word n-gram size of every MinHash shingle, batch and streaming.
SHINGLE_N = 3
#: The portable md5 banding scheme: BANDS bands of ROWS_PER_BAND lanes.
#: md5_band_table, md5_row_bands (streaming/docs.signature_stage),
#: minhash_band_model(_bucketed), minhash_md5_pairs and the DuckDB
#: oracles in queries.py all read it, so an admission model and its
#: arrivals always band alike.
BANDS = 4
ROWS_PER_BAND = 4
#: The xxhash64 banding of minhash_signature / lsh_candidates.
LSH_BANDS = 16
LSH_ROWS_PER_BAND = 8


def minhash_signature(df: DataFrame) -> DataFrame:
    """(doc, sig: array<bigint>[128]), 128 = LSH_BANDS × LSH_ROWS_PER_BAND.

    Two-stage, fully codegen'd formulation:
      1. explode to (doc, base_hash) with ONE xxhash64 per shingle
         string — |shingles| string hashes per doc, not
         |shingles| x 128;
      2. groupBy(doc) with 128 min-aggregate lanes, lane i =
         min(xxhash64(base_hash, i)) — a cheap long-long hash per lane,
         all inside whole-stage codegen with map-side partial
         aggregation, so the shuffle carries one 128-lane partial
         per doc per map partition.

    Rejected alternatives (both measured 5-20x slower): the pure
    higher-order-function fold runs |shingles| x 128 *interpreted*
    lambda evaluations (HOF lambdas never enter codegen), and a
    vectorized pandas UDF pays Arrow transfer and breaks codegen when
    its output is inlined into the banding explode.

    Docs with no shingles get no signature (dropped — they cannot be
    near-duplicates of anything).
    """
    return _xxhash_lanes(
        df.select(
            F.col("doc_id").alias("doc"),
            F.explode(shingles(F.col("text"), SHINGLE_N)).alias("_g"),
        )
    )


def _xxhash_lanes(grams: DataFrame) -> DataFrame:
    """(doc, sig) from (doc, _g) shingle rows: ONE xxhash64 per shingle,
    then 128 min-lanes, lane i = min(xxhash64(base_hash, i))."""
    num_perm = LSH_BANDS * LSH_ROWS_PER_BAND
    hashed = grams.select("doc", F.xxhash64("_g").alias("_h"))
    lanes = [
        F.min(F.xxhash64("_h", F.lit(i))).alias(f"_l{i}") for i in range(num_perm)
    ]
    return (
        hashed.groupBy("doc")
        .agg(*lanes)
        .select("doc", F.array(*[f"_l{i}" for i in range(num_perm)]).alias("sig"))
    )


def lsh_candidates(signatures: DataFrame) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) agreeing on ≥1 whole band of
    LSH_BANDS bands × LSH_ROWS_PER_BAND rows.

    Band key = xxhash64 of the band's signature slice — a scalar long,
    so the shuffle carries (band_id, band_hash, doc) fixed-width triples
    and the self-join is a plain scalar equi-join (an array-valued join
    key would widen the shuffle and block codegen'd hashing at scale).
    A band-hash collision only creates a spurious candidate, which the
    exact-Jaccard verify stage removes.

    Signatures MUST carry exactly 128 lanes (minhash_signature's): a
    shorter array would make every band past its end slice [] and hash
    identically, silently degenerating the band join toward all-pairs
    (scale death, not a wrong answer — the Jaccard verify would still
    filter). The lane count is checked per row and raises instead.
    NULL signatures are dropped up front: xxhash64 hashes a NULL input
    to the SEED, not to NULL, so leaving them in would band every
    sig-less doc into one giant all-pairs bucket."""
    num_perm = LSH_BANDS * LSH_ROWS_PER_BAND
    signatures = signatures.filter(F.col("sig").isNotNull())
    lanes_ok = F.size("sig") == F.lit(num_perm)
    lanes_err = F.concat(
        F.lit("lsh_candidates: signature has "),
        F.size("sig").cast("string"),
        F.lit(f" lanes, expected {num_perm}"),
    )
    banded = signatures.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.when(
                        lanes_ok,
                        F.xxhash64(
                            F.slice("sig", b * LSH_ROWS_PER_BAND + 1, LSH_ROWS_PER_BAND)
                        ),
                    )
                    .otherwise(F.raise_error(lanes_err))
                    .alias("band_val"),
                ),
            )
        ).alias("band"),
    ).select("doc", "band.band_id", "band.band_val")
    return _pairs(banded)


def _pairs(banded: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing a band of ``banded``."""
    return (
        band_join(banded)
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def md5_lane(g, i: int):
    """Lane-``i`` portable hash of one shingle: 32-bit int via
    ``conv(substr(md5(shingle#i),1,8),16,10)`` — the ONE definition
    shared by the batch explode+groupBy signature (md5_band_table) and
    the streaming per-row fold (:func:`md5_row_bands`), so the two
    surfaces can never drift."""
    return F.conv(
        F.substring(F.md5(F.concat(g, F.lit(f"#{i}"))), 1, 8), 16, 10
    ).cast("bigint")


def md5_band_key(lane_cols):
    """array<struct(band_id, band_val)> from per-lane columns — the
    shared banding layout (comma-joined lane strings, engine-portable).
    ``lane_cols[i]`` must be lane i's value; shared by batch and
    streaming so band keys join across surfaces by construction."""
    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_id"),
                F.concat_ws(
                    ",",
                    *[
                        lane_cols[bi * ROWS_PER_BAND + r].cast("string")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("band_val"),
            )
            for bi in range(BANDS)
        ]
    )


def md5_row_bands(sh) -> Column:
    """array<struct(band_id, band_val)> of ONE row's shingle array
    ``sh`` — the per-row form of :func:`md5_band_table` (its rows for
    that doc), for streams: lane i is an ``array_min`` over a
    ``transform`` of the row's own shingles with :func:`md5_lane`, so
    no explode, no groupBy, no state. ``sh`` should be a bound column
    (not an inline shingles() expression), or every lane re-shingles
    the text. Callers gate empty arrays to NULL themselves."""

    def lane_fold(i: int):
        # one-arg lambda REQUIRED: F.transform passes the array INDEX
        # to a second parameter (even one with a default), which would
        # silently shadow the lane constant — measured wrong band keys
        return lambda g: md5_lane(g, i)

    return md5_band_key(
        [
            F.array_min(F.transform(sh, lane_fold(i)))
            for i in range(BANDS * ROWS_PER_BAND)
        ]
    )


def md5_band_table_from_shingles(sh: DataFrame) -> DataFrame:
    """(doc, band_id, band_val) from an existing (doc, sh) shingle
    table (:func:`shingle_table`): one explode of the shingle ARRAYS,
    ONE groupBy with num_perm min-lanes (map-side partial agg), then
    the band explode — so a caller that also needs the shingle table
    for the exact-Jaccard verify (every pair finder does) computes the
    corpus shingling ONCE instead of twice (r17 optimization: the band
    and verify stages used to tokenize+shingle the corpus
    independently — one redundant full-text pass per invocation, and
    at 100 TB one redundant corpus scan+shuffle)."""
    num_perm = BANDS * ROWS_PER_BAND
    exploded = sh.select("doc", F.explode("sh").alias("_g"))
    lanes = [
        F.min(md5_lane(F.col("_g"), i)).alias(f"_m{i}")
        for i in range(num_perm)
    ]
    sigs = exploded.groupBy("doc").agg(*lanes)
    key_arr = md5_band_key([F.col(f"_m{i}") for i in range(num_perm)])
    return (
        sigs.select("doc", F.explode(key_arr).alias("b"))
        .select("doc", "b.band_id", "b.band_val")
    )


def md5_band_table(df: DataFrame) -> DataFrame:
    """(doc, band_id, band_val): the batch md5-MinHash LSH band table —
    one shingle explode, ONE groupBy with num_perm min-lanes (map-side
    partial agg), then the band explode. Extracted from
    minhash_md5_pairs so the frozen-corpus admission model
    (minhash_band_model) is the LITERAL same table the batch pair
    finder self-joins — the one-definition contract. Compiled from
    :func:`shingle_table` (identical rows: a doc with zero shingles
    produces no exploded rows either way), so when a persisted shingle
    table for the same corpus is already cached, Spark's CacheManager
    feeds this table from it instead of re-shingling."""
    return md5_band_table_from_shingles(shingle_table(df))


def shingle_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc, sh): per-doc distinct shingle arrays for the exact-Jaccard
    verify stage — shared by minhash_md5_pairs and the admission
    model. Input is spread (conditional repartition — catalog.spread)
    so shingling parallelizes on unsplittable single-row-group inputs
    and adds NO shuffle when the scan is already well-split (100 TB
    posture).

    Row filter on token count, NOT on size(sh) (r18): Catalyst inlines
    a filter on the projected alias and pushes it below the spread
    Exchange, so the FULL shingle expression (tokenize + per-gram
    assembly + array_distinct) used to evaluate twice per surviving
    row — once as the pushed predicate, once as the projection above
    the Exchange (visible in the committed r17 plan dumps). With
    N = SHINGLE_N, a doc has ≥1 shingle iff it has ≥ N tokens (gram
    count = size(tk)−N+1 > 0 ⟺ size(tk) ≥ N; array_distinct of a
    non-empty array is non-empty), so the pushed predicate now pays ONE tokenize instead of the whole
    shingle chain — identical surviving rows and identical sh arrays
    by construction."""
    from chronobase_spark.functions.text import tokens

    return (
        spread(df, key="doc_id")
        .filter(F.size(tokens(F.col(text_col))) >= SHINGLE_N)
        .select(
            F.col("doc_id").alias("doc"),
            shingles(F.col(text_col), SHINGLE_N).alias("sh"),
        )
    )


def minhash_band_model(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Freeze the corpus-side model for streaming near-dup admission
    (streaming/docs.minhash_admit_stage): the (doc, band_id, band_val)
    band table and the (doc, sh) shingle table, both persisted — they
    are re-read every micro-batch as the static sides of stream-static
    joins, so recomputing the corpus signature pass per trigger would
    be a corpus scan per micro-batch. The band table is built from the
    persisted shingle table (md5_band_table_from_shingles, the rows of
    md5_band_table), so the corpus is tokenized once and admission
    joins hit exactly the keys the batch pair finder banded on.
    Callers own the caches' lifetime (unpersist on retrain — the
    dsir_model lesson)."""
    sh = shingle_table(docs).persist()
    return md5_band_table_from_shingles(sh).persist(), sh


def minhash_band_model_bucketed(
    docs: DataFrame,
    table_prefix: str = "chrono_admit_model",
    buckets: int = 32,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """``minhash_band_model`` persisted as BUCKETED TABLES — the
    admission stage's scale lever 3 turned into code: the band table
    is written ``bucketBy(buckets, band_id, band_val)`` and the
    shingle table ``bucketBy(buckets, doc)`` — each bucketed on
    EXACTLY its admission join keys, because Spark's v1 bucketing only
    feeds the join when bucket columns equal the equi-keys (measured:
    a band_val-only bucket layout is "disabled by query planner" under
    the two-key join and the static side re-shuffles anyway). With the
    exact layout the per-trigger EXCHANGE of the corpus-sized model
    disappears — only the micro-batch side shuffles, and it shuffles
    to |buckets| partitions keyed by the model's layout, not the
    trigger's. This is the on-disk counterpart of the persisted-DF
    model: a 100 TB store can't live in executor memory, but a
    storage-partitioned layout makes re-reading it per trigger
    shuffle-free. Measured against the persisted form in SCALING.md
    r15; an adversarial hot-band fixture shows bucket-pinning is never
    slower than the persisted model under skew (SCALING.md r16).
    Tables are overwritten in the session catalog's warehouse; the
    in-memory catalog forgets them on restart but the files AND the
    write_bucketed manifest survive, so a restarted job re-registers
    each table with writers.reattach_bucketed — one DDL, ~0.22 s at
    any store size, instead of re-paying this builder (measured in
    SCALING.md r16; pinned across a real session boundary in
    tests/test_plans.py)."""
    from chronobase_spark.sources.writers import write_bucketed

    spark = docs.sparkSession
    band_name = f"{table_prefix}_bands"
    sh_name = f"{table_prefix}_shingles"
    sh = shingle_table(docs, text_col).persist()
    try:
        write_bucketed(
            md5_band_table_from_shingles(sh),
            band_name,
            ["band_id", "band_val"],
            buckets,
            sort_col=["band_id", "band_val"],
        )
        write_bucketed(sh, sh_name, "doc", buckets, sort_col="doc")
    finally:
        sh.unpersist()
    return spark.table(band_name), spark.table(sh_name)


def minhash_md5_pairs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with exact shingle Jaccard ≥
    0.5, banded on the md5 lanes (32-bit int via
    ``conv(substr(md5(shingle#lane),1,8),16,10)``), which both Spark
    and DuckDB compute bit-identically — so the whole pipeline is
    SQL-oracle-checked (the sketches.py CMS precedent).

    16 lanes (4 bands x 4 rows) instead of 128: the oracle pays 16 md5
    calls per shingle on both engines; the S-curve is looser but the
    exact-Jaccard verify stage makes the OUTPUT exact regardless — LSH
    parameters only tune recall, and any recall gap shows up as a
    row-count mismatch against the oracle, which computes the same 16
    lanes. Band keys are comma-joined lane strings (portable), the
    band self-join carries fixed-width triples with shuffle_hash on
    both corpus-sized sides, and the threshold gate is an integer
    cross-multiplication (micro-units) — no float boundary anywhere;
    the reported jaccard is one unrounded int/int division.

    r17 optimization: the shingle table is computed ONCE (persisted,
    caller-owned lifetime — the model-builder convention; the bench
    clearCache()s between queries) and feeds BOTH the band table and
    the verify joins — the band and verify stages used to re-shingle
    the corpus independently (one redundant text scan + spread shuffle
    per invocation; plan diff: two parquet scans of documents → one)."""
    sh = shingle_table(df, text_col).persist()
    # persisted: both sides of the band self-join read it, and without
    # the cache each side re-runs the 16-lane md5 aggregate (AQE does
    # not reuse the exchange above a cached scan)
    cands = _pairs(md5_band_table_from_shingles(sh).persist())
    common, union = jaccard_sizes("sh_a", "sh_b", F.col("_c"))
    return (
        with_shingles(cands, sh)
        .withColumn("_c", common)
        .withColumn("_u", union)
        .filter(F.col("_c") * 1_000_000 >= F.lit(500_000) * F.col("_u"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("_c").cast("double") / F.col("_u").cast("double")).alias(
                "jaccard"
            ),
        )
    )


def minhash_dedup_pairs(df: DataFrame) -> DataFrame:
    """End-to-end: LSH candidates verified with exact shingle Jaccard.

    Returns (doc_a, doc_b, jaccard) for verified pairs with jaccard ≥ 0.5.

    The signature table is persisted before banding: the banding stage
    references it 16×(bands) × 2(join sides), and the signature
    expression is ~128 × |shingles| hash evaluations per doc —
    recomputing it per reference is a >100× slowdown (measured). At
    100 TB you'd materialize signatures as their own table; persist()
    is the single-job version of that decision.

    r17 optimization: ONE persisted shingle table feeds both the
    signature explode and the exact-Jaccard verify joins (the two used
    to tokenize+shingle the corpus independently — a redundant
    full-text pass; plan diff: two scans of documents → one), and the
    input spread is conditional (catalog.spread: identity on
    well-split 100 TB scans, parallelizing only unsplittable local
    files)."""
    sh = shingle_table(df).persist()
    sigs = _xxhash_lanes(sh.select("doc", F.explode("sh").alias("_g"))).persist()
    cands = lsh_candidates(sigs)
    # _c bound as its own column so the intersect runs once.
    common, union = jaccard_sizes("sh_a", "sh_b", F.col("_c"), dtype=None)
    return (
        with_shingles(cands, sh)
        .withColumn("_c", common)
        .withColumn(
            "jaccard",
            F.round(F.col("_c").cast("double") / union.cast("double"), 6),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )
