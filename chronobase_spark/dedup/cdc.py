"""Content-defined chunking (CDC) dedup — the rolling-hash chunker used
by large-scale storage/corpus dedup systems (LBFS/Venti lineage; the
same primitive FastCDC refines), re-expressed as native Spark column
algebra.

Fixed-size chunking breaks on insertion: one added byte shifts every
downstream chunk boundary and kills all dedup past the edit. CDC cuts
where a hash of the trailing ``CDC_WINDOW`` characters hits a boundary
condition (``hash % CDC_MOD == 0``), so boundaries are a function of
LOCAL content only — an edit perturbs at most the chunks it touches,
and every chunk after the next surviving boundary realigns
(shift-resilience pinned in tests/test_dedup.py).

Engine portability: the window hash is the repo's standard polynomial
code-point fold (``functions.text.fingerprint`` precedent — plain
integer arithmetic, no engine hash), so the ENTIRE pipeline — cut
positions, chunk extraction, md5 chunk keys, per-source dedup
accounting — hash-verifies against a DuckDB oracle running the same
arithmetic.

Evaluation-shape note (the hot lesson, measured): higher-order lambdas
are interpreted, and CollapseProject happily inlines a whole
subexpression into a lambda body — a naive ``filter(sequence(8, n),
i -> hash(slice(split(text), ...)))`` re-runs ``split`` for EVERY
position, turning the chunker O(len²) per document (41 s for 500 docs
at sf0.01). The builders below stage each intermediate behind an
``inline(array(struct(...)))`` Generate barrier (the repo's
doc_quality precedent) so code-point arrays and bounds are attribute
references inside the lambdas — evaluated once per row — and the
window hash itself is unrolled to 8 ``element_at`` terms (0.9 s for
the same input, 45×).

Scale posture (100 TB): the chunker is map-only (two Generate nodes,
no shuffle, no UDF); cost is O(len·window) integer ops per document.
Dedup accounting groups 16-byte md5 keys (never chunk bodies) with
map-side partial aggregation; shuffle bytes track DISTINCT chunks, not
corpus bytes. The reference engine has no CDC analog — this is
LLM-pipeline surface (SURVEY §2.4), where chunk-level dedup between
crawl snapshots routinely saves 30-60% of raw bytes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chronobase_spark.plans.barrier import barrier

# Expected chunk length ~ CDC_MOD chars; window is the locality horizon.
CDC_WINDOW = 8
CDC_PRIME = 1000003
CDC_MOD = 64


def _window_hash(cps: Column, end_pos: Column) -> Column:
    """Polynomial fold over the CDC_WINDOW code points ending at
    ``end_pos`` (1-based): h = fold(h*31 + cp) mod CDC_PRIME — unrolled
    to straight arithmetic (no inner slice/aggregate machinery per
    position). One mod at the end is congruent to the oracle's
    per-step mod and cannot overflow: max ≈ 127·31⁷·(8 terms) < 2⁶³."""
    h = F.lit(0).cast("long")
    for k in range(CDC_WINDOW):
        c = F.element_at(cps, end_pos - F.lit(CDC_WINDOW - 1 - k))
        h = h * 31 + c.cast("long")
    return h % F.lit(CDC_PRIME).cast("long")


def with_chunk_bounds(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Adds ``_cdc_bounds``: array<struct<s:int, e:int>> of
    (exclusive-start, inclusive-end) chunk bounds — consecutive pairs
    over [0] ++ cuts ++ [len], dropping the empty tail pair that
    appears when the last cut IS the end of the text. Rows with NULL
    text get an empty bounds array (no chunkable content). Docs
    shorter than the window produce one whole-doc chunk (and Spark's
    DESCENDING sequence(8, n) for n < 8 never runs — the guard is
    correctness, not tidiness; DuckDB's generate_series is empty
    there).

    Input is spread (catalog.spread — conditional, identity on
    well-split scans and on streaming frames) so the O(len·window)
    per-row chunker parallelizes on unsplittable single-row-group
    inputs: interleaved A/B at sf0.1 read 1.81 s → 0.46 s for the
    chunk table (r17)."""
    from chronobase_spark.catalog import spread

    df = spread(df, key="doc_id" if "doc_id" in df.columns else None)
    t = F.col(text_col)
    stage1 = barrier(
        df,
        # length(t) > 0 guard: split("", "") is [""] (size 1, ascii 0),
        # which would fabricate a phantom 1-char chunk for empty docs
        _cdc_cps=F.when(
            t.isNotNull() & (F.length(t) > 0),
            F.transform(F.split(t, ""), lambda ch: F.ascii(ch)),
        ).otherwise(F.array().cast("array<int>")),
    )
    cps = F.col("_cdc_cps")
    n = F.size(cps)
    cuts = F.when(
        n >= CDC_WINDOW,
        F.filter(
            F.sequence(F.lit(CDC_WINDOW), n),
            lambda i: _window_hash(cps, i) % CDC_MOD == F.lit(0),
        ),
    ).otherwise(F.array().cast("array<int>"))
    stage2 = barrier(
        stage1,
        _cdc_bs=F.when(
            n > 0, F.concat(F.array(F.lit(0).cast("int")), cuts, F.array(n))
        ).otherwise(F.array().cast("array<int>")),
    )
    bs = F.col("_cdc_bs")
    pairs = F.when(
        F.size(bs) >= 2,
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size(bs) - 1),
                lambda i: F.struct(
                    F.element_at(bs, i).alias("s"),
                    F.element_at(bs, i + 1).alias("e"),
                ),
            ),
            lambda st: st["e"] > st["s"],
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<s:int, e:int>>)"))
    # third barrier (r18): callers posexplode `_cdc_bounds`, and
    # InferFiltersFromGenerate's `size(..)>0 AND isnotnull(..)` predicate
    # used to inline the whole pairs transform and re-evaluate it twice
    # per row (visible as the 800+-char Filter conditions in the r17
    # plans); behind the Generate it lands on the materialized attribute.
    return barrier(stage2, _cdc_bounds=pairs).select(
        *df.columns, "_cdc_bounds"
    )


def chunk_hashes(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``chunk_md5s``: array<string> of per-chunk md5 keys, one
    row per document — the STREAMING-safe shape (map-only, no explode,
    bytes linear in text; streaming.docs.cdc_stage wraps this). md5 is
    computed over the chunk substring via substr on the original text
    attribute (cheap: no per-chunk array copies)."""
    t = F.col(text_col)
    bounded = with_chunk_bounds(df, text_col)
    hashes = F.transform(
        F.col("_cdc_bounds"),
        lambda st: F.md5(F.substr(t, st["s"] + 1, st["e"] - st["s"])),
    )
    return bounded.select(*df.columns, hashes.alias("chunk_md5s"))


def chunk_table(
    docs: DataFrame, text_col: str = "text", keep_text: bool = False
) -> DataFrame:
    """Exploded chunk inventory: (doc_id, source, chunk_idx, chunk_md5,
    chunk_len[, chunk_text]). The md5 is the dedup key — 16 bytes per
    chunk into the shuffle instead of chunk bodies (collision odds at
    100 TB chunk counts are ~2⁻¹²⁸-scale; the trade is standard for
    content stores). NULL-text docs contribute no rows."""
    t = F.col(text_col)
    bounded = with_chunk_bounds(docs, text_col)
    ex = bounded.select(
        "doc_id",
        "source",
        t.alias("_txt"),
        F.posexplode("_cdc_bounds").alias("chunk_idx", "b"),
    )
    chunk_txt = F.substr(
        F.col("_txt"), F.col("b.s") + 1, F.col("b.e") - F.col("b.s")
    )
    # Generate barrier around the per-chunk md5 (r18): consumers join /
    # distinct on chunk_md5, and the inferred join-key isnotnull used to
    # inline `md5(substr(text, …))` and re-hash every chunk in the
    # Filter (visible in the r17 dedup_strategy_compare plan); behind
    # the barrier the predicate reads the materialized column. The
    # struct is never NULL, so inline emits exactly one row per chunk.
    out = ex.select(
        "doc_id",
        "source",
        "chunk_idx",
        F.inline(
            F.array(
                F.struct(
                    F.md5(chunk_txt).alias("chunk_md5"),
                    (F.col("b.e") - F.col("b.s")).alias("chunk_len"),
                    *([chunk_txt.alias("chunk_text")] if keep_text else []),
                )
            )
        ),
    )
    return out


def chunk_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source CDC dedup accounting: total vs distinct chunks and
    chars, plus the byte-savings ratio a chunk store would realize.

    Two-level aggregate: (source, chunk_md5) partial-aggregates
    map-side before its one shuffle (groups = distinct chunks — the
    dedup working set, far below corpus rows at any real dup rate),
    then |sources| groups. The save ratio is one double division of
    exact integer sums — order-insensitive, cross-engine exact, no
    rounding needed."""
    per_chunk = (
        chunk_table(docs, text_col)
        .groupBy("source", "chunk_md5")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("chunk_len").alias("clen"),
        )
    )
    return per_chunk.groupBy("source").agg(
        F.sum("cnt").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum(F.col("cnt") * F.col("clen")).alias("chars_total"),
        F.sum("clen").alias("chars_distinct"),
        (
            (F.sum(F.col("cnt") * F.col("clen")) - F.sum("clen")).cast("double")
            / F.sum(F.col("cnt") * F.col("clen")).cast("double")
        ).alias("dedup_save_ratio"),
    )
