"""Training-batch assembly over the ``documents`` table: sequence
packing into fixed token-budget context windows and deterministic
train/val/test splitting (SURVEY.md §2.4 — LLM-pipeline surface; no
reference analog, the reference stops at raw storage).

Both operators are pure native expressions with full cross-engine
oracles:

* Packing follows the concat-and-chunk scheme common to LLM
  pre-training loaders: documents are concatenated in a deterministic
  order and the token stream is cut every ``context_len`` tokens, so a
  document may span a pack boundary (the loader masks attention across
  document joins). Crucially the corpus is SHARDED first and each shard
  packs independently — exactly how a distributed loader assigns one
  shard per data-parallel worker, and on Spark it means the running
  token offset is a window partitioned by shard, never a global
  (SinglePartition) sort at 100 TB.

* Splitting hashes each doc id through md5 and buckets on the first
  hex nibble: stable under corpus growth/reorder (a doc's split never
  depends on other rows), reproducible in any engine with md5 — which
  is what makes a DuckDB oracle possible, unlike xxhash64-based ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pack_offsets(df: DataFrame, context_len: int = 2048) -> DataFrame:
    """Assign concat-and-chunk pack coordinates within each shard.

    Adds:
      * ``start_off`` — the doc's first-token offset in its shard's
        concatenated token stream (distributed prefix-sum: a window
        sum partitioned by shard);
      * ``pack_id`` — which ``context_len``-sized chunk the doc starts
        in (shard-local; (shard, pack_id) is the global pack key);
      * ``packs_spanned`` — how many chunks the doc crosses (≥ 1; the
        loader turns >1 into cross-pack continuation masks).

    Rows must already have ``n_tokens > 0``: a zero-length doc neither
    advances the offset nor belongs to any pack.
    """
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    df = df.withColumn("start_off", start)
    # Integer `div`, not `/`: float division then truncation loses
    # exactness once offsets pass 2^53 (a 100 TB token stream is well
    # past that), and `div` stays in codegen long arithmetic.
    df = df.withColumn("pack_id", F.expr(f"start_off div {context_len}"))
    return df.withColumn(
        "packs_spanned",
        F.expr(f"(start_off + n_tokens - 1) div {context_len}")
        - F.col("pack_id")
        + F.lit(1),
    )


def md5_split(id_col: Column) -> Column:
    """Deterministic split label from the first hex nibble of
    ``md5(cast(id as string))``.

    Hex nibbles sort '0'..'9' then 'a'..'f', so the defaults give
    train = '0'-'b' (12/16 = 75%), val = 'c'-'d' (12.5%),
    test = 'e'-'f' (12.5%). Assignment is per-row and content-free:
    adding or removing other documents never moves a doc between
    splits (the property that keeps eval sets stable as a corpus
    grows).
    """
    nib = F.substring(F.md5(id_col.cast("string")), 1, 1)
    return (
        F.when(nib <= F.lit("b"), F.lit("train"))
        .when(nib <= F.lit("d"), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def md5_u16(id_col: Column) -> Column:
    """The content-free 16-bit id bucket: the first 4 hex chars of
    ``md5(cast(id as string))`` as a BIGINT in 0..65535. Portable like
    [[md5_split]], so every sampler and split built on it has a DuckDB
    oracle and is stable as the corpus grows."""
    return F.conv(F.substring(F.md5(id_col.cast("string")), 1, 4), 16, 10).cast(
        "bigint"
    )


def aes_key(id_col: Column, n_chars: Column) -> tuple[Column, Column]:
    """(wt, wrs_key) of Efraimidis-Spirakis A-ES weighted sampling
    without replacement: weight ``wt = greatest(n_chars, 1)`` as BIGINT
    and rank key ``round(ln(u) / wt, 6)`` with the deterministic
    uniform ``u = (md5-uint32 of "<id>#wrs" + 0.5) / 2^32``. The top k
    rows by (wrs_key desc, id) are the sample. u is integer arithmetic
    on both engines and the key is rounded to 6 dp, so a last-ulp libm
    divergence in ln cannot reorder the cut."""
    wt = F.greatest(n_chars, F.lit(1)).cast("bigint")
    hex8 = F.substring(F.md5(F.concat(id_col.cast("string"), F.lit("#wrs"))), 1, 8)
    u = (F.conv(hex8, 16, 10).cast("double") + 0.5) / F.lit(4294967296.0)
    return wt, F.round(F.log(u) / wt, 6)


def md5_stratified_keep(id_col: Column, strata_col: Column, fractions: dict) -> Column:
    """Deterministic stratified-sampling predicate: keep a row iff its
    md5 bucket falls under its stratum's fraction.

    The bucket is the first 4 hex chars of ``md5(cast(id as string))``
    — a uniform 16-bit value — compared lexicographically against the
    fixed-width hex encoding of ``floor(frac * 65536)`` (fixed-width
    lowercase hex sorts numerically, so no string→int conversion in the
    hot path). Rows whose stratum is absent from ``fractions`` compare
    against NULL and drop, matching ``sampleBy`` semantics.

    Unlike ``sampleBy``'s seeded Bernoulli, membership is a pure
    function of the row id: rerunnable, partition-layout-independent,
    identical across engines (md5 is portable — same trick as
    [[md5_split]]), so the sample is fully oracle-checkable and stable
    as the corpus grows. Map-only: no shuffle, no collect; the
    predicate is codegen'd and pushes nothing to Python. Fraction
    granularity is 1/65536 — negligible against sampling noise."""
    bucket = F.substring(F.md5(id_col.cast("string")), 1, 4)
    thr: Column | None = None
    for stratum, frac in sorted(fractions.items()):
        n = int(frac * 65536)
        # frac >= 1.0: 'g' sorts after every 4-char hex bucket (keep all);
        # a 5-char '10000' would sort BEFORE 'ffff' and keep almost nothing.
        hex_thr = F.lit("g" if n >= 65536 else format(n, "04x"))
        thr = (
            F.when(strata_col == stratum, hex_thr)
            if thr is None
            else thr.when(strata_col == stratum, hex_thr)
        )
    return bucket < thr
