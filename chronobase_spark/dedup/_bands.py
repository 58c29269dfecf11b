"""The building blocks every near-duplicate pair finder and admission
report shares: the band join, the exact-Jaccard sizes, the popcount
Hamming and the chunk band array. Each exists here once, so the batch
finders, the batch admission reports and the streaming admit stages
cannot drift apart (a static test keeps the band join, the Jaccard
sizes and the popcount out of every other module).

The band join's one rule: it never broadcasts. Both sides of a band
join are corpus-sized, so the ``b`` (stored) side always carries the
``shuffle_hash`` hint. A stats misestimate that picked broadcast
OOM'd the driver at 16x corpus (measured, SCALING.md), and sort-merge
would pay a sort the hash join does not need.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the band key columns of chunk_bands rows
CHUNK_KEYS = ("chunk_id", "chunk_val")


def band_join(
    a: DataFrame,
    b: DataFrame | None = None,
    keys: tuple[str, ...] = ("band_id", "band_val"),
    id_col: str = "doc",
) -> DataFrame:
    """Rows of ``a`` and ``b`` equal on every band key column in
    ``keys``, aliased ``a`` and ``b``. With ``b`` omitted it is the
    self-join of ``a``, each unordered pair once (``a.id < b.id``);
    with ``b`` given it joins arriving rows (``a``) to stored rows.
    Callers select and filter the joined columns themselves."""
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    if b is None:
        b = a
        cond.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return a.alias("a").join(b.hint("shuffle_hash").alias("b"), reduce(and_, cond))


def with_shingles(
    cands: DataFrame, sh: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """``cands`` with each side's (doc, sh) shingle array attached as
    ``sh_a`` / ``sh_b``. Both lookups are shuffle_hash: the shingle
    table is corpus-sized, and the hinted side becomes a per-partition
    hash build of corpus/P rows where a broadcast is corpus-total."""
    sa = sh.select(F.col("doc").alias(a), F.col("sh").alias("sh_a")).hint(
        "shuffle_hash"
    )
    sb = sh.select(F.col("doc").alias(b), F.col("sh").alias("sh_b")).hint(
        "shuffle_hash"
    )
    return cands.join(sa, a).join(sb, b)


def jaccard_sizes(
    a: str, b: str, bound: Column | None = None, dtype: str | None = "bigint"
) -> tuple[Column, Column]:
    """(|A ∩ B|, |A ∪ B|) of two DISTINCT arrays (shingles() ends in
    array_distinct). The union is |A| + |B| − |A ∩ B|: array length is
    O(1), where array_union is a second O(|A| + |B|) hash-set pass per
    pair, and the integers are the same. ``bound`` is the column the
    caller binds the intersection to, so the union reads it instead of
    intersecting again. ``dtype`` is the integer type of the sizes
    (``None`` keeps ``size()``'s int). NULL on either side propagates
    NULL through both."""

    def size(c: Column) -> Column:
        return F.size(c) if dtype is None else F.size(c).cast(dtype)

    inter = size(F.array_intersect(a, b))
    return inter, size(F.col(a)) + size(F.col(b)) - (
        inter if bound is None else bound
    )


def chunk_hamming(a: str, b: str, chunks: int) -> Column:
    """BIGINT Hamming distance between two signatures held as chunk
    columns ``{a}0..`` and ``{b}0..``: the sum of per-chunk popcounts
    of XOR (``bit_count``, a Spark ≥3.3 built-in)."""
    return sum(
        F.bit_count(F.col(f"{a}{j}").bitwiseXOR(F.col(f"{b}{j}")))
        for j in range(chunks)
    ).cast("bigint")


def chunk_bands(vals: list[Column]) -> Column:
    """array<struct(chunk_id, chunk_val)>, one band per signature chunk
    (``vals[j]`` is chunk j). Any two signatures within Hamming distance
    len(vals) − 1 share a chunk (pigeonhole), so banding on it loses no
    pair. The caller picks ``explode`` (band rows only) or
    ``explode_outer`` (a row with NULL bands for every input row)."""
    return F.array(
        *[
            F.struct(F.lit(j).alias("chunk_id"), v.alias("chunk_val"))
            for j, v in enumerate(vals)
        ]
    )
