"""Aggregation operators.

The reference has no aggregation at all — its closest artifact is the
count/min/max metadata in ``GetStats`` (reference
internal/storage/table.go:390-414). This module supplies the analytical
aggregation surface (SURVEY.md §2.3): hash aggregation with map-side
partial aggregates comes free from ``groupBy().agg()``; rollup/cube and
approximate sketches are Spark built-ins.

Float determinism: doubles summed in different orders differ in final
ulps, which breaks oracle hash-matching and is irreproducible at scale.
``dsum``/``davg`` below sum as exact DECIMAL (associative, order-free)
and cast the final value back to double — bit-identical on Spark and
DuckDB regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dsum(col: Column | str) -> Column:
    """Order-insensitive exact sum of a fixed-point-valued double column:
    cast to DECIMAL(18, scale) (exact for the corpus' 2-decimal money
    values), sum exactly, cast back to double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,2)")).cast("double")


def davg(col: Column | str) -> Column:
    """Order-insensitive mean: exact decimal sum divided by count, in
    double — one deterministic division instead of n accumulations."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))


def group_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """Hash aggregation. Spark plans partial (map-side) + final aggregate
    around one shuffle on the grouping keys; with AQE, skewed groups are
    split at runtime."""
    return df.groupBy(*keys).agg(*aggs)


def rollup_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """ROLLUP grouping sets (k, k-1, …, grand total)."""
    return df.rollup(*keys).agg(*aggs)


def cube_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """CUBE grouping sets (all key subsets)."""
    return df.cube(*keys).agg(*aggs)


def grouping_sets_agg(
    df: DataFrame, sets: list[list[str]], keys: list[str], aggs: list[Column]
) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube) — one
    Expand node replicating each row once per set, then a single hash
    aggregate; cheaper than unioning per-set aggregates because the
    input is scanned once."""
    return df.groupingSets([[F.col(c) for c in s] for s in sets], *keys).agg(*aggs)


def percentiles(
    df: DataFrame, keys: list[str], col: str, pcts: list[float]
) -> DataFrame:
    """Exact percentiles (linear interpolation, ANSI semantics — matches
    DuckDB ``quantile_cont``). Exact percentile sorts each group's values;
    the 100 TB path is ``approx_percentile`` (KLL/GK sketch, constant
    memory, mergeable map-side) — kept exact here because the driver
    oracle hash-compares values."""
    aggs = [
        F.round(F.percentile(col, F.lit(p)), 6).alias(
            f"p{int(p * 100)}"
        )
        for p in pcts
    ]
    return df.groupBy(*keys).agg(*aggs)


def distinct_count(df: DataFrame, keys: list[str], col: str, alias: str) -> DataFrame:
    """Exact COUNT(DISTINCT col) per group — planned as expand + two-phase
    aggregate; exact but shuffles the distinct pairs."""
    return df.groupBy(*keys).agg(F.countDistinct(col).alias(alias))


def approx_distinct_count(
    df: DataFrame, keys: list[str], col: str, alias: str
) -> DataFrame:
    """HyperLogLog++ COUNT(DISTINCT) — constant memory per group, single
    shuffle of sketches. The scale path: at 100 TB exact distinct on a
    high-cardinality column shuffles the full column; HLL ships ~1.5 KB
    per group instead."""
    return df.groupBy(*keys).agg(F.approx_count_distinct(col, 0.05).alias(alias))
