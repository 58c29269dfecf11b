"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual engine lives in ``chronobase_spark``; this module is a thin
adapter over its query registry (chronobase_spark/queries.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from chronobase_spark import queries as _q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Inclusive time-range scan over events (the reference's one read
    operator, tablet.go:331-387) + per-type aggregation — the Spark
    analog of the reference demo's insert→query round trip
    (cmd/dbserver/main.go:80-99)."""
    return _q.flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted only for ops
    whose values depend on Spark-internal hashing or sampling: the
    xxhash64 MinHash pair finder and the approximate sketches — those
    get rows-only checks and are pinned against ground truth in
    tests/)."""
    return _q.oracle_sql()
