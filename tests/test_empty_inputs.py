"""Empty-input robustness sweep: every registered query must PLAN and
EXECUTE over empty (zero-row, same-schema) tables without raising.

At 100 TB this is not an edge case — time-range partitions, new
tenants, and filtered sub-corpora are routinely empty, and operators
that collect a scalar (thresholds, totals, codebooks) or iterate to a
fixpoint (connected components) are exactly where an implicit
non-empty assumption hides. Zero rows returned is fine; an exception
is a bug.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronobase_spark import catalog, queries as q  # noqa: E402
from tests.conftest import SF_SMOKE  # noqa: E402
from tests.oracle_harness import sweep  # noqa: E402


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    """A scale-factor directory of EMPTY tables with the smoke corpus'
    exact schemas (limit(0) preserves schema and parquet layout)."""
    root = tmp_path_factory.mktemp("sf_empty")
    for t in catalog.TABLES:
        spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").limit(0).coalesce(
            1
        ).write.parquet(str(root / f"{t}.parquet"))
    return str(root)


def _crashes(spark, sf_dir: str) -> dict[str, str]:
    """{query: its error} for every registered query that raises when
    run to completion over ``sf_dir``."""
    qs = q.queries()
    ran, _ = sweep(lambda name: qs[name](spark, sf_dir).collect(), sorted(qs))
    return {
        name: f"{type(r).__name__}: {r}"[:160]
        for name, r in ran.items()
        if isinstance(r, Exception)
    }


def test_every_query_survives_empty_tables(spark, empty_sf_dir):
    failures = _crashes(spark, empty_sf_dir)
    assert not failures, f"{len(failures)} queries break on empty input: {failures}"


@pytest.fixture(scope="module")
def nully_sf_dir(spark, tmp_path_factory):
    """The smoke corpus with ~20% NULLs injected into every nullable
    NON-KEY column (keys/ids/timestamps stay intact — the engine's data
    model requires them, reference row.go:6-10). Deterministic via
    xxhash64 so failures reproduce."""
    from pyspark.sql import functions as F

    keep = {  # identity/join columns a (key, ts) store may assume
        "event_id", "ts", "user_id", "doc_id", "vec_id", "label",
        "o_orderkey", "o_custkey", "c_custkey", "c_nationkey",
        "n_nationkey", "n_regionkey", "r_regionkey", "s_suppkey",
        "s_nationkey", "p_partkey", "l_orderkey", "l_partkey",
        "l_suppkey", "l_linenumber", "event_date",
    }
    root = tmp_path_factory.mktemp("sf_nully")
    for t in catalog.TABLES:
        df = spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
        for c in df.columns:
            if c in keep:
                continue
            df = df.withColumn(
                c,
                F.when(
                    F.pmod(F.xxhash64(F.lit(c), F.monotonically_increasing_id()), 5)
                    != 0,
                    F.col(c),
                ),
            )
        df.coalesce(2).write.parquet(str(root / f"{t}.parquet"))
    return str(root)


def test_every_query_survives_null_values(spark, nully_sf_dir):
    """NULLs in text/value/measure columns must never raise — dropped,
    grouped, or propagated per SQL semantics, but never a crash."""
    failures = _crashes(spark, nully_sf_dir)
    assert not failures, f"{len(failures)} queries break on NULL input: {failures}"
