"""Registry contract tests — the driver-facing invariants that
don't need a SparkSession."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronobase_spark import queries as q  # noqa: E402


def test_oracle_keys_subset_of_queries():
    qs, oracles = q.queries(), q.oracle_sql()
    assert set(oracles) <= set(qs)
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_queries_and_oracles_share_order():
    """Graders pair the two dicts by name; both must enumerate in the
    same (registration) order."""
    qnames = [n for n in q.queries() if n in q.oracle_sql()]
    assert qnames == list(q.oracle_sql())


def test_rows_only_queries_are_documented_set():
    """Exactly the engine-hash/RNG queries may lack an oracle; a new
    query accidentally registered without SQL should fail here, not
    silently downgrade to a rows-only check."""
    no_oracle = set(q.queries()) - set(q.oracle_sql())
    assert no_oracle == {
        "minhash_dedup_pairs",
        "approx_distinct_users",
        "approx_value_percentiles",
        "sketch_rollup_users",
        "mad_outliers_approx",
    }
