"""Shared pytest fixtures: one SparkSession per test run."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronobase_spark import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="chronobase-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def smoke_frame(spark):
    """``smoke_frame(name)``: registered query ``name`` built over the
    smoke corpus on first request and shared for the rest of the run.
    Iterative queries (BPE training, dup clustering) execute driver-side
    rounds just to produce their DataFrame, so each full-registry build
    costs minutes. Only for tests that read a frame's schema or initial
    plan: executing an adaptive frame replaces its plan with the final
    one, so a test that executes a query builds its own."""
    from chronobase_spark import queries

    built = {}

    def frame(name):
        if name not in built:
            built[name] = queries.queries()[name](spark, SF_SMOKE)
        return built[name]

    return frame
