"""The Generate barrier: make Catalyst evaluate an expression once."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def barrier(df: DataFrame, **cols: Column) -> DataFrame:
    """Add ``cols`` to ``df`` behind one Generate node
    (``inline(array(struct(...)))``). CollapseProject cannot merge a
    projection across a Generate, so downstream filters and lambdas read
    the materialized attributes. Behind a plain alias, a filter inlines
    the whole expression tree and evaluates it again per predicate (the
    600+-char Filter conditions of the r17 plan dumps)."""
    named = [c.alias(name) for name, c in cols.items()]
    return df.select("*", F.inline(F.array(F.struct(*named))))
