"""Join operators.

The reference is a single-table engine — no operator touches two tables
(SURVEY.md §2.3). This module supplies the join surface its analytical
north star needs, each shaped so Catalyst picks the right physical plan
at 100 TB:

* dimension joins pass ``broadcast()`` hints — region/nation/customer are
  orders of magnitude smaller than the fact table, so no shuffle of the
  big side at all;
* fact-fact joins (lineitem ⋈ orders) shuffle on the join key and resolve
  to sort-merge join; AQE converts to broadcast at runtime if a side
  turns out small;
* the as-of and interval joins — which Spark lacks natively — are built
  from bucketed equi-joins + window functions so the plan stays a
  shuffle-bounded join rather than a cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim_join(
    fact: DataFrame, dims: list[tuple[DataFrame, list[str] | str]]
) -> DataFrame:
    """Star-schema join: fact ⋈ each (small) dimension with an explicit
    broadcast hint. At 100 TB the fact side streams through executors
    while each dimension ships once per executor — zero fact shuffle."""
    out = fact
    for dim, on in dims:
        out = out.join(F.broadcast(dim), on=on, how="inner")
    return out


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS semantics: left rows with ≥1 match; never duplicates left
    rows, never carries right columns (cheaper than inner+distinct)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS semantics: left rows with no match."""
    return left.join(right, on=on, how="left_anti")


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    max_gap_seconds: int,
    partition_keys: list[str] | None = None,
) -> DataFrame:
    """Interval/range join: pair (l, r) where
    ``0 <= r.ts - l.ts <= max_gap_seconds`` (and optional equi-keys).

    A naive theta-join is a broadcast-nested-loop — quadratic and dead at
    scale. Instead both sides are bucketed into ``max_gap_seconds``-wide
    epochs; a right row can only match left rows in the same or previous
    bucket, so the join becomes an equi-join on (keys, bucket) over
    left ∪ left+1 — shuffle-partitionable, linear in matches.
    """
    gap = F.lit(max_gap_seconds)
    lb = (F.unix_timestamp(F.col(left_ts)) / max_gap_seconds).cast("long")
    rb = (F.unix_timestamp(F.col(right_ts)) / max_gap_seconds).cast("long")
    keys = partition_keys or []

    # Left rows claim their own bucket and the next one: every right row
    # within `gap` ahead of a left row lives in bucket b or b+1.
    l0 = left.withColumn("_bucket", lb)
    l1 = l0.withColumn("_bucket", F.col("_bucket") + 1)
    l_expanded = l0.unionByName(l1)
    r = right.withColumn("_bucket", rb)

    cond = [l_expanded["_bucket"] == r["_bucket"]] + [
        l_expanded[k] == r[k] for k in keys
    ]
    joined = l_expanded.join(r, cond, "inner")
    delta = F.unix_timestamp(r[right_ts]) - F.unix_timestamp(l_expanded[left_ts])
    return joined.filter((delta >= 0) & (delta <= gap)).drop("_bucket")


def salted_join(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """Skew-mitigating equi-join: scatter each left (big/skewed side) row
    to one of 8 sub-keys and replicate every right row across all
    of them, so one hot join key spreads over 8 shuffle partitions
    instead of funneling into a single straggler task.

    The salt is derived deterministically from the left row's columns
    (xxhash64), so results are reproducible. AQE's skew-join splitting
    (on in this engine's session, session.py) handles sort-merge skew at
    runtime; manual salting remains the tool for skewed *aggregations*
    and for engines/paths AQE can't rewrite — provided here both as a
    usable operator and as the documented pattern.
    """
    l_salted = left.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8)).cast(
            "int"
        ),
    )
    r_replicated = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(7)))
    )
    return l_salted.join(r_replicated, on=[on, "_salt"], how="inner").drop("_salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """As-of join: for each left row, the single most recent right row
    with ``right.ts <= left.ts`` on the same key (latest-state lookup).

    Spark has no native as-of operator; the classic scalable shape is a
    union + window: tag both sides, sort within key by (ts, side), and
    let ``last(right_value, ignorenulls)`` carry the latest right state
    forward onto left rows. One shuffle on the key — no range explosion,
    no per-row subquery. Ties (right.ts == left.ts) include the right
    row, i.e. '<=' semantics.
    """
    lt = left.withColumn("_side", F.lit(1)).withColumn(
        "_k", F.col(left_on)
    ).withColumn("_t", F.col(left_ts))
    rt = (
        right.select(
            F.col(right_on).alias("_k"),
            F.col(right_ts).alias("_t"),
            *[F.col(c) for c in right_cols],
        )
        .withColumn("_side", F.lit(0))
    )
    for c in right_cols:
        lt = lt.withColumn(c, F.lit(None).cast(rt.schema[c].dataType))
    unioned = lt.unionByName(rt, allowMissingColumns=True)

    # Right rows (side=0) sort before left rows at equal timestamps, so a
    # right row exactly at left.ts is visible to it ('<=' as-of).
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned
    for c in right_cols:
        filled = filled.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return filled.filter(F.col("_side") == 1).drop("_side", "_k", "_t")
