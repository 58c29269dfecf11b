"""Window-function operators (SURVEY.md §2.3 — absent in the reference).

Ranking, analytic (lag/lead), and frame-based moving aggregates over
per-key event streams. Each window shuffles once on its partition key and
sorts within partitions; at 100 TB the partition key (user_id) spreads
state across executors, and no window here is unpartitioned (a global
``Window.orderBy`` would funnel the dataset through one task — never do
that at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_events_per_user(df: DataFrame, top_n: int | None = None) -> DataFrame:
    """row_number/rank over each user's event stream ordered by
    (ts, key) — the reference's (Timestamp, Key) sort rule
    (tablet.go:124-132) as a per-key ranking."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    out = df.withColumn("rn", F.row_number().over(w))
    if top_n is not None:
        out = out.filter(F.col("rn") <= top_n)
    return out


def lag_delta_seconds(df: DataFrame) -> DataFrame:
    """Seconds since the previous event of the same key (lag analytic);
    NULL for each key's first event."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    prev = F.lag(F.col("ts")).over(w)
    return df.withColumn(
        "gap_s",
        (F.unix_timestamp(F.col("ts")) - F.unix_timestamp(prev)).cast("bigint"),
    )


def rank_lead_values(
    df: DataFrame,
    partition_col: str,
    order_col: str,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """rank + dense_rank + lead in one window pass: all three share the
    same (partition, order) spec, so Catalyst plans a single shuffle +
    sort and evaluates the three frames in one Window operator."""
    w = Window.partitionBy(partition_col).orderBy(
        F.col(order_col).desc(), F.col(key_col)
    )
    return df.select(
        F.col(partition_col),
        F.col(key_col),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lead(F.col(value_col)).over(w).alias("next_val"),
    )


def moving_sum(
    df: DataFrame,
    partition_col: str,
    ts_col: str,
    key_col: str,
    value_col: str,
    preceding: int,
) -> DataFrame:
    """Moving sum over a ROWS frame [preceding, current] per key.

    Summed as exact decimal then cast to double so the result is
    independent of row layout (see aggregates.dsum rationale)."""
    w = (
        Window.partitionBy(partition_col)
        .orderBy(F.col(ts_col), F.col(key_col))
        .rowsBetween(-preceding, Window.currentRow)
    )
    val = F.col(value_col).cast("decimal(18,2)")
    return df.withColumn("moving_sum", F.sum(val).over(w).cast("double"))


def sessionize(
    df: DataFrame,
    partition_col: str = "user_id",
    ts_col: str = "ts",
    key_col: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap since the
    previous event exceeds ``gap_seconds`` (gaps-and-islands). This is the
    batch analog of ``session_window`` (streaming module) and is fully
    expressible in ANSI SQL for the oracle.

    Adds ``session_id`` (1-based per key). One shuffle + one sort.
    Ordering tie-breaks on ``key_col`` so the island assignment is
    deterministic.
    """
    w = Window.partitionBy(partition_col).orderBy(F.col(ts_col), F.col(key_col))
    prev = F.lag(F.col(ts_col)).over(w)
    is_new = (
        prev.isNull()
        | ((F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev)) > gap_seconds)
    ).cast("int")
    return df.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


def range_frame_sum(
    df: DataFrame,
    partition_col: str,
    ts_col: str,
    value_col: str,
    preceding_seconds: int,
    alias: str = "range_sum",
) -> DataFrame:
    """Moving sum over a time-based RANGE frame [ts - preceding, ts] per
    key — a true event-time frame, unlike the row-count frame in
    ``moving_sum``. Ordered by ``unix_micros`` so the frame boundary is
    microsecond-exact (``events.ts`` carries sub-second precision and the
    SQL oracle's ``RANGE INTERVAL ... PRECEDING`` is µs-exact too); rows
    sharing a timestamp are frame peers, so no key tie-break is needed for
    a layout-independent result. Decimal-exact sum, one shuffle on the
    partition key.

    The ``cast("timestamp")`` guards the TIMESTAMP_NTZ case: the corpus'
    ``events.ts`` is parquet TIMESTAMP(µs, isAdjustedToUTC=false), which
    Spark reads as TIMESTAMP_NTZ — a type ``unix_micros`` rejects. With
    the session pinned to UTC (catalog.ensure_session_conf) the cast is
    an exact relabeling, so epoch math is identical in both engines."""
    w = (
        Window.partitionBy(partition_col)
        .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
        .rangeBetween(-preceding_seconds * 1_000_000, Window.currentRow)
    )
    val = F.col(value_col).cast("decimal(18,2)")
    return df.withColumn(alias, F.sum(val).over(w).cast("double"))


def counter_rate(
    df: DataFrame,
    partition_col: str,
    ts_col: str = "ts",
    key_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-key counter delta and per-second rate with reset handling —
    the monitoring-TSDB read (PromQL ``increase``/``rate``) over the
    reference's (key, ts) rows (row.go:6-10). Per partition key, in
    (ts, key) order: ``increase`` is the value delta since the previous
    sample, except a negative delta means the counter reset and the raw
    value is the increase; ``rate_per_s`` divides by the whole-second
    gap (NULL for the first sample and for same-second pairs, where a
    rate is undefined).

    One shuffle on the partition key; lag/rate are all codegen'd window
    expressions, deterministic under the (ts, key) total order. Division
    happens once on identical operands in both engines, so the result is
    bit-identical and intentionally unrounded (FIXTURES.md rule).
    """
    w = Window.partitionBy(partition_col).orderBy(F.col(ts_col), F.col(key_col))
    prev_v = F.lag(F.col(value_col)).over(w)
    sec = F.unix_timestamp(F.col(ts_col))
    gap = sec - F.lag(sec).over(w)
    delta = F.col(value_col) - prev_v
    increase = F.when(prev_v.isNull(), F.lit(None)).when(
        delta >= 0, delta
    ).otherwise(F.col(value_col))
    rate = F.when(prev_v.isNull() | (gap <= 0), F.lit(None)).otherwise(
        increase / gap
    )
    return df.withColumn("increase", increase).withColumn("rate_per_s", rate)


def pattern_triple(
    df: DataFrame,
    partition_col: str,
    pattern: tuple[str, str, str],
    within_seconds: int = 3600,
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: contiguous three-step pattern detection per
    key. Filter the stream to the pattern's event types, then a row is a
    match start when it and its next two rows (in (ts, key) order within
    the filtered stream) spell the pattern and the whole span fits in
    ``within_seconds``. Contiguity is relative to the filtered stream —
    the standard MATCH_RECOGNIZE semantics over a pattern-relevant
    partition.

    One window shuffle on the key; lead() is codegen'd, overlapping
    matches are all reported (per-row match-start detection has no
    cross-match state, which is what keeps it embarrassingly parallel
    at scale).
    """
    a, b, c = pattern
    flt = df.filter(F.col("event_type").isin(a, b, c))
    w = Window.partitionBy(partition_col).orderBy(F.col("ts"), F.col("event_id"))
    t2 = F.lead("event_type", 1).over(w)
    t3 = F.lead("event_type", 2).over(w)
    out = (
        flt.withColumn("_t2", t2)
        .withColumn("_t3", t3)
        .withColumn("_k2", F.lead("event_id", 1).over(w))
        .withColumn("_k3", F.lead("event_id", 2).over(w))
        .withColumn("_ts3", F.lead("ts", 2).over(w))
    )
    span_ok = (
        F.unix_timestamp("_ts3") - F.unix_timestamp("ts")
    ) <= within_seconds
    return (
        out.filter(
            (F.col("event_type") == a) & (F.col("_t2") == b) & (F.col("_t3") == c)
            & span_ok
        )
        .select(
            F.col(partition_col),
            F.col("event_id").alias("k_start"),
            F.col("_k2").alias("k_mid"),
            F.col("_k3").alias("k_end"),
            F.col("ts").alias("ts_start"),
            F.col("_ts3").alias("ts_end"),
        )
    )
