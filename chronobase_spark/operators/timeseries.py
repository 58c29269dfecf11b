"""Time-series operators — the reference's executed query surface.

The reference's entire read API is one operator: an inclusive time-range
scan (``DB.Query``, reference pkg/db/db.go:155-162 →
internal/storage/tablet.go:331-387), plus declared-but-unwired limit /
ordering / key-lookup intent (reference pkg/db/types.go:16-29,
internal/storage/index.go:231-236). Here each becomes a one-liner the
optimizer can see through:

* the per-tablet [MinTS, MaxTS] pruning the reference hand-rolls
  (table.go:146-149) is Parquet row-group min/max stats + partition
  pruning — the BETWEEN predicate below is pushed into the scan
  (check ``.explain``: PushedFilters on ``ts``);
* the key lookup's sparse block index (index.go:231-236, dead code in the
  reference) is Parquet predicate pushdown on the key column.

Tables written by the storage layer (chronobase_spark.streaming.
maintenance) are partitioned by ``event_date``; ``time_range_scan`` adds
the matching partition predicate, so those scans prune whole partitions
before touching a file.
"""

from __future__ import annotations

import calendar
import datetime as dt

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from chronobase_spark.streaming.maintenance import PARTITION_COL, partition_between

TimeLike = "str | dt.datetime"

# Hidden raw-nanos column kept by the catalog for pushdown (catalog._normalize).
TS_NS = "__ts_ns"


def _ts(value: str | dt.datetime) -> Column:
    """Literal timestamp; strings are 'YYYY-MM-DD HH:MM:SS[.ffffff]' (UTC)."""
    if isinstance(value, str):
        return F.to_timestamp(F.lit(value))
    return F.lit(value)


def _to_micros(value: str | dt.datetime) -> int:
    """Literal → integer µs since epoch (UTC), without float rounding."""
    d = dt.datetime.fromisoformat(value) if isinstance(value, str) else value
    if d.tzinfo is not None:
        d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return calendar.timegm(d.timetuple()) * 1_000_000 + d.microsecond


def time_range_scan(
    df: DataFrame,
    start: str | dt.datetime,
    end: str | dt.datetime,
) -> DataFrame:
    """All rows with start <= ts <= end — bounds inclusive on BOTH ends,
    matching the reference's memory path ``!ts.Before(start) &&
    !ts.After(end)`` (tablet.go:382) and disk path (tablet.go:366-367).

    Spark's BETWEEN is inclusive-inclusive, so semantics align exactly.

    Pushdown: when the catalog kept raw nanos (``__ts_ns``), the bounds
    are translated exactly — displayed µs ts is floor(ns/1000), so
    ``ts >= s ⟺ ns >= s·1000`` and ``ts <= e ⟺ ns <= e·1000 + 999`` —
    and the int64 predicate reaches the Parquet reader (PushedFilters),
    giving the row-group/partition pruning the reference intended but
    never wired (tablet.go:349-350 reads every block). On a table in the
    storage layer's layout the ``event_date`` bounds become
    PartitionFilters, so whole day directories are skipped.
    """
    cond = F.col("ts").between(_ts(start), _ts(end))
    if TS_NS in df.columns:
        s_ns = _to_micros(start) * 1000
        e_ns = _to_micros(end) * 1000 + 999
        cond = cond & F.col(TS_NS).between(F.lit(s_ns), F.lit(e_ns))
    if PARTITION_COL in df.columns:
        cond = cond & partition_between(_ts(start), _ts(end))
    return df.filter(cond).drop(TS_NS)


def key_lookup(df: DataFrame, key_col: str, key_value) -> DataFrame:
    """Point lookup by key (reference ``findBlockForKey``,
    index.go:231-236 — declared, never reached). Equality predicate is
    pushed down; at scale, Parquet dictionary/bloom filters serve the
    role of the reference's per-block last-key index. Drops the
    catalog's hidden pushdown column from the output."""
    return df.filter(F.col(key_col) == F.lit(key_value)).drop(TS_NS)


def scan_ordered(
    df: DataFrame,
    key_col: str = "event_id",
    ascending: bool = True,
    limit: int | None = None,
) -> DataFrame:
    """Ordered scan with optional limit — the reference's
    ``Query.Ascending`` / ``Query.Limit`` intent (pkg/db/types.go:16-21).
    Ties on the timestamp break by key, the reference's in-tablet sort
    rule (tablet.go:124-132).

    With a limit, Catalyst plans TakeOrderedAndProject: each partition
    keeps a k-row heap and the driver merges k·p rows — no global sort,
    which is what makes top-k viable at 100 TB.
    """
    order = [F.col("ts"), F.col(key_col)]
    if not ascending:
        order = [c.desc() for c in order]
    out = df.orderBy(*order)
    if limit is not None:
        out = out.limit(limit)
    return out


def ttl_filter(df: DataFrame, cutoff: str | dt.datetime) -> DataFrame:
    """Retention filter: keep rows strictly newer than the cutoff —
    the reference drops rows with ``time.Since(ts) > ttl`` at ingest
    (table.go:93-96) and filters the memtable to ``ts > now-ttl`` at
    cleanup (table.go:362), i.e. rows exactly at the cutoff are KEPT.
    Callers pass a literal cutoff so results are deterministic; the
    streaming ingest path applies the same predicate per micro-batch.

    Same ns-pushdown translation as time_range_scan:
    ``ts > c ⟺ floor(ns/1000) >= c+1µs ⟺ ns >= (c+1µs)·1000``."""
    cond = F.col("ts") > _ts(cutoff)
    if TS_NS in df.columns:
        cond = cond & (F.col(TS_NS) >= F.lit((_to_micros(cutoff) + 1) * 1000))
    return df.filter(cond).drop(TS_NS)


def table_stats(df: DataFrame) -> DataFrame:
    """Table statistics: row count + oldest/newest timestamp — the
    reference's ``GetStats`` (table.go:390-414, struct table.go:32-42).
    Storage-level fields (DiskTablets, DiskSize) are file-system facts
    owned by the catalog, not the query engine."""
    return df.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.min("ts").alias("oldest_ts"),
        F.max("ts").alias("newest_ts"),
    )


def gap_fill_locf(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
    value_decimal: str = "decimal(18,2)",
) -> DataFrame:
    """Time-bucket densification + last-observation-carried-forward — the
    canonical TSDB gap-fill read over the reference's (key, timestamp)
    data model (row.go:6-10; its scan surfaces only buckets that contain
    rows, table.go:122-163). Per key: aggregate into `bucket` buckets,
    build the full bucket spine between that key's min and max bucket
    (sequence + explode — distributed, no driver-side range loop), left
    join observations onto the spine, and fill empty buckets with the
    most recent observed aggregate via last(ignorenulls) over an
    unbounded-preceding window.

    Scale: the spine is generated key-by-key on executors (one row per
    key fans out to its own bucket range), the join and the LOCF window
    both hash-partition on the key, and AQE handles skewed keys. State
    is O(1) per window step — no per-key materialization of history.

    PRECISION CONTRACT: the bucket average sums ``value_col`` as
    ``value_decimal`` (default DECIMAL(18,2)) — inputs with more
    fractional digits than the scale are QUANTIZED (half-up) before
    summing, and magnitudes past the precision overflow (NULL with
    ANSI off). The default matches the fixture's 2-dp values exactly;
    pass a wider type (e.g. "decimal(38,9)") for finer inputs.
    """
    # Order-insensitive exact DECIMAL sum, then ONE double division:
    # identical operands divide identically on every engine, so the
    # average needs no rounding. (round(AVG(..), 6) flaked 1-in-3600
    # buckets at sf0.1: Spark rounds the quotient's shortest decimal
    # string, DuckDB the binary — FIXTURES.md quantization rule.)
    bucketed = df.groupBy(
        key_col, F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.col(value_col).cast(value_decimal)).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_value"),
    )
    step = F.expr(f"interval 1 {bucket}")
    spine = (
        df.groupBy(key_col)
        .agg(
            F.date_trunc(bucket, F.min(ts_col)).alias("b0"),
            F.date_trunc(bucket, F.max(ts_col)).alias("b1"),
        )
        .select(
            key_col,
            F.explode(F.sequence(F.col("b0"), F.col("b1"), step)).alias("bucket_ts"),
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return spine.join(bucketed, [key_col, "bucket_ts"], "left").select(
        key_col,
        "bucket_ts",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_locf"),
    )


def gap_fill_interp(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "hour",
    value_decimal: str = "decimal(18,2)",
) -> DataFrame:
    """Time-bucket densification + linear interpolation — the companion
    to :func:`gap_fill_locf` for continuous signals (LOCF for step
    signals, interpolation for sampled ones; the reference's (key, ts)
    model, row.go:6-10, implies both reads but its scan exposes
    neither, table.go:122-163). Per key: hourly aggregate, full bucket
    spine between the key's min and max bucket, then each empty bucket
    gets ``prev + (next - prev) * elapsed/span`` from its neighboring
    observed buckets.

    The spine is bounded by *observed* buckets, so every empty bucket
    has both a previous and a next observation — no extrapolation
    branch. The backward (prev) and forward (next) scans are two frames
    over the same (key, bucket) sort, so Catalyst reuses one shuffle +
    one sort for all four window expressions. The bucket average is an
    exact DECIMAL sum divided once (deterministic, unrounded — see
    gap_fill_locf), and the interpolation is bit-identical arithmetic
    on both engines (FIXTURES.md rounding-boundary rule).

    PRECISION CONTRACT: same as gap_fill_locf — ``value_decimal``
    (default DECIMAL(18,2)) quantizes finer-grained inputs at the
    bucket-sum step; widen it for inputs with more fractional digits.
    """
    bucketed = df.groupBy(
        key_col, F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts")
    ).agg(
        (
            F.sum(F.col(value_col).cast(value_decimal)).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_value")
    )
    step = F.expr(f"interval 1 {bucket}")
    spine = (
        df.groupBy(key_col)
        .agg(
            F.date_trunc(bucket, F.min(ts_col)).alias("b0"),
            F.date_trunc(bucket, F.max(ts_col)).alias("b1"),
        )
        .select(
            key_col,
            F.explode(F.sequence(F.col("b0"), F.col("b1"), step)).alias("bucket_ts"),
        )
    )
    w_prev = (
        Window.partitionBy(key_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(key_col)
        .orderBy("bucket_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_ts = F.when(F.col("avg_value").isNotNull(), F.col("bucket_ts"))
    joined = (
        spine.join(bucketed, [key_col, "bucket_ts"], "left")
        .withColumn("prev_v", F.last("avg_value", ignorenulls=True).over(w_prev))
        .withColumn("prev_t", F.last(obs_ts, ignorenulls=True).over(w_prev))
        .withColumn("next_v", F.first("avg_value", ignorenulls=True).over(w_next))
        .withColumn("next_t", F.first(obs_ts, ignorenulls=True).over(w_next))
    )
    ratio = (
        F.unix_timestamp("bucket_ts") - F.unix_timestamp("prev_t")
    ) / (F.unix_timestamp("next_t") - F.unix_timestamp("prev_t"))
    interp = F.when(F.col("avg_value").isNotNull(), F.col("avg_value")).otherwise(
        F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * ratio
    )
    return joined.select(
        key_col,
        "bucket_ts",
        interp.alias("avg_value_interp"),
    )


def latest_per_key(
    df: DataFrame, key_col: str, ts_col: str = "ts", tiebreak_col: str = "event_id"
) -> DataFrame:
    """Latest row per series key — the canonical TSDB read implied by the
    reference's (key, timestamp) data model (row.go:6-10) but never
    exposed by it (the scan returns every generation of a key,
    table.go:132-161). row_number over (ts desc, tiebreak desc), keep
    rn = 1. Whole-row argmax admits no partial aggregation, so this is
    one window shuffle partitioned by key; AQE splits skewed keys."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).desc(), F.col(tiebreak_col).desc()
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def segmented_ewma(df: DataFrame, bucket: str = "day") -> DataFrame:
    """Exponentially-weighted moving average per key via associative
    affine-segment composition — bounded state at every stage.

    Each EWMA step is the affine map y -> (1-α)·y + α·v; affine maps
    compose associatively, so per-key histories are segmented by a
    calendar bucket of ``ts`` and each segment folds independently
    to a zero-start prefix b_j (the segment's EWMA as if entered with
    y = 0) and decay a_j = (1-α)^j. A window over (key) ordered by
    segment then chains the entry value yin(k) = a_tot·yin(k-1) + b_end
    by folding each row's prefix of per-segment summaries (one struct
    per bucket, never per event) onto the key's first value, and every
    row's output is then one multiply-add ewma_j = a_j·yin + b_j.

    Memory per task is one (key, bucket) group — pick ``bucket`` to
    match per-key density at the target scale; no stage ever holds a
    full history (the r1–r4 formulation collect_list'ed each key's
    whole history into one executor array, the one scale-killer the
    round-4 audit flagged).

    With α = 0.5 every multiply is by a power of two (exact in IEEE
    754 binary), so the result is a well-defined association of the
    exact recurrence: an oracle that mirrors the same op DAG (zero-
    start segment fold, boundary-chain multiply-add, final combine)
    matches bit-for-bit on any engine with IEEE doubles. The first row
    stays exact because yin(first segment) = v_1 and
    0.5·v_1 + 0.5·v_1 = v_1.

    Output: (user_id, event_id, ts, value, ewma), one row
    per input row.
    """
    a = 0.5
    ev = df.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.date_trunc(bucket, F.col("ts")).alias("_seg"),
    )
    seq = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "value"))
    )
    # Zero-start prefix fold within one bounded (key, bucket) segment:
    # b_j = α v_j + (1-α) b_{j-1} (b_0 = 0), a_j = (1-α) a_{j-1} (a_0 = 1).
    fold = F.aggregate(
        F.col("_seq"),
        F.struct(
            F.array().cast("array<double>").alias("a"),
            F.array().cast("array<double>").alias("b"),
        ),
        lambda acc, x: F.struct(
            F.concat(
                acc["a"],
                F.array(
                    F.when(
                        F.size(acc["a"]) > 0,
                        F.lit(1.0 - a) * F.element_at(acc["a"], -1),
                    ).otherwise(F.lit(1.0 - a))
                ),
            ).alias("a"),
            F.concat(
                acc["b"],
                F.array(
                    F.when(
                        F.size(acc["b"]) > 0,
                        F.lit(a) * x["value"]
                        + F.lit(1.0 - a) * F.element_at(acc["b"], -1),
                    ).otherwise(F.lit(a) * x["value"])
                ),
            ).alias("b"),
        ),
    )
    seg_df = (
        ev.groupBy("user_id", "_seg")
        .agg(seq.alias("_seq"))
        .withColumn("_f", fold)
        .select(
            "user_id",
            "_seg",
            "_seq",
            F.col("_f.a").alias("_a"),
            F.col("_f.b").alias("_b"),
        )
    )
    # Boundary chain over per-segment summaries — bounded at the number
    # of buckets per key (e.g. calendar days), never event count. One
    # window over (key) ordered by _seg replaces the r5 groupBy-collect
    # + explode + join-back (3 shuffles → 2: the segment groupBy plus
    # this window's exchange; no join remains). Each row folds its
    # PREFIX of (a_tot, b_end) summaries onto the key's first value —
    # the identical multiply-add sequence the r5 chain fold executed,
    # so every float rounds at the same point and the oracle that
    # mirrors this DAG still matches bit-for-bit. Prefix re-fold is
    # O(#buckets²) per key in summary structs (days, not events) —
    # negligible next to the shuffle it removes; WindowExec buffers one
    # key's segment rows (each bounded by the bucket) and spills past
    # memory, so per-task state stays bucket-bounded.
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("_seg")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("_seg")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chained = (
        seg_df.withColumn(
            "first_v", F.col("_seq")[0]["value"]
        )
        .withColumn(
            "_prefix",
            F.collect_list(
                F.struct(
                    F.element_at("_a", -1).alias("a_tot"),
                    F.element_at("_b", -1).alias("b_end"),
                )
            ).over(w_prev),
        )
        .withColumn("_y0", F.first("first_v").over(w_run))
        .withColumn(
            "yin",
            F.aggregate(
                F.col("_prefix"),
                F.col("_y0").cast("double"),
                lambda acc, s: s["a_tot"] * acc + s["b_end"],
            ),
        )
    )
    return (
        chained.select(
            "user_id",
            F.explode(
                F.transform(
                    "_seq",
                    lambda s, i: F.struct(
                        s["event_id"].alias("event_id"),
                        s["ts"].alias("ts"),
                        s["value"].alias("value"),
                        (
                            F.get("_a", i) * F.col("yin") + F.get("_b", i)
                        ).alias("ewma"),
                    ),
                )
            ).alias("_r"),
        )
        .select("user_id", "_r.*")
    )


def ltob_downsample(df: DataFrame, bucket: str = "hour") -> DataFrame:
    """Largest-Triangle-One-Bucket downsampling: one representative row
    per (key, bucket), chosen to preserve the series' visual shape —
    the TSDB plotting primitive (TimescaleDB ships it as the lttb()
    hyperfunction; Steinarsson's thesis "Downsampling Time Series for
    Visual Representation", U. Iceland 2013, defines both variants).
    The reference's scan surface (tablet.go:331-387) returns raw rows
    only; any dashboard over it re-implements exactly this reduction.

    LTOB picks, per bucket, the point with the largest triangle area
    against the NEIGHBOR BUCKET MEANS — unlike full LTTB (whose anchor
    is the previously SELECTED point, a sequential dependency like
    EWMA's), LTOB is embarrassingly parallel: bucket statistics are one
    partial-agg shuffle, neighbor means come from lag/lead over the
    tiny per-bucket summary table (|keys|·|buckets| rows), and the
    argmax is min/max-of-struct — associative, map-side combinable.

    Cross-engine determinism: timestamps become integer µs and values
    integer 1e-6 units (multiply-then-round, the FIXTURES.md rule), and
    every per-bucket sum is BIGINT-exact. To keep those sums bounded at
    any density, x is summed RELATIVE TO ITS OWN BUCKET START (≤ 3.6e9
    µs per point for hourly buckets, overflow-free until ~2.5e9 rows
    per bucket) and re-based onto the current bucket's origin at use
    time via n·(start_p − start_c) — exact integer rebasing, no
    precision loss. The triangle score multiplies out all three mean
    denominators (positive, so the argmax is unchanged):

        score = (XA·n_n − XC·n_p)·(yu·n_p − sy_p)
              − (sy_p·n_n − sy_n·n_p)·(dx·n_p − XA)

    with XA = sxr_p + n_p·(start_p − start_c) (prev-mean x numerator),
    XC likewise for next, dx = µs offset of the candidate row, yu its
    integer value. The final products exceed 2^53, so both engines
    evaluate the IDENTICAL double expression tree (same operands, same
    ops, same order → identical IEEE results); ties break on earliest
    (ts, tiebreak). Only INTERIOR buckets (both neighbors exist) are
    emitted — callers keep the first/last bucket's endpoints verbatim,
    as LTTB prescribes for the series ends.
    """
    b_start = F.date_trunc(bucket, F.col("ts"))
    xu = F.unix_micros(F.col("ts").cast("timestamp"))
    yu = F.round(F.col("value").cast("double") * F.lit(1000000.0), 0).cast(
        "bigint"
    )
    start_us = F.unix_micros(F.col("bucket_ts").cast("timestamp"))
    pts = df.select(
        F.col("event_type"),
        b_start.alias("bucket_ts"),
        F.col("event_id"),
        F.col("ts"),
        F.col("value"),
        xu.alias("_xu"),
        yu.alias("_yu"),
    ).withColumn("_dx", F.col("_xu") - start_us)

    summ = pts.groupBy("event_type", "bucket_ts").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_dx").alias("sxr"),
        F.sum("_yu").alias("sy"),
    )
    w = Window.partitionBy("event_type").orderBy("bucket_ts")
    nb = (
        summ.withColumn("_start", start_us)
        .select(
            "event_type",
            "bucket_ts",
            F.lag("n").over(w).alias("n_p"),
            F.lag("sxr").over(w).alias("sxr_p"),
            F.lag("sy").over(w).alias("sy_p"),
            F.lag("_start").over(w).alias("start_p"),
            F.lead("n").over(w).alias("n_n"),
            F.lead("sxr").over(w).alias("sxr_n"),
            F.lead("sy").over(w).alias("sy_n"),
            F.lead("_start").over(w).alias("start_n"),
            F.col("_start").alias("start_c"),
        )
        .filter(F.col("n_p").isNotNull() & F.col("n_n").isNotNull())
    )

    j = pts.join(F.broadcast(nb), ["event_type", "bucket_ts"])
    d = lambda c: c.cast("double")  # noqa: E731 — one-symbol alias keeps
    # the score expression readable enough to compare with the oracle
    xa = F.col("sxr_p") + F.col("n_p") * (F.col("start_p") - F.col("start_c"))
    xc = F.col("sxr_n") + F.col("n_n") * (F.col("start_n") - F.col("start_c"))
    score = (
        (d(xa) * d(F.col("n_n")) - d(xc) * d(F.col("n_p")))
        * (d(F.col("_yu")) * d(F.col("n_p")) - d(F.col("sy_p")))
        - (d(F.col("sy_p")) * d(F.col("n_n")) - d(F.col("sy_n")) * d(F.col("n_p")))
        * (d(F.col("_dx")) * d(F.col("n_p")) - d(xa))
    )
    best = (
        j.select(
            "event_type",
            "bucket_ts",
            F.struct(
                F.abs(score).alias("score"),
                (-F.col("_xu")).alias("neg_x"),
                (-F.col("event_id")).alias("neg_tb"),
                F.col("event_id").alias("tb"),
                F.col("ts").alias("ts_v"),
                F.col("value").alias("val"),
            ).alias("_cand"),
        )
        .groupBy("event_type", "bucket_ts")
        .agg(F.max("_cand").alias("_m"))
        .select(
            "event_type",
            "bucket_ts",
            F.col("_m.tb").alias("event_id"),
            F.col("_m.ts_v").alias("ts"),
            F.col("_m.val").alias("value"),
        )
    )
    return best


def holt_daily_smoothing(
    df: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.5,
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per key, state
    reset at each calendar day — level + trend for every
    observation (Holt 1957; the two-state upgrade over the one-state
    EWMA when series drift):

        l_1 = v_1, b_1 = 0
        l_j = α·v_j + (1-α)·(l_{j-1} + b_{j-1})
        b_j = β·(l_j − l_{j-1}) + (1-β)·b_{j-1}

    Scale shape: the recurrence is sequential, so it folds inside ONE
    bounded (key, bucket) group — a sorted higher-order-function fold
    over the group's own rows, the segmented_ewma memory rule (no
    stage ever holds a full per-key history; per-task state is one
    key-bucket group). The bucket reset is the semantic: intraday
    level/trend that re-anchors each day, so day N's smoothing is
    embarrassingly parallel with day N+1's. For a continuous chain
    across buckets see segmented_ewma's boundary machinery — Holt's
    2-state affine maps compose the same way, at double the summary
    width.

    Cross-engine exactness: with α = β = 0.5 every coefficient
    multiply is by an exact power of two, and the fold applies the
    IDENTICAL operation tree in the identical (ts, tiebreak) order as
    the recursive-CTE oracle (the level expression is inlined twice in
    the trend update ON BOTH ENGINES, so each float rounds at the same
    point). NULL observations are excluded up front on both engines
    (null-contract rule; an unobserved value has no smoothing step).

    Output: (user_id, event_id, ts, value, level, trend),
    one row per non-null input row.
    """
    a, be = float(alpha), float(beta)
    ev = df.filter(F.col("value").isNotNull()).select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.date_trunc("day", F.col("ts")).alias("_seg"),
    )
    seq = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "value"))
    )

    def step(acc, x):
        lp = F.element_at(acc["l"], -1)
        bp = F.element_at(acc["b"], -1)
        v = x["value"].cast("double")
        ln = F.lit(a) * v + F.lit(1.0 - a) * (lp + bp)
        bn = F.lit(be) * (ln - lp) + F.lit(1.0 - be) * bp
        first = F.size(acc["l"]) == 0
        return F.struct(
            F.concat(
                acc["l"], F.array(F.when(first, v).otherwise(ln))
            ).alias("l"),
            F.concat(
                acc["b"], F.array(F.when(first, F.lit(0.0)).otherwise(bn))
            ).alias("b"),
        )

    fold = F.aggregate(
        F.col("_seq"),
        F.struct(
            F.array().cast("array<double>").alias("l"),
            F.array().cast("array<double>").alias("b"),
        ),
        step,
    )
    folded = (
        ev.groupBy("user_id", "_seg")
        .agg(seq.alias("_seq"))
        .withColumn("_f", fold)
    )
    return (
        folded.select(
            "user_id",
            F.explode(
                F.transform(
                    "_seq",
                    lambda s, i: F.struct(
                        s["event_id"].alias("event_id"),
                        s["ts"].alias("ts"),
                        s["value"].alias("value"),
                        F.get(F.col("_f.l"), i).alias("level"),
                        F.get(F.col("_f.b"), i).alias("trend"),
                    ),
                )
            ).alias("_r"),
        )
        .select("user_id", "_r.*")
    )
