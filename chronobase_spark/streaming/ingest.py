"""Streaming ingest: the reference's write path, Spark-native.

Reference lifecycle → Spark mapping (SURVEY.md §1.2):

* ``DB.Insert`` appends to a memtable; a ticker flushes it to a sorted,
  time-bounded, compressed tablet (reference internal/storage/
  table.go:78-119, 198-236; tablet.go:203-281).  Spark-natively the
  memtable IS the micro-batch: ``readStream → writeStream`` with a
  processing-time trigger, and each batch is one append commit of the
  storage layer (``streaming.maintenance``): Parquet partitioned by
  ``event_date`` (the "tablet" directory), sorted by (ts, event_id)
  (the reference's tablet sort order, tablet.go:124-132). The
  ``db.ChronoSpark`` facade writes the same layout through the same
  commit, and compaction and retention run on both.
* the TTL ingest gate — rows older than TTL at arrival are silently
  dropped (table.go:93-96) — becomes a watermark + filter per
  micro-batch.
* late-data policy: ``withWatermark`` bounds state for the windowed
  aggregations; the reference's crude drop-at-ingest is kept as an
  explicit, testable filter.

At 100 TB the date partitioning keeps every time-range query pruning
whole directories, and each micro-batch file lands with footer min/max
stats on ts — exactly the per-tablet [MinTS,MaxTS] index the reference
maintained by hand (internal/storage/index.go:14-20).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from chronobase_spark.streaming import maintenance
from chronobase_spark.streaming._fold import fold_by_key

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream over a directory of event parquet files (each
    arriving file plays the role of one ``DB.Insert`` batch)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def ttl_gate(stream: DataFrame, ttl_seconds: int) -> DataFrame:
    """The reference's ingest TTL drop (table.go:93-96): silently discard
    rows already older than TTL on arrival. Evaluated per micro-batch
    against the clock, like the reference's ``time.Since``."""
    cutoff = F.current_timestamp() - F.make_interval(secs=F.lit(ttl_seconds))
    return stream.filter(F.col("ts") > cutoff)


def start_ingest(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Micro-batch Parquet sink = the reference's flush (table.go:198-236).

    Each micro-batch is one tagged append commit of the storage layer
    (``maintenance.batch_writer``): immutable files in the shared
    ``event_date`` layout, like flushed tablets. The checkpoint makes
    Spark replay a batch whose commit it did not record, and the tag
    makes the replay replace that batch's files instead of adding them
    again, so the sink is exactly-once. That replaces the reference's
    atomic temp-file rename (utils/fileutils.go:87-103).
    """
    writer = stream.writeStream.foreachBatch(
        maintenance.batch_writer(table_dir, checkpoint_dir)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="60 seconds")
    return writer.start()


def streaming_hourly_counts(stream: DataFrame) -> DataFrame:
    """Windowed streaming aggregation with late-data watermark: events
    per (hour, event_type). The watermark bounds aggregation state — the
    principled version of the reference's drop-late-rows policy."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def streaming_sessionization(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows over the event stream (native session_window
    stateful operator): per-user sessions closed after ``gap`` idle."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def streaming_user_running_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (the per-key state fold,
    ``streaming._fold``): per-user running (event count, value total),
    re-emitted on every micro-batch that touches the user.

    This is the extension point for stateful logic Spark's built-in
    streaming aggregations can't express (per-key custom accumulators,
    decaying counters, model state). State is one small tuple per
    user_id, partitioned across executors by the groupBy key; batches
    arrive Arrow-vectorized (pandas), never row-at-a-time.
    """
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def step(user_id, pdf, prior):
        n, total = prior or (0, 0.0)
        for _, chunk in pdf.groupby(level=0):  # keeps the float summation order
            n += len(chunk)
            total += float(chunk["value"].sum())
        total = round(total, 6)
        out = {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        return (n, total), out

    return fold_by_key(stream, "user_id", step, out_schema, state_schema, "update")


def streaming_user_ewma(stream: DataFrame) -> DataFrame:
    """Per-user EWMA maintained incrementally across micro-batches — the
    streaming form of the batch ``ewma_user_value`` recurrence.

    State per user is ONE double (the last smoothed value). Each batch
    runs over its rows in (ts, event_id) order, vectorized (pandas
    ``ewm(adjust=False)`` seeded by prepending the state value), so
    arithmetic is identical to the batch fold: with α=0.5 the two agree
    bit-for-bit. Emits every input row once (append semantics).

    Ordering contract: the recurrence is order-dependent, so rows must
    arrive in event-time order ACROSS batches per user; in-batch order
    is the fold's (``streaming._fold``).
    """
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("ewma", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("prev", DoubleType())])

    def step(user_id, pdf, prior):
        import pandas as pd

        prev = prior[0] if prior else None
        values = pdf["value"].astype("float64")
        if prev is not None:
            seeded = pd.concat(
                [pd.Series([prev], dtype="float64"), values],
                ignore_index=True,
            )
            ew = (
                seeded.ewm(alpha=0.5, adjust=False)
                .mean()
                .iloc[1:]
                .reset_index(drop=True)
            )
        else:
            ew = values.ewm(alpha=0.5, adjust=False).mean()
        out = {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "ts": pdf["ts"],
            "value": values,
            "ewma": ew,
        }
        return (float(ew.iloc[-1]),), out

    return fold_by_key(
        stream, "user_id", step, out_schema, state_schema, "append", ordered=True
    )


def streaming_counter_rate(stream: DataFrame) -> DataFrame:
    """Per-user counter increase/rate maintained incrementally across
    micro-batches — the streaming form of the batch
    ``operators.windows.counter_rate`` (PromQL increase/rate with reset
    handling).

    State per user is ONE (last whole-second timestamp, last value)
    pair. Each batch takes its rows in (ts, event_id) order, seeds the
    lag series from state, and computes increase (delta, or the raw
    value on a counter reset) and rate (increase / whole-second gap;
    NULL for the first-ever sample and for same-second pairs)
    vectorized — identical arithmetic to the batch window operator, so
    the two agree exactly. Emits every input row once (append
    semantics). Same in-order delivery contract as
    ``streaming_user_ewma``.
    """
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("increase", DoubleType()),
            StructField("rate_per_s", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("last_sec", LongType()), StructField("last_value", DoubleType())]
    )

    def step(user_id, pdf, prior):
        sec = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000_000
        vals = pdf["value"].astype("float64")
        prev_v = vals.shift(1)
        prev_s = sec.shift(1).astype("float64")
        if prior:
            prev_s.iloc[0], prev_v.iloc[0] = float(prior[0]), float(prior[1])
        first = prev_v.isna()
        delta = vals - prev_v
        inc = delta.where(delta >= 0, vals).mask(first)
        gap = sec - prev_s
        rate = (inc / gap).mask(first | (gap <= 0))
        # NaN would surface as a double NaN, not SQL NULL — emit object
        # columns with None so the sink schema carries real NULLs like
        # the batch operator.
        out = {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "ts": pdf["ts"],
            "value": vals,
            "increase": inc.astype(object).where(inc.notna(), None),
            "rate_per_s": rate.astype(object).where(rate.notna(), None),
        }
        return (int(sec.iloc[-1]), float(vals.iloc[-1])), out

    return fold_by_key(
        stream, "user_id", step, out_schema, state_schema, "append", ordered=True
    )


def start_hourly_rollup(
    stream: DataFrame,
    rollup_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    available_now: bool = False,
) -> StreamingQuery:
    """Continuous aggregate: maintain an hourly rollup TABLE on disk,
    updated incrementally as events stream in — the TSDB
    "materialized rollup" the reference's storage model implies (one
    tablet per time range, table.go:14-28) but has no machinery for.

    Update-mode windowed aggregation emits each (hour, event_type)
    group every micro-batch that changes it, carrying the group's FULL
    running aggregate (streaming state, not a delta). The foreachBatch
    sink upserts by dynamic-partition-overwriting exactly the
    (bucket_key, event_type) partitions present in the batch — each
    updated group replaces only its own directory, so the write is
    idempotent under micro-batch replay and converges to the batch
    aggregate once the data is drained.

    Scale: the rollup is ~|hours| × |event types| rows regardless of
    event volume; each micro-batch writes only the partitions it
    touched. Late rows beyond the watermark are dropped from the
    aggregation (never a partial restart), matching the reference's
    drop-late policy (table.go:93-96) with an explicit horizon. Queries
    against the rollup prune on the bucket_key directory layout."""
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("window.start").alias("bucket_ts"),
            "event_type",
            "n_events",
            "total_value",
        )
    )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        (
            batch.withColumn(
                "bucket_key", F.date_format("bucket_ts", "yyyy-MM-dd-HH")
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_key", "event_type")
            .parquet(rollup_dir)
        )

    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="60 seconds")
    return writer.start()


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """The rollup table as a DataFrame (partition columns dropped —
    bucket_ts carries the hour; event_type round-trips via the
    partition directory)."""
    return spark.read.parquet(rollup_dir).select(
        "bucket_ts", "event_type", "n_events", "total_value"
    )


def streaming_dedup(stream: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    state is bounded: ids older than the watermark are evicted."""
    return stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def streaming_enrich(stream: DataFrame, dim: DataFrame, on, how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against a
    (re-read-per-batch) static dimension. The dim side is broadcast, so
    the streaming side never shuffles — at 100 TB/day of events joined
    to a customer dimension, this is the only join shape that keeps the
    stream pipelined. No watermark needed: the static side is unbounded
    in time."""
    return stream.join(F.broadcast(dim), on, how)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    max_gap_seconds: int = 3600,
) -> DataFrame:
    """Stream-stream inner join within an event-time interval: rows of
    ``right`` join rows of ``left`` with the same key where
    ``0 <= right.ts - left.ts <= max_gap_seconds`` (e.g., purchase
    follows click within an hour). BOTH sides carry watermarks and the
    join condition bounds the time skew, so each side's buffered state
    is evicted once the other side's watermark passes — without the
    time-range term the state would grow forever."""
    lt = left.withWatermark("ts", "2 hours").alias("l")
    rt = right.withWatermark("ts", "2 hours").alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (
            F.col("r.ts")
            <= F.col("l.ts") + F.make_interval(secs=F.lit(max_gap_seconds))
        )
    )
    return lt.join(rt, cond, "inner").select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("left_event_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.event_id").alias("right_event_id"),
        F.col("r.ts").alias("right_ts"),
    )


def streaming_value_trend(stream: DataFrame) -> DataFrame:
    """Per-type OLS trend maintained incrementally across micro-batches
    — the streaming twin of ``queries.value_trend_by_type``, and the
    payoff of designing the batch operator around ASSOCIATIVE moment
    sums: the same four sums that made the batch plan one map-side
    partial agg are exactly the state a stream needs, so the operator
    streams with no reformulation at all.

    State per event_type is (n, Σx, Σy, Σx², Σxy) with x = integer
    seconds since 2024-01-01 and y = integer 1e-6 value units (the
    batch quantization contract, half-UP like Spark's round, applied
    sign-aware since pandas' .round is half-even). The two product sums
    are stored as decimal-integer STRINGS: Python ints are arbitrary
    precision, so the state stays exact past int64 where the batch side
    uses DECIMAL(38,0) — bit-identical accumulation on both paths. The
    emitted slope/intercept evaluate the identical double expression
    tree as the batch query, so after draining a source (availableNow)
    the last emitted row per type equals the batch result EXACTLY
    (pinned in tests/test_streaming.py). Emits the updated trend per
    touched type per batch (update semantics)."""
    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("n_events", LongType()),
            StructField("slope_uv_per_s", DoubleType()),
            StructField("intercept_uv", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("sx", LongType()),
            StructField("sy", LongType()),
            StructField("sxx", StringType()),
            StructField("sxy", StringType()),
        ]
    )
    origin_us = 1_704_067_200_000_000  # TIMESTAMP '2024-01-01' in µs

    def step(event_type, pdf, prior):
        if prior:
            n, sx, sy, sxx_s, sxy_s = prior
            sxx, sxy = int(sxx_s), int(sxy_s)
        else:
            n, sx, sy, sxx, sxy = 0, 0, 0, 0, 0
        for _, chunk in pdf.groupby(level=0):  # int64 partial sums per chunk
            us = chunk["ts"].astype("datetime64[ns]").astype("int64") // 1000
            xs = (us - origin_us) // 1_000_000
            v6 = chunk["value"].astype("float64") * 1e6
            yu = (np.sign(v6) * np.floor(np.abs(v6) + 0.5)).astype("int64")
            n += int(len(chunk))
            sx += int(xs.sum())
            sy += int(yu.sum())
            sxx += int((xs * xs).sum())
            sxy += int((xs * yu).sum())
        nf, sxf, syf = float(n), float(sx), float(sy)
        sxxf, sxyf = float(sxx), float(sxy)
        den = nf * sxxf - sxf * sxf
        if den != 0.0:
            slope = (nf * sxyf - sxf * syf) / den
            intercept = (syf - slope * sxf) / nf
        else:
            slope = intercept = None
        out = {
            "event_type": [event_type],
            "n_events": [n],
            "slope_uv_per_s": [slope],
            "intercept_uv": [intercept],
        }
        return (n, sx, sy, str(sxx), str(sxy)), out

    return fold_by_key(
        stream, "event_type", step, out_schema, state_schema, "update"
    )


def streaming_cms_counters(
    stream: DataFrame,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Count-min sketch counters maintained IN the stream: the
    mergeable-summary property that makes CMS work map-side in batch
    (functions/sketches.cms_build) is exactly what makes it a plain
    streaming aggregation — each micro-batch's partial counters add
    into the store, state is bounded at depth x width rows FOREVER (no
    watermark needed: the state cannot grow with the key space, which
    is the whole point of sketching the counts instead of groupBy-ing
    a billion distinct keys).

    The builder IS the batch builder — cms_build is pure DataFrame
    transformations, which run unchanged on a streaming DataFrame
    (micro-batch partials add into the state store, the mergeable-
    summary contract). One definition, so the bit-identity pinned in
    tests/test_streaming.py can never drift; estimates then come from
    the batch-side cms_estimate against either table.
    """
    from chronobase_spark.functions.sketches import cms_build

    return cms_build(stream, key_col, depth=depth, width=width)


def streaming_event_transitions(stream: DataFrame) -> DataFrame:
    """Per-user (prev_type -> next_type) transition emission maintained
    incrementally across micro-batches — the streaming form of the
    batch ``event_type_transitions`` lag window (first-order Markov
    counts). Downstream, a plain streaming count over (prev_type,
    next_type) yields the transition matrix.

    State per user is ONE string: the latest event_type in (ts,
    event_id) order. Each batch, in that order, seeds the lag from
    state, emits one (prev_type, next_type) row per consecutive pair
    (NULL-typed events break the chain exactly as the batch filter
    drops them), and stores the last type — the same in-order delivery
    contract as streaming_counter_rate; with an availableNow drain the
    emitted pairs equal the batch lag window exactly (pinned in
    tests/test_streaming.py).
    """
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("prev_type", StringType()),
            StructField("next_type", StringType()),
        ]
    )
    state_schema = StructType([StructField("last_type", StringType())])

    def step(user_id, pdf, prior):
        types = pdf["event_type"]
        prev = types.shift(1)
        if prior:
            prev.iloc[0] = prior[0]
        keep = prev.notna() & types.notna()
        # the state is the LITERAL last type, NULL included: the batch
        # lag carries NULLs through (a NULL type breaks the chain on
        # both sides of it), so remembering the last non-null type
        # would invent an A->B pair across a NULL at a batch boundary
        last = None if types.isna().iloc[-1] else str(types.iloc[-1])
        out = pdf.loc[keep, ["user_id"]].copy()
        out["prev_type"] = prev[keep]
        out["next_type"] = types[keep]
        return (last,), out

    return fold_by_key(
        stream, "user_id", step, out_schema, state_schema, "append", ordered=True
    )


def streaming_user_holt(stream: DataFrame) -> DataFrame:
    """Per-user Holt level + trend maintained incrementally across
    micro-batches — the streaming twin of the batch
    ``operators.timeseries.holt_daily_smoothing`` recurrence (daily
    state reset).

    State per user is ONE (day, level, trend) triple — 8+8+8 bytes
    forever, and the daily reset means a user idle past midnight
    simply re-anchors on their next event (no unbounded drift in the
    state's relevance). Each batch drops NULL observations (matching
    the batch null contract) and, in (ts, event_id) order, runs the
    recurrence row-wise with the IDENTICAL floating-point operation
    tree as the batch fold (α·v + (1-α)·(l+b); β·(l'−l) + (1-β)·b) —
    with α = β = 0.5 every coefficient multiply is a power of two, so
    an availableNow drain is BIT-IDENTICAL to the batch operator
    (pinned in tests/test_streaming.py).

    Ordering contract: in-order event-time delivery per user across
    batches (in-batch order is the fold's) — the streaming_user_ewma /
    streaming_counter_rate contract.
    """
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("day_ns", LongType()),
            StructField("l", DoubleType()),
            StructField("b", DoubleType()),
        ]
    )
    a = be = 0.5

    def step(user_id, pdf, prior):
        day_ns, l, b = prior or (None, None, None)
        pdf = pdf.dropna(subset=["value"])
        if not len(pdf):
            return None
        levels, trends = [], []
        for ts, v in zip(pdf["ts"], pdf["value"].astype("float64")):
            d = ts.normalize().value
            if day_ns is None or d != day_ns:
                l, b = float(v), 0.0
            else:
                ln = a * v + (1.0 - a) * (l + b)
                bn = be * (ln - l) + (1.0 - be) * b
                l, b = ln, bn
            day_ns = d
            levels.append(l)
            trends.append(b)
        out = pdf[["user_id", "event_id", "ts", "value"]].copy()
        out["level"] = levels
        out["trend"] = trends
        return (int(day_ns), float(l), float(b)), out

    return fold_by_key(
        stream, "user_id", step, out_schema, state_schema, "append", ordered=True
    )


def streaming_cusum_alarms(
    stream: DataFrame,
    k_ref_micro: int = 50_000_000,
    h_micro: int = 500_000_000,
) -> DataFrame:
    """Per-event-type Page CUSUM monitor maintained incrementally —
    the streaming twin of the batch ``cusum_fixed_ref`` prefix algebra
    (queries.py): S_t = max(0, S_{t-1} + (x_t − K)) against the KNOWN
    reference mean, alarm while S_t > H, daily reset.

    The batch operator computes the same S_t through the exact prefix
    closed form (P_t − min(0, min_j P_j)); here the recurrence runs
    directly — both are pure INTEGER arithmetic on the same
    micro-quantized x, so an availableNow drain is EQUAL row-for-row
    (pinned in tests/test_streaming.py). Quantization mirrors Spark's
    ``round(value*1e6, 0)`` HALF_UP-on-shortest-repr semantics via
    ``Decimal(repr(v*1e6))`` (the FIXTURES BigDecimal.valueOf rule).

    State per event_type is ONE (day_ns, s, idx) triple — 24 bytes
    forever, reset at midnight like streaming_user_holt. Ordering
    contract: in-order event-time delivery per key across batches
    (in-batch order is the fold's) — the streaming_user_ewma contract.
    """
    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("idx", LongType()),
            StructField("cusum_micro", LongType()),
            StructField("alarm", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("day_ns", LongType()),
            StructField("s", LongType()),
            StructField("idx", LongType()),
        ]
    )
    k_ref, h = int(k_ref_micro), int(h_micro)

    def step(event_type, pdf, prior):
        day_ns, s, idx = prior or (None, 0, 0)
        pdf = pdf.dropna(subset=["value"])
        if not len(pdf):
            return None
        idxs, sums, alarms = [], [], []
        for ts, v in zip(pdf["ts"], pdf["value"].astype("float64")):
            d = ts.normalize().value
            if day_ns is None or d != day_ns:
                day_ns, s, idx = d, 0, 0
            x = int(
                Decimal(repr(float(v) * 1e6)).quantize(
                    0, rounding=ROUND_HALF_UP
                )
            )
            idx += 1
            s = max(0, s + (x - k_ref))
            idxs.append(idx)
            sums.append(s)
            alarms.append(s > h)
        out = pdf[["event_type", "event_id", "ts"]].copy()
        out["idx"] = idxs
        out["cusum_micro"] = sums
        out["alarm"] = alarms
        return (int(day_ns), int(s), int(idx)), out

    return fold_by_key(
        stream, "event_type", step, out_schema, state_schema, "append", ordered=True
    )


def streaming_benford_counts(stream: DataFrame) -> DataFrame:
    """Windowed first-digit counts per event type — the streaming form
    of the batch ``benford_first_digit`` audit, and deliberately NOT a
    map-only stage: Benford's output is a corpus-level marginal (the
    observed digit DISTRIBUTION), so its streaming twin is a windowed
    aggregation whose shares only exist once the window closes
    (streaming/docs.py module docstring records the boundary). This
    stage emits the watermark-bounded (window, event_type, digit)
    counts; the share/excess-vs-log10(1+1/d) finishing division is one
    tiny batch projection over the drained counts — the continuous-
    aggregate split (heavy partial-agg in-stream, cheap finalize at
    read), exactly how the rollup-upsert pipeline divides work.

    Digit extraction is the batch query's integer path verbatim:
    micro-quantize positive values, first char of the decimal string —
    so a drained window's counts equal the batch counts over the same
    rows (pinned in tests/test_streaming.py). State per window is at
    most |event_types|·9 count rows, watermark-evicted."""
    x = F.round(F.col("value") * F.lit(1000000.0), 0).cast("bigint")
    return (
        stream.withWatermark("ts", "1 hour")
        .filter(F.col("value").isNotNull() & (F.col("value") > 0))
        .select("ts", "event_type", x.alias("x"))
        .filter(F.col("x") > 0)
        .select(
            "ts",
            "event_type",
            F.substring(F.col("x").cast("string"), 1, 1).cast("bigint").alias(
                "digit"
            ),
        )
        .groupBy(F.window("ts", "1 day"), "event_type", "digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "digit",
            "n_events",
        )
    )
