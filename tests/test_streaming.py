"""Streaming lifecycle tests: the reference's write path (ingest → flush
→ merge → TTL; reference pkg/db/db.go:195-249) as Structured Streaming
+ maintenance jobs, run with availableNow triggers against tmp dirs.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronobase_spark import catalog  # noqa: E402
from chronobase_spark.streaming import ingest, maintenance  # noqa: E402
from tests.conftest import SF_SMOKE  # noqa: E402


@pytest.fixture()
def event_source(spark, tmp_path):
    """Stage the sf0.001 events as a source directory of parquet files
    with µs timestamps (the stream's arrival feed)."""
    src = tmp_path / "source"
    catalog.table(spark, SF_SMOKE, "events").repartition(4).write.parquet(str(src))
    return str(src)


def test_ingest_roundtrip_partitioned_by_date(spark, event_source, tmp_path):
    """readStream → partitioned parquet sink: every row lands exactly
    once, bucketed by event date (the reference's tablet time range)."""
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    stream = ingest.read_event_stream(spark, event_source)
    query = ingest.start_ingest(stream, table_dir, ckpt, available_now=True)
    query.awaitTermination(120)

    src_count = spark.read.parquet(event_source).count()
    out = spark.read.parquet(table_dir)
    assert out.count() == src_count
    # partition dirs exist per day => time-range scans prune whole dirs
    parts = [p.name for p in Path(table_dir).iterdir() if p.name.startswith("event_date=")]
    assert len(parts) >= 2


def test_ttl_gate_drops_old_rows(spark, event_source):
    """The reference's ingest TTL drop (table.go:93-96): 2024 data is all
    older than a 1-hour TTL relative to now → everything is dropped."""
    df = spark.read.parquet(event_source)
    gated = ingest.ttl_gate(df, ttl_seconds=3600)
    assert gated.count() == 0


def test_streaming_hourly_counts_matches_batch(spark, event_source, tmp_path):
    """Windowed streaming agg (availableNow) must equal the equivalent
    batch aggregation — micro-batching is an execution detail, not a
    semantics change."""
    stream = ingest.read_event_stream(spark, event_source)
    agg = ingest.streaming_hourly_counts(stream)
    sink = str(tmp_path / "agg_sink")
    ckpt = str(tmp_path / "agg_ckpt")
    q = (
        agg.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = (
        spark.read.parquet(event_source)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n_events")
    )
    got = {(r["window_start"], r["event_type"]): r["n_events"]
           for r in spark.read.parquet(sink).collect()}
    want = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    # append mode emits only watermark-closed windows; every emitted
    # window must match batch truth, and most windows must have closed.
    assert got
    assert all(got[k] == want[k] for k in got)
    assert len(got) >= len(want) - 25  # tail windows may still be open


def test_streaming_dedup_drops_duplicate_ids(spark, tmp_path):
    dup_src = str(tmp_path / "dupsrc")
    base = catalog.table(spark, SF_SMOKE, "events").limit(200)
    base.union(base).repartition(2).write.parquet(dup_src)

    stream = ingest.read_event_stream(spark, dup_src)
    deduped = ingest.streaming_dedup(stream)
    sink = str(tmp_path / "dd_sink")
    ckpt = str(tmp_path / "dd_ckpt")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == out.select("event_id").distinct().count()


def test_hourly_rollup_converges_to_batch_aggregate(spark, event_source, tmp_path):
    """Continuous aggregate: after draining the source (availableNow,
    watermark wide enough that nothing is evicted mid-drain), the
    on-disk rollup table must equal the batch hourly aggregate — the
    incremental partition-overwrite upserts converge to truth."""
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "rollup_ckpt")
    stream = ingest.read_event_stream(spark, event_source)
    q = ingest.start_hourly_rollup(
        stream, rollup, ckpt, watermark="720 hours", available_now=True
    )
    q.awaitTermination(180)

    batch = (
        spark.read.parquet(event_source)
        .groupBy(F.window("ts", "1 hour"), "event_type")
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
    got = {
        (r["bucket_ts"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in ingest.read_rollup(spark, rollup).collect()
    }
    want = {
        (r["bucket_ts"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_streaming_session_windows_match_batch_sessionize(spark, event_source, tmp_path):
    """Native session_window (streaming, 30-min gap) must produce the
    same number of per-user sessions as the batch gaps-and-islands
    sessionizer — two independent formulations of the same gap rule."""
    from chronobase_spark.operators import windows as batch_windows

    # Second-aligned copy of the source: session_window compares full-
    # precision timestamps while the batch sessionizer uses whole-second
    # deltas — truncation makes the two rules comparable exactly.
    sec_source = str(tmp_path / "sec_source")
    (
        spark.read.parquet(event_source)
        .withColumn("ts", F.date_trunc("second", "ts"))
        .repartition(4)
        .write.parquet(sec_source)
    )
    # all files fit one micro-batch (maxFilesPerTrigger=8), so a
    # zero-delay watermark drops nothing; the final no-data batch then
    # closes and emits every session
    stream = ingest.read_event_stream(spark, sec_source)
    sessions = ingest.streaming_sessionization(stream, gap="30 minutes",
                                               watermark="0 seconds")
    sink = str(tmp_path / "sess_sink")
    ckpt = str(tmp_path / "sess_ckpt")
    q = (
        sessions.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # session_window merges while delta < gap (new session at delta >=
    # 1800s); the batch rule is new-session at delta > gap_seconds — on
    # integer-second data they coincide at gap_seconds = 1799
    src = spark.read.parquet(sec_source)
    batch = batch_windows.sessionize(src, "user_id", "ts", gap_seconds=1799)
    # append mode only emits sessions CLOSED by the final watermark
    # (= global max event time): a user whose last session ends within
    # `gap` of the stream end keeps it open — count only closed sessions.
    global_max = src.agg(F.max("ts")).collect()[0][0]
    closed = (
        batch.groupBy("user_id", "session_id")
        .agg(F.max("ts").alias("last_ts"))
        .filter(F.unix_timestamp(F.lit(global_max)) - F.unix_timestamp("last_ts") >= 1800)
    )
    want = {
        r["user_id"]: r["n"]
        for r in closed.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got_df = spark.read.parquet(sink)
    got = {
        r["user_id"]: r["n"]
        for r in got_df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_stateful_running_totals_match_batch(spark, event_source, tmp_path):
    """applyInPandasWithState running totals: after draining the source
    (availableNow), each user's latest emitted state must equal the batch
    groupBy truth."""
    stream = ingest.read_event_stream(spark, event_source)
    totals = ingest.streaming_user_running_totals(stream)
    sink = str(tmp_path / "state_sink")
    ckpt = str(tmp_path / "state_ckpt")
    def sink_batch(batch, batch_id):
        batch.write.mode("append").parquet(sink)

    # update-mode output can't feed the append-only file sink directly;
    # foreachBatch lands each batch's updated states (the production
    # pattern for update-mode -> files).
    q = (
        totals.writeStream.foreachBatch(sink_batch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch = (
        spark.read.parquet(event_source)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    want = {
        r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()
    }
    # keep each user's final (max n_events) emission — micro-batches may
    # have emitted intermediate states too
    got: dict[int, tuple[int, float]] = {}
    for r in spark.read.parquet(sink).collect():
        prev = got.get(r["user_id"])
        if prev is None or r["n_events"] > prev[0]:
            got[r["user_id"]] = (r["n_events"], round(r["total_value"], 4))
    assert set(got) == set(want)
    for uid, (n, total) in want.items():
        assert got[uid][0] == n, f"user {uid}: {got[uid]} != {(n, total)}"
        assert abs(got[uid][1] - total) < 1e-3


def test_compaction_preserves_rows_and_reduces_files(spark, event_source, tmp_path):
    """Reference merge (table.go:240-331): same rows, fewer files,
    sorted by (ts, key)."""
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    stream = ingest.read_event_stream(spark, event_source, max_files_per_trigger=1)
    ingest.start_ingest(stream, table_dir, ckpt, available_now=True).awaitTermination(120)

    parts = sorted(
        p.name.split("=", 1)[1]
        for p in Path(table_dir).iterdir()
        if p.name.startswith("event_date=")
    )
    target = parts[0]
    part_dir = Path(table_dir) / f"event_date={target}"
    files_before = len(list(part_dir.glob("*.parquet")))
    n = maintenance.compact_partition(spark, table_dir, target)
    files_after = len(list(part_dir.glob("*.parquet")))
    assert n > 0
    assert files_after <= files_before
    assert spark.read.parquet(str(part_dir)).count() == n


def test_retention_drops_old_partitions(spark, event_source, tmp_path):
    """Reference TTL cleanup (table.go:334-369): partitions strictly
    before the cutoff vanish; newer ones survive."""
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    stream = ingest.read_event_stream(spark, event_source)
    ingest.start_ingest(stream, table_dir, ckpt, available_now=True).awaitTermination(120)

    parts = sorted(
        p.name.split("=", 1)[1]
        for p in Path(table_dir).iterdir()
        if p.name.startswith("event_date=")
    )
    cutoff = parts[1]
    dropped = maintenance.retention_sweep(table_dir, cutoff)
    assert dropped == [parts[0]]
    remaining = sorted(
        p.name.split("=", 1)[1]
        for p in Path(table_dir).iterdir()
        if p.name.startswith("event_date=")
    )
    assert remaining == parts[1:]


def _ingest(spark, source, table_dir, ckpt):
    q = ingest.start_ingest(
        ingest.read_event_stream(spark, source), table_dir, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()


def _census(spark, table_dir):
    return tuple(
        spark.read.parquet(table_dir)
        .agg(F.count(F.lit(1)), F.countDistinct("event_id"))
        .first()
    )


def test_replayed_batch_is_not_duplicated(spark, event_source, tmp_path):
    """A crash after the sink wrote a batch but before the commit log
    recorded it makes the restarted stream replay that batch. The batch
    commit is tagged with its batch id, so the replay replaces its own
    files: same row count, same distinct ids."""
    table_dir, ckpt = str(tmp_path / "table"), tmp_path / "ckpt"
    _ingest(spark, event_source, table_dir, str(ckpt))
    first = _census(spark, table_dir)
    assert first[0] == first[1] == spark.read.parquet(event_source).count()

    commits = ckpt / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink(missing_ok=True)
    _ingest(spark, event_source, table_dir, str(ckpt))
    assert (commits / str(last)).exists()  # the batch really ran again
    assert _census(spark, table_dir) == first


def test_append_during_compaction_survives(spark, event_source, tmp_path, monkeypatch):
    """An append that lands while compaction is rewriting a partition
    is present after both finish: compaction holds the table lock until
    its swap is done, and the append commits after it."""
    import datetime as dt
    import threading
    import time

    table_dir = str(tmp_path / "table")
    stream = ingest.read_event_stream(spark, event_source, max_files_per_trigger=1)
    ingest.start_ingest(stream, table_dir, str(tmp_path / "ckpt"), available_now=True).awaitTermination(120)
    before = spark.read.parquet(table_dir).count()
    target = sorted(
        p.name.split("=", 1)[1]
        for p in Path(table_dir).iterdir()
        if p.name.startswith("event_date=")
    )[0]

    # one late row for the partition under compaction, on its own stream
    late_src = str(tmp_path / "late_source")
    late_id = 10**12
    spark.createDataFrame(
        [(late_id, dt.datetime.fromisoformat(f"{target} 12:00:00"), 1, "click", 1.0, None)],
        ingest.EVENT_SCHEMA,
    ).write.parquet(late_src)

    # pause compaction after its rewrite, just before it swaps the
    # partition directory out
    paused, resume = threading.Event(), threading.Event()
    rename = Path.rename

    def paused_rename(self, dest):
        if Path(dest).name.startswith(".compact_old_") and not resume.is_set():
            paused.set()
            resume.wait(120)
        return rename(self, dest)

    monkeypatch.setattr(Path, "rename", paused_rename)
    compacted = []
    compactor = threading.Thread(
        target=lambda: compacted.append(maintenance.compact_partition(spark, table_dir, target))
    )
    compactor.start()
    assert paused.wait(120)
    appender = threading.Thread(
        target=lambda: _ingest(spark, late_src, table_dir, str(tmp_path / "late_ckpt"))
    )
    appender.start()
    # let the append run until it has committed or has staged its file
    # and waits for the lock
    deadline = time.monotonic() + 120
    while appender.is_alive() and time.monotonic() < deadline:
        if list(Path(table_dir).glob(".staging-*/event_date=*/*.parquet")):
            break
        time.sleep(0.1)
    resume.set()
    compactor.join(120)
    appender.join(120)
    assert not compactor.is_alive() and not appender.is_alive()

    assert compacted and compacted[0] > 0
    out = spark.read.parquet(table_dir)
    assert out.filter(F.col("event_id") == late_id).count() == 1
    assert out.count() == before + 1


def test_concurrent_appends_and_compaction_keep_every_row(spark, event_source, tmp_path):
    """Stress: more appending threads than cores, plus repeated
    compaction of the same day, on one table. Every appended row is
    present exactly once afterwards."""
    import threading

    table_dir = str(tmp_path / "table")
    ev = spark.read.parquet(event_source).filter(F.to_date("ts") == "2024-01-10").cache()
    n_threads = (os.cpu_count() or 1) + 2
    maintenance.append(ev, table_dir)
    errors = []

    def run(fn):
        try:
            fn()
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    threads = [
        threading.Thread(
            target=run,
            args=(lambda i=i: maintenance.append(
                ev.withColumn("event_id", F.col("event_id") + F.lit((i + 1) * 10**9)),
                table_dir,
            ),),
        )
        for i in range(n_threads)
    ] + [
        threading.Thread(
            target=run,
            args=(lambda: [maintenance.compact_partition(spark, table_dir, "2024-01-10") for _ in range(3)],),
        )
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    out = spark.read.parquet(table_dir)
    n = ev.count()
    assert out.count() == out.select("event_id").distinct().count() == n * (n_threads + 1)
    ev.unpersist()


def test_sink_range_scan_prunes_partitions(spark, event_source, tmp_path):
    """A time-range scan of the sink adds the ``event_date`` partition
    predicate: days outside the range are skipped, not scanned."""
    from chronobase_spark.operators import timeseries

    table_dir = str(tmp_path / "table")
    _ingest(spark, event_source, table_dir, str(tmp_path / "ckpt"))
    lo, hi = "2024-01-10 06:00:00", "2024-01-11 06:00:00"
    got = timeseries.time_range_scan(spark.read.parquet(table_dir), lo, hi)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*event_date", plan), plan
    want = timeseries.time_range_scan(spark.read.parquet(event_source), lo, hi)
    assert got.count() == want.count() > 0


def test_stream_static_enrich_matches_batch_join(spark, event_source, tmp_path):
    """Stream-static broadcast enrichment must equal the batch join."""
    dim = catalog.table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    stream = ingest.read_event_stream(spark, event_source)
    enriched = ingest.streaming_enrich(stream, dim, "user_id", "inner").select(
        "event_id", "user_id", "c_nationkey"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["c_nationkey"])
        for r in spark.table("enrich_out").collect()
    }
    batch = spark.read.parquet(event_source).join(dim, "user_id", "inner")
    want = {(r["event_id"], r["c_nationkey"]) for r in batch.collect()}
    assert got == want and got


def test_stream_stream_interval_join_matches_batch(spark, event_source, tmp_path):
    """Stream-stream watermarked interval join (purchase within 1 h of a
    click by the same user) must equal the batch range join."""
    stream = ingest.read_event_stream(spark, event_source)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    joined = ingest.streaming_interval_join(clicks, purchases, max_gap_seconds=3600)
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["left_event_id"], r["right_event_id"])
        for r in spark.table("ssj_out").collect()
    }
    ev = spark.read.parquet(event_source)
    c = ev.filter("event_type = 'click'").alias("l")
    p = ev.filter("event_type = 'purchase'").alias("r")
    want = {
        (r["lid"], r["rid"])
        for r in c.join(
            p,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 3600 SECONDS")),
        )
        .select(F.col("l.event_id").alias("lid"), F.col("r.event_id").alias("rid"))
        .collect()
    }
    assert got == want and got


def test_dynamic_partition_overwrite_is_scoped(spark, event_source, tmp_path):
    """Backfilling one day via replace_partitions must replace
    exactly that day's partition and leave all others byte-identical."""
    table = str(tmp_path / "table")
    ev = spark.read.parquet(event_source)
    maintenance.append(ev, table)
    before = spark.read.parquet(table).count()

    one_day = ev.filter(F.to_date("ts") == "2024-01-10")
    assert one_day.count() > 0
    patched = one_day.withColumn("value", F.col("value") * 2)
    maintenance.replace_partitions(patched, table)

    after = spark.read.parquet(table)
    assert after.count() == before
    got = after.filter(F.to_date("ts") == "2024-01-10").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s")
    ).collect()[0]["s"]
    want = one_day.agg(
        F.sum((F.col("value") * 2).cast("decimal(18,2)")).alias("s")
    ).collect()[0]["s"]
    assert abs(float(got) - float(want)) < 1e-6
    untouched = after.filter(F.to_date("ts") != "2024-01-10").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s")
    ).collect()[0]["s"]
    base = ev.filter(F.to_date("ts") != "2024-01-10").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("s")
    ).collect()[0]["s"]
    assert float(untouched) == float(base)


def test_streaming_document_intake_filters_and_dedups(spark, tmp_path):
    """The streaming corpus-intake stage must (a) drop documents failing
    the stateless quality gate, (b) emit each normalized content exactly
    once within the watermark, and (c) agree with the batch equivalents
    (token_features filter + dedup on normalized text)."""
    from chronobase_spark.dedup.exact import normalize
    from chronobase_spark.functions import text as textfn
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "docsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(120)
        .withColumn("ingest_ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")))
    )
    # duplicate every doc (same text, shifted ids) so dedup has work
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    base.union(dup).repartition(3).write.parquet(src)

    out_sink = str(tmp_path / "doc_sink")
    q = (
        docstream.document_intake(docstream.read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", out_sink)
        .option("checkpointLocation", str(tmp_path / "doc_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.read.parquet(out_sink)

    # (b) one row per content fingerprint
    assert out.count() == out.select("fingerprint").distinct().count()
    # (a) every surviving doc passes the gate
    feats = out.select(F.inline(F.array(textfn.token_features(F.col("text")))))
    bad = feats.filter((F.col("n_tokens") < 25) | (F.col("stop_ratio") > 0.12))
    assert bad.count() == 0
    # (c) batch equivalence: same number of distinct passing contents
    batch = base.union(dup).withColumn(
        "_f", textfn.token_features(F.col("text"))
    ).filter((F.col("_f.n_tokens") >= 25) & (F.col("_f.stop_ratio") <= 0.12))
    expected = batch.select(normalize(F.col("text")).alias("n")).distinct().count()
    assert out.count() == expected


def test_streaming_ewma_matches_batch_recurrence(spark, tmp_path):
    """Streaming per-user EWMA across several in-order micro-batches must
    equal the batch collect-fold recurrence bit-for-bit (alpha=0.5 makes
    every step exact)."""
    src = str(tmp_path / "ewma_src")
    ev = (
        catalog.table(spark, SF_SMOKE, "events")
        .select("user_id", "event_id", "ts", "value")
        .orderBy("ts", "event_id")
        .limit(600)
    )
    rows = ev.collect()
    # three time-sliced files written in order -> file source delivers
    # in-order micro-batches (the operator's documented contract)
    import os as _os

    for i in range(3):
        chunk = spark.createDataFrame(rows[i * 200 : (i + 1) * 200], ev.schema)
        chunk.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "ewma_sink")

    q = (
        ingest.streaming_user_ewma(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r["event_id"]: r["ewma"] for r in spark.read.parquet(sink).collect()}

    # batch truth: same recurrence via the sequential fold
    seq = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    g = spark.createDataFrame(rows, ev.schema).groupBy("user_id").agg(seq.alias("_seq"))
    ew = F.aggregate(
        F.col("_seq"),
        F.array().cast("array<double>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(
                    F.size(acc) > 0,
                    F.lit(0.5) * x["value"] + F.lit(0.5) * F.element_at(acc, -1),
                ).otherwise(x["value"])
            ),
        ),
    )
    zipped = F.zip_with(
        F.col("_seq"), ew,
        lambda s, e: F.struct(s["event_id"].alias("event_id"), e.alias("ewma")),
    )
    want = {
        r["event_id"]: r["ewma"]
        for r in g.select(F.explode(zipped).alias("_r")).select("_r.*").collect()
    }
    assert set(got) == set(want)
    assert all(got[k] == want[k] for k in want)


def test_compaction_crash_recovery_restores_partition(spark, event_source, tmp_path):
    """A crash between rename-old and rename-new leaves the partition
    only in the dot-prefixed backup dir; the next compaction run must
    RESTORE it (not delete it) and complete normally."""
    import shutil as _shutil
    from pathlib import Path as _Path

    from chronobase_spark.streaming import maintenance

    tdir = str(tmp_path / "crash_table")
    ev = spark.read.parquet(event_source).limit(300)
    ev.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).parquet(tdir)
    root = _Path(tdir)
    part = sorted(p for p in root.iterdir() if p.name.startswith("event_date="))[0]
    value = part.name.split("=", 1)[1]
    n_before = spark.read.parquet(str(part)).count()

    # simulate the mid-swap crash state: partition renamed aside, no new copy
    part.rename(root / f".compact_old_event_date={value}")
    assert not part.exists()

    n = maintenance.compact_partition(spark, tdir, value)
    assert n == n_before
    assert part.exists()
    assert spark.read.parquet(str(part)).count() == n_before
    assert not (root / f".compact_old_event_date={value}").exists()
    assert not (root / f".compact_new_event_date={value}").exists()

    # superseded-old state: both present -> old dropped, data intact
    _shutil.copytree(part, root / f".compact_old_event_date={value}")
    n2 = maintenance.compact_partition(spark, tdir, value)
    assert n2 == n_before
    assert not (root / f".compact_old_event_date={value}").exists()


def test_streaming_counter_rate_matches_batch(spark, tmp_path):
    """Streaming per-user counter increase/rate across in-order
    micro-batches must equal the batch window operator exactly,
    including NULLs for first samples and same-second pairs and the
    reset branch — the state handoff at every batch boundary is the
    part only this test exercises."""
    from chronobase_spark.operators import windows as W

    src = str(tmp_path / "cr_src")
    ev = (
        catalog.table(spark, SF_SMOKE, "events")
        .select("user_id", "event_id", "ts", "value")
        .orderBy("ts", "event_id")
        .limit(600)
    )
    rows = ev.collect()
    for i in range(3):
        chunk = spark.createDataFrame(rows[i * 200 : (i + 1) * 200], ev.schema)
        chunk.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "cr_sink")
    q = (
        ingest.streaming_counter_rate(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "cr_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["event_id"]: (r["increase"], r["rate_per_s"])
        for r in spark.read.parquet(sink).collect()
    }

    batch = W.counter_rate(spark.createDataFrame(rows, ev.schema), "user_id")
    want = {
        r["event_id"]: (r["increase"], r["rate_per_s"]) for r in batch.collect()
    }
    assert len(got) == len(want) == 600
    assert got == want


def test_streaming_signature_stage_matches_batch_minhash(spark, tmp_path):
    """The stateless per-row MinHash stage must emit exactly each doc's
    rows of the batch md5_band_table (same md5 lanes, same band keys),
    and docs too short to shingle must carry NULL. Run through a real
    stream so the stage is proven stateless (no watermark, no state
    store)."""
    from chronobase_spark.dedup import minhash
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "sigsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(60)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    # one un-shingleable doc exercises the NULL branch
    short = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit("too short")
    )
    base.union(short).repartition(2).write.parquet(src)

    sink = str(tmp_path / "sig_sink")
    q = (
        docstream.signature_stage(docstream.read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "sig_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)

    got = {
        r["doc_id"]: None
        if r["minhash_bands"] is None
        else {(b["band_id"], b["band_val"]) for b in r["minhash_bands"]}
        for r in out.collect()
    }
    assert got[999999] is None
    batch: dict[int, set] = {}
    for r in minhash.md5_band_table(spark.read.parquet(src)).collect():
        batch.setdefault(r["doc"], set()).add((r["band_id"], r["band_val"]))
    # every shingleable doc: streaming band keys == batch band rows
    assert set(batch) == set(k for k, v in got.items() if v is not None)
    for doc, bands in batch.items():
        assert len(bands) == minhash.BANDS and got[doc] == bands, doc


def test_streaming_simhash_stage_matches_batch(spark, tmp_path):
    """The stateless per-row SimHash stage must emit BIT-IDENTICAL
    chunks to the batch simhash_md5_chunks explode+agg (integer
    bit-accumulator sums are order-independent), and token-less docs
    must carry NULL. Run through a real stream so the stage is proven
    stateless (no watermark, no state store)."""
    from chronobase_spark.dedup import simhash
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "simsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(60)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    # a token-less doc exercises the NULL branch
    empty = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit("")
    )
    base.union(empty).repartition(2).write.parquet(src)

    sink = str(tmp_path / "sim_sink")
    q = (
        docstream.simhash_stage(docstream.read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "sim_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)

    got = {r["doc_id"]: r["simhash_chunks"] for r in out.collect()}
    assert got[999999] is None
    batch = {
        r["doc"]: [r[f"c{j}"] for j in range(simhash.CHUNKS)]
        for r in simhash.simhash_md5_chunks(spark.read.parquet(src)).collect()
    }
    assert set(batch) == set(k for k, v in got.items() if v is not None)
    for doc, sig in batch.items():
        assert got[doc] == sig, doc


def test_streaming_value_trend_matches_batch_exactly(spark, event_source, tmp_path):
    """The streaming OLS twin must equal the batch value_trend_by_type
    BIT-EXACTLY after draining the source: both sides accumulate the
    same integer moment sums and evaluate the same double expression,
    so this is equality, not tolerance."""
    from chronobase_spark import queries as q

    stream = ingest.read_event_stream(spark, event_source)
    trend = ingest.streaming_value_trend(stream)
    sink = str(tmp_path / "trend_sink")
    ckpt = str(tmp_path / "trend_ckpt")

    def sink_batch(batch, batch_id):
        batch.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

    query = (
        trend.writeStream.foreachBatch(sink_batch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)

    import unittest.mock as mock

    batch_df = spark.read.parquet(event_source)
    with mock.patch.object(q, "_t", return_value=batch_df):
        want = {
            r["event_type"]: (r["n_events"], r["slope_uv_per_s"], r["intercept_uv"])
            for r in q.q_value_trend_by_type(spark, "unused").collect()
        }

    emitted = spark.read.parquet(sink)
    from pyspark.sql import Window as W

    last = (
        emitted.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(F.col("batch_id").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .collect()
    )
    got = {
        r["event_type"]: (r["n_events"], r["slope_uv_per_s"], r["intercept_uv"])
        for r in last
    }
    assert got == want


def test_streaming_cms_counters_match_batch_sketch(spark, event_source, tmp_path):
    """After draining the source (availableNow, complete mode), the
    streaming CMS counter table must be BIT-IDENTICAL to the batch
    cms_build over the same rows — the mergeable-summary property as an
    executable check. State is bounded at depth*width rows with no
    watermark: the sketch cannot grow with the key space."""
    from chronobase_spark.functions import sketches

    stream = ingest.read_event_stream(spark, event_source)
    counters = ingest.streaming_cms_counters(stream, "user_id", depth=4, width=512)
    q = (
        counters.writeStream.format("memory")
        .queryName("cms_counters")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["seed"], r["bucket"]): r["c"]
        for r in spark.sql("SELECT * FROM cms_counters").collect()
    }
    want = {
        (r["seed"], r["bucket"]): r["c"]
        for r in sketches.cms_build(
            spark.read.parquet(event_source), "user_id", depth=4, width=512
        ).collect()
    }
    assert got == want
    assert len(got) <= 4 * 512


def test_streaming_transitions_match_batch_lag(spark, event_source, tmp_path):
    """After an availableNow drain, the aggregated streaming transition
    pairs must equal the batch lag-window transition counts exactly."""
    stream = ingest.read_event_stream(spark, event_source)
    pairs = ingest.streaming_event_transitions(stream)
    sink = str(tmp_path / "trans_sink")
    ckpt = str(tmp_path / "trans_ckpt")
    q = (
        pairs.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in spark.read.parquet(sink)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    from pyspark.sql import Window

    ev = spark.read.parquet(event_source)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_winnow_stage_matches_batch(spark, tmp_path):
    """The stateless per-row winnowing stage must emit the SAME
    fingerprint sets as the batch operator (one shared expression), and
    too-short docs must carry NULL. Run through a real stream so the
    stage is proven stateless."""
    from chronobase_spark.dedup import winnow
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "winsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(60)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    short = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit("too short")
    )
    base.union(short).repartition(2).write.parquet(src)

    sink = str(tmp_path / "win_sink")
    q = (
        docstream.winnow_stage(docstream.read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)

    got = {
        r["doc_id"]: (set(r["winnow_fps"]) if r["winnow_fps"] is not None else None)
        for r in out.collect()
    }
    assert got[999999] is None
    batch: dict[int, set[int]] = {}
    for r in winnow.winnow_fingerprints(spark.read.parquet(src)).collect():
        batch.setdefault(r["doc"], set()).add(r["fp"])
    assert set(batch) == {k for k, v in got.items() if v is not None}
    for doc, fps in batch.items():
        assert got[doc] == fps, doc


def test_streaming_lm_score_stage_matches_batch(spark, tmp_path):
    """After an availableNow drain, the stream-static LM scoring stage
    must produce BIT-IDENTICAL (n_grams, logprob_micro) to the batch
    bigram_lm_scores over the same training corpus (integer micro-nat
    terms sum order-free), and BOTH unseen-gram back-off branches must
    score exactly: an unseen continuation of a SEEN context gets
    ln(1/(c1+V)), a fully-unseen context gets ln(1/V)."""
    import math

    from chronobase_spark.functions import text as textf
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "lmsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(60)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    # one doc of fully-unseen words, one unseen continuation of the
    # seen context 'the' (the corpus' most common left word)
    oov_doc = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit("zzqx zzqy zzqz")
    )
    ctx_doc = base.limit(1).withColumn("doc_id", F.lit(999998)).withColumn(
        "text", F.lit("the zzqx")
    )
    base.union(oov_doc).union(ctx_doc).repartition(2).write.parquet(src)

    train = spark.read.parquet(src).filter(F.col("doc_id") < 999998)
    lm, left, v = textf.bigram_lm_model(train)
    c1_the = {r["w1"]: r["c1"] for r in left.collect()}["the"]

    scored = docstream.lm_score_stage(
        docstream.read_document_stream(spark, src), lm, left, v
    )
    q = (
        scored.writeStream.format("memory")
        .queryName("lm_scores")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["n_grams"], r["logprob_micro"])
        for r in spark.sql("SELECT * FROM lm_scores").collect()
    }
    want = {
        r["doc_id"]: (r["n_grams"], r["logprob_micro"])
        for r in textf.bigram_lm_scores(train).collect()
    }
    assert want, "training corpus produced no scored docs"
    for doc, pair in want.items():
        assert got[doc] == pair, doc

    def half_up_micro(p: float) -> int:
        from decimal import ROUND_HALF_UP, Decimal

        return int(
            Decimal(repr(math.log(p) * 1e6)).quantize(0, rounding=ROUND_HALF_UP)
        )

    # fully-unseen context: both grams at ln(1/V)
    assert got[999999] == (2, 2 * half_up_micro(1.0 / v))
    # unseen continuation of the seen context 'the': ln(1/(c1+V)),
    # which is STRICTLY below the ln(1/V) scalar a naive back-off uses
    assert got[999998] == (1, half_up_micro(1.0 / (c1_the + v)))
    assert half_up_micro(1.0 / (c1_the + v)) < half_up_micro(1.0 / v)


def test_streaming_kn_score_stage_matches_batch(spark, tmp_path):
    """After an availableNow drain, the frozen-KN scoring stage must be
    BIT-IDENTICAL to the batch kn_bigram_scores on in-vocabulary text,
    and every unseen-gram back-off leg must score exactly: seen context
    + unseen continuation -> lambda(w1)/N_types; seen context + seen-
    elsewhere continuation -> lambda(w1)*P_cont(w2); fully novel gram
    -> 1/N_types."""
    import math

    from chronobase_spark.functions import text as textf
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "knsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(60)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    train = base
    lm, ctx, cont, n_types = textf.kn_bigram_model(train)
    ctx_rows = {r["w1"]: (r["c1"], r["n1"]) for r in ctx.collect()}
    cont_rows = {r["w2"]: r["ncont"] for r in cont.collect()}
    assert "the" in ctx_rows, "corpus should contain 'the' as a context"
    the_grams = {
        r["gram"] for r in lm.filter(F.col("gram").like("the %")).collect()
    }
    # a continuation word seen elsewhere but never after 'the'
    w2_pick = next(
        w2 for w2 in sorted(cont_rows) if f"the {w2}" not in the_grams
    )

    oov_doc = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit("zzqx zzqy zzqz")
    )
    ctx_doc = base.limit(1).withColumn("doc_id", F.lit(999998)).withColumn(
        "text", F.lit("the zzqx")
    )
    mix_doc = base.limit(1).withColumn("doc_id", F.lit(999997)).withColumn(
        "text", F.lit(f"the {w2_pick}")
    )
    base.union(oov_doc).union(ctx_doc).union(mix_doc).repartition(2).write.parquet(
        src
    )

    scored = docstream.kn_score_stage(
        docstream.read_document_stream(spark, src), lm, ctx, cont, n_types
    )
    q = (
        scored.writeStream.format("memory")
        .queryName("kn_scores")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["n_grams"], r["kn_logprob_micro"])
        for r in spark.sql("SELECT * FROM kn_scores").collect()
    }
    want = {
        r["doc_id"]: (r["n_grams"], r["kn_logprob_micro"])
        for r in textf.kn_bigram_scores(train).collect()
    }
    assert want, "training corpus produced no scored docs"
    for doc, pair in want.items():
        assert got[doc] == pair, doc

    def half_up_micro(p: float) -> int:
        from decimal import ROUND_HALF_UP, Decimal

        return int(
            Decimal(repr(math.log(p) * 1e6)).quantize(0, rounding=ROUND_HALF_UP)
        )

    nt = float(n_types)
    # fully novel grams: both back off to uniform 1/N_types
    assert got[999999] == (2, 2 * half_up_micro(1.0 / nt))
    # seen context 'the', unseen continuation: lambda(the) * (1/N_types)
    c1, n1 = ctx_rows["the"]
    lam_unseen = ((0.5 * float(n1)) / float(c1)) * (1.0 / nt)
    assert got[999998] == (1, half_up_micro(lam_unseen))
    # seen context + seen-elsewhere continuation: lambda(the)*P_cont(w2)
    lam_cont = ((0.5 * float(n1)) / float(c1)) * (float(cont_rows[w2_pick]) / nt)
    assert got[999997] == (1, half_up_micro(lam_cont))
    # the continuation-aware leg must outscore the uniform floor
    assert got[999997][1] >= got[999998][1]


def test_streaming_holt_matches_batch(spark, event_source, tmp_path):
    """After an availableNow drain, the applyInPandasWithState Holt
    stage must be BIT-IDENTICAL to the batch holt_daily_smoothing fold
    (same op tree, alpha=beta=0.5 power-of-two coefficients, NULL
    observations dropped, daily reset)."""
    from chronobase_spark.operators import timeseries

    stream = ingest.read_event_stream(spark, event_source)
    out = ingest.streaming_user_holt(stream)
    sink = str(tmp_path / "holt_sink")
    ckpt = str(tmp_path / "holt_ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["event_id"]: (r["level"], r["trend"])
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        r["event_id"]: (r["level"], r["trend"])
        for r in timeseries.holt_daily_smoothing(
            spark.read.parquet(event_source).select(
                "user_id", "event_id", "ts", "value"
            )
        ).collect()
    }
    assert want
    assert got == want


def test_streaming_pii_scrub_stage_matches_batch(spark, tmp_path):
    """The stateless in-stream PII scrub must drain EQUAL to the batch
    scrub (same regexp expressions per row): identical span counts and
    byte-identical redacted text, NULL text carried through as NULL.
    Run through a real stream so the stage is proven stateless (no
    watermark, no state store)."""
    from chronobase_spark.functions import text as textfn
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "piisrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(50)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
        .withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.concat(
                        F.lit(" ping user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com or 555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                    ),
                ).otherwise(F.lit("")),
            ),
        )
    )
    nulltext = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit(None).cast("string")
    )
    base.union(nulltext).repartition(2).write.parquet(src)

    sink = str(tmp_path / "pii_sink")
    q = (
        docstream.pii_scrub_stage(docstream.read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "pii_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)

    got = {
        r["doc_id"]: (r["n_emails"], r["n_phones"], r["redacted"])
        for r in out.collect()
    }
    batch = {
        r["doc_id"]: (r["n_emails"], r["n_phones"], r["redacted"])
        for r in spark.read.parquet(src)
        .select(
            "doc_id",
            textfn.email_count(F.col("text")).cast("bigint").alias("n_emails"),
            textfn.phone_count(F.col("text")).cast("bigint").alias("n_phones"),
            textfn.redact_pii(F.col("text")).alias("redacted"),
        )
        .collect()
    }
    assert got == batch
    assert got[999999] == (None, None, None)
    assert any(ne and ne > 0 for ne, _, _ in got.values())


def test_streaming_span_stage_matches_batch(spark, tmp_path):
    """The stateless in-stream span-hash emission must drain EQUAL to
    the batch ExactSubstr candidate expression (same md5 window
    fingerprints per row, same order), with a short doc (< window) and
    NULL text both carried through as EMPTY arrays — they cannot share
    a span with anything. Run through a real stream so the stage is
    proven stateless (no watermark, no state store)."""
    from chronobase_spark.functions import text as textfn
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "spansrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(50)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    short = base.limit(1).withColumn("doc_id", F.lit(999998)).withColumn(
        "text", F.lit("only four tokens here")
    )
    nulltext = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit(None).cast("string")
    )
    base.union(short).union(nulltext).repartition(2).write.parquet(src)

    sink = str(tmp_path / "span_sink")
    q = (
        docstream.span_stage(docstream.read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "span_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)

    got = {r["doc_id"]: list(r["span_hashes"]) for r in out.collect()}
    batch = {
        r["doc_id"]: list(r["span_hashes"])
        for r in spark.read.parquet(src)
        .select("doc_id", textfn.tokens(F.col("text")).alias("toks"))
        .select("doc_id", textfn.span_hashes("toks").alias("span_hashes"))
        .collect()
    }
    assert got == batch
    assert got[999998] == [] and got[999999] == []
    assert any(len(v) > 0 for v in got.values()), "corpus should emit spans"


def test_streaming_template_stage_matches_batch(spark, tmp_path):
    """The stateless in-stream template end-hash emission must drain
    EQUAL to the shared batch expression (same prefix/suffix md5s per
    row), with a short doc (< TEMPLATE_WIDTH tokens) and NULL text both
    carried through as NULL hashes — they cannot hold a full template
    span. Run through a real stream so the stage is proven stateless."""
    from chronobase_spark.functions import text as textfn
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "tplsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(50)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    short = base.limit(1).withColumn("doc_id", F.lit(999998)).withColumn(
        "text", F.lit("only four tokens here")
    )
    nulltext = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit(None).cast("string")
    )
    base.union(short).union(nulltext).repartition(2).write.parquet(src)

    sink = str(tmp_path / "tpl_sink")
    q = (
        docstream.template_stage(docstream.read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "tpl_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)

    got = {
        r["doc_id"]: (r["template_ends"]["prefix_h"], r["template_ends"]["suffix_h"])
        for r in out.collect()
    }
    batch = {
        r["doc_id"]: (r["e"]["prefix_h"], r["e"]["suffix_h"])
        for r in spark.read.parquet(src)
        .select("doc_id", textfn.template_end_hashes(F.col("text")).alias("e"))
        .collect()
    }
    assert got == batch
    assert got[999998] == (None, None) and got[999999] == (None, None)
    assert any(p is not None for p, _ in got.values()), "corpus should emit hashes"


def test_streaming_datacard_stage_matches_batch(spark, tmp_path):
    """The stateless in-stream datacard signal emission must drain EQUAL
    to the shared batch expression per row, and aggregating the drained
    signals must reproduce the REGISTERED corpus_datacard on the same
    parquet — the property that lets the datasheet run on either
    surface. NULL text carries NULL signals (counted by neither)."""
    from chronobase_spark import queries as q
    from chronobase_spark.streaming import docs as docstream

    d = str(tmp_path / "dcsf")
    src = f"{d}/documents.parquet"
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(60)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    nulltext = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit(None).cast("string")
    )
    base.union(nulltext).repartition(2).write.parquet(src)

    sink = str(tmp_path / "dc_sink")
    qs = (
        docstream.datacard_stage(docstream.read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "dc_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qs.awaitTermination(120)
    out = spark.read.parquet(sink)

    got = {
        r["doc_id"]: tuple(r["datacard"]) for r in out.collect()
    }
    assert got[999999] == (None, None, None, None)
    assert all(v[0] is not None for k, v in got.items() if k != 999999)

    # downstream datasheet over the DRAINED signals == the registered
    # batch query over the same parquet directory
    def key(rows):
        return {
            (r["source"], r["lang"]): (
                r["n_docs"], r["total_tokens"], round(r["avg_tokens"], 9),
                r["total_chars"], r["n_exact_dup_docs"],
                r["distinct_token_sum"], round(r["stop_ratio"], 9),
            )
            for r in rows
        }

    from_stream = (
        out.filter(F.col("datacard.h").isNotNull())
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("datacard.n_tokens").cast("bigint").alias("total_tokens"),
            (
                F.sum("datacard.n_tokens").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (F.count(F.lit(1)) - F.countDistinct("datacard.h"))
            .cast("bigint")
            .alias("n_exact_dup_docs"),
            F.sum("datacard.n_distinct").cast("bigint").alias("distinct_token_sum"),
            (
                F.sum("datacard.n_stop").cast("double")
                / F.greatest(F.sum("datacard.n_tokens"), F.lit(1)).cast("double")
            ).alias("stop_ratio"),
        )
        .collect()
    )
    from_batch = q.queries()["corpus_datacard"](spark, d).collect()
    assert key(from_stream) == key(from_batch)


def test_tab_stream_end_to_end_pipeline(spark, tmp_path):
    """The reference's whole lifecycle — flush drops immutable .tab
    tablets, ingest scrubs/fingerprints/scores documents, queries read
    the result — replayed as ONE Spark-native flow over the chronotab
    STREAMING source (sources/tabfile._TabStreamReader): tablets →
    readStream → PII scrub → MinHash signature → parquet, plus the
    frozen-LM scoring aggregate, both drained availableNow.

    Pins: (1) the streamed rows decode bit-identical to the batch
    chronotab read (same block decode path, so scrub/signature columns
    match the batch-applied stages exactly); (2) LM scores equal the
    batch bigram_lm_scores integers; (3) a tablet dropped AFTER the
    first drain is picked up INCREMENTALLY by a second availableNow
    run on the same checkpoint — old tablets are not re-read (offset =
    ingested tablet set, the file-arrival progress dimension)."""
    from chronobase_spark.functions import text as textf
    from chronobase_spark.sources import tabfile
    from chronobase_spark.streaming import docs as docstream

    docs = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(40)
        .select("doc_id", "text", "lang", "source")
        .withColumn(
            "text",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.when(
                    F.col("doc_id") % 4 == 0,
                    F.lit(" contact zz@zz.com or 555-0000"),
                ).otherwise(F.lit("")),
            ),
        )
    )

    def payload(d):
        return d.select(
            F.col("doc_id").cast("string").cast("binary").alias("key"),
            (
                (F.lit(1_700_000_000) + F.col("doc_id"))
                * F.lit(1_000_000_000)
            ).alias("ts_ns"),
            F.to_json(F.struct("doc_id", "text", "lang", "source"))
            .cast("binary")
            .alias("data"),
        )

    tabdir = str(tmp_path / "tablets")
    n1 = tabfile.write_tab_dir(payload(docs), tabdir, block_size=4096, partitions=3)
    assert n1 == 40

    tabfile.register_tab_source(spark)
    json_schema = "doc_id BIGINT, text STRING, lang STRING, source STRING"

    def decode(df):
        return df.select(
            F.from_json(F.col("data").cast("string"), json_schema).alias("d"),
            F.col("ts").alias("ingest_ts"),
        ).select("d.doc_id", "d.text", "d.lang", "d.source", "ingest_ts")

    batch_docs = decode(spark.read.format("chronotab").load(tabdir))
    lm, left, v = textf.bigram_lm_model(batch_docs)

    stream_docs = decode(spark.readStream.format("chronotab").load(tabdir))
    enriched = docstream.signature_stage(docstream.pii_scrub_stage(stream_docs))
    sink = str(tmp_path / "tab_sink")
    ckpt = str(tmp_path / "tab_ckpt")

    def drain_rows():
        q = (
            enriched.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain_rows()
    scored = docstream.lm_score_stage(stream_docs, lm, left, v)
    q2 = (
        scored.writeStream.format("memory")
        .queryName("tab_lm")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)

    def row_key(r):
        sig = r["minhash_bands"] and tuple(map(tuple, r["minhash_bands"]))
        return (r["n_emails"], r["n_phones"], r["redacted"], sig)

    got = {r["doc_id"]: row_key(r) for r in spark.read.parquet(sink).collect()}
    want = {
        r["doc_id"]: row_key(r)
        for r in docstream.signature_stage(
            docstream.pii_scrub_stage(batch_docs)
        ).collect()
    }
    assert len(got) == 40 and got == want

    got_lm = {
        r["doc_id"]: (r["n_grams"], r["logprob_micro"])
        for r in spark.sql("SELECT * FROM tab_lm").collect()
    }
    want_lm = {
        r["doc_id"]: (r["n_grams"], r["logprob_micro"])
        for r in textf.bigram_lm_scores(batch_docs).collect()
    }
    assert want_lm and got_lm == want_lm

    # late tablet: a second flush lands AFTER the first drain — the
    # same checkpoint must ingest only the new file
    late = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    n2 = tabfile.write_tab_dir(
        payload(late), str(tmp_path / "tablets" / "late"), block_size=4096
    )
    assert n2 == 5
    drain_rows()
    out2 = spark.read.parquet(sink)
    assert out2.count() == 45  # 40 old rows NOT re-ingested
    assert out2.filter(F.col("doc_id") >= 100000).count() == 5


def test_streaming_cusum_matches_batch_prefix_form(spark, event_source, tmp_path):
    """After an availableNow drain, the applyInPandasWithState CUSUM
    monitor (direct integer recurrence S_t = max(0, S+(x-K))) must be
    EQUAL row-for-row to the batch prefix closed form
    S_t = P_t - min(0, min_j P_j) that cusum_fixed_ref uses — same
    micro quantization, same daily reset, pure-integer state."""
    from pyspark.sql.window import Window

    # H far below the production threshold: sf0.001 day-segments are
    # ~10 rows, so the registered 500-unit H never fires there — the
    # test must exercise BOTH alarm branches.
    K, H = 50_000_000, 50_000_000
    stream = ingest.read_event_stream(spark, event_source)
    out = ingest.streaming_cusum_alarms(stream, k_ref_micro=K, h_micro=H)
    sink = str(tmp_path / "cusum_sink")
    ckpt = str(tmp_path / "cusum_ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["event_id"]: (r["idx"], r["cusum_micro"], r["alarm"])
        for r in spark.read.parquet(sink).collect()
    }

    ev = (
        spark.read.parquet(event_source)
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            "ts",
            "event_id",
            F.round(F.col("value").cast("double") * F.lit(1000000.0), 0)
            .cast("bigint")
            .alias("x"),
        )
    )
    w_ord = (
        Window.partitionBy("event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = ev.select(
        "event_id",
        F.sum((F.col("x") - F.lit(K)).cast("decimal(28,0)"))
        .over(w_ord)
        .alias("p"),
        F.row_number()
        .over(
            Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
        )
        .cast("bigint")
        .alias("idx"),
        F.col("event_type"),
        F.col("day"),
    )
    w2 = (
        Window.partitionBy("event_type", "day")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = pre.select(
        "event_id",
        "idx",
        (
            F.col("p")
            - F.least(F.lit(0).cast("decimal(38,0)"), F.min("p").over(w2))
        )
        .cast("bigint")
        .alias("cusum"),
    )
    want = {
        r["event_id"]: (r["idx"], r["cusum"], r["cusum"] > H)
        for r in cus.collect()
    }
    assert want
    assert got == want
    assert any(v[2] for v in want.values()), "no alarm rows — H too high"
    assert not all(v[2] for v in want.values()), "every row alarmed — H too low"


def test_streaming_cdc_stage_matches_batch(spark, tmp_path):
    """The stateless in-stream CDC chunk-fingerprint emission must
    drain EQUAL to the batch chunker (same md5 sequence per doc, same
    order), with empty and NULL text carried through as EMPTY arrays.
    Run through a real stream so the stage is proven stateless (no
    watermark, no state store)."""
    from chronobase_spark.dedup import cdc
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "cdcsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(50)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    empty = base.limit(1).withColumn("doc_id", F.lit(999998)).withColumn(
        "text", F.lit("")
    )
    nulltext = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit(None).cast("string")
    )
    base.union(empty).union(nulltext).repartition(2).write.parquet(src)

    sink = str(tmp_path / "cdc_sink")
    q = (
        docstream.cdc_stage(docstream.read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "cdc_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)

    got = {r["doc_id"]: list(r["chunk_md5s"]) for r in out.collect()}
    batch = {
        r["doc_id"]: list(r["chunk_md5s"])
        for r in cdc.chunk_hashes(spark.read.parquet(src)).collect()
    }
    assert got == batch
    assert got[999998] == [] and got[999999] == []
    assert any(len(v) > 0 for v in got.values()), "corpus should emit chunks"


def test_streaming_wav_stage_matches_batch(spark, tmp_path):
    """The stateless in-stream WAV synth+decode must drain EQUAL to the
    batch pass (same integer waveform features per doc), proving
    mapInPandas media decode runs per micro-batch with no state."""
    from chronobase_spark.functions import multimodal
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "wavsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(40)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    base.repartition(2).write.parquet(src)

    sink = str(tmp_path / "wav_sink")
    q = (
        docstream.wav_stage(docstream.read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "wav_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_samples"], r["peak_abs"], r["sum_abs"], r["zero_crossings"])
        for r in spark.read.parquet(sink).collect()
    }
    batch = {
        r["doc_id"]: (r["n_samples"], r["peak_abs"], r["sum_abs"], r["zero_crossings"])
        for r in multimodal.decode_wav(
            multimodal.to_wav_payload(spark.read.parquet(src))
        ).collect()
    }
    assert got == batch and len(got) == 40
    assert any(v[3] > 0 for v in got.values()), "corpus should have crossings"


def test_streaming_jm_score_stage_matches_batch(spark, tmp_path):
    """After an availableNow drain, the frozen-JM trigram scoring stage
    must be BIT-IDENTICAL to the batch jm_trigram_scores on
    in-vocabulary text, and every unseen-trigram back-off leg must
    score exactly: seen suffix bigram -> λ2·c23/c2p + λ1·c3/N; unseen
    bigram + seen w3 -> λ1·c3/N; fully novel -> λ1·(1/N)."""
    import math

    from chronobase_spark.functions import text as textf
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "jmsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(60)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    train = base
    lm, bi, uni, n_tokens = textf.jm_trigram_model(train)
    bi_rows = {r["b"]: (r["c23"], r["c2p"]) for r in bi.collect()}
    uni_rows = {r["w"]: r["c3"] for r in uni.collect()}
    b_pick = next(b for b in sorted(bi_rows) if b.startswith("the "))
    w_pick = b_pick.split(" ")[1]

    oov_doc = base.limit(1).withColumn("doc_id", F.lit(999999)).withColumn(
        "text", F.lit("zzqx zzqy zzqz")
    )
    bi_doc = base.limit(1).withColumn("doc_id", F.lit(999998)).withColumn(
        "text", F.lit(f"zzqx {b_pick}")
    )
    uni_doc = base.limit(1).withColumn("doc_id", F.lit(999997)).withColumn(
        "text", F.lit("zzqx zzqy the")
    )
    base.union(oov_doc).union(bi_doc).union(uni_doc).repartition(2).write.parquet(
        src
    )

    scored = docstream.jm_score_stage(
        docstream.read_document_stream(spark, src), lm, bi, uni, n_tokens
    )
    q = (
        scored.writeStream.format("memory")
        .queryName("jm_scores")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["n_grams"], r["jm_logprob_micro"])
        for r in spark.sql("SELECT * FROM jm_scores").collect()
    }
    want = {
        r["doc_id"]: (r["n_grams"], r["jm_logprob_micro"])
        for r in textf.jm_trigram_scores(train).collect()
    }
    assert want, "training corpus produced no scored docs"
    for doc, pair in want.items():
        assert got[doc] == pair, doc

    def half_up_micro(p: float) -> int:
        from decimal import ROUND_HALF_UP, Decimal

        return int(
            Decimal(repr(math.log(p) * 1e6)).quantize(0, rounding=ROUND_HALF_UP)
        )

    n = float(n_tokens)
    # fully novel trigram: uniform-floor unigram leg only
    assert got[999999] == (1, half_up_micro(0.0 + (0.125 * 1.0) / n))
    # unseen trigram, seen suffix bigram: λ2 + λ1 legs
    c23, c2p = bi_rows[b_pick]
    c3 = uni_rows[w_pick]
    p = (0.375 * float(c23)) / float(c2p) + (0.125 * float(c3)) / n
    assert got[999998] == (1, half_up_micro(p))
    # unseen bigram, seen w3: λ1 leg with the real unigram count
    p_uni = 0.0 + (0.125 * float(uni_rows["the"])) / n
    assert got[999997] == (1, half_up_micro(p_uni))
    # the bigram-aware leg must outscore the pure-unigram legs
    assert got[999998][1] > got[999999][1]


def test_streaming_benford_counts_match_batch(spark, event_source, tmp_path):
    """Drained windowed Benford digit counts must equal the batch
    benford_first_digit counts over the same rows (summed across
    closed windows) — the windowed-aggregation streaming form the
    corpus-marginal boundary in streaming/docs.py prescribes."""
    stream = ingest.read_event_stream(spark, event_source)
    agg = ingest.streaming_benford_counts(stream)
    sink = str(tmp_path / "benford_sink")
    ckpt = str(tmp_path / "benford_ckpt")
    q = (
        agg.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"], r["digit"]): r["n_events"]
        for r in spark.read.parquet(sink).collect()
    }
    ev = spark.read.parquet(event_source)
    x = F.round(F.col("value") * F.lit(1000000.0), 0).cast("bigint")
    batch = (
        ev.filter(F.col("value").isNotNull() & (F.col("value") > 0))
        .select("ts", "event_type", x.alias("x"))
        .filter(F.col("x") > 0)
        .select(
            "ts",
            "event_type",
            F.substring(F.col("x").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit"),
        )
        .groupBy(F.window("ts", "1 day"), "event_type", "digit")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "digit",
            "n_events",
        )
    )
    want = {
        (r["window_start"], r["event_type"], r["digit"]): r["n_events"]
        for r in batch.collect()
    }
    # append mode emits only watermark-closed windows; every emitted
    # window-cell must equal batch truth, and only the tail day's
    # cells (at most |types|*9) may still be open.
    assert got
    assert all(got[k] == want[k] for k in got)
    assert len(got) >= len(want) - 45, (len(got), len(want))


def test_streaming_phash_stage_matches_batch_chunks(spark, tmp_path):
    """The in-stream dHash chunks must equal the batch dhash_chunks
    values for every gated document after an availableNow drain, and
    sub-gate rows must pass through with NULL chunks (they are the
    rows the batch pair finder excludes)."""
    from chronobase_spark.dedup import phash
    from chronobase_spark.functions import multimodal
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "phsrc")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .limit(120)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    base.repartition(2).write.parquet(src)

    out = docstream.phash_stage(docstream.read_document_stream(spark, src))
    q = (
        out.writeStream.format("memory")
        .queryName("phash_rows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
        for r in spark.sql("SELECT * FROM phash_rows").collect()
    }

    gated = base.filter(
        F.col("text").isNotNull()
        & (F.length(F.encode("text", "UTF-8")) >= phash.MIN_PAYLOAD_BYTES)
    )
    want = {
        r["doc_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
        for r in multimodal.dhash_chunks(
            multimodal.to_ppm_payload(gated)
        ).collect()
    }
    assert want, "smoke corpus should contain gated-in rasters"
    assert len(got) == base.count()  # pass-through: every row survives
    for doc, chunks in want.items():
        assert got[doc] == chunks, doc
    sub_gate = set(got) - set(want)
    assert sub_gate, "smoke corpus should contain sub-gate rows"
    assert all(got[d] == (None, None, None, None) for d in sub_gate)


def test_streaming_budget_histogram_matches_batch_and_finalize(spark, tmp_path):
    """Drained windowed budget histograms must equal the batch per-day
    (score -> tokens, docs) histogram over the same rows, and the
    finalize projection must produce the plain-Python admission plan
    per window (full buckets by inclusive cumulative <= 30% DIV
    budget, single boundary class, exact remaining) — the windowed-
    aggregation streaming form of token_budget_select prescribed by
    the corpus-marginal boundary in streaming/docs.py."""
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "budget_src")
    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 400),
        )
    )
    base.repartition(3).write.parquet(src)

    sink = str(tmp_path / "budget_sink")
    q = (
        docstream.budget_histogram_stage(
            docstream.read_document_stream(spark, src)
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "budget_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    drained = spark.read.parquet(sink)
    got = {
        (r["window_start"], r["score"]): (r["bucket_n"], r["n_docs"])
        for r in drained.collect()
    }
    assert got

    # batch truth over the same rows, same day windows
    rows = base.select("doc_id", "text", "ingest_ts").collect()
    import collections

    hist = collections.defaultdict(lambda: [0, 0])
    for r in rows:
        toks = [t for t in (r["text"] or "").strip().lower().split(" ") if t]
        day = r["ingest_ts"].replace(hour=0, minute=0, second=0, microsecond=0)
        key = (day, len(set(toks)))
        hist[key][0] += len(toks)
        hist[key][1] += 1
    want = {k: tuple(v) for k, v in hist.items()}
    # append mode withholds at most the open tail window's cells
    open_days = {max(d for d, _ in want)}
    assert all(got[k] == want[k] for k in got)
    missing = {k for k in want if k not in got}
    assert all(k[0] in open_days for k in missing), missing

    # finalize: plan equals plain-Python per drained window
    plan = {
        (r["window_start"], r["score"]): (
            r["full_ok"],
            r["is_boundary"],
            r["remaining"],
        )
        for r in docstream.finalize_budget_admission(drained).collect()
    }
    days = {d for d, _ in got}
    for day in days:
        buckets = sorted(
            ((s, got[(day, s)][0]) for d, s in got if d == day),
            key=lambda x: -x[0],
        )
        b = sum(n for _, n in buckets) * 3 // 10
        cum = 0
        for s, n in buckets:
            before, cum = cum, cum + n
            full = cum <= b
            boundary = before <= b < cum
            rem = b - before if boundary else None
            assert plan[(day, s)] == (full, boundary, rem), (day, s)
        # exactly one boundary class per non-degenerate window
        n_boundary = sum(
            1 for s, _ in buckets if plan[(day, s)][1]
        )
        assert n_boundary == (1 if b < cum else 0), day


def test_streaming_dsir_admit_matches_batch_and_unseen_backoff(spark, tmp_path):
    """Drained frozen-model DSIR admission over the training corpus
    itself must be BIT-IDENTICAL to batch dsir_select (same ratio
    table, every bucket seen, same max-weight m), and documents with
    buckets the training corpus never touched must score the exact
    add-one smoothing prior unseen_micro — pinned against plain Python
    over the collected model. The lm_score_stage frozen-model contract
    applied to selection."""
    import hashlib
    import math

    from chronobase_spark.functions import text as textf
    from chronobase_spark.streaming import docs as docstream

    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    ratio, unseen_micro, m = textf.dsir_model(base)
    ratio_py = {r["bucket"]: r["r_micro"] for r in ratio.collect()}

    # novel-vocab rows: grams built from tokens no fixture doc contains;
    # timestamps sit INSIDE the base docs' span, and a far-future flush
    # row (never asserted — its window stays open) advances the final
    # watermark past every window that matters
    novel = spark.createDataFrame(
        [
            (999999, "qqxx1 qqxx2 qqxx3 qqxx1 qqxx2", "xx", "synthetic", 29, 100),
            (999998, "zzyy1 zzyy2", "xx", "synthetic", 11, 200),
            (999990, "flush row", "xx", "synthetic", 9, 10_000_000),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long, off long",
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        F.timestamp_seconds(F.lit(1700000000) + F.col("off")).alias(
            "ingest_ts"
        ),
    )

    src = str(tmp_path / "dsir_src")
    base.unionByName(novel).repartition(3).write.parquet(src)
    sink = str(tmp_path / "dsir_sink")
    q = (
        docstream.dsir_admit_stage(
            docstream.read_document_stream(spark, src), ratio, unseen_micro, m
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "dsir_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: (r["n_grams"], r["w_micro"], r["accepted"])
        for r in spark.read.parquet(sink).collect()
    }

    # batch equality over the training corpus
    want = {
        r["doc_id"]: (r["n_grams"], r["w_micro"], r["accepted"])
        for r in textf.dsir_select(base).collect()
    }
    assert want and all(got[d] == want[d] for d in want)

    # unseen-bucket back-off: plain-Python mirror over the frozen model
    for doc_id, text_val in ((999999, "qqxx1 qqxx2 qqxx3 qqxx1 qqxx2"),
                             (999998, "zzyy1 zzyy2")):
        toks = text_val.split(" ")
        grams = [f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)]
        bks = [
            int(hashlib.md5(g.encode()).hexdigest()[:3], 16) for g in grams
        ]
        w = sum(ratio_py.get(b, unseen_micro) for b in bks)
        u = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16)
        acc = math.log((u + 1.0) / 65536.0) * 1e6 < w / len(grams) - m
        assert got[doc_id] == (len(grams), w, acc), doc_id
    # at least one novel gram actually exercised the unseen branch
    novel_bks = {
        int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:3], 16)
        for a, b in [("qqxx1", "qqxx2"), ("qqxx2", "qqxx3"), ("zzyy1", "zzyy2")]
    }
    assert any(b not in ratio_py for b in novel_bks)


def test_streaming_minhash_admit_matches_batch_pairs(spark, tmp_path):
    """Stream-static near-dup admission (minhash_admit_stage): drained
    verdicts over a fresh×frozen split must equal the batch
    minhash_md5_pairs list restricted to (new, old) pairs — dup iff the
    arriving doc pairs with ANY frozen doc, canonical = the min such
    partner — and every arrival gets a verdict (non-dups report false
    with NULL canonical), the admission contract the batch pair list
    does not provide."""
    from chronobase_spark.dedup import minhash
    from chronobase_spark.streaming import docs as docstream

    base = catalog.table(spark, SF_SMOKE, "documents")
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in minhash.minhash_md5_pairs(base).collect()
    ]
    assert pairs, "fixture must contain near-dup pairs"
    # fresh = the max side of every pair + a slice of unpaired docs, so
    # the drained output must contain BOTH dup and non-dup verdicts;
    # frozen = everything else (every pair then has a frozen partner
    # unless both sides were pair-maxes — handled in the expectation)
    fresh_ids = {b for _, b in pairs}
    paired = fresh_ids | {a for a, _ in pairs}
    fresh_ids |= {
        r["doc_id"]
        for r in base.filter(~F.col("doc_id").isin(*paired))
        .orderBy("doc_id")
        .limit(10)
        .collect()
    }
    frozen = base.filter(~F.col("doc_id").isin(*fresh_ids))
    corpus_bands, corpus_shingles = minhash.minhash_band_model(frozen)

    expected: dict[int, set[int]] = {d: set() for d in fresh_ids}
    for a, b in pairs:
        if a in fresh_ids and b not in fresh_ids:
            expected[a].add(b)
        if b in fresh_ids and a not in fresh_ids:
            expected[b].add(a)

    # re-ingest case (the crawl re-fetch): a frozen doc arriving AGAIN
    # with its stored id must verify against its own stored content and
    # report dup with itself as canonical — pick one with no batch
    # partners so the verdict is unambiguous, and with enough tokens to
    # actually carry shingles
    reingest = next(
        r["doc_id"]
        for r in frozen.filter(
            ~F.col("doc_id").isin(*paired)
            & (F.size(F.split(F.col("text"), " +")) >= 10)
        )
        .orderBy("doc_id")
        .limit(1)
        .collect()
    )

    # a NULL-text arrival (no shingles possible) and the far-future
    # flush row — the NULL arrival must still get a (False, None)
    # verdict via the explode_outer path
    flush = spark.createDataFrame(
        [
            (999992, None, "xx", "synthetic", 0, 60),
            (999990, "flush row", "xx", "synthetic", 9, 10_000_000),
        ],
        "doc_id long, text string, lang string, source string,"
        " n_chars long, off long",
    ).select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.timestamp_seconds(F.lit(1700000000) + F.col("off")).alias(
            "ingest_ts"
        ),
    )
    arrivals = base.filter(
        F.col("doc_id").isin(*(fresh_ids | {reingest}))
    ).withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
    )
    src = str(tmp_path / "mh_src")
    arrivals.unionByName(flush).repartition(3).write.parquet(src)
    sink = str(tmp_path / "mh_sink")
    q = (
        docstream.minhash_admit_stage(
            docstream.signature_stage(docstream.read_document_stream(spark, src)),
            corpus_bands,
            corpus_shingles,
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "mh_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: (r["dup_of_corpus"], r["canonical_id"])
        for r in spark.read.parquet(sink).collect()
        if r["doc_id"] in fresh_ids or r["doc_id"] in (reingest, 999992)
    }
    # EVERY arrival has a verdict, incl. the NULL-text one
    assert set(got) == fresh_ids | {reingest, 999992}
    assert got[999992] == (False, None)
    n_dup = 0
    for d in fresh_ids:
        partners = expected[d]
        if partners:
            n_dup += 1
            assert got[d] == (True, min(partners)), (d, got[d], partners)
        else:
            assert got[d] == (False, None), (d, got[d])
    assert n_dup >= 1 and n_dup < len(fresh_ids)
    # the re-ingested frozen doc is a dup of its own stored copy
    assert got[reingest] == (True, reingest), got[reingest]
    corpus_bands.unpersist()
    corpus_shingles.unpersist()


def test_streaming_topq_admission_matches_batch(spark, tmp_path):
    """Drained topq histograms + finalize must reproduce the batch
    quality_topq_filter output on the same rows: aggregating the
    admitted score classes per lang gives exactly the batch query's
    (n_kept, kept_distinct_sum, kept_min_score) — the
    budget_histogram_stage corpus-marginal split applied to the
    per-stratum percentile cut."""
    import chronobase_spark.queries as q
    from chronobase_spark.streaming import docs as docstream

    base = catalog.table(spark, SF_SMOKE, "documents").withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
    )
    flush = spark.createDataFrame(
        [(999990, "flush row", "xx", "synthetic", 9, 10_000_000)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long, off long",
    ).select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.timestamp_seconds(F.lit(1700000000) + F.col("off")).alias(
            "ingest_ts"
        ),
    )
    src = str(tmp_path / "tq_src")
    base.unionByName(flush).repartition(3).write.parquet(src)
    sink = str(tmp_path / "tq_sink")
    sq = (
        docstream.topq_histogram_stage(
            docstream.read_document_stream(spark, src)
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "tq_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    sq.awaitTermination(180)
    drained = spark.read.parquet(sink)
    # restrict to the base docs' window (the flush row's own window is
    # open-ended noise from the xx lang)
    win = drained.filter(F.col("lang") != "xx")
    fin = docstream.finalize_topq_admission(win)
    got = {
        r["lang"]: (r["n_kept"], r["kept_distinct_sum"], r["kept_min_score"])
        for r in fin.filter("admitted")
        .groupBy("lang")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_kept"),
            F.sum(F.col("score") * F.col("n_docs"))
            .cast("bigint")
            .alias("kept_distinct_sum"),
            F.min("score").alias("kept_min_score"),
        )
        .collect()
    }
    want = {
        r["lang"]: (r["n_kept"], r["kept_distinct_sum"], r["kept_min_score"])
        for r in q._REGISTRY["quality_topq_filter"][0](
            spark, SF_SMOKE
        ).collect()
    }
    assert want and got == want


def test_dsir_admit_window_independent_of_watermark(spark, tmp_path):
    """The r13 advice fix: dsir_admit_stage's aggregation window
    duration must follow the `window` parameter, not the watermark —
    tuning lateness tolerance alone must leave the output windows
    unchanged (and the default must stay backward-compatible: window
    falls back to the watermark)."""
    from chronobase_spark.functions import text as textf
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "wsrc")
    base = catalog.table(spark, SF_SMOKE, "documents").limit(5).withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
    )
    base.write.parquet(src)
    ratio, unseen, m = textf.dsir_model(base)

    def plan_of(stage_df) -> str:
        # the analyzer expands window() into the named_struct bucket
        # arithmetic, where the slide duration appears as `% <µs>`
        return stage_df._jdf.queryExecution().analyzed().toString()

    stream = docstream.read_document_stream(spark, src)
    p_5m = plan_of(
        docstream.dsir_admit_stage(
            stream, ratio, unseen, m, watermark="10 minutes",
            window="5 minutes",
        )
    )
    p_default = plan_of(
        docstream.dsir_admit_stage(
            stream, ratio, unseen, m, watermark="10 minutes"
        )
    )
    assert "% 300000000" in p_5m              # 5 min in µs
    assert "% 300000000" not in p_default
    assert "% 600000000" in p_default         # falls back to watermark


def test_streaming_phash_admit_matches_batch_pairs(spark, tmp_path):
    """Stream-static image near-dup admission (phash_admit_stage):
    drained verdicts over a fresh×frozen split must equal the batch
    phash_near_pairs list restricted to (new, old) pairs — dup iff the
    arriving image pairs with ANY frozen one within Hamming ≤ 3,
    canonical = the min such partner — with every arrival getting a
    verdict, including sub-gate thumbnails (NULL chunks → non-dup),
    which the batch pair list excludes entirely."""
    from chronobase_spark.dedup import phash
    from chronobase_spark.streaming import docs as docstream

    base = catalog.table(spark, SF_SMOKE, "documents").filter(
        F.col("text").isNotNull()
        & (F.length(F.encode("text", "UTF-8")) >= phash.MIN_PAYLOAD_BYTES)
    )
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in phash.phash_near_pairs(base).collect()
    ]
    assert pairs, "fixture must contain phash near-dup pairs"
    fresh_ids = {b for _, b in pairs}
    paired = fresh_ids | {a for a, _ in pairs}
    fresh_ids |= {
        r["doc_id"]
        for r in base.filter(~F.col("doc_id").isin(*paired))
        .orderBy("doc_id")
        .limit(8)
        .collect()
    }
    frozen = base.filter(~F.col("doc_id").isin(*fresh_ids))
    corpus_chunks = phash.phash_band_model(frozen)

    expected: dict[int, set[int]] = {d: set() for d in fresh_ids}
    for a, b in pairs:
        if a in fresh_ids and b not in fresh_ids:
            expected[a].add(b)
        if b in fresh_ids and a not in fresh_ids:
            expected[b].add(a)

    # a sub-gate thumbnail arrival: must still get a (False, None)
    # verdict even though the batch finder would never see it
    thumb = spark.createDataFrame(
        [(999991, "tiny", "xx", "synthetic", 4, 50)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long, off long",
    )
    flush = spark.createDataFrame(
        [(999990, "flush row", "xx", "synthetic", 9, 10_000_000)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long, off long",
    )
    extra = thumb.unionByName(flush).select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.timestamp_seconds(F.lit(1700000000) + F.col("off")).alias(
            "ingest_ts"
        ),
    )
    arrivals = base.filter(F.col("doc_id").isin(*fresh_ids)).withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
    )
    src = str(tmp_path / "ph_src")
    arrivals.unionByName(extra).repartition(3).write.parquet(src)
    sink = str(tmp_path / "ph_sink")
    q = (
        docstream.phash_admit_stage(
            docstream.read_document_stream(spark, src), corpus_chunks
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ph_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["doc_id"]: (r["dup_of_corpus"], r["canonical_id"])
        for r in spark.read.parquet(sink).collect()
        if r["doc_id"] in fresh_ids or r["doc_id"] == 999991
    }
    assert set(got) == fresh_ids | {999991}  # every arrival has a verdict
    n_dup = 0
    for d in fresh_ids:
        partners = expected[d]
        if partners:
            n_dup += 1
            assert got[d] == (True, min(partners)), (d, got[d], partners)
        else:
            assert got[d] == (False, None), (d, got[d])
    assert n_dup >= 1 and n_dup < len(fresh_ids)
    assert got[999991] == (False, None)  # thumbnail: verdict, no match
    corpus_chunks.unpersist()


def _drain_composed_and_alone(spark, tmp_path, arrivals, stage, id_col):
    """Drain ``stage`` over ``arrivals`` twice: alone (its own default
    watermark) and composed after ``content_dedup``, which defines the
    watermark, so the stage gets ``watermark=None`` and an explicit
    window. Returns ({id: row} alone, {id: row} composed, number of
    distinct content fingerprints among the arrivals)."""
    from chronobase_spark.dedup.exact import normalize
    from chronobase_spark.streaming import docs as docstream

    src = str(tmp_path / "cmp_src")
    arrivals.repartition(3).write.parquet(src)
    out = []
    for name, staged in (
        ("alone", stage(docstream.read_document_stream(spark, src), {})),
        (
            "composed",
            stage(
                docstream.content_dedup(docstream.read_document_stream(spark, src)),
                {"watermark": None, "window": "10 minutes"},
            ),
        ),
    ):
        q = (
            staged.writeStream.format("parquet")
            .option("path", str(tmp_path / f"sink_{name}"))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        out.append(
            {
                r[id_col]: r.asDict()
                for r in spark.read.parquet(str(tmp_path / f"sink_{name}")).collect()
            }
        )
    n_content = (
        arrivals.select(F.xxhash64(normalize(F.col("text"))).alias("fp"))
        .distinct()
        .count()
    )
    return out[0], out[1], n_content


def test_phash_admit_composed_after_content_dedup(spark, tmp_path):
    """phash_admit_stage composed after content_dedup (watermark=None,
    explicit window) drains to the same verdicts as the stage on its
    own, for every arrival that survives the content dedup. Also
    dsir_admit_stage, the other stage that used to define its own
    watermark unconditionally."""
    from chronobase_spark.dedup import phash
    from chronobase_spark.functions import text as textf
    from chronobase_spark.streaming import docs as docstream

    FLUSH = 999990
    flush = spark.createDataFrame(
        [(FLUSH, "flush row", "xx", "synthetic", 9, 10_000_000)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long, off long",
    ).select(
        "doc_id", "text", "lang", "source", "n_chars",
        F.timestamp_seconds(F.lit(1700000000) + F.col("off")).alias("ingest_ts"),
    )

    def stamped(df):
        return df.withColumn(
            "ingest_ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id"))
        )

    base = catalog.table(spark, SF_SMOKE, "documents").filter(
        F.col("text").isNotNull()
        & (F.length(F.encode("text", "UTF-8")) >= phash.MIN_PAYLOAD_BYTES)
    )
    fresh_ids = {r["doc_b"] for r in phash.phash_near_pairs(base).collect()}
    assert fresh_ids, "fixture must contain phash near-dup pairs"
    chunks = phash.phash_band_model(base.filter(~F.col("doc_id").isin(*fresh_ids)))
    alone, composed, n_content = _drain_composed_and_alone(
        spark,
        tmp_path / "phash",
        stamped(base.filter(F.col("doc_id").isin(*fresh_ids))).unionByName(flush),
        lambda s, wm: docstream.phash_admit_stage(s, chunks, **wm),
        "doc_id",
    )
    chunks.unpersist()
    alone.pop(FLUSH, None)  # the flush row's far-future window never closes
    composed.pop(FLUSH, None)
    verdict = lambda r: (r["dup_of_corpus"], r["canonical_id"])  # noqa: E731
    assert len(composed) == n_content - 1 and set(composed) <= set(alone)
    assert {d: verdict(r) for d, r in composed.items()} == {
        d: verdict(alone[d]) for d in composed
    }
    assert any(r["dup_of_corpus"] for r in composed.values())

    docs = stamped(catalog.table(spark, SF_SMOKE, "documents").limit(40))
    ratio, unseen_micro, m = textf.dsir_model(docs)
    alone, composed, n_content = _drain_composed_and_alone(
        spark,
        tmp_path / "dsir",
        docs.unionByName(flush),
        lambda s, wm: docstream.dsir_admit_stage(s, ratio, unseen_micro, m, **wm),
        "doc_id",
    )
    alone.pop(FLUSH, None)
    composed.pop(FLUSH, None)
    score = lambda r: (r["n_grams"], r["w_micro"], r["accepted"])  # noqa: E731
    assert composed and set(composed) <= set(alone)
    assert {d: score(r) for d, r in composed.items()} == {
        d: score(alone[d]) for d in composed
    }


def _fold(a, b) -> float:
    """The engine's sequential float64 dot-product fold."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


@pytest.mark.parametrize("model", ["fixed", "scaled"])
def test_streaming_semantic_admit_matches_batch_pairs(spark, tmp_path, model):
    """Stream-static semantic admission (semantic_admit_stage): drained
    verdicts over a fresh×frozen embedding split must equal the
    (new, old) near pairs under the model's own quantizer — dup iff the
    arriving vector has ANY stored cell-mate with rounded cosine ≥
    threshold, canonical = the min such partner — and every arrival
    gets a verdict, including a NULL embedding (no cosine is defined
    for it). ``fixed``: 8 planes, pairs from the batch
    bucketed_near_pairs list. ``scaled``: semantic_cell_model_scaled's
    k = 4 planes, pairs by brute-force cosine within its cells."""
    import math

    from chronobase_spark.dedup import embedding as emb
    from chronobase_spark.streaming import docs as docstream

    threshold = 0.2  # sf0.001 has 97 pairs here (0 at 0.5, 3 at 0.35)
    base = catalog.table(spark, SF_SMOKE, "embeddings")
    pairs = [
        (r["vec_a"], r["vec_b"])
        for r in emb.bucketed_near_pairs(base, min_cosine=threshold).collect()
    ]
    assert pairs, "fixture must contain semantic near-dup pairs"
    fresh_ids = {b for _, b in pairs}
    paired = fresh_ids | {a for a, _ in pairs}
    fresh_ids |= {
        r["vec_id"]
        for r in base.filter(~F.col("vec_id").isin(*paired))
        .orderBy("vec_id")
        .limit(8)
        .collect()
    }
    frozen = base.filter(~F.col("vec_id").isin(*fresh_ids))
    expected: dict[int, set[int]] = {d: set() for d in fresh_ids}
    if model == "fixed":
        corpus_cells, k = emb.semantic_cell_model(frozen), 8
        for a, b in pairs:
            if a in fresh_ids and b not in fresh_ids:
                expected[a].add(b)
            if b in fresh_ids and a not in fresh_ids:
                expected[b].add(a)
    else:
        corpus_cells, k = emb.semantic_cell_model_scaled(frozen)
        assert k < 8
        planes = emb.hyperplanes(k)

        def cell(vec) -> int:
            return sum(1 << i for i, p in enumerate(planes) if _fold(vec, p) >= 0)

        stored = corpus_cells.collect()
        assert all(r["cell"] == cell(r["vec"]) for r in stored)
        for r in base.filter(F.col("vec_id").isin(*fresh_ids)).collect():
            vec = r["embedding"]
            if vec is None:
                continue
            nrm, own = math.sqrt(_fold(vec, vec)), cell(vec)
            expected[r["vec_id"]] = {
                s["vid"]
                for s in stored
                if s["cell"] == own
                and round(_fold(vec, s["vec"]) / (nrm * math.sqrt(_fold(s["vec"], s["vec"]))), 6)
                >= threshold
            }

    # a NULL-embedding arrival and a far-future flush row
    extra = spark.createDataFrame(
        [(999991, None, 0, 50), (999990, None, 0, 10_000_000)],
        "vec_id long, embedding array<float>, label int, off long",
    ).select(
        "vec_id", "embedding", "label",
        F.timestamp_seconds(F.lit(1700000000) + F.col("off")).alias(
            "ingest_ts"
        ),
    )
    arrivals = base.filter(F.col("vec_id").isin(*fresh_ids)).withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1700000000) + F.col("vec_id")),
    )
    src = str(tmp_path / "se_src")
    arrivals.unionByName(extra).repartition(3).write.parquet(src)
    sink = str(tmp_path / "se_sink")
    q = (
        docstream.semantic_admit_stage(
            docstream.read_embedding_stream(spark, src),
            corpus_cells,
            num_planes=k,
            min_cosine=threshold,
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "se_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["vec_id"]: (r["dup_of_corpus"], r["canonical_id"])
        for r in spark.read.parquet(sink).collect()
        if r["vec_id"] in fresh_ids or r["vec_id"] == 999991
    }
    assert set(got) == fresh_ids | {999991}  # every arrival has a verdict
    n_dup = 0
    for d in fresh_ids:
        partners = expected[d]
        if partners:
            n_dup += 1
            assert got[d] == (True, min(partners)), (d, got[d], partners)
        else:
            assert got[d] == (False, None), (d, got[d])
    assert n_dup >= 1 and n_dup < len(fresh_ids)
    assert got[999991] == (False, None)  # NULL embedding: verdict, no match
    corpus_cells.unpersist()


def test_minhash_admit_bucketed_model_drains_identically(spark, tmp_path):
    """The pre-bucketed on-disk frozen model (minhash_band_model_
    bucketed) must be a pure LAYOUT change: the same arrivals drained
    against the persisted model and against the bucketed tables must
    produce byte-identical verdict sets — dup flags, canonicals, and
    window bounds. (The plan-level property — no static-side exchange
    — is pinned in test_plans; the scale measurement in SCALING.md
    r15.)"""
    from chronobase_spark.dedup import minhash
    from chronobase_spark.streaming import docs as docstream

    base = catalog.table(spark, SF_SMOKE, "documents").filter(
        F.col("text").isNotNull()
    )
    frozen = base.filter(F.col("doc_id") % 5 != 0)
    arrivals = (
        base.filter(F.col("doc_id") % 5 == 0)
        .limit(15)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
        )
    )
    flush = spark.createDataFrame(
        [(999990, "flush row", "xx", "synthetic", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000 + 10_000_000))
    )
    src = str(tmp_path / "src")
    arrivals.unionByName(flush).repartition(2).write.parquet(src)

    def drain(bands, shingles, tag):
        sink = str(tmp_path / f"sink_{tag}")
        q = (
            docstream.minhash_admit_stage(
                docstream.signature_stage(docstream.read_document_stream(spark, src)),
                bands,
                shingles,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return {tuple(r) for r in spark.read.parquet(sink).collect()}

    bands_m, sh_m = minhash.minhash_band_model(frozen)
    try:
        got_mem = drain(bands_m, sh_m, "mem")
    finally:
        bands_m.unpersist()
        sh_m.unpersist()
    bands_b, sh_b = minhash.minhash_band_model_bucketed(
        frozen, table_prefix="t_bkt_drain", buckets=4
    )
    try:
        got_bkt = drain(bands_b, sh_b, "bkt")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_drain_bands")
        spark.sql("DROP TABLE IF EXISTS t_bkt_drain_shingles")
    assert got_mem, "drain must produce verdicts"
    assert got_bkt == got_mem


def test_weighted_sample_stage_matches_batch_flags(spark, tmp_path):
    """In-stream importance-weighted thinning: a drained stream's keep
    flags must equal the batch quality_weighted_sample accept test
    row-for-row (same literal BIGINT cross-multiplication), including
    the NULL-text arrival (n_distinct 0 => keep false)."""
    from chronobase_spark.streaming import docs as docstream

    base = catalog.table(spark, SF_SMOKE, "documents").limit(80)
    feed = base.withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")),
    )
    null_row = spark.createDataFrame(
        [(999993, None, "xx", "synthetic", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn("ingest_ts", F.timestamp_seconds(F.lit(1700000000)))
    src = str(tmp_path / "ws_src")
    feed.unionByName(null_row).repartition(2).write.parquet(src)
    sink = str(tmp_path / "ws_sink")
    q = (
        docstream.weighted_sample_stage(
            docstream.read_document_stream(spark, src)
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ws_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_distinct"], r["keep"])
        for r in spark.read.parquet(sink).collect()
    }
    from chronobase_spark.functions import text as _text

    nd = _text.space_distinct_tokens(
        F.coalesce(F.col("text"), F.lit(""))
    ).cast("bigint")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    expected = {
        r["doc_id"]: (r["nd"], r["keep"])
        for r in base.unionByName(null_row.drop("ingest_ts"))
        .select(
            "doc_id",
            nd.alias("nd"),
            (bucket * 64 < F.least(nd, F.lit(64)) * 65536).alias("keep"),
        )
        .collect()
    }
    assert got == expected
    assert got[999993] == (0, False)
    kept = {d for d, (_, k) in got.items() if k}
    assert kept and len(kept) < len(got)  # both arms exercised


def test_reservoir_admit_finalize_equals_batch_topk(spark, tmp_path):
    """Fixed-budget weighted selection at intake: drain the corpus
    through reservoir_admit_stage in MULTIPLE micro-batches (state
    must merge across triggers), finalize the sink, and the result
    must equal the batch Efraimidis-Spirakis top-k over the same rows
    — the monotone-membership argument made executable."""
    from chronobase_spark.streaming import docs as docstream

    k = 25
    base = catalog.table(spark, SF_SMOKE, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    feed = base.withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000))
    )
    src = str(tmp_path / "rv_src")
    feed.repartition(4).write.parquet(src)
    sink = str(tmp_path / "rv_sink")
    q = (
        docstream.reservoir_admit_stage(
            docstream.read_document_stream(spark, src, max_files=1), k=k
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "rv_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    final = docstream.finalize_reservoir(spark.read.parquet(sink), k=k)
    got = {
        (r["doc_id"], r["source"], r["wt"], r["wrs_key"])
        for r in final.collect()
    }
    wt = F.greatest(F.col("n_chars"), F.lit(1)).cast("bigint")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit("#wrs"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(4294967296.0)
    expected = {
        (r["doc_id"], r["source"], r["wt"], r["wrs_key"])
        for r in base.select(
            "doc_id",
            "source",
            wt.alias("wt"),
            F.round(F.log(u) / wt, 6).alias("wrs_key"),
        )
        .orderBy(F.col("wrs_key").desc(), "doc_id")
        .limit(k)
        .collect()
    }
    assert len(got) == k
    assert got == expected


def test_decontam_admit_matches_batch_overlap(spark, tmp_path):
    """Intake decontamination: drained verdicts must carry the batch
    contamination_overlap counts for contaminated arrivals, and a
    (0, false) verdict for clean and shingle-less arrivals — every
    arrival verdicts, unlike the batch HAVING-filtered list."""
    from chronobase_spark.dedup import ngram
    from chronobase_spark.streaming import docs as docstream

    base = catalog.table(spark, SF_SMOKE, "documents")
    benchmark = base.filter(F.col("source") == "src0")
    arrivals_base = base.filter(
        (F.col("source") != "src0") & F.col("text").isNotNull()
    ).limit(60)
    bench_sh = ngram.decontam_model(benchmark)
    expected_rows = {
        r["doc_id"]: r["n_overlap"]
        for r in ngram.contamination_overlap(
            arrivals_base, benchmark, min_overlap=3
        ).collect()
    }
    null_row = spark.createDataFrame(
        [(999994, None, "xx", "synthetic", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    feed = arrivals_base.unionByName(null_row).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000))
    )
    flush = spark.createDataFrame(
        [(999995, "flush row", "xx", "synthetic", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000 + 10_000_000))
    )
    src = str(tmp_path / "dc_src")
    feed.unionByName(flush).repartition(2).write.parquet(src)
    sink = str(tmp_path / "dc_sink")
    q = (
        docstream.decontam_admit_stage(
            docstream.read_document_stream(spark, src), bench_sh
        )
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "dc_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in spark.read.parquet(sink).collect()
        if r["doc_id"] != 999995
    }
    bench_sh.unpersist()
    arrival_ids = {r["doc_id"] for r in arrivals_base.select("doc_id").collect()}
    assert set(got) == arrival_ids | {999994}  # every arrival verdicts
    assert got[999994] == (0, False)  # NULL text: no shingles, clean
    contaminated = {d: n for d, (n, c) in got.items() if c}
    assert contaminated == expected_rows  # counts match batch exactly
    assert contaminated and len(contaminated) < len(got)  # both arms


def test_composed_intake_pipeline_stages_coexist(spark, tmp_path):
    """The composed streaming-intake correctness pin (r15 verdict #4):
    every stage is drained-equal pinned in ISOLATION, but no test
    drained one pipeline graph with multiple stages composed — stage
    interaction (shared watermark column re-definition across chained
    stateful operators, column collisions between annotation stages,
    state-store coexistence across concurrent branch queries) had no
    correctness guard.

    One source directory, drained availableNow by five coexisting
    queries in the same session:

      main chain (ONE query, TWO state stores): pii_scrub → signature
        → quality_gate → content_dedup (dropDuplicatesWithinWatermark
        state) → minhash_admit (BUCKETED frozen model, windowed-agg
        state) → sink A — all downstream stages consume the SCRUBBED
        text (text_col='redacted'), so the composition is real, not
        column-parallel;
      branch 1: pii_scrub → decontam_admit → sink B;
      branch 2: pii_scrub → weighted_sample → sink C;
      branch 3: pii_scrub → containment_admit → sink D;
      branch 4 (r17): pii_scrub → novelty_admit → sink E.

    Each sink must equal its batch twin computed on the same
    (scrubbed) rows: admission verdicts on the gate+dedup survivors,
    contamination counts, keep flags."""
    from chronobase_spark.dedup import minhash, ngram
    from chronobase_spark.dedup.exact import normalize
    from chronobase_spark.functions import text as _text
    from chronobase_spark.streaming import docs as docstream

    MIN_TOKENS, MAX_STOP = 8, 1.0

    base = catalog.table(spark, SF_SMOKE, "documents").filter(
        F.col("text").isNotNull()
    )
    scrub = lambda df: df.withColumn("redacted", _text.redact_pii(F.col("text")))  # noqa: E731
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in minhash.minhash_md5_pairs(scrub(base), text_col="redacted").collect()
    ]
    assert pairs, "fixture must contain near-dup pairs"
    fresh_ids = {b for _, b in pairs}
    paired = fresh_ids | {a for a, _ in pairs}
    fresh_ids |= {
        r["doc_id"]
        for r in base.filter(~F.col("doc_id").isin(*paired))
        .orderBy("doc_id")
        .limit(12)
        .collect()
    }
    frozen = base.filter(~F.col("doc_id").isin(*fresh_ids))
    arrivals_base = base.filter(F.col("doc_id").isin(*fresh_ids))

    # injected rows: a content-duplicate of a no-partner arrival (the
    # content_dedup state must admit exactly one of the two), and a
    # too-short doc the quality gate must reject
    partnered = {a for a, _ in pairs} | {b for _, b in pairs}
    dup_src = next(
        r
        for r in arrivals_base.orderBy("doc_id").collect()
        if r["doc_id"] not in partnered
        and len([t for t in (r["text"] or "").split() if t]) >= MIN_TOKENS
    )
    DUP_ID, SHORT_ID = 999980, 999981
    injected = spark.createDataFrame(
        [
            (DUP_ID, dup_src["text"], dup_src["lang"], dup_src["source"],
             len(dup_src["text"])),
            (SHORT_ID, "too short", "xx", "synthetic", 9),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    feed = arrivals_base.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(injected).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000))
    )
    # flush row: long enough to pass the gate (a gate-rejected flush
    # row never reaches the watermark operator and the windowed aggs
    # would never finalize), newest-mtime file (streaming probe trap)
    flush = spark.createDataFrame(
        [(999982, " ".join(f"flushtok{i}" for i in range(MIN_TOKENS + 2)),
          "xx", "synthetic", 99)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000 + 10_000_000))
    )
    src = str(tmp_path / "comp_src")
    feed.coalesce(1).write.parquet(src)
    flush.coalesce(1).write.mode("append").parquet(src)

    # ---- frozen models over the SCRUBBED frozen corpus ----
    frozen_scrubbed = scrub(frozen).select(
        "doc_id", F.col("redacted").alias("rtext")
    )
    bands_b, sh_b = minhash.minhash_band_model_bucketed(
        frozen_scrubbed,
        table_prefix="t_comp_intake",
        buckets=4,
        text_col="rtext",
    )
    bench_sh = ngram.decontam_model(frozen_scrubbed, text_col="rtext")
    postings_m = ngram.containment_model(frozen_scrubbed, text_col="rtext")
    novelty_m = ngram.novelty_model(frozen_scrubbed, text_col="rtext")

    try:
        raw = docstream.read_document_stream(spark, src, max_files=16)
        scrubbed = docstream.pii_scrub_stage(raw)
        chain = docstream.minhash_admit_stage(
            docstream.content_dedup(
                docstream.quality_gate(
                    docstream.signature_stage(scrubbed, text_col="redacted"),
                    text_col="redacted",
                    min_tokens=MIN_TOKENS,
                    max_stop_ratio=MAX_STOP,
                ),
                text_col="redacted",
            ),
            bands_b,
            sh_b,
            text_col="redacted",
            # content_dedup upstream already defined the watermark;
            # Spark disallows redefining it between chained stateful
            # operators — the composed-pipeline contract under test
            watermark=None,
            window="10 minutes",
        )
        branch_dc = docstream.decontam_admit_stage(
            scrubbed, bench_sh, text_col="redacted"
        )
        branch_ws = docstream.weighted_sample_stage(scrubbed, text_col="redacted")
        branch_ct = docstream.containment_admit_stage(
            scrubbed, postings_m, text_col="redacted"
        )
        branch_nv = docstream.novelty_admit_stage(
            scrubbed, novelty_m, text_col="redacted"
        )

        queries = []
        for name, staged in (
            ("a", chain),
            ("b", branch_dc),
            ("c", branch_ws),
            ("d", branch_ct),
            ("e", branch_nv),
        ):
            queries.append(
                staged.writeStream.format("parquet")
                .option("path", str(tmp_path / f"sink_{name}"))
                .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        for q in queries:
            q.awaitTermination(300)

        # ---- batch twins on the same scrubbed rows ----
        all_arrivals = scrub(
            feed.unionByName(flush).drop("ingest_ts")
        )
        feats = _text.token_features(F.col("redacted"))
        gated = all_arrivals.withColumn("_f", feats).filter(
            (F.col("_f.n_tokens") >= MIN_TOKENS)
            & (F.col("_f.stop_ratio") <= MAX_STOP)
        ).drop("_f")
        gated_rows = gated.withColumn(
            "fp", F.xxhash64(normalize(F.col("redacted")))
        ).collect()
        gate_kept = {r["doc_id"] for r in gated_rows}
        assert SHORT_ID not in gate_kept and DUP_ID in gate_kept
        assert gate_kept and len(gate_kept) < len(fresh_ids) + 3

        # expected admission verdict per CONTENT fingerprint group:
        # same content ⇒ same verdict; exactly one group member
        # survives the dedup state
        exp_partner: dict[int, set[int]] = {d: set() for d in fresh_ids | {DUP_ID}}
        for a, b in pairs:
            if a in fresh_ids and b not in fresh_ids:
                exp_partner[a].add(b)
            if b in fresh_ids and a not in fresh_ids:
                exp_partner[b].add(a)
        groups: dict[int, set[int]] = {}
        for r in gated_rows:
            if r["doc_id"] == 999982:
                continue  # the flush row's own far-future window never
                # closes — it exists to advance the watermark, not to
                # be verdicted (isolated-test convention)
            groups.setdefault(r["fp"], set()).add(r["doc_id"])
        got_a = {
            r["doc_id"]: (r["dup_of_corpus"], r["canonical_id"])
            for r in spark.read.parquet(str(tmp_path / "sink_a")).collect()
        }
        assert {DUP_ID, dup_src["doc_id"]} in groups.values()
        seen: set[int] = set()
        for members in groups.values():
            survivors = members & set(got_a)
            assert len(survivors) == 1, (members, survivors)
            d = survivors.pop()
            seen.add(d)
            partners = exp_partner.get(
                d if d != DUP_ID else dup_src["doc_id"], set()
            )
            want = (True, min(partners)) if partners else (False, None)
            assert got_a[d] == want, (d, got_a[d], want)
        assert set(got_a) == seen  # nothing extra leaked through dedup
        assert any(v[0] for v in got_a.values())  # dup arm exercised
        assert any(not v[0] for v in got_a.values())  # clean arm too

        # branch 1: decontamination counts equal the batch sweep
        expected_dc = {
            r["doc_id"]: r["n_overlap"]
            for r in ngram.contamination_overlap(
                all_arrivals,
                frozen_scrubbed.withColumnRenamed("rtext", "redacted"),
                text_col="redacted",
                min_overlap=3,
            ).collect()
        }
        got_b = {
            r["doc_id"]: (r["n_overlap"], r["contaminated"])
            for r in spark.read.parquet(str(tmp_path / "sink_b")).collect()
            if r["doc_id"] != 999982  # flush row: window never closes
        }
        all_ids = fresh_ids | {DUP_ID, SHORT_ID}
        assert set(got_b) == all_ids  # every arrival verdicts, no gate here
        assert {d: n for d, (n, c) in got_b.items() if c} == expected_dc

        # branch 2: keep flags equal the batch accept test
        nd = _text.space_distinct_tokens(
            F.coalesce(F.col("redacted"), F.lit(""))
        ).cast("bigint")
        bucket = F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("bigint")
        expected_ws = {
            r["doc_id"]: (r["nd"], r["keep"])
            for r in all_arrivals.select(
                "doc_id",
                nd.alias("nd"),
                (bucket * 64 < F.least(nd, F.lit(64)) * 65536).alias("keep"),
            ).collect()
        }
        got_c = {
            r["doc_id"]: (r["n_distinct"], r["keep"])
            for r in spark.read.parquet(str(tmp_path / "sink_c")).collect()
        }
        assert got_c == expected_ws

        # branch 3: containment verdicts equal the batch reference
        # (flush row's window never closes — excluded, as in sink A)
        got_d = {
            r["doc_id"]: (r["contained"], r["host_id"], r["containment"])
            for r in docstream.finalize_containment(
                spark.read.parquet(str(tmp_path / "sink_d")).filter(
                    F.col("doc_id") != 999982
                )
            ).collect()
        }
        expected_ct = {
            r["doc_id"]: (r["contained"], r["host_id"], r["containment"])
            for r in docstream.finalize_containment(
                ngram.containment_against(
                    all_arrivals.filter(F.col("doc_id") != 999982),
                    postings_m,
                    text_col="redacted",
                )
            ).collect()
        }
        assert got_d == expected_ct

        # branch 4 (r17): union-novelty verdicts equal the batch
        # reference on the same scrubbed rows (flush row excluded —
        # its window never closes)
        got_e = {
            r["doc_id"]: (r["n_sh"], r["known_sh"], r["novelty"])
            for r in spark.read.parquet(str(tmp_path / "sink_e"))
            .filter(F.col("doc_id") != 999982)
            .collect()
        }
        expected_nv = {
            r["doc_id"]: (r["n_sh"], r["known_sh"], r["novelty"])
            for r in ngram.novelty_against(
                all_arrivals.filter(F.col("doc_id") != 999982),
                novelty_m,
                text_col="redacted",
            ).collect()
        }
        assert got_e == expected_nv
        assert set(got_e) == all_ids  # every arrival verdicts, no gate here
    finally:
        bench_sh.unpersist()
        postings_m.unpersist()
        novelty_m.unpersist()
        spark.sql("DROP TABLE IF EXISTS t_comp_intake_bands")
        spark.sql("DROP TABLE IF EXISTS t_comp_intake_shingles")


def test_containment_admit_matches_batch_reference(spark, tmp_path):
    """Partial-copy admission: drained containment_admit_stage rows,
    reduced by finalize_containment, must equal the batch
    ngram.containment_against rows under the SAME reduction — and the
    stage must catch a FRAGMENT of a stored doc (containment 1.0, the
    case minhash resemblance admission provably misses) while clean,
    NULL-text, and shingle-less arrivals verdict (false, NULL, 0.0).
    The stream drains against the BUCKETED posting model, the batch
    against the persisted one — equality also pins the two builders'
    content agreement."""
    from chronobase_spark.dedup import ngram
    from chronobase_spark.streaming import docs as docstream

    base = catalog.table(spark, SF_SMOKE, "documents").filter(
        F.col("text").isNotNull()
    )
    frozen = base.filter(F.col("doc_id") % 3 != 0)
    host = next(
        r
        for r in frozen.orderBy("doc_id").limit(50).collect()
        if len(r["text"].split()) >= 40
    )
    fragment = " ".join(host["text"].split()[: len(host["text"].split()) // 2])
    injected = spark.createDataFrame(
        [
            (999970, fragment, "xx", "synthetic", len(fragment)),
            (999971, None, "xx", "synthetic", 0),
            (999972, "tiny", "xx", "synthetic", 4),  # < n tokens: no shingles
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    arrivals = (
        base.filter((F.col("doc_id") % 3 == 0))
        .limit(40)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .unionByName(injected)
    )
    feed = arrivals.withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000))
    )
    flush = spark.createDataFrame(
        [(999973, "flush row content here", "xx", "synthetic", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000 + 10_000_000))
    )
    src = str(tmp_path / "ca_src")
    feed.coalesce(2).write.parquet(src)
    import time as _time

    _time.sleep(1.1)
    flush.coalesce(1).write.mode("append").parquet(src)

    postings_b = ngram.containment_model_bucketed(
        frozen, table_name="t_containment_postings", buckets=4
    )
    postings_m = ngram.containment_model(frozen)
    try:
        q = (
            docstream.containment_admit_stage(
                docstream.read_document_stream(spark, src, max_files=2),
                postings_b,
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "ca_sink"))
            .option("checkpointLocation", str(tmp_path / "ca_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        drained = spark.read.parquet(str(tmp_path / "ca_sink")).filter(
            F.col("doc_id") != 999973
        )
        got = {
            r["doc_id"]: (r["contained"], r["host_id"], r["containment"])
            for r in docstream.finalize_containment(drained).collect()
        }
        expected = {
            r["doc_id"]: (r["contained"], r["host_id"], r["containment"])
            for r in docstream.finalize_containment(
                ngram.containment_against(arrivals, postings_m)
            ).collect()
        }
        assert got == expected
        arrival_ids = {r["doc_id"] for r in arrivals.select("doc_id").collect()}
        assert set(got) == arrival_ids  # every arrival verdicts
        assert got[999970] == (True, host["doc_id"], 1.0)  # the fragment
        assert got[999971] == (False, None, 0.0)  # NULL text
        assert got[999972] == (False, None, 0.0)  # shingle-less
        assert sum(1 for v in got.values() if v[0]) < len(got)  # clean arm
    finally:
        postings_m.unpersist()
        spark.sql("DROP TABLE IF EXISTS t_containment_postings")


def test_stream_recovery_across_sessions_with_reattached_model(restart_probe):
    """The production recovery path END-TO-END, read from the restart
    probe (tests/conftest.py): a streaming admission job dies
    mid-stream; a fresh session re-attaches the bucketed model from
    its manifest (no rebuild) and resumes the SAME checkpoint with new
    arrivals. Batch 1 is not re-processed (the file-source offset log
    survives the restart), every arrival verdicts dup of its stored
    copy, and batch 2 is fully verdicted: the chain runs content_dedup
    first, so completeness is one survivor per same-content group."""
    out = restart_probe
    assert out["a_b2_one_survivor_per_group"] and out["a_b1_not_reemitted"]
    assert out["a_b1_one_survivor_per_group"] and out["a_all_dup_of_stored"]


def test_composed_recovery_across_sessions(restart_probe):
    """Composition × restart, read from the restart probe
    (tests/conftest.py): the COMPOSED intake graph — main chain with
    TWO state stores (content_dedup + windowed minhash admit under the
    watermark=None contract) plus a containment branch on the BUCKETED
    posting model — dies after batch 1 and resumes BOTH checkpoints in
    a fresh session with all three bucketed models re-attached from
    their manifests. Asserts: fresh catalog, batch 2 fully verdicted
    in both sinks, batch 1 not re-emitted (physical row-count
    convention), exactly one survivor per same-content group in both
    batches (the dedup state works after restart), every survivor
    dup-of-stored, containment verdicts equal to the batch twin
    computed ON the re-attached postings table, and the re-attached
    postings still plan Bucketed: true with only the arriving side's
    Exchange."""
    out = restart_probe
    assert out["fresh_catalog"]
    assert out["plan_bucketed_after_reattach"] is True
    assert out["sh_exchanges_after_reattach"] == 1
    assert out["a_b1_one_survivor_per_group"] and out["a_b2_one_survivor_per_group"]
    assert out["a_b1_not_reemitted"] and out["a_all_dup_of_stored"]
    assert out["ct_b1_equal_batch_twin"] and out["ct_b2_complete_and_equal_twin"]
    assert out["ct_b1_not_reemitted"]


def test_watermark_contract_failure_modes(spark, tmp_path):
    """Pins the two ways the composed-pipeline watermark contract can
    be violated: (1) chaining a default-watermark admission stage after
    content_dedup over a FILE source fails at stream start with
    Spark's watermark-redefinition error (the reason the
    watermark=None contract exists — if a Spark upgrade relaxes this,
    this test says so and the contract can be simplified); (2)
    watermark=None without an explicit window raises immediately."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from chronobase_spark.dedup import minhash
    from chronobase_spark.streaming import docs as docstream

    base = (
        catalog.table(spark, SF_SMOKE, "documents")
        .filter("text IS NOT NULL")
        .limit(20)
    )
    src = str(tmp_path / "wm_src")
    base.withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000))
    ).coalesce(1).write.parquet(src)
    bands, sh = minhash.minhash_band_model(base)
    try:
        with _pytest.raises(ValueError, match="explicit window"):
            docstream.minhash_admit_stage(
                docstream.signature_stage(docstream.read_document_stream(spark, src)),
                bands,
                sh,
                watermark=None,
            )
        q = (
            docstream.minhash_admit_stage(
                docstream.content_dedup(
                    docstream.signature_stage(
                        docstream.read_document_stream(spark, src)
                    )
                ),
                bands,
                sh,  # default watermark -> redefinition after stateful dedup
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "wm_sink"))
            .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        with _pytest.raises(StreamingQueryException, match="[Rr]edefining watermark"):
            q.awaitTermination(120)
    finally:
        bands.unpersist()
        sh.unpersist()


def test_novelty_admit_matches_batch_reference(spark, tmp_path):
    """Union-novelty admission (r17): drained novelty_admit_stage rows
    must equal the batch ngram.novelty_against rows on the same
    arrivals — and the stage must catch the COLLAGE case the
    per-candidate family structurally misses: an arrival stitched from
    pieces of TWO stored docs has novelty ≈ 0 (everything known) while
    finalize_containment on the same arrival says NOT contained
    (every single host holds only half of it). Re-fetches verdict
    novelty 0.0; a fresh doc verdicts 1.0; NULL-text and shingle-less
    arrivals verdict 0.0 ("introduces nothing"). The stream drains
    against the BUCKETED membership model, the batch against the
    persisted one — equality also pins the two builders' agreement."""
    from chronobase_spark.dedup import ngram
    from chronobase_spark.streaming import docs as docstream

    base = catalog.table(spark, SF_SMOKE, "documents").filter(
        F.col("text").isNotNull()
    )
    frozen = base.filter(F.col("doc_id") % 3 != 0)
    hosts = [
        r
        for r in frozen.orderBy("doc_id").limit(80).collect()
        if len(r["text"].split()) >= 40
    ][:2]
    assert len(hosts) == 2
    collage = " ".join(
        hosts[0]["text"].split()[:24] + hosts[1]["text"].split()[:24]
    )
    fresh = " ".join(f"neverstored{i}" for i in range(20))
    refetch = hosts[0]
    injected = spark.createDataFrame(
        [
            (999960, collage, "xx", "synthetic", len(collage)),
            (999961, fresh, "xx", "synthetic", len(fresh)),
            (999962, refetch["text"], "xx", "synthetic", len(refetch["text"])),
            (999963, None, "xx", "synthetic", 0),
            (999964, "tiny", "xx", "synthetic", 4),  # < n tokens
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    arrivals = (
        base.filter(F.col("doc_id") % 3 == 0)
        .limit(30)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .unionByName(injected)
    )
    feed = arrivals.withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000))
    )
    flush = spark.createDataFrame(
        [(999969, "flush row content here", "xx", "synthetic", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1700000000 + 10_000_000))
    )
    src = str(tmp_path / "nv_src")
    feed.coalesce(2).write.parquet(src)
    import time as _time

    _time.sleep(1.1)
    flush.coalesce(1).write.mode("append").parquet(src)

    model_b = ngram.novelty_model_bucketed(
        frozen, table_name="t_novelty_sh", buckets=4
    )
    model_m = ngram.novelty_model(frozen)
    postings_m = ngram.containment_model(frozen)
    try:
        q = (
            docstream.novelty_admit_stage(
                docstream.read_document_stream(spark, src, max_files=2),
                model_b,
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "nv_sink"))
            .option("checkpointLocation", str(tmp_path / "nv_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            r["doc_id"]: (r["n_sh"], r["known_sh"], r["novelty"])
            for r in spark.read.parquet(str(tmp_path / "nv_sink"))
            .filter(F.col("doc_id") != 999969)
            .collect()
        }
        expected = {
            r["doc_id"]: (r["n_sh"], r["known_sh"], r["novelty"])
            for r in ngram.novelty_against(arrivals, model_m).collect()
        }
        assert got == expected
        arrival_ids = {r["doc_id"] for r in arrivals.select("doc_id").collect()}
        assert set(got) == arrival_ids  # every arrival verdicts
        assert got[999962][2] == 0.0  # re-fetch: nothing new
        assert got[999961][2] == 1.0  # fresh: everything new
        assert got[999963] == (0, 0, 0.0)  # NULL text
        assert got[999964] == (0, 0, 0.0)  # shingle-less
        # THE discriminating case: collage is known to the corpus as a
        # whole (low novelty: only the two seam shingles are new) but
        # contained in no single stored doc
        assert got[999960][2] < 0.2, got[999960]
        ct = {
            r["doc_id"]: r["contained"]
            for r in docstream.finalize_containment(
                ngram.containment_against(
                    arrivals.filter(F.col("doc_id") == 999960), postings_m
                )
            ).collect()
        }
        assert ct[999960] is False  # per-candidate measure misses it
    finally:
        model_m.unpersist()
        postings_m.unpersist()
        spark.sql("DROP TABLE IF EXISTS t_novelty_sh")
