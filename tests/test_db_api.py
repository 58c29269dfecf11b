"""End-to-end lifecycle of the ChronoSpark DB facade — the Spark-native
replay of the reference demo (cmd/dbserver/main.go:56-99: open, create
table with TTL, insert, ±range query) plus the API surface the demo
doesn't reach (flush/compact/cleanup/stats/backup/restore/drop).
"""

from __future__ import annotations

import datetime as dt
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronobase_spark.db import ChronoSpark, TableExistsError, TableNotFoundError  # noqa: E402

NOW = dt.datetime(2024, 6, 15, 12, 0, 0)


def _row(i: int, ts: dt.datetime) -> dict:
    return {"event_id": i, "ts": ts, "value": float(i)}


@pytest.fixture()
def db(spark, tmp_path):
    return ChronoSpark(spark, str(tmp_path / "dbdata"))


def test_demo_roundtrip(db):
    """main.go:56-99: create (24h TTL) -> insert one row at 'now' ->
    query [now-1h, now+1h] -> the row comes back."""
    db.create_table("metrics", ttl_seconds=24 * 3600)
    accepted = db.insert("metrics", [_row(1, NOW)], now=NOW)
    assert accepted == 1
    got = db.query("metrics", NOW - dt.timedelta(hours=1), NOW + dt.timedelta(hours=1))
    rows = got.collect()
    assert len(rows) == 1 and rows[0]["event_id"] == 1


def test_ttl_gate_on_insert(db):
    """table.go:93-96: rows older than TTL at arrival silently dropped."""
    db.create_table("metrics", ttl_seconds=3600)
    accepted = db.insert(
        "metrics",
        [_row(1, NOW), _row(2, NOW - dt.timedelta(hours=2))],
        now=NOW,
    )
    assert accepted == 1


def test_query_unions_memtable_and_disk(db):
    """table.go:132-161: scan = buffer ∪ flushed partitions."""
    db.create_table("metrics")
    db.insert("metrics", [_row(1, NOW)], now=NOW)
    db.flush("metrics")
    db.insert("metrics", [_row(2, NOW + dt.timedelta(minutes=5))], now=NOW)
    got = db.query("metrics", NOW - dt.timedelta(hours=1), NOW + dt.timedelta(hours=1))
    assert {r["event_id"] for r in got.collect()} == {1, 2}


def test_inclusive_bounds(db):
    """tablet.go:366-367,382: both interval ends inclusive."""
    db.create_table("metrics")
    db.insert("metrics", [_row(1, NOW), _row(2, NOW + dt.timedelta(seconds=10))], now=NOW)
    got = db.query("metrics", NOW, NOW + dt.timedelta(seconds=10))
    assert {r["event_id"] for r in got.collect()} == {1, 2}


def test_stats_flush_compact(db):
    db.create_table("metrics")
    rows = [_row(i, NOW + dt.timedelta(seconds=i)) for i in range(50)]
    db.insert("metrics", rows, now=NOW)
    s = db.get_stats("metrics")
    assert s["in_memory_rows"] == 50 and s["total_disk_rows"] == 0

    assert db.flush() == 50
    s = db.get_stats("metrics")
    assert s["in_memory_rows"] == 0 and s["total_disk_rows"] == 50
    assert s["oldest_data"] is not None and s["newest_data"] > s["oldest_data"]

    # second flush batch -> more files; compact back down
    db.insert("metrics", [_row(100 + i, NOW + dt.timedelta(seconds=i)) for i in range(10)], now=NOW)
    db.flush()
    before = db.get_stats("metrics")["disk_files"]
    compacted = db.compact("metrics")
    after = db.get_stats("metrics")["disk_files"]
    assert compacted == 60 and after <= before
    assert db.get_stats("metrics")["total_disk_rows"] == 60


def test_cleanup_drops_expired_partitions(db):
    """table.go:334-369: whole old partitions dropped by TTL."""
    db.create_table("metrics", ttl_seconds=24 * 3600)
    old = NOW - dt.timedelta(days=10)
    db.insert("metrics", [_row(1, old)], now=old)  # accepted relative to then
    db.insert("metrics", [_row(2, NOW)], now=NOW)
    db.flush()
    dropped = db.cleanup("metrics", now=NOW)
    assert dropped  # the 10-day-old partition vanished
    got = db.query("metrics", old - dt.timedelta(days=1), NOW + dt.timedelta(days=1))
    assert {r["event_id"] for r in got.collect()} == {2}


def test_backup_restore_roundtrip(db, tmp_path):
    db.create_table("metrics")
    db.insert("metrics", [_row(i, NOW) for i in range(5)], now=NOW)
    db.backup(str(tmp_path / "bk"))

    db.insert("metrics", [_row(99, NOW)], now=NOW)
    db.flush()
    db.restore(str(tmp_path / "bk"))
    got = db.query("metrics", NOW - dt.timedelta(hours=1), NOW + dt.timedelta(hours=1))
    assert {r["event_id"] for r in got.collect()} == {0, 1, 2, 3, 4}


def test_query_prunes_partitions(db):
    """A narrow time range must push a PartitionFilters clause on the
    date bucket — whole partition directories skipped, not scanned."""
    db.create_table("metrics")
    rows = [_row(i, NOW + dt.timedelta(days=i)) for i in range(5)]
    db.insert("metrics", rows, now=NOW + dt.timedelta(days=5))
    db.flush()
    got = db.query("metrics", NOW, NOW + dt.timedelta(days=1))
    assert {r["event_id"] for r in got.collect()} == {0, 1}
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_date" in plan, plan
    assert re.search(r"PartitionFilters: \[[^\]]*event_date", plan), plan


def test_facade_writes_the_sink_layout(db, tmp_path):
    """Facade flushes land in the storage layer's ``event_date`` layout,
    the same one the streaming sink writes."""
    db.create_table("metrics")
    db.insert("metrics", [_row(i, NOW + dt.timedelta(days=i)) for i in range(3)], now=NOW)
    db.flush()
    data = tmp_path / "dbdata" / "metrics" / "data"
    parts = sorted(p.name for p in data.iterdir() if not p.name.startswith("."))
    assert parts == [
        f"event_date={(NOW + dt.timedelta(days=i)).date()}" for i in range(3)
    ]


def test_compact_skips_single_file_partitions(db, tmp_path):
    """A partition already holding one data file is left alone: a second
    compact pass rewrites nothing."""
    db.create_table("metrics")
    for batch in range(2):  # each flush writes a file into both days
        rows = [_row(100 * batch + i, NOW + dt.timedelta(hours=i)) for i in range(20)]
        db.insert("metrics", rows, now=NOW)
        db.flush()
    assert db.compact("metrics") == 40
    data = tmp_path / "dbdata" / "metrics" / "data"
    files = {p: p.stat().st_mtime_ns for p in data.glob("event_date=*/*.parquet")}
    assert len(files) == len(list(data.glob("event_date=*")))
    assert db.compact("metrics") == 0
    assert {p: p.stat().st_mtime_ns for p in data.glob("event_date=*/*.parquet")} == files


def test_compact_table_without_event_id(spark, tmp_path):
    """Compaction sorts by (ts, key) when the rows carry ``key`` instead
    of ``event_id``."""
    db = ChronoSpark(spark, str(tmp_path / "dbdata"))
    db.create_table("metrics")
    for batch in range(2):
        rows = [
            {"ts": NOW + dt.timedelta(seconds=i), "key": f"k{batch}-{i}", "value": float(i)}
            for i in range(10)
        ]
        db.insert("metrics", rows, now=NOW)
        db.flush()
    assert db.compact("metrics") == 20
    data = tmp_path / "dbdata" / "metrics" / "data"
    assert len(list(data.glob("event_date=*/*.parquet"))) == 1
    got = db.query("metrics", NOW, NOW + dt.timedelta(minutes=1))
    assert sorted(r["key"] for r in got.collect()) == sorted(
        f"k{b}-{i}" for b in range(2) for i in range(10)
    )


def test_iter_query_streams_rows(db):
    """RowIterator parity (pkg/db/types.go:24-29): lazily iterable,
    same rows as the materialized scan."""
    db.create_table("metrics")
    db.insert("metrics", [_row(i, NOW + dt.timedelta(seconds=i)) for i in range(20)], now=NOW)
    db.flush()
    it = db.iter_query("metrics", NOW, NOW + dt.timedelta(hours=1))
    assert {r["event_id"] for r in it} == set(range(20))


def test_table_lifecycle_errors(db):
    db.create_table("a")
    with pytest.raises(TableExistsError):
        db.create_table("a")
    with pytest.raises(TableNotFoundError):
        db.insert("missing", [])
    db.drop_table("a")
    with pytest.raises(TableNotFoundError):
        db.drop_table("a")
    assert db.list_tables() == []


def test_reopen_discovers_tables(spark, tmp_path):
    """db.go:291-350 loadExistingTables: a new handle on the same data
    dir sees the tables and their TTL config."""
    path = str(tmp_path / "dbdata")
    db1 = ChronoSpark(spark, path)
    db1.create_table("metrics", ttl_seconds=60)
    db1.insert("metrics", [_row(1, NOW)], now=NOW)
    db1.close()  # flushes

    db2 = ChronoSpark(spark, path)
    assert db2.list_tables() == ["metrics"]
    got = db2.query("metrics", NOW - dt.timedelta(hours=1), NOW + dt.timedelta(hours=1))
    assert len(got.collect()) == 1


def test_primary_keys_roundtrip_and_dedup_on_read(spark, tmp_path):
    """pkg/db/types.go:10-13 TableOptions.PrimaryKeys: the reference
    declares the option and drops it (db.go:92); here it persists across
    reopen and ``query`` enforces last-write-wins per key tuple."""
    path = str(tmp_path / "dbdata")
    db1 = ChronoSpark(spark, path)
    db1.create_table("metrics", ttl_seconds=None, primary_keys=["event_id"])
    # two generations of event_id=1 (later overwrite spans flush) + one of 2
    db1.insert("metrics", [_row(1, NOW), _row(2, NOW)], now=NOW)
    db1.flush("metrics")
    late = dict(_row(1, NOW + dt.timedelta(minutes=5)), value=99.0)
    db1.insert("metrics", [late], now=NOW)
    db1.close()

    db2 = ChronoSpark(spark, path)
    assert db2.primary_keys("metrics") == ["event_id"]
    lo, hi = NOW - dt.timedelta(hours=1), NOW + dt.timedelta(hours=1)
    rows = {r["event_id"]: r["value"] for r in db2.query("metrics", lo, hi).collect()}
    assert rows == {1: 99.0, 2: 2.0}  # latest generation of 1 wins
    raw = db2.query("metrics", lo, hi, enforce_primary_keys=False).collect()
    assert len(raw) == 3  # the reference's multi-version scan, still reachable
    db2.close()


def test_query_limit_ascending(db):
    """pkg/db/types.go:16-21 Query{Limit, Ascending}: ordered inclusive
    scan with a row cap, descending returns the newest first."""
    rows = [_row(i, NOW + dt.timedelta(seconds=i)) for i in range(10)]
    db.create_table("metrics")
    db.insert("metrics", rows, now=NOW)
    lo, hi = NOW - dt.timedelta(hours=1), NOW + dt.timedelta(hours=1)
    newest = db.query("metrics", lo, hi, limit=3, ascending=False).collect()
    assert [r["event_id"] for r in newest] == [9, 8, 7]
    oldest = db.query("metrics", lo, hi, limit=3).collect()
    assert [r["event_id"] for r in oldest] == [0, 1, 2]
    ordered = db.query("metrics", lo, hi, ascending=True).collect()
    assert [r["event_id"] for r in ordered] == list(range(10))


def test_get_table_returns_config(spark, tmp_path):
    """db.go:102-117 GetTable: a handle for an existing table, an error
    for a missing one."""
    db = ChronoSpark(spark, str(tmp_path / "dbdata"))
    db.create_table("metrics", ttl_seconds=60, primary_keys=["event_id"])
    db.insert("metrics", [_row(1, NOW)], now=NOW)
    t = db.get_table("metrics")
    assert t["name"] == "metrics" and t["ttl_seconds"] == 60
    assert t["primary_keys"] == ["event_id"] and t["buffered_rows"] == 1
    with pytest.raises(TableNotFoundError):
        db.get_table("nope")
    db.close()


def test_primary_keys_same_ts_tiebreak_deterministic(spark, tmp_path):
    """Two generations of a key sharing the SAME ts must pick the same
    survivor on every run regardless of insertion/partition order: the
    full-row descending tie-break makes the greatest remaining-column
    tuple canonical."""
    path = str(tmp_path / "dbdata")
    db = ChronoSpark(spark, path)
    db.create_table("metrics", primary_keys=["event_id"])
    lo, hi = NOW - dt.timedelta(hours=1), NOW + dt.timedelta(hours=1)
    for order in ([7.0, 99.0], [99.0, 7.0]):
        db.insert(
            "metrics",
            [dict(_row(1, NOW), value=v) for v in order],
            now=NOW,
        )
        got = db.query("metrics", lo, hi).collect()
        assert [r["value"] for r in got] == [99.0], order
        db.flush("metrics")
        assert [
            r["value"] for r in db.query("metrics", lo, hi).collect()
        ] == [99.0], ("post-flush", order)
        db.drop_table("metrics")
        db.create_table("metrics", primary_keys=["event_id"])
    db.close()


def test_primary_keys_default_none_keeps_duplicates(spark, tmp_path):
    """Tables without primary_keys behave exactly as before: the scan
    returns every inserted generation (reference behavior)."""
    db = ChronoSpark(spark, str(tmp_path / "dbdata"))
    db.create_table("metrics")
    db.insert("metrics", [_row(1, NOW), _row(1, NOW)], now=NOW)
    got = db.query("metrics", NOW - dt.timedelta(hours=1), NOW + dt.timedelta(hours=1))
    assert len(got.collect()) == 2
    db.close()


def test_backup_restore_preserves_primary_keys(spark, tmp_path):
    """db.go:353-419 backup/restore copies table metadata too — the
    primary-key option must survive the round trip and keep enforcing
    dedup-on-read in the restored database."""
    src, bkp, dst = (str(tmp_path / d) for d in ("src", "bkp", "dst"))
    db1 = ChronoSpark(spark, src)
    db1.create_table("metrics", primary_keys=["event_id"])
    db1.insert("metrics", [_row(1, NOW), _row(2, NOW)], now=NOW)
    db1.flush("metrics")
    late = dict(_row(1, NOW + dt.timedelta(minutes=1)), value=42.0)
    db1.insert("metrics", [late], now=NOW)
    db1.flush("metrics")
    db1.backup(bkp)
    db1.close()

    db2 = ChronoSpark(spark, dst)
    db2.restore(bkp)
    assert db2.primary_keys("metrics") == ["event_id"]
    lo, hi = NOW - dt.timedelta(hours=1), NOW + dt.timedelta(hours=1)
    rows = {r["event_id"]: r["value"] for r in db2.query("metrics", lo, hi).collect()}
    assert rows == {1: 42.0, 2: 2.0}
    db2.close()


def test_single_writer_lock(spark, tmp_path):
    """Reference CreateLock (utils/fileutils.go:242-256): a second opener
    of a live data dir must fail; close() releases; a stale lock from a
    dead pid is reclaimed."""
    from chronobase_spark.db import DBLockedError

    path = str(tmp_path / "locked")
    db1 = ChronoSpark(spark, path)
    lock = tmp_path / "locked" / ChronoSpark._LOCK
    assert lock.exists()
    with pytest.raises(DBLockedError):
        ChronoSpark(spark, path)
    db1.close()
    # close released the lock: a new writer on the same directory opens
    ChronoSpark(spark, path).close()
    # stale lock: write a pid that cannot be alive, then reopen
    lock.write_text("999999999")
    db2 = ChronoSpark(spark, path)
    assert lock.read_text() != "999999999"
    db2.close()


def test_lock_file_with_live_pid_but_no_lock_does_not_block(spark, tmp_path):
    """A crashed writer's lock file can name a pid that was reused by a
    live process (here the test runner's parent). The pid is not a
    claim: only a held ``flock`` blocks a new writer."""
    path = tmp_path / "reused"
    path.mkdir()
    (path / ChronoSpark._LOCK).write_text(str(os.getppid()))
    db = ChronoSpark(spark, str(path))
    db.close()


def test_lock_survives_backup_restore(spark, tmp_path):
    """The lock file must never travel via backup/restore: a restored
    backup is data, not a writer claim."""
    src = str(tmp_path / "src")
    with ChronoSpark(spark, src) as db:
        db.create_table("t")
        db.insert("t", [_row(1, NOW)], now=NOW)
        db.backup(str(tmp_path / "bak"))
        assert not (tmp_path / "bak" / ChronoSpark._LOCK).exists()
        db.restore(str(tmp_path / "bak"))
        assert db.list_tables() == ["t"]


def test_cli_demo_round_trip(spark, tmp_path, caplog):
    """`python -m chronobase_spark` demo loop (reference
    cmd/dbserver/main.go:21-121): defaults config, create table, insert,
    query-back, stats, clean close — exit code 0 means the inserted row
    came back from the inclusive hour-window query."""
    from chronobase_spark.__main__ import main

    rc = main(["--data-dir", str(tmp_path / "demo")], spark=spark)
    assert rc == 0
    # idempotent second run: table exists, still round-trips
    rc = main(["--data-dir", str(tmp_path / "demo")], spark=spark)
    assert rc == 0
