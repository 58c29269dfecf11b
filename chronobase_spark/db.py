"""Public DB API facade — call-for-call parity with the reference's
``pkg/db`` surface (reference pkg/db/db.go, types.go), Spark-native
underneath.

A reference user's program maps directly:

    OpenDB(cfg)            -> ChronoSpark(spark, data_dir)      (db.go:38-77)
    CreateTable(name, opt) -> db.create_table(name, ttl=...)    (db.go:80-99)
    Insert(table, row)     -> db.insert(table, rows)            (db.go:145-152)
    Query(table, s, e)     -> db.query(table, start, end)       (db.go:155-162)
    GetStats()             -> db.get_stats(table)               (table.go:390-414)
    Backup/Restore         -> db.backup(dst) / db.restore(src)  (db.go:353-419)
    DropTable              -> db.drop_table(name)               (db.go:119-142)
    background flush/merge/cleanup tickers (db.go:195-249)
                           -> explicit db.flush()/db.compact()/db.cleanup()
                              (schedule externally; Structured Streaming in
                              chronobase_spark.streaming is the bulk path)

Storage model: one directory per table (the reference's layout,
db.go:291-350) whose ``data/`` holds a table of the storage layer
(``streaming.maintenance``) — the same ``event_date`` layout and the
same locked, tagged append commit as the streaming sink. ``flush`` and
``insert_df`` are append commits (a fresh tag each); ``compact`` and
``cleanup`` are the layer's partition-replace and retention jobs. The
driver-side row buffer mirrors the reference's in-process memtable
(table.go:17): ``query`` unions it with the durable partitions exactly
like the reference's memtable ∪ disk-tablets scan (table.go:132-161).
Bulk ingest at scale bypasses the buffer via ``insert_df`` or the
streaming module; the buffer exists for API parity with row-at-a-time
callers.
"""

from __future__ import annotations

import datetime as dt
import fcntl
import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from chronobase_spark.operators import timeseries
from chronobase_spark.streaming import maintenance

_META = "_table_meta.json"


class TableNotFoundError(KeyError):
    """Reference ErrTableNotFound (pkg/db/errors.go)."""


class TableExistsError(KeyError):
    """Reference ErrTableExists (pkg/db/errors.go)."""


class DBLockedError(RuntimeError):
    """Another open facade holds the data directory's writer lock."""


class ChronoSpark:
    """Embedded-DB facade over a data directory of parquet tables."""

    #: lock-file name; dot-prefixed so Spark file listings ignore it.
    _LOCK = ".chronospark.lock"

    def __init__(self, spark: SparkSession, data_dir: str, lock: bool = True):
        self.spark = spark
        self.root = Path(data_dir)
        self.root.mkdir(parents=True, exist_ok=True)
        self._lock_fh = None
        if lock:
            self._acquire_lock()
        self._discover()

    def _discover(self) -> None:
        # table -> ttl_seconds (None = keep forever); discovered from
        # per-table metadata like the reference's loadExistingTables
        # (db.go:291-350).
        self._ttl: dict[str, int | None] = {}
        self._pkeys: dict[str, list[str] | None] = {}
        self._memtable: dict[str, list[dict]] = {}
        for child in sorted(self.root.iterdir()):
            if child.is_dir() and (child / _META).exists():
                meta = json.loads((child / _META).read_text())
                self._ttl[child.name] = meta.get("ttl_seconds")
                self._pkeys[child.name] = meta.get("primary_keys")
                self._memtable[child.name] = []

    # -- single-writer lock (utils/fileutils.go:236-268) ---------------

    def _acquire_lock(self) -> None:
        """A non-blocking ``fcntl.flock`` on ``.chronospark.lock``, held
        for the facade's lifetime: the primitive the storage layer's
        commits use (``maintenance._locked``). The kernel drops it when
        the process dies, so a crashed writer leaves no stale claim to
        reclaim (the reference's exclusive-create ``CreateLock``,
        fileutils.go:242-256, leaks one). The file only records the
        holder's pid for the error message; it is never unlinked, since
        unlinking a flock file lets two writers each lock a different
        inode. This guards *embedded* writers on one host, same as the
        reference; across a real cluster, writer coordination belongs
        to the table format."""
        fh = open(self.root / self._LOCK, "a+")
        try:
            fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            fh.seek(0)
            holder = fh.read().strip() or "?"
            fh.close()
            raise DBLockedError(f"{self.root} is locked by pid {holder}") from None
        fh.truncate(0)
        fh.write(str(os.getpid()))
        fh.flush()
        self._lock_fh = fh

    def _release_lock(self) -> None:
        if self._lock_fh is not None:
            self._lock_fh.close()  # drops the flock
            self._lock_fh = None

    def __enter__(self) -> "ChronoSpark":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # -- table lifecycle (db.go:80-142) --------------------------------

    def create_table(
        self,
        name: str,
        ttl_seconds: int | None = None,
        primary_keys: list[str] | None = None,
    ) -> None:
        """Reference CreateTable with TableOptions{TTL, PrimaryKeys}
        (pkg/db/types.go:10-13). The reference declares PrimaryKeys but
        ignores them at db.go:92; here they persist in the table
        metadata and ``query`` enforces uniqueness (last-write-wins) —
        see ``_enforce_primary_keys``."""
        if name in self._ttl:
            raise TableExistsError(name)
        tdir = self.root / name
        tdir.mkdir(parents=True, exist_ok=True)
        (tdir / _META).write_text(
            json.dumps(
                {
                    "ttl_seconds": ttl_seconds,
                    "primary_keys": list(primary_keys) if primary_keys else None,
                }
            )
        )
        self._ttl[name] = ttl_seconds
        self._pkeys[name] = list(primary_keys) if primary_keys else None
        self._memtable[name] = []

    def drop_table(self, name: str) -> None:
        self._require(name)
        shutil.rmtree(self.root / name, ignore_errors=True)
        del self._ttl[name]
        self._pkeys.pop(name, None)
        del self._memtable[name]

    def primary_keys(self, name: str) -> list[str] | None:
        self._require(name)
        return self._pkeys.get(name)

    def get_table(self, name: str) -> dict:
        """Reference GetTable (db.go:102-117) returns the live table
        handle; the Spark-native analog is the table's configuration
        and storage facts — callers read data through ``query`` (a
        DataFrame IS the handle)."""
        self._require(name)
        return {
            "name": name,
            "ttl_seconds": self._ttl[name],
            "primary_keys": self._pkeys.get(name),
            "path": str(self.root / name),
            "buffered_rows": len(self._memtable[name]),
        }

    def list_tables(self) -> list[str]:
        return sorted(self._ttl)

    def _require(self, name: str) -> None:
        if name not in self._ttl:
            raise TableNotFoundError(name)

    # -- writes (db.go:145-152; table.go:78-119) -----------------------

    def insert(self, table: str, rows: list[dict], now: dt.datetime | None = None) -> int:
        """Append rows to the table's buffer; rows already older than the
        table TTL are silently dropped, the reference's ingest gate
        (table.go:93-96). Returns the number of rows accepted."""
        self._require(table)
        ttl = self._ttl[table]
        now = now or dt.datetime.utcnow()
        accepted = []
        for r in rows:
            if ttl is not None and (now - r["ts"]).total_seconds() > ttl:
                continue  # silent drop, like the reference
            accepted.append(r)
        self._memtable[table].extend(accepted)
        return len(accepted)

    def insert_df(self, table: str, df: DataFrame) -> None:
        """Bulk append straight to durable storage (the scale path): one
        append commit of the storage layer."""
        self._require(table)
        maintenance.append(df, self._data(table))

    def flush(self, table: str | None = None) -> int:
        """Write buffered rows as durable sorted partitions — the
        reference's memtable flush (table.go:198-236). Returns rows
        flushed."""
        tables = [table] if table else self.list_tables()
        flushed = 0
        for t in tables:
            self._require(t)
            buf = self._memtable[t]
            if not buf:
                continue
            df = self.spark.createDataFrame([Row(**r) for r in buf])
            self.insert_df(t, df)
            flushed += len(buf)
            self._memtable[t] = []
        return flushed

    # -- reads (db.go:155-162; table.go:122-163) -----------------------

    def _data(self, table: str) -> str:
        return str(self.root / table / "data")

    def _durable(self, table: str) -> DataFrame | None:
        """The flushed partitions, with the ``event_date`` partition
        column (``time_range_scan`` prunes on it)."""
        if not maintenance.data_files(self._data(table)):
            return None
        return self.spark.read.parquet(self._data(table))

    def query(
        self,
        table: str,
        start: str | dt.datetime,
        end: str | dt.datetime,
        enforce_primary_keys: bool = True,
        limit: int | None = None,
        ascending: bool | None = None,
    ) -> DataFrame:
        """Inclusive time-range scan over buffer ∪ durable partitions —
        the reference's memtable ∪ tablets union scan with per-tablet
        pruning (table.go:132-161; pruning 146-149 = parquet stats).
        Tables created with ``primary_keys`` are deduplicated on read
        (pass ``enforce_primary_keys=False`` for the raw multi-version
        scan, which is all the reference ever returns). ``limit`` /
        ``ascending`` complete the reference Query struct
        (pkg/db/types.go:16-21): an ordered limit plans
        TakeOrderedAndProject (per-partition heaps, no global sort);
        ``ascending`` alone orders by (ts, key) like the in-tablet sort
        rule (tablet.go:124-132)."""
        self._require(table)
        parts = []
        durable = self._durable(table)
        if durable is not None:
            # whole day directories skipped before any file is opened (the
            # reference's tablet [MinTS,MaxTS] skip, table.go:146-149)
            scan = timeseries.time_range_scan(durable, start, end)
            parts.append(scan.drop(maintenance.PARTITION_COL))
        buf = self._memtable[table]
        if buf:
            mem = self.spark.createDataFrame([Row(**r) for r in buf])
            mem = timeseries.time_range_scan(mem, start, end)
            parts.append(mem.select(*(parts[0].columns if parts else mem.columns)))
        if not parts:
            raise TableNotFoundError(f"{table} has no data")
        scan = parts[0]
        for p in parts[1:]:
            scan = scan.unionByName(p)
        pkeys = self._pkeys.get(table)
        if enforce_primary_keys and pkeys:
            scan = self._enforce_primary_keys(scan, pkeys)
        if limit is not None or ascending is not None:
            # (ts, key) tie-break: prefer declared primary-key metadata;
            # fall back to first non-ts column only for tables that
            # never declared keys (schema-position guessing is
            # column-order-sensitive, so it is the fallback, not the
            # rule — r4 advisor note).
            key = next(
                (c for c in (pkeys or []) if c != "ts"),
                next((c for c in scan.columns if c != "ts"), "ts"),
            )
            scan = timeseries.scan_ordered(
                scan,
                key_col=key,
                ascending=True if ascending is None else ascending,
                limit=limit,
            )
        return scan

    @staticmethod
    def _enforce_primary_keys(df: DataFrame, pkeys: list[str]) -> DataFrame:
        """One row per primary-key tuple, last-write-wins.

        When the table has a ``ts`` column outside the key, the survivor
        is the LATEST row per key (row_number over ts desc — one window
        shuffle on the key; AQE splits skewed keys). Two generations of
        a key sharing the same ts are tie-broken by every remaining
        column descending — a total order over full rows, so the
        survivor is identical across runs and partition layouts (ts
        alone left the survivor to scan order — r4 advisor note).
        Otherwise plain ``dropDuplicates`` — identical duplicate rows,
        any survivor is canonical."""
        if "ts" in df.columns and "ts" not in pkeys:
            tiebreak = [
                F.col(c).desc()
                for c in df.columns
                if c not in pkeys and c != "ts"
            ]
            w = Window.partitionBy(*pkeys).orderBy(F.col("ts").desc(), *tiebreak)
            return (
                df.withColumn("_pk_rn", F.row_number().over(w))
                .filter(F.col("_pk_rn") == 1)
                .drop("_pk_rn")
            )
        return df.dropDuplicates(pkeys)

    def iter_query(
        self,
        table: str,
        start: str | dt.datetime,
        end: str | dt.datetime,
    ):
        """Streaming row iterator over a range scan — the reference's
        declared-but-unimplemented RowIterator (pkg/db/types.go:24-29).
        ``toLocalIterator`` pulls one partition at a time to the driver,
        so memory stays bounded by a single partition regardless of
        result size."""
        return self.query(table, start, end).toLocalIterator()

    def get_stats(self, table: str) -> dict:
        """Reference GetStats (table.go:390-414): row counts, time range,
        plus filesystem facts (file count/bytes = DiskTablets/DiskSize)."""
        self._require(table)
        durable = self._durable(table)
        n_disk, oldest, newest = 0, None, None
        if durable is not None:
            agg = durable.agg(
                F.count(F.lit(1)), F.min("ts"), F.max("ts")
            ).collect()[0]
            n_disk, oldest, newest = agg[0], agg[1], agg[2]
        files = maintenance.data_files(self._data(table))
        return {
            "in_memory_rows": len(self._memtable[table]),
            "total_disk_rows": n_disk,
            "disk_files": len(files),
            "disk_bytes": sum(f.stat().st_size for f in files),
            "oldest_data": oldest,
            "newest_data": newest,
        }

    # -- maintenance (db.go:195-288) -----------------------------------

    def compact(self, table: str) -> int:
        """Compact every partition of a table that holds more than one
        data file (reference merge, table.go:240-331, without its
        pairwise restart loop). Returns the rows rewritten."""
        self._require(table)
        data_dir = self._data(table)
        return sum(
            maintenance.compact_partition(self.spark, data_dir, value)
            for value in maintenance.partitions(data_dir)
            if len(maintenance.data_files(data_dir, value)) > 1
        )

    def cleanup(self, table: str, now: dt.datetime | None = None) -> list[str]:
        """TTL retention (reference cleanup, table.go:334-369): drop whole
        partitions past the TTL; filter the buffer."""
        self._require(table)
        ttl = self._ttl[table]
        if ttl is None:
            return []
        now = now or dt.datetime.utcnow()
        cutoff = now - dt.timedelta(seconds=ttl)
        dropped = maintenance.retention_sweep(
            self._data(table), cutoff.date().isoformat()
        )
        self._memtable[table] = [
            r for r in self._memtable[table] if r["ts"] > cutoff
        ]
        return dropped

    # -- backup/restore (db.go:353-419) --------------------------------

    def backup(self, dest_dir: str) -> None:
        """Flush, then copy the data directory (reference backup,
        db.go:353-419: flush + per-table file copy)."""
        self.flush()
        shutil.copytree(
            self.root,
            dest_dir,
            dirs_exist_ok=True,
            ignore=shutil.ignore_patterns(self._LOCK),
        )

    def restore(self, src_dir: str) -> None:
        """Clear and copy back (reference restore, table.go:480-514)."""
        for child in self.root.iterdir():
            if child.is_dir():
                shutil.rmtree(child)
        shutil.copytree(
            src_dir,
            self.root,
            dirs_exist_ok=True,
            ignore=shutil.ignore_patterns(self._LOCK),
        )
        self._discover()

    def close(self) -> None:
        """Flush buffers and release the writer lock; the SparkSession
        itself is caller-owned."""
        self.flush()
        self._release_lock()
