"""The storage layer: one table layout and one commit protocol, shared by
the streaming sink (``ingest.start_ingest``) and the ``db.ChronoSpark``
facade, plus the two maintenance jobs that rewrite tables (compaction
and retention).

The reference keeps one table format: one flush path writes it and one
table object merges and expires it (table.go:198-369). Here:

* **Layout.** A table is a directory of Parquet files partitioned by
  ``event_date = to_date(ts)`` (the tablet time range). Each file is
  sorted by ``ts`` then ``event_id``, else ``key`` (the reference's
  Row.Key), else ``ts`` alone — the tablet sort order
  (tablet.go:124-132), so footer min/max stats on ``ts`` are tight.
  ``operators.timeseries.time_range_scan`` adds the matching
  ``event_date`` predicate, so a range read skips whole directories
  before it opens a file.
* **Append commit.** Spark writes the rows into a dot-prefixed staging
  directory, which Spark's file listing never shows to readers. Then,
  under the table's lock, each staged file is renamed into its
  partition with a tag prefix. A tag names one logical write: the
  stream's query id plus ``batch_id`` for the sink, a fresh uuid for
  the facade. Committing a tag first deletes the files that tag
  committed before, so a replayed micro-batch replaces its own earlier
  output. That is the idempotent-sink rule under which ``foreachBatch``
  is exactly-once (Structured Streaming, SIGMOD 2018).
* **Partition-replace commit.** Compaction and the day backfill write
  the new partition to a dot-prefixed directory, then swap it in:
  rename-old → rename-new → delete-old, the reference's atomic-rename
  intent (utils/fileutils.go:87-103). Compaction holds the lock for
  its whole rewrite, so an append to the partition it reads waits and
  lands after the swap instead of vanishing with the old directory.
* **Retention** drops whole partition directories older than the
  cutoff, a file operation with no data scan (the reference drops whole
  tablets by MaxTS, table.go:334-369).

Every commit holds an exclusive ``flock`` on the table's ``.lock`` file
and first repairs what a crashed swap left behind (``_recover``). The
lock serializes writers on one host, like the reference's lock file.

Not covered: a micro-batch replayed after compaction already merged its
files. Compaction output carries no tag, so the replay adds its rows a
second time.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import shutil
import uuid
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COL = "event_date"
_LOCK = ".lock"
_OLD = ".compact_old_"
_NEW = ".compact_new_"


def _sort_key(columns: list[str]) -> list[str]:
    """``ts`` then the row key: ``event_id``, else ``key``, else none."""
    key = next((c for c in ("event_id", "key") if c in columns), None)
    return ["ts"] + ([key] if key else [])


def partition_between(start: Column, end: Column) -> Column:
    """The partition predicate implied by ``start <= ts <= end``."""
    return F.col(PARTITION_COL).between(F.to_date(start), F.to_date(end))


def partitions(table_dir: str) -> list[str]:
    """Partition values of the table, ascending."""
    root = Path(table_dir)
    return sorted(p.name.split("=", 1)[1] for p in root.glob(f"{PARTITION_COL}=*"))


def data_files(table_dir: str, partition_value: str = "*") -> list[Path]:
    """Visible data files of one partition (default: of every partition).
    Dot- and underscore-prefixed entries are Spark metadata."""
    return sorted(Path(table_dir).glob(f"{PARTITION_COL}={partition_value}/[!._]*"))


def _laid_out(df: DataFrame) -> DataFrame:
    # the partition column leads the sort, so the partitioned write needs
    # no sort of its own and each file keeps the (ts, key) order
    return df.withColumn(PARTITION_COL, F.to_date("ts")).sortWithinPartitions(
        PARTITION_COL, *_sort_key(df.columns)
    )


def _recover(root: Path) -> None:
    """Finish or undo a swap that crashed. A ``.compact_old_`` copy whose
    partition is missing is the only live copy: restore it. One whose
    partition exists was superseded: drop it. A ``.compact_new_`` copy
    was never swapped in: drop it."""
    for old in root.glob(f"{_OLD}*"):
        part = root / old.name[len(_OLD):]
        if part.exists():
            shutil.rmtree(old)
        else:
            old.rename(part)
    for new in root.glob(f"{_NEW}*"):
        shutil.rmtree(new)


@contextlib.contextmanager
def _locked(root: Path):
    with open(root / _LOCK, "a") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)  # released when fh closes
        _recover(root)
        yield


def _swap(part: Path, staged: Path) -> None:
    """rename-old → rename-new → delete-old: every crash point leaves a
    state ``_recover`` repairs without losing the partition."""
    old = part.with_name(f"{_OLD}{part.name}")
    if part.exists():
        part.rename(old)
    staged.rename(part)
    shutil.rmtree(old, ignore_errors=True)


def append(df: DataFrame, table_dir: str, tag: str | None = None) -> None:
    """Append ``df`` to the table as one tagged commit. Committing a tag
    again replaces that tag's earlier files (see the module docstring)."""
    tag = tag or uuid.uuid4().hex
    root = Path(table_dir)
    staging = root / f".staging-{tag}"
    _laid_out(df).write.mode("overwrite").partitionBy(PARTITION_COL).parquet(
        str(staging)
    )
    with _locked(root):
        for pattern in (f"{tag}-*", f".{tag}-*"):  # data files, .crc files
            for f in root.glob(f"{PARTITION_COL}=*/{pattern}"):
                f.unlink()
        for f in staging.glob(f"{PARTITION_COL}=*/*part-*"):
            part = root / f.parent.name
            part.mkdir(exist_ok=True)
            hidden = "." if f.name.startswith(".") else ""
            f.rename(part / f"{hidden}{tag}-{f.name.lstrip('.')}")
    shutil.rmtree(staging)


def batch_writer(table_dir: str, checkpoint_dir: str):
    """``foreachBatch`` function that appends micro-batch ``batch_id``
    of the stream checkpointed at ``checkpoint_dir`` under the tag
    ``<query id>-<batch_id>``. The query id is read from the
    checkpoint's ``metadata`` file, so a restarted stream keeps its tags
    and a new checkpoint in the same place gets new ones."""

    def commit(batch: DataFrame, batch_id: int) -> None:
        meta = json.loads((Path(checkpoint_dir) / "metadata").read_text())
        append(batch, table_dir, tag=f"{meta['id']}-{batch_id}")

    return commit


def replace_partitions(df: DataFrame, table_dir: str) -> None:
    """Idempotent backfill: replace exactly the partitions present in
    ``df`` and leave every other partition untouched."""
    root = Path(table_dir)
    staging = root / f".staging-{uuid.uuid4().hex}"
    _laid_out(df).write.partitionBy(PARTITION_COL).parquet(str(staging))
    with _locked(root):
        for staged in sorted(staging.glob(f"{PARTITION_COL}=*")):
            _swap(root / staged.name, staged)
    shutil.rmtree(staging)


def compact_partition(
    spark: SparkSession, table_dir: str, partition_value: str
) -> int:
    """Rewrite one partition into a single sorted file (reference merge,
    table.go:240-331, minus its pairwise restart loop). Returns the row
    count compacted."""
    root = Path(table_dir)
    part = root / f"{PARTITION_COL}={partition_value}"
    staged = root / f"{_NEW}{part.name}"
    if not root.exists():
        return 0
    with _locked(root):
        if not part.exists():
            return 0
        df = spark.read.parquet(str(part))
        n = df.count()
        (
            df.repartition(1)
            .sortWithinPartitions(*_sort_key(df.columns))
            .write.mode("overwrite")
            .parquet(str(staged))
        )
        _swap(part, staged)
    return n


def retention_sweep(table_dir: str, cutoff_date: str) -> list[str]:
    """Drop partitions strictly older than ``cutoff_date`` (reference TTL
    cleanup, table.go:334-369). Returns the dropped partition values."""
    root = Path(table_dir)
    if not root.exists():
        return []
    with _locked(root):
        dropped = [v for v in partitions(table_dir) if v < cutoff_date]
        for value in dropped:
            shutil.rmtree(root / f"{PARTITION_COL}={value}")
    return dropped
