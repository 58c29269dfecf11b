"""chronobase_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
time-series store (naimulh247/ChronoBase, surveyed in /root/repo/SURVEY.md)
as an idiomatic Spark engine: the reference's storage machinery (memtables,
tablets, block compression, background merge — see
reference internal/storage/table.go, tablet.go) dissolves into Parquet +
Structured Streaming + scheduled compaction jobs, and its query surface
(inclusive time-range scan, key lookup, TTL filtering, stats — reference
pkg/db/db.go:145-162, internal/storage/tablet.go:331-387) becomes DataFrame
operators that Catalyst can optimize.

Layout:
    session     — SparkSession factory tuned for the engine
    catalog     — table registration over Parquet datasets
    operators/  — query operators (time-series, joins, aggregates, windows…)
    functions/  — column-level function library (similarity, text analysis)
    dedup/      — exact + near-duplicate detection (MinHash LSH, SimHash…)
    sources/    — table writers and the chronotab DataSource
    streaming/  — ingest lifecycle (the reference's flush/merge/TTL loops)
    plans/      — plan inspection / optimization helpers
"""

__version__ = "0.1.0"

from chronobase_spark.session import get_spark  # noqa: F401
from chronobase_spark.catalog import TABLES, load_tables, register_views  # noqa: F401
from chronobase_spark.config import EngineConfig, load_config  # noqa: F401
from chronobase_spark.db import ChronoSpark  # noqa: F401
