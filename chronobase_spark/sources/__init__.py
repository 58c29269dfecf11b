"""Sources & sinks (SURVEY.md §2.3 'Scans / sources').

The reference reads/writes one custom format — `.tab` block files
discovered by directory listing (reference internal/storage/
tablet.go:203-281, pkg/db/db.go:291-350). Spark-natively, a source is a
DataFrameReader config; this package centralizes the engine's read/write
conventions so every query sees the same normalized tables.
"""

from chronobase_spark.sources import writers  # noqa: F401
