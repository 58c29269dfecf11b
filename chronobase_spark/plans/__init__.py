"""Plan inspection helpers (100 TB posture checks)."""

from chronobase_spark.plans.inspect import (  # noqa: F401
    explain_str,
    pushed_filters,
    read_schema,
)
