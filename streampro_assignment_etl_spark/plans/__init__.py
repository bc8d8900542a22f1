"""Physical-plan inspection utilities.

The optimizer work in this engine is Catalyst's (SURVEY §4: no custom
rules needed for reference parity) — what we own is *verifying* that
the plans Catalyst produces are the ones we want at 100 TB: filters
pushed to the parquet scan, columns pruned, small dimensions broadcast,
no accidental extra shuffles. These helpers turn `.explain` output into
assertable facts; tests/test_plans.py pins the load-bearing plan shapes
so a regression (a lost pushdown, a broadcast that became a
sort-merge join) fails CI instead of shipping a 100x slowdown.
"""

from .inspect import (
    broadcast_join_count,
    codegen_compiles,
    parquet_scan_count,
    plan_string,
    pushed_filters,
    py4j_calls,
    read_schema_columns,
    shuffle_count,
    spark_jobs,
)

__all__ = [
    "broadcast_join_count",
    "codegen_compiles",
    "parquet_scan_count",
    "plan_string",
    "pushed_filters",
    "py4j_calls",
    "read_schema_columns",
    "shuffle_count",
    "spark_jobs",
]
