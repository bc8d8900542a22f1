"""Turn Spark physical plans into assertable facts.

Parses ``explain``-style output of a DataFrame's executed plan. String
parsing is the stable public surface Spark offers for this (the plan
tree itself is JVM-private); the regexes target the formatted-explain
labels that have been stable across Spark 3.x/4.x. ``py4j_calls``
counts the driver-to-JVM round trips a plan build costs,
``codegen_compiles`` the generated classes Janino compiles, and
``spark_jobs`` the Spark jobs a block starts.
"""

from __future__ import annotations

import re
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def plan_string(df: DataFrame, formatted: bool = True) -> str:
    """The physical plan (pre-execution; AQE nodes unresolved)."""
    qe = df._jdf.queryExecution()
    if formatted:
        jvm = df.sparkSession._jvm
        return jvm.PythonSQLUtils.explainString(qe, "formatted")
    return qe.executedPlan().toString()


def parquet_scan_count(df: DataFrame) -> int:
    """Number of distinct parquet scan nodes in the plan (counted on the
    formatted detail section — the tree section repeats each node)."""
    return len(re.findall(r"^\(\d+\) Scan parquet", plan_string(df), re.M))


def shuffle_count(df: DataFrame) -> int:
    """Number of exchange (shuffle) nodes, excluding broadcasts."""
    return len(re.findall(r"^\(\d+\) Exchange\b", plan_string(df), re.M))


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan_string(df)))


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (predicate pushdown proof).

    Empty list means the scan reads everything and filtering happens
    post-scan — usually a bug at 100 TB.
    """
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column sets each parquet scan actually reads (column-pruning
    proof): one list per scan node. A scan reading every table column
    for a two-column projection means pruning failed."""
    scans: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan_string(df)):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        scans.append(cols)
    return scans


@contextmanager
def py4j_calls(spark: SparkSession) -> Iterator[dict[str, int]]:
    """Count the py4j commands the driver sends to the JVM inside the
    block: the plan-build cost of a query builder, where every Column
    or lambda-variable construction is a socket round trip. ``m``
    commands (object releases the Python GC sends at arbitrary times)
    are left out so identical builds count the same. Yields
    ``{"calls": n}``, final once the block exits."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counts = {"calls": 0}

    def counting_send(command, *args, **kwargs):
        if not command.startswith("m"):
            counts["calls"] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting_send
    try:
        yield counts
    finally:
        client.send_command = send


@contextmanager
def codegen_compiles(spark: SparkSession) -> Iterator[dict[str, int]]:
    """Count the whole-stage/expression classes Janino compiles inside
    the block: the generated-code cache misses. A query re-run in a warm
    session should compile nothing; a count near its first run means
    the cache evicted its classes. The counter is JVM-wide, so work on
    other threads counts too. Yields ``{"compiles": n}``, final once the
    block exits."""
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts = {"compiles": 0}
    start = timer.getCount()
    try:
        yield counts
    finally:
        counts["compiles"] = timer.getCount() - start


@contextmanager
def spark_jobs(spark: SparkSession) -> Iterator[dict[str, int]]:
    """Count the Spark jobs the calling thread starts inside the block,
    such as a parquet schema-inference job at plan-build time, which no
    SQL-execution counter sees. The block runs under a job group of its
    own, and the caller's group is restored after. Yields
    ``{"jobs": n}``, final once the block exits."""
    sc = spark.sparkContext
    key = "spark.jobGroup.id"
    caller_group = sc.getLocalProperty(key)
    group = f"spark-jobs-{uuid.uuid4().hex}"
    counts = {"jobs": 0}
    sc.setLocalProperty(key, group)
    try:
        yield counts
    finally:
        sc.setLocalProperty(key, caller_group)
        # The status store learns of jobs from the listener bus, which
        # runs behind the job itself.
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        counts["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
