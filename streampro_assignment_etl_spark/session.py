"""SparkSession factory with scale-aware defaults.

Mirrors the reference's env-driven config surface
(/root/reference/src/utils/config.py:7-56, config/dev.env) but targets a
Spark cluster: every knob here is chosen so the same code runs on
``local[32]`` for tests and on a 1000-executor cluster against ~100 TB.
Sessions built here keep 2,000 generated classes in Spark's codegen
cache, so a session that re-runs its queries compiles them once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every entry point applies, including to
# driver-provided sessions (they must hold even when we didn't build
# the session ourselves).
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics: testdata parquet is written
    # timezone-naive; UTC makes Spark's TIMESTAMP match DuckDB's naive
    # TIMESTAMP bit-for-bit.
    "spark.sql.session.timeZone": "UTC",
    # testdata events.parquet stores TIMESTAMP(MICROS) at every scale,
    # but a TIMESTAMP(NANOS) events.ts, which Spark 4 refuses by
    # default, still loads: read as long and convert (ts div 1000).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime partition coalescing + skew-join splitting. This is
    # the main lever that makes one logical plan work at sf0.001 and at
    # 100 TB without hand-tuned partition counts.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-plan (esp. coalesce shuffle partitions) inside persisted
    # plans too — otherwise every .persist() pins the full initial
    # partition count and small cached frames run hundreds of near-empty
    # tasks per stage.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for any pandas exchange (toPandas, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime row-level filter pushdown: when one join side is selective,
    # inject a bloom filter / IN-subquery built from it into the other
    # side's SCAN — at 100 TB a dimension filter can then prune most of
    # the fact scan before the shuffle. Threshold lowered so the
    # optimization actually engages at fact-table sizes (default 10GB
    # creation threshold never fires below warehouse scale).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
    "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled": "false",
    # Cost-based optimizer: when catalog tables carry ANALYZE stats
    # (pipeline/catalog_ops.analyze_table), join ordering uses real
    # row counts / NDVs instead of raw file sizes — on a 100 TB star
    # schema that's the difference between shuffling the fact table
    # through every join and reducing via the selective dims first.
    # With no stats present Spark falls back to size-based estimates,
    # so this is strictly additive; tests/test_plans.py pins the
    # stats-informed reorder.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # Hive-style partition values stay strings: the trusted-zone model
    # types ingestion_date as VARCHAR (reference schema registry,
    # /root/reference/src/utils/schema_registry.py), and inferring
    # DATE/INT from directory names would silently retype it.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}


# Entries in Spark's generated-class cache (``get_spark`` only; see there).
CODEGEN_CACHE_ENTRIES = 2000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing (possibly foreign) session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be static on some builds; session defaults then rule.
            pass
    return spark


def get_spark(app_name: str = "streampro-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this workload.

    ``spark.sql.shuffle.partitions`` is set to the core count locally; on a
    real cluster AQE coalesces from a higher initial number, so we set
    ``initialPartitionNum`` generously and let AQE shrink it.

    The codegen cache size is a static conf: it only takes effect when
    this call creates the session. A foreign or pre-existing session
    (``getOrCreate`` returning one already running) keeps its own cache
    size; ``apply_runtime_confs`` cannot change it.
    """
    n = cpus or default_parallelism()
    master = os.environ.get("SPARK_MASTER", f"local[{n}]")
    # AQE's starting partition count: on a real cluster begin high
    # (4x cores) and let coalesce shrink — under-partitioning a 100 TB
    # shuffle is unrecoverable, over-partitioning is coalesced for free.
    # Locally the economics invert: 4x initial partitions cost ~0.9 s of
    # shuffle-block + AQE bookkeeping per shuffle-bearing query
    # (measured: trivial 260k-row groupBy = 1.49 s at init=128 vs 0.56 s
    # at init=cores) with nothing to coalesce, so local mode keeps the
    # initial number at shuffle.partitions.
    init_parts = n if master.startswith("local") else 4 * n
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(init_parts))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # UI off by default (test/bench hygiene); SPARK_UI_ENABLED=true
        # turns it on for probes that read the REST metrics API (e.g.
        # tools/spill_probe.py's spill witness)
        .config(
            "spark.ui.enabled",
            os.environ.get("SPARK_UI_ENABLED", "false"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-class cache (static conf, so builder-only). Spark's
        # default of 100 entries is smaller than the query working set:
        # measured at sf0.01, the nine perfbench notebook queries generate
        # ~220 distinct classes and the 50-query registry ~1,000. An
        # interleaved session therefore evicted each query's classes
        # before it came round again and re-ran Janino: ~210-250 compiles
        # every notebook round, 1,287 on a second registry pass (47 with
        # this size). Entries are keyed on the generated source text, so
        # plans and results cannot change. Entries are cheap: metaspace
        # after two registry passes was 207 MB, 217 MB with the default.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
