"""Loaders for the driver-generated testdata tables.

Tables (one parquet each, see /root/repo/TESTDATA.md):
  region nation customer supplier part orders lineitem events documents
  embeddings

``events.ts`` is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) at every
scale, read as a ``timestamp_ntz``. A TIMESTAMP(NANOS) ``events.ts`` still
loads: Spark reads it as a long (with ``spark.sql.legacy.parquet.nanosAsLong``)
and we convert via integer division to microseconds — the same truncation
DuckDB applies when it reads nanos into its microsecond TIMESTAMP, so both
engines see identical values.

``load_table`` hands Spark the schema it would infer, read on the driver
from the file's parquet footer, so building a plan starts no Spark job.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from ..session import apply_runtime_confs

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _footer_schema(path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read from a parquet
    footer on the driver instead of by a Spark job. Like Spark with
    ``mergeSchema`` off, it reads the first data file in path order
    (a directory's ``_``/``.`` files are skipped) and prefers the Spark
    schema a Spark writer stores in the footer; otherwise it converts
    the file's arrow schema, with a top-level INT64 TIMESTAMP(NANOS)
    column read as a long as ``spark.sql.legacy.parquet.nanosAsLong``
    makes Spark do (the testdata tables are flat)."""
    meta = pq.read_metadata(min(pads.dataset(path, format="parquet").files))
    spark_json = (meta.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if spark_json is not None:
        return StructType.fromJson(json.loads(spark_json))
    arrow = meta.schema.to_arrow_schema()
    return from_arrow_schema(
        pa.schema([
            f.with_type(pa.int64()) if pa.types.is_timestamp(f.type) and f.type.unit == "ns" else f
            for f in arrow
        ]),
        prefer_timestamp_ntz=True,
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_footer_schema(path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos -> micros by floor division (matches DuckDB truncation),
        # then a timezone-naive timestamp.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    apply_runtime_confs(spark)
    names = only if only is not None else TESTDATA_TABLES
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Register testdata tables as temp views (lazy, zero-copy).

    ``only`` restricts registration to the named tables: each view
    costs one driver-side parquet footer read and a catalog call at
    plan-build time, and no Spark job, so SQL-path queries that
    reference one or two tables pass exactly those."""
    tables = load_tables(spark, sf_dir, only)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
