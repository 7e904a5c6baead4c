"""Source connectors.

The reference's only source is its own log-file format
(src/operators/sourcing/table_scan.rs); our engine reads Parquet (the
log tables in db_spark.table plus external datasets) and ORC, and
handles format quirks here; CSV/JSON go through ``spark.read`` directly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read that tolerates TIMESTAMP(NANOS) columns (written by
    e.g. pandas/arrow with ns precision), which vanilla Spark rejects
    (PARQUET_TYPE_ILLEGAL). Nanos are read as raw INT64 and normalized to
    microsecond timestamps — matching DuckDB's µs TIMESTAMP semantics."""
    ns_cols = _nanos_columns(path)
    if not ns_cols:
        return spark.read.parquet(path)
    # The conf must remain set for the lifetime of the scan (it is consulted
    # at execution time, not just planning), so it stays on for the session;
    # it only affects files that actually contain NANOS columns.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for name in ns_cols:
        # Only convert columns Spark actually loaded as raw INT64 nanos.
        # INT96 (Spark's own legacy timestamp encoding) also sniffs as
        # timestamp[ns] in the arrow footer, but Spark reads it as a
        # proper TIMESTAMP already — converting would be a type error.
        if dtypes.get(name) != "bigint":
            continue
        # integer DIV: ns values exceed 2^53, so float division would
        # round (off-by-1µs vs the truncation every other reader does)
        df = df.withColumn(
            name, F.timestamp_micros(F.expr(f"`{name}` div 1000"))
        )
    return df


def _nanos_columns(path: str) -> list[str]:
    """Columns stored as timestamp[ns], sniffed from one footer (cheap
    driver-side metadata read, no Spark job)."""
    import pyarrow.parquet as pq

    target = path
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            return []
        target = os.path.join(path, parts[0])
    try:
        schema = pq.read_schema(target)
    except Exception:  # noqa: BLE001 - fall back to plain read
        return []
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, name + ".parquet"))


def write_bucketed(
    df: DataFrame, table_name: str, keys: list[str], num_buckets: int,
    path: str | None = None, mode: str = "overwrite", sort: bool = True,
) -> None:
    """Bucketed parquet table ('Hash index' realization + co-located
    joins): both sides of a join bucketed by the same keys into the same
    bucket count join with NO shuffle exchange — the partitioning is
    baked into the files. At 100 TB this turns the nightly fact-fact
    join's dominant cost into a map-side zip."""
    writer = df.write.format("parquet").bucketBy(num_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    if path is not None:
        writer = writer.option("path", path)
    writer.mode(mode).saveAsTable(table_name)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite", max_records_per_file: int = 0) -> None:
    """Plain parquet sink with optional hive-style partition pruning
    layout (partition_by) and file sizing."""
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)
