"""Source/sink surface: schema-explicit readers and writers for every
format the engine moves data through (SURVEY.md §2.A scans/sinks rows).

SURVEY.md §1.3: "schemas are never inferred from data" — the reference
reads them from the catalog. CSV and JSON reads take a mandatory explicit
schema. Parquet and ORC carry their own types: a schema-less parquet read
goes through ``io.read_parquet``, which infers each file set's schema once
per session and reads with that explicit schema afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..connectors import JdbcReadPlan, JdbcWritePlan, catalog_query_plan
from ..io import FIXTURE_TABLES, load, load_all, table_path
from ..io import read_parquet as _io_read_parquet

__all__ = [
    "FIXTURE_TABLES",
    "JdbcReadPlan",
    "JdbcWritePlan",
    "catalog_query_plan",
    "load",
    "load_all",
    "read_csv",
    "read_json",
    "read_orc",
    "read_parquet",
    "table_path",
    "write_table",
]


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Parquet scan; an explicit ``schema`` wins, otherwise the schema
    comes from ``io.read_parquet``'s registry."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return _io_read_parquet(spark, path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss.SSSSSS",
    mode: str = "FAILFAST",
) -> DataFrame:
    """CSV scan with a mandatory explicit schema (CSV carries no types; the
    catalog does — mirroring the reference's introspect-then-read order).
    FAILFAST by default: a schema/data mismatch is an error, not silent
    NULLs — for a cloning engine, silent data loss is the worse failure."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("timestampFormat", timestamp_format)
        .option("timestampNTZFormat", timestamp_format)
        .option("mode", mode)
        .csv(path)
    )


def read_json(
    spark: SparkSession, path: str, schema: T.StructType, mode: str = "FAILFAST"
) -> DataFrame:
    """JSON-lines scan with a mandatory explicit schema (FAILFAST, as
    read_csv)."""
    return spark.read.schema(schema).option("mode", mode).json(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan — like parquet, ORC carries its own types, so the schema is
    optional and serves as an assertion when provided (columnar pushdown
    and pruning work the same way; ORC is the second self-describing
    columnar format large Hive-era estates actually hold)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "errorifexists",
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss.SSSSSS",
) -> None:
    """Format-dispatched sink. CSV/JSON carry an explicit timestamp format
    so values round-trip losslessly at micro precision."""
    writer = df.write.mode(mode)
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "csv":
        (
            writer.option("header", "true")
            .option("timestampFormat", timestamp_format)
            .option("timestampNTZFormat", timestamp_format)
            .csv(path)
        )
    elif fmt == "json":
        (
            writer.option("timestampFormat", timestamp_format)
            .option("timestampNTZFormat", timestamp_format)
            .json(path)
        )
    else:
        raise ValueError(f"unsupported format: {fmt!r}")


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every fixture table as a temp view so the whole engine
    surface is reachable from ``spark.sql`` — the catalog-registration step
    a SQL-first consumer expects. Returns the view names."""
    names = []
    for t in FIXTURE_TABLES:
        try:
            load(spark, sf_dir, t).createOrReplaceTempView(t)
            names.append(t)
        except Exception:
            continue
    return names
