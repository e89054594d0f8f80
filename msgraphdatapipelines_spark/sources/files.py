"""File-format scans and sinks (SURVEY.md §2.1 S7, §2.4 L8).

Parquet is the engine's warehouse format (columnar, pushdown, stats);
CSV/JSON are interchange formats for ingest/export.  All readers require an
explicit schema — ``inferSchema`` triggers an extra full pass over the data
and guesses types, both unacceptable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType, **options) -> DataFrame:
    opts = {"header": "true", "mode": "PERMISSIVE", **options}
    return spark.read.options(**opts).schema(schema).csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType, **options) -> DataFrame:
    """JSON-lines scan with declared schema — extra fields dropped, missing
    fields NULL (the reference's schema-superset tolerance, SURVEY.md §1.2)."""
    return spark.read.options(**options).schema(schema).json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
