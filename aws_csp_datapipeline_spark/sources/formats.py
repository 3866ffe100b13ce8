"""Additional storage formats beyond parquet/CSV/JSON: ORC, which
ships with Spark."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
