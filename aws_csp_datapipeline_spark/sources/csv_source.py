"""CSV source with the reference's real-world parsing hazards.

The reference ingests CSVs like sample-data/Sample_Input.csv:
header row (:1); quoted cells containing commas (:12), embedded
newlines (:21-22, 44-47) and doubled double-quotes (:29); ``N/A`` /
``NA`` / empty nulls; trailing-space enums (:57); messy date strings
(:2-14). One reader configuration handles all of it (SURVEY.md §2.1
S1) — Spark's univocity parser does the heavy lifting; no custom
parsing code.

Note multiLine=True makes a file non-splittable (a quoted newline can
cross a split boundary); at 100-TB scale ingest should land many
medium-sized files — parallelism comes from file count, which is how
event-driven landing zones (one object per upload) behave anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_messy_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    null_values: tuple[str, ...] = ("N/A", "NA"),
) -> DataFrame:
    """Read a reference-shaped CSV. ``escape='"'`` maps the CSV
    standard's doubled-quote escaping; ``multiLine`` allows quoted
    embedded newlines; empty strings and the null spellings become
    SQL NULL at parse time (cheaper than a post-pass)."""
    reader = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", null_values[0])
        .option("emptyValue", None)
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)
