"""JSONL (newline-delimited JSON) source/sink — the training-data
interchange format (one document object per line).

Spark's native json reader IS line-delimited by default; these wrappers pin
the contract for pipeline use:

- **Always pass or derive an explicit schema.** Schema inference reads the
  whole input once before the real scan — at 100 TB that doubles the job.
  ``read_jsonl`` samples one file for the schema when none is given and
  applies it to the full read (driver-side, bounded).
- ``mode="PERMISSIVE"`` + ``_corrupt`` column: malformed lines land in a
  quarantine column instead of failing the pipeline; ``corrupt_lines``
  splits them out for a dead-letter sink.
- Writers emit gzip-able parts via the normal Spark writer; compression is
  the caller's choice (columnar parquet remains the preferred at-rest
  format — JSONL is for interchange).
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import caching

CORRUPT_COL = "_corrupt"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    sample_files: int = 1,
) -> DataFrame:
    """Read JSONL with an explicit or sampled-then-pinned schema plus a
    corrupt-record quarantine column."""
    if schema is None:
        # bound schema inference to a few files, then pin it for the scan
        if os.path.isdir(path):
            parts = sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if not f.startswith(("_", "."))
            )[:sample_files]
            sample = parts if parts else [path]
        else:
            sample = [path]
        # pass the sample as ONE list argument: json()'s second positional
        # parameter is the schema, so json(*paths) with >1 path would treat
        # the second path as a DDL schema string
        schema = spark.read.json(sample).schema
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if CORRUPT_COL not in [f.name for f in schema.fields]:
        schema = schema.add(CORRUPT_COL, "string")
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def corrupt_lines(df: DataFrame) -> DataFrame:
    """Dead-letter split: the quarantined raw lines.

    Spark forbids queries whose pruned schema is ONLY the corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) — the documented
    pattern is to cache the parsed frame first, which a real pipeline wants
    anyway when it splits one parse into valid + dead-letter sinks. The
    cache is installed on the caller's frame (``caching.persist``)."""
    return caching.persist(df).filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)


def valid_rows(df: DataFrame) -> DataFrame:
    """The well-formed complement of corrupt_lines (same cache rationale —
    a count() here also prunes the scan to just the corrupt column)."""
    return caching.persist(df).filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)
