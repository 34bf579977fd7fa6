"""Bronze ingestion streams — the OSS stand-in for Databricks Auto
Loader (reference: databricks/bronze_prices_auto_loader.ipynb:cell-1..4,
bronze_fundamentals_auto_loader.ipynb:cell-2..3).

What Auto Loader gave the reference and how each piece maps here:

* incremental file discovery w/ exactly-once  -> Structured Streaming
  file source + checkpointLocation (built-in WAL)
* `cloudFiles.format` parquet/json            -> readStream.parquet/.json
  with a pinned schema
* run-to-completion                           -> trigger(availableNow=True)
* `_rescued_data` schema-rescue column        -> PERMISSIVE json parse with
  columnNameOfCorruptRecord
* `_metadata.file_path` lineage               -> same builtin column
* schema evolution (addNewColumns restart)    -> evolve_schema(): diff the
  stored schema registry against newly inferred fields, widen, restart —
  the one piece of stateful machinery Auto Loader hid (SURVEY.md §7 T4).

Sinks are parquet; there is no Delta writer.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

RESCUE_COL = "_rescued_data"


def with_lineage(df: DataFrame) -> DataFrame:
    """Attach ingestion lineage: processing time + source file (S7/C8)."""
    return df.withColumn("_processing_time", F.current_timestamp()).withColumn(
        "_input_file", F.col("_metadata.file_path")
    )


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental file-stream scan with pinned schema (S4/S5)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    reader = reader.option("ignoreMissingFiles", "true")
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "json":
        # PERMISSIVE + corrupt-record column ~= Auto Loader rescue mode.
        return (
            reader.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", RESCUE_COL)
            .json(path)
        )
    raise ValueError(f"unsupported stream format {fmt!r}")


def rescue_schema(schema: T.StructType) -> T.StructType:
    """Schema with the rescue column appended (if absent)."""
    if RESCUE_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields) + [T.StructField(RESCUE_COL, T.StringType())])


def run_bronze_stream(
    source: DataFrame,
    dest_path: str,
    checkpoint: str,
    lineage: bool = True,
) -> None:
    """Append the stream into the parquet bronze table, run to
    completion (K3/T2).

    ``lineage=False`` skips the processing-time/source-file columns —
    the raw-append baseline scripts/bench_stream.py measures the
    lineage overhead against."""
    df = with_lineage(source) if lineage else source
    q = (
        df.writeStream.format("parquet")
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .option("path", dest_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# ---------------------------------------------------------------------------
# Schema registry + evolution loop (Auto Loader addNewColumns stand-in)
# ---------------------------------------------------------------------------


def load_registered_schema(schema_location: str) -> T.StructType | None:
    p = os.path.join(schema_location, "schema.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return T.StructType.fromJson(json.load(f))


def save_registered_schema(schema_location: str, schema: T.StructType) -> None:
    os.makedirs(schema_location, exist_ok=True)
    with open(os.path.join(schema_location, "schema.json"), "w") as f:
        json.dump(schema.jsonValue(), f)


def evolve_schema(
    spark: SparkSession, path: str, schema_location: str, fmt: str = "json"
) -> tuple[T.StructType, bool]:
    """Infer the source schema, merge with the registered one, persist.

    Returns (schema, evolved): evolved=True means new columns appeared and
    downstream streams should restart with the widened schema — the
    driver-side loop Auto Loader's addNewColumns mode runs internally
    (reference: docs/databricks_setup.md:120).
    """
    reader = spark.read
    inferred = (reader.json(path) if fmt == "json" else reader.parquet(path)).schema
    current = load_registered_schema(schema_location)
    if current is None:
        save_registered_schema(schema_location, inferred)
        return inferred, False
    known = set(current.fieldNames())
    new_fields = [f for f in inferred.fields if f.name not in known]
    if not new_fields:
        return current, False
    merged = T.StructType(list(current.fields) + new_fields)
    save_registered_schema(schema_location, merged)
    return merged, True
