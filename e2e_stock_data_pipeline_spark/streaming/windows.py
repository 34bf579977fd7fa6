"""Streaming event-time window aggregates with watermarks [EXT,
SURVEY.md §2.10]. The tumbling plan of plans/queries_streaming.py
(q29) plus dedup, attached to an unbounded source —
correctness of the window semantics is proven by the batch oracle gate;
these wire in watermarking and state cleanup for the streaming run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEC = "decimal(18,4)"


def _with_event_time(df: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """Watermarks require TIMESTAMP (tz-aware); NTZ sources are cast —
    value-preserving under the engine's pinned UTC session timezone."""
    if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, watermark)


def tumbling_counts(
    events: DataFrame, ts_col: str = "ts", size: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    return (
        _with_event_time(events, ts_col, watermark)
        .groupBy(F.window(ts_col, size).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n", "total_value")
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dropDuplicates with watermark-bounded state (T8).

    The reference's DLT dedup has NO watermark (docs/databricks_setup.md:
    277-291) so its state grows forever; the engine's policy: watermark on
    event time, late duplicates beyond it land and are swept by the batch
    keep-last MERGE backstop (pipeline/silver.py).
    """
    return _with_event_time(events, ts_col, watermark).dropDuplicates(keys + [ts_col])
