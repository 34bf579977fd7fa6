"""Incremental rollup maintenance — a continuous aggregate over a
stream (the hypertable-rollup pattern): each micro-batch's partial
aggregates are MERGED-ADDED into a persistent rollup table, so the
rollup equals the full-history aggregate at every point without ever
rescanning history.

Only decomposable aggregates participate (count/sum/min/max — the same
algebra Spark's own partial aggregation uses); avg derives as sum/count
at read time. Exactly-once per epoch comes from foreachBatch
checkpointing + the idempotent staged commit (pipeline/commit.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.commit import recover, staged

DEC = "decimal(18,4)"


def _merge_add(
    spark: SparkSession, target: str, partial: DataFrame, keys: list[str], epoch_id: int
) -> None:
    """Merge-ADD one epoch's partials into the rollup, atomically WITH the
    epoch marker: the marker is written into the staged directory before the
    swap, so data and epoch advance in the same rename — a crash can never
    leave new data with an old marker (the double-count window) or vice
    versa. ``commit.staged`` does the swap.
    """
    agg_cols = [c for c in partial.columns if c not in keys]
    if os.path.exists(target):
        existing = spark.read.parquet(target)
        merged = (
            existing.unionByName(partial)
            .groupBy(*keys)
            .agg(*[F.sum(c).alias(c) for c in agg_cols])
        )
    else:
        merged = partial
    with staged(target) as tmp:
        merged.write.mode("overwrite").parquet(tmp)
        # Underscore-prefixed files are invisible to Spark's parquet reader,
        # so the marker can live INSIDE the data directory and travel with it.
        with open(os.path.join(tmp, "_last_epoch"), "w") as f:
            f.write(str(epoch_id))


def hourly_rollup_partial(batch: DataFrame) -> DataFrame:
    """Decomposable partials for the hourly event rollup."""
    return (
        batch.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).alias("value_sum"),
        )
    )


def _read_last_epoch(target: str) -> int:
    p = os.path.join(target, "_last_epoch")
    if os.path.exists(p):
        with open(p) as f:
            return int(f.read().strip())
    return -1


def apply_epoch(batch: DataFrame, target: str, epoch_id: int) -> bool:
    """Apply one micro-batch's partials to the rollup, once per epoch.

    merge-ADD is NOT naturally idempotent (unlike keep-latest merges), so
    the epoch guard makes replays after partial failures safe: an epoch
    already applied to the target is skipped. The marker is committed in
    the SAME rename as the merged data (see _merge_add), so there is no
    state in which the data reflects epoch N but the marker says N-1.
    (Delta solves this with txnAppId/txnVersion; this is the parquet-sink
    equivalent.) Returns True when applied, False when skipped as replay.
    """
    recover(target)
    if epoch_id <= _read_last_epoch(target):
        return False
    _merge_add(
        batch.sparkSession,
        target,
        hourly_rollup_partial(batch),
        ["bucket_start", "event_type"],
        epoch_id,
    )
    return True


def stream_hourly_rollup(stream: DataFrame, target: str, checkpoint: str):
    """availableNow stream maintaining the hourly rollup incrementally."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        apply_epoch(batch, target, epoch_id)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
