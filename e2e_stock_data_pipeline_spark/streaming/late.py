"""Late-data accounting and quarantine (SURVEY §7 T8 policy).

Watermarked streaming aggregations DROP rows behind the watermark —
correct for state-bounding, but the engine's policy is that no record
disappears silently:

1. bronze ingestion (streaming/bronze.py) carries NO watermark: every
   row, however late, lands in the raw zone, and late corrections
   reconcile downstream via the batch keep-last MERGE backstop
   (reference: docs/databricks_setup.md:170-198 — the MERGE guard the
   reference runs instead of watermarked dedup).
2. windowed/stateful aggregations carry watermarks; their drops are
   observable in each progress event's ``numRowsDroppedByWatermark``
   (asserted in tests/test_streaming.py), never invisible.
3. ``route_late_events`` below is the explicit quarantine form: a
   foreachBatch splitter that mirrors the aggregation's event-time
   horizon (max event time seen in PRIOR batches minus the watermark
   delay — exactly Spark's watermark definition) and lands would-be-
   dropped rows in a late sink with lateness metadata.

The quarantine writer is at-least-once on batch retry (parquet append
in foreachBatch); it is an accounting surface, and the MERGE backstop
stays the dedup authority — same contract as the reference's bronze.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline.commit import write_atomic

_UNITS = {
    "day": 86400, "days": 86400,
    "hour": 3600, "hours": 3600,
    "minute": 60, "minutes": 60,
    "second": 1, "seconds": 1,
}


def parse_delay(delay: str) -> dt.timedelta:
    """Parse a watermark-style interval ('2 hours', '30 minutes')."""
    m = re.fullmatch(r"\s*(\d+)\s+(\w+)\s*", delay)
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unsupported interval {delay!r}; use 'N hours' etc.")
    return dt.timedelta(seconds=int(m.group(1)) * _UNITS[m.group(2)])


def _read_high_water(path: str) -> dt.datetime | None:
    try:
        with open(path) as f:
            return dt.datetime.fromisoformat(json.load(f)["max_event_time"])
    except (OSError, ValueError, KeyError):
        return None


def late_audit_plan(batched: DataFrame, delay_us: int) -> DataFrame:
    """Batch twin of :func:`route_late_events`'s quarantine rule.

    Input: any frame with ``ev_us`` (event time, epoch micros, bigint)
    and ``batch`` (arrival micro-batch id, bigint). A row is late iff
    ``ev_us < max(ev_us over all PRIOR batches) - delay_us`` — exactly
    the horizon the streaming splitter applies (max event time seen in
    prior batches minus the watermark delay); the first batch is all
    on-time, matching the splitter's cold start.

    Shape: one map-side-combinable groupBy(batch) for per-batch maxima
    (dimension-sized: one row per micro-batch), a running-max window
    over that dimension only, then a broadcast join back and a second
    keyed aggregation. No data-sized window, no self-join — the q116
    pattern. Returns (batch, n_events, n_late, max_late_by_us).
    """
    bm = batched.groupBy("batch").agg(F.max("ev_us").alias("bmax"))
    from pyspark.sql import Window

    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, -1)
    h = bm.select(
        "batch", (F.max("bmax").over(w) - F.lit(delay_us)).alias("horizon")
    )
    joined = batched.join(F.broadcast(h), "batch")
    late_flag = F.when(F.col("ev_us") < F.col("horizon"), 1).otherwise(0)
    return joined.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(late_flag).cast("bigint").alias("n_late"),
        F.max(
            F.when(F.col("ev_us") < F.col("horizon"), F.col("horizon") - F.col("ev_us"))
        ).alias("max_late_by_us"),
    )


def route_late_events(
    stream: DataFrame,
    ts_col: str,
    watermark_delay: str,
    main_path: str,
    late_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Split each micro-batch on the running event-time horizon.

    Rows with ``ts < max(event time over prior batches) - delay`` —
    precisely what a watermarked aggregation would drop — are appended
    to ``late_path`` with a ``late_by_seconds`` column; everything else
    goes to ``main_path``. The high-water mark is tracked monotonically
    in a sidecar under ``checkpoint_dir`` (batch replay after a crash
    can only see an equal-or-later horizon, which is conservative in
    the same direction as Spark's own watermark replay).

    Returns the started availableNow query; call awaitTermination().
    """
    delay = parse_delay(watermark_delay)
    hw_file = os.path.join(checkpoint_dir, "late_horizon.json")
    os.makedirs(checkpoint_dir, exist_ok=True)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ts = F.col(ts_col).cast("timestamp")
        prev_max = _read_high_water(hw_file)
        if prev_max is None:
            ontime, late = batch_df, batch_df.limit(0)
            horizon = None
        else:
            horizon = prev_max - delay
            ontime = batch_df.filter(ts >= F.lit(horizon))
            late = batch_df.filter(ts < F.lit(horizon))
        ontime.write.mode("append").parquet(main_path)
        late.withColumn(
            "late_by_seconds",
            (F.lit(horizon).cast("double") - ts.cast("double")) if horizon else F.lit(0.0),
        ).write.mode("append").parquet(late_path)
        row = batch_df.agg(F.max(ts).alias("m")).first()  # single-row, driver-sized
        if row and row.m is not None:
            new_max = row.m if prev_max is None else max(prev_max, row.m)
            write_atomic(hw_file, json.dumps({"max_event_time": new_max.isoformat()}))

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "stream"))
        .trigger(availableNow=True)
        .start()
    )
