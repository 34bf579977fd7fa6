"""Event-time window aggregates (SURVEY.md §2.10 [EXT]).

The reference's stream is file-arrival only — all event-time analytics
happen in batch. The engine adds the streaming-complete surface:
tumbling / sliding / session windows, expressed with the SAME
`F.window` / `F.session_window` operators Structured Streaming uses,
validated here in batch mode against a SQL oracle (the streaming
execution of the tumbling plan lives in streaming/windows.py and is
exercised by the pytest streaming suite; sliding and session windows
are checked in batch only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.fixedpoint import units
from ..sources import tables
from .registry import query

DEC = "decimal(18,4)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "events")


@query(
    "q29_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket_start, event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="Tumbling 1h event-time window aggregate (exact int64 cent sums "
    "via fixedpoint.units — same value, no decimal accumulator in the "
    "hot loop). r12: groups on date_trunc('hour') — a single timestamp "
    "key — instead of the F.window struct; for a TUMBLING window the "
    "bucket start is the truncation, results are row-identical "
    "(BENCH_NOTES.md, \"Round 12 — aggregation-floor tier at sf10\"), "
    "and dropping the two-field struct key cut 8% off the sf10 wall. The "
    "genuinely streaming tumbling-window path (F.window + watermark) "
    "lives in streaming/ and its own tests; this batch query contracts the "
    "VALUES, not the operator shape.",
    tags=("streaming", "window", "agg"),
    bench=True,
)
def q29_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(units("value")).cast("double") / 1e2).alias("total_value"),
        )
    )


@query(
    "q30_sliding_windows",
    oracle="""
    WITH half AS (
      SELECT *, date_trunc('hour', ts)
               + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS t30
      FROM events
    ), exploded AS (
      SELECT t30 AS bucket_start, value FROM half
      UNION ALL
      SELECT t30 - INTERVAL 30 MINUTE AS bucket_start, value FROM half
    )
    SELECT bucket_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM exploded
    GROUP BY bucket_start
    """,
    doc="Sliding window (1h size, 30m slide): each event lands in 2 overlapping buckets.",
    tags=("streaming", "window", "agg"),
)
def q30_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "n", "total_value")
    )


@query(
    "q31_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, sess_id
    """,
    doc="Session windows with 30m inactivity gap (F.session_window vs SQL island detection).",
    tags=("streaming", "window", "agg", "session"),
)
def q31_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@query(
    "q71_hourly_ohlc_candles",
    oracle="""
    SELECT user_id,
           date_trunc('hour', ts) AS bucket_start,
           arg_min(value, ts) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, ts) AS close,
           COUNT(*) AS n_ticks,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume_value
    FROM events
    GROUP BY user_id, date_trunc('hour', ts)
    """,
    doc="OHLC candle resampling — the canonical stock-pipeline aggregate "
    "(tick stream -> per-key hourly open/high/low/close): min_by/max_by "
    "on event time give open/close in one hash aggregate, no window sort.",
    tags=("agg", "ohlc", "gold", "streaming"),
    bench=True,
)
def q71_hourly_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("bucket_start"))
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("volume_value"),
        )
    )


@query(
    "q81_click_purchase_attribution",
    oracle="""
    SELECT c.event_id AS click_id,
           c.user_id,
           p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS secs_to_purchase
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
    """,
    doc="Click-to-purchase attribution inside a 30-minute window — the "
    "BATCH twin of streaming/join.py's watermarked stream-stream join "
    "(identical join condition; the streaming test proves the two agree). "
    "The time bound is the scale lever in both forms: it bounds join "
    "state in the stream and caps per-key fan-out in the batch shuffle.",
    tags=("join", "interval", "streaming", "attribution"),
)
def q81_click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return (
        c.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")),
        )
        .select(
            "click_id",
            "user_id",
            "purchase_id",
            (
                F.unix_timestamp(F.col("p_ts").cast("timestamp"))
                - F.unix_timestamp(F.col("c_ts").cast("timestamp"))
            ).alias("secs_to_purchase"),
        )
    )


@query(
    "q91_session_funnel",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN date_diff('second',
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
                    > 1800
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, event_type,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM ordered
    ),
    flags AS (
      SELECT user_id, sess_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      FROM sess GROUP BY user_id, sess_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(has_view) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN has_view = 1 AND has_click = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(SUM(CASE WHEN has_view = 1 AND has_click = 1 AND has_purchase = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM flags
    """,
    doc="Sessionized conversion funnel: 30-minute-gap sessions built with "
    "the gaps-and-islands pattern (lag + running sum of session starts — "
    "the batch dual of F.session_window), then view -> click -> purchase "
    "stage counts per session. Integer flags and counts end to end; one "
    "user_id shuffle serves the lag, the running sum, and the session "
    "aggregate.",
    tags=("streaming", "session", "funnel", "window"),
)
def q91_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(wo)
    gap_s = F.unix_timestamp(F.col("ts").cast("timestamp")) - F.unix_timestamp(
        prev_ts.cast("timestamp")
    )
    new_sess = F.when(prev_ts.isNull() | (gap_s > 1800), 1).otherwise(0)
    ordered = e.select("user_id", "ts", "event_id", "event_type", new_sess.alias("new_sess"))
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = ordered.select(
        "user_id", "event_type", F.sum("new_sess").over(wrun).alias("sess_id")
    )
    flags = sess.groupBy("user_id", "sess_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("has_view"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("has_click"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_purchase"
        ),
    )
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("has_view").cast("bigint").alias("n_view"),
        F.sum(
            F.when((F.col("has_view") == 1) & (F.col("has_click") == 1), 1).otherwise(0)
        ).cast("bigint").alias("n_view_click"),
        F.sum(
            F.when(
                (F.col("has_view") == 1)
                & (F.col("has_click") == 1)
                & (F.col("has_purchase") == 1),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_full_funnel"),
    )
