"""Trading-calendar dimension (reference: stock_pipeline/scripts/utils/
dates.py:63-179 — is_trading_day / get_previous_trading_day /
get_trading_days / get_last_n_trading_days over the NYSE calendar).

The reference calls pandas_market_calendars at query time; the engine
snapshots the calendar into a DIMENSION TABLE instead (SURVEY.md §2.4
C11) — joins against it replace all four functions, holidays are
explicit data (reproducible), and the table broadcasts at any scale
(one row per day: ~365/yr).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def build_trading_calendar(
    spark: SparkSession,
    start: str,
    end: str,
    holidays: Iterable[str] = (),
) -> DataFrame:
    """Calendar dimension: cal_date, is_trading, prev_trading_day.

    Trading day = weekday not in `holidays`. prev_trading_day is the
    last trading date strictly before cal_date (last+ignorenulls over an
    ordered window — one pass, no self-join).
    """
    hol = sorted({str(dt.date.fromisoformat(h)) for h in holidays})
    days = spark.sql(
        f"SELECT explode(sequence(DATE'{start}', DATE'{end}', interval 1 day)) AS cal_date"
    )
    is_weekday = F.dayofweek("cal_date").isin(2, 3, 4, 5, 6)
    is_holiday = (
        F.date_format("cal_date", "yyyy-MM-dd").isin(hol) if hol else F.lit(False)
    )
    cal = days.select("cal_date", (is_weekday & ~is_holiday).alias("is_trading"))
    w = Window.orderBy("cal_date").rowsBetween(Window.unboundedPreceding, -1)
    return cal.withColumn(
        "prev_trading_day",
        F.last(F.when(F.col("is_trading"), F.col("cal_date")), ignorenulls=True).over(w),
    )


def trading_days_between(cal: DataFrame, start: str, end: str) -> DataFrame:
    return cal.filter(
        F.col("is_trading")
        & (F.col("cal_date") >= F.lit(start))
        & (F.col("cal_date") <= F.lit(end))
    ).select("cal_date")


def last_n_trading_days(cal: DataFrame, n: int, end: str) -> DataFrame:
    return (
        cal.filter(F.col("is_trading") & (F.col("cal_date") <= F.lit(end)))
        .orderBy(F.col("cal_date").desc())
        .limit(n)
        .select("cal_date")
    )

