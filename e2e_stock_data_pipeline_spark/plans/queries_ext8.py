"""Round-8 session-2 query additions [EXT] — time-series repair,
market microstructure, and affinity shapes a stock/training-data
pipeline runs daily:

* q135 — calendar gap-fill + forward-fill (the missing-trading-day
  repair the reference's gold layer needs before any ma_20/ma_50 is
  trustworthy: a 20-row window over a series with holes is not a
  20-day window; reference gold views: docs/databricks_setup.md:216-226).
* q136 — VWAP (volume-weighted average price) per key per day, the
  canonical microstructure aggregate; decimal-exact numerator.
* q137 — maximum drawdown per key: running peak then worst peak-to-
  trough drop, the risk metric every backtest reports.
* q138 — co-occurrence affinity pairs with apriori support pruning
  (frequent-pair mining: the same-basket self-join bounded by
  per-order fan-out, never a cross product).
* q139 — FORWARD as-of join, oracle-gated: q26/q68 proved the
  backward direction; this greens operators/asof.py's direction=
  "forward" path (next quote at-or-after, the fill-simulation shape).
* q140 — robust outlier flags via median absolute deviation: two
  exact-median passes (q109's rank trick) + a 3×MAD threshold —
  the monitoring twin of q67's z-score (mean/std are skew-fragile;
  MAD is what a data-quality gate should use).
* q141 — gaps-and-islands: longest consecutive-day streak per key
  (day-minus-row_number island ids), calendar-exact retention.
* q142 — TWAP: time-weighted average price with integer-microsecond
  weights; all-BIGINT numerator (the >2^53 decimal sum exposes an
  engine-dependent DECIMAL→DOUBLE rounding divergence — see the
  in-plan comment — so the arithmetic stays in int64 where both
  engines' casts are correctly rounded).
* q143 — week-over-week growth: lag window AFTER aggregation, where
  the low-cardinality series key is safe because the frame is already
  dimension-sized (the deliberate contrast to q127's skew finding).
* q144 — fixed-iteration integer PageRank over the co-purchase graph:
  all-int64 recursion with truncating division replays bit-for-bit as
  unrolled SQL CTEs; operators/graph.py holds the materialized
  production twin (bit-equality pinned by test).
* q145 — ANALYZE-style table profile: every column's stats in ONE
  scan (multi-aggregate + unpivot) vs the oracle's per-column rescans.
* q146 — SCD type-2 history build: lag-filtered state changes →
  lead-derived [valid_from, valid_to) intervals, open = current.
* q147 — sequential pattern mining: sliding event-type trigrams from
  two lags in one window pass, globally ranked — q54's n-gram miner
  re-expressed over time-ordered behavior.

All are pure Catalyst (no UDFs), windows partition on the
high-cardinality user key, joins are key-local or broadcast, and
every computed column is aliased identically in the Spark plan and
the DuckDB oracle so the driver's value-hash gate is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..sources import tables
from .registry import query

DEC = "decimal(18,4)"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "events")


# Plan constructors are module-level (not closed over inside the query
# functions) so scripts/scale_smoke.py times the EXACT plans the
# registered queries run — the ext5 ema_plan/token_entropy_plan pattern.


def gap_fill_plan(e: DataFrame) -> DataFrame:
    """events(user_id, event_id, ts, value) -> densified daily close series."""
    e = e.select(
        "user_id", "event_id", "ts", "value", F.col("ts").cast("date").alias("day")
    )
    wlast = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    obs = (
        e.select("user_id", "day", "value", F.row_number().over(wlast).alias("r"))
        .filter(F.col("r") == 1)
        .select("user_id", "day", F.col("value").alias("obs_value"))
    )
    cal = (
        obs.groupBy("user_id")
        .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
        .select("user_id", F.explode(F.sequence("mn", "mx")).alias("day"))
    )
    j = cal.join(obs, ["user_id", "day"], "left")
    wfill = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        F.last("obs_value", ignorenulls=True).over(wfill).alias("value"),
        F.col("obs_value").isNull().alias("is_filled"),
    )


def vwap_plan(e: DataFrame) -> DataFrame:
    """events(user_id, ts, value, props) -> per-key daily VWAP."""
    e = e.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "value",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    return (
        e.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("k").cast("bigint").alias("total_qty"),
            (
                F.sum(F.col("value").cast(DEC) * F.col("k")).cast("double")
                / F.sum("k").cast("double")
            ).alias("vwap"),
        )
        .filter(F.col("total_qty") > 0)
    )


def drawdown_plan(e: DataFrame) -> DataFrame:
    """events(user_id, event_id, ts, value) -> per-key max drawdown."""
    wpeak = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = e.select("user_id", "value", F.max("value").over(wpeak).alias("peak"))
    return r.groupBy("user_id").agg(
        # try_divide: a user whose first events are all value=0.0 has
        # peak=0 there (hit at sf10 — ~1/56021 of users; ANSI `/` threw).
        # DuckDB's double division yields NULL on /0, and MAX skips
        # NULLs in both engines — try_divide is the exact twin.
        F.max(F.try_divide(F.col("peak") - F.col("value"), F.col("peak")))
        .cast("double")
        .alias("max_drawdown"),
        F.max(F.col("peak") - F.col("value")).cast("double").alias("max_abs_drawdown"),
        F.max("peak").cast("double").alias("peak_value"),
    )


def order_part_pairs(li: DataFrame) -> DataFrame:
    """(u, v) with u < v, ONE ROW PER (order, unordered part pair):
    one groupBy(l_orderkey).collect_set (the set dedups (order, part)
    inside the aggregation) plus an in-row pair explosion over the
    sorted part array. A single fact-table exchange replaces the
    textbook distinct -> self-join shape (distinct exchange + two join
    sorts); per-order fan-out is bounded by basket size (<= 7 parts in
    TPC-H shapes). Shared by the q138 pair counter and the q144 edge
    builder so both walk the identical pair multiset."""
    ps = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("_ps"))
        .filter(F.size("_ps") >= 2)
        .select("_ps")
    )
    # r17 (guide §1.2 step 2, the q175/q184 interpreted-lambda lesson):
    # slice() allocated a copy of the part array per outer element and
    # flatten copied every struct again; index sequences + element_at
    # emit the SAME i<j pairs of the same sorted array while allocating
    # only small int sequences. The size >= 2 filter above guarantees
    # both sequence() bounds are ascending. Shared by q138 and the
    # graph tier's edge build, so the cut lands in every consumer.
    pairs = F.expr(
        "flatten(transform(sequence(1, size(_ps) - 1), i ->"
        " transform(sequence(i + 1, size(_ps)), j ->"
        " struct(element_at(_ps, i) AS u, element_at(_ps, j) AS v))))"
    )
    return ps.select(F.explode(pairs).alias("_p")).select(
        F.col("_p.u").alias("u"), F.col("_p.v").alias("v")
    )


def copurchase_plan(
    li: DataFrame, min_support: int = 2, top: int = 50
) -> DataFrame:
    """lineitem(l_orderkey, l_partkey) -> top co-occurrence pairs.

    Pairs are generated in-row from per-order part sets
    (order_part_pairs — one fact-table exchange), then counted per
    unordered pair. The min_support filter on the COUNTED pairs
    subsumes the classic apriori pre-cut: a part in < min_support
    baskets cannot appear in a pair with n_orders >= min_support, so
    pruning it early changes nothing downstream — the r16 basket form
    drops that pre-join entirely (sf10: 33.8 -> measured in
    BENCH_NOTES) while keeping the oracle untouched."""
    return (
        order_part_pairs(li.select("l_orderkey", "l_partkey"))
        .groupBy(F.col("u").alias("part_a"), F.col("v").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_support)
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(top)
    )


def mad_outliers_plan(e: DataFrame) -> DataFrame:
    """events(user_id, event_id, value) -> per-key exact-median MAD audit."""
    e = e.select("user_id", "event_id", "value")
    wv = Window.partitionBy("user_id").orderBy("value", "event_id")
    wc = Window.partitionBy("user_id")
    v = e.select(
        "user_id",
        "value",
        F.row_number().over(wv).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    med = (
        v.filter(
            (F.col("rn") == F.expr("(cnt + 1) DIV 2"))
            | (F.col("rn") == F.expr("(cnt + 2) DIV 2"))
        )
        .groupBy("user_id")
        .agg((F.sum("value") / F.count(F.lit(1)).cast("double")).alias("med"))
    )
    dev = e.join(med, "user_id").select(
        "user_id",
        "event_id",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    wd = Window.partitionBy("user_id").orderBy("adev", "event_id")
    dr = dev.select(
        "user_id",
        "adev",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    mad = (
        dr.filter(
            (F.col("rn") == F.expr("(cnt + 1) DIV 2"))
            | (F.col("rn") == F.expr("(cnt + 2) DIV 2"))
        )
        .groupBy("user_id")
        .agg((F.sum("adev") / F.count(F.lit(1)).cast("double")).alias("mad"))
    )
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.max("med").alias("med_value"),
            F.max("mad").alias("mad"),
            F.sum(F.when(F.col("adev") > 3.0 * F.col("mad"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# q135: per-key daily calendar gap-fill with forward-fill
# --------------------------------------------------------------------------

@query(
    "q135_gap_fill_ffill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value,
             row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS r
      FROM events
    ),
    obs AS (SELECT user_id, day, value AS obs_value FROM daily WHERE r = 1),
    span AS (SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM obs GROUP BY user_id),
    cal AS (SELECT user_id,
                   CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
            FROM span),
    j AS (SELECT c.user_id, c.day, o.obs_value
          FROM cal c LEFT JOIN obs o ON o.user_id = c.user_id AND o.day = c.day)
    SELECT user_id, day,
           last_value(obs_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           (obs_value IS NULL) AS is_filled
    FROM j
    """,
    doc="Daily resample + forward-fill: per key, close-of-day value "
    "(last tick wins, deterministic tiebreak), densified to the key's "
    "full min..max calendar via sequence/explode, holes filled with "
    "last(ignorenulls). The repair step that makes fixed-row windows "
    "(q21 ma_20, q73 Bollinger) mean what they say on sparse series. "
    "Scale: explode fan-out is bounded by the date span (dimension-"
    "sized per key, not data-sized); both windows and the fill join "
    "partition on the high-cardinality key, so the whole plan is one "
    "shuffle family on user_id with no skewed low-cardinality sort.",
    tags=("window", "timeseries", "gapfill", "gold"),
)
def q135_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gap_fill_plan(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# q136: per-key daily VWAP
# --------------------------------------------------------------------------

@query(
    "q136_vwap",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day,
           COUNT(*) AS n_ticks,
           CAST(SUM(k) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(value AS DECIMAL(18,4)) * k) AS DOUBLE)
             / CAST(SUM(k) AS DOUBLE) AS vwap
    FROM (SELECT user_id, ts, value,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY user_id, CAST(ts AS DATE)
    HAVING SUM(k) > 0
    """,
    doc="Volume-weighted average price per key per day: price×size "
    "summed in DECIMAL (exact, order-independent — the double sum "
    "would hash-differ between engines), one double division at the "
    "end. Size comes from the event's JSON props (C7's extraction "
    "path), so this also exercises semi-structured→metric flow. One "
    "hash aggregate, no window; partial aggregation is map-side.",
    tags=("agg", "timeseries", "gold", "json"),
)
def q136_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vwap_plan(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# q137: maximum drawdown per key
# --------------------------------------------------------------------------

@query(
    "q137_max_drawdown",
    oracle="""
    WITH r AS (
      SELECT user_id, value,
             MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM events
    )
    SELECT user_id,
           CAST(MAX((peak - value) / peak) AS DOUBLE) AS max_drawdown,
           CAST(MAX(peak - value) AS DOUBLE) AS max_abs_drawdown,
           CAST(MAX(peak) AS DOUBLE) AS peak_value
    FROM r GROUP BY user_id
    """,
    doc="Maximum drawdown: running peak (cumulative max over event "
    "time, deterministic tiebreak) then the worst relative and "
    "absolute peak-to-trough drop per key — the risk statistic every "
    "backtest over the reference's gold prices reports. Per-row "
    "arithmetic is order-independent (each row's drawdown depends "
    "only on its own peak), so the double math hash-matches. One "
    "window + one hash aggregate, both keyed on user_id.",
    tags=("window", "timeseries", "risk", "gold"),
)
def q137_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drawdown_plan(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# q138: co-occurrence affinity pairs (frequent-pair mining)
# --------------------------------------------------------------------------

@query(
    "q138_copurchase_pairs",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    freq AS (SELECT l_partkey FROM li GROUP BY l_partkey HAVING COUNT(*) >= 2),
    lf AS (SELECT li.l_orderkey, li.l_partkey FROM li JOIN freq USING (l_partkey)),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
      FROM lf a JOIN lf b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_a, part_b, n_orders FROM pairs
    WHERE n_orders >= 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 50
    """,
    doc="Frequent co-occurrence pairs (market-basket affinity) with "
    "apriori pruning: a part in fewer than min_support orders cannot "
    "be in a frequent pair, so the per-part frequency filter runs "
    "BEFORE the same-order self-join — the classic candidate-"
    "generation cut. The self-join is keyed on l_orderkey with "
    "fan-out bounded by per-order line count (≤7 in TPC-H shapes), "
    "never a cross product; the frequent-part set joins broadcast "
    "(bounded by the part dimension). Deterministic top-50.",
    tags=("join", "affinity", "apriori", "topk"),
)
def q138_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return copurchase_plan(tables.load(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# q139: forward as-of join (next quote at-or-after)
# --------------------------------------------------------------------------

@query(
    "q139_asof_forward",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts, c.value,
           p.ts AS asof_ts, p.value AS asof_value
    FROM (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'click') c
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
    doc="FORWARD as-of join: each click matched to the EARLIEST "
    "purchase at or after it per user — the fill-simulation / "
    "next-quote direction. Greens operators/asof.py direction="
    "'forward' (backward over negated epoch, one code path both "
    "directions), which until now carried only unit tests; q26/q68 "
    "cover backward. Same single-shuffle union+window plan: no "
    "range-condition join explosion, state bounded per key.",
    tags=("join", "asof", "window"),
)
def q139_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        value_cols=["value"],
        how="inner",
        direction="forward",
    ).select("event_id", "user_id", "ts", "value", "asof_ts", "asof_value")


# --------------------------------------------------------------------------
# q140: robust outliers via median absolute deviation
# --------------------------------------------------------------------------

@query(
    "q140_mad_outliers",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS cnt
      FROM events
    ),
    med AS (
      SELECT user_id, SUM(value) / CAST(COUNT(*) AS DOUBLE) AS med
      FROM v WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY user_id
    ),
    dev AS (
      SELECT e.user_id, e.event_id, m.med, ABS(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.user_id = m.user_id
    ),
    dr AS (
      SELECT user_id, adev,
             row_number() OVER (PARTITION BY user_id ORDER BY adev, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS cnt
      FROM dev
    ),
    mad AS (
      SELECT user_id, SUM(adev) / CAST(COUNT(*) AS DOUBLE) AS mad
      FROM dr WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY user_id
    )
    SELECT d.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MAX(d.med) AS med_value,
           MAX(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m ON d.user_id = m.user_id
    GROUP BY d.user_id
    """,
    doc="Robust per-key outlier audit: exact median (q109's rank "
    "trick — middle one/two rows, FP-deterministic average), absolute "
    "deviations, exact median of those (the MAD), then a 3×MAD flag "
    "count. The skew-immune twin of q67's z-score: one wild tick "
    "moves mean/std but not median/MAD, so this is the gate a "
    "data-quality monitor should run. Every window and join is keyed "
    "on the high-cardinality user_id — two window passes + two "
    "key-local join-backs, all in one partitioning family.",
    tags=("window", "median", "quality", "monitoring"),
)
def q140_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mad_outliers_plan(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# q141: gaps-and-islands — longest consecutive-day streak per key
# --------------------------------------------------------------------------

def streaks_plan(e: DataFrame) -> DataFrame:
    """events(user_id, ts) -> per-key streak stats (gaps-and-islands)."""
    d = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    wr = Window.partitionBy("user_id").orderBy("day")
    r = d.select("user_id", "day", F.row_number().over(wr).alias("rn"))
    g = r.select(
        "user_id", F.date_sub(F.col("day"), F.col("rn").cast("int")).alias("grp")
    )
    islands = g.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return islands.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.sum("len").cast("bigint").alias("active_days"),
    )


@query(
    "q141_longest_streak",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    r AS (SELECT user_id, day,
                 row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
          FROM d),
    g AS (SELECT user_id, day - CAST(rn AS INTEGER) AS grp, COUNT(*) AS len
          FROM r GROUP BY user_id, day - CAST(rn AS INTEGER))
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM g GROUP BY user_id
    """,
    doc="Gaps-and-islands: longest run of consecutive active days per "
    "key via the day-minus-row_number island id (consecutive days share "
    "one constant). The retention sibling of q31's session windows — "
    "session_window gaps are time-delta based; this is calendar-exact. "
    "Distinct-day reduction first, so the window sorts at most span "
    "days per key; everything stays in one user_id shuffle family.",
    tags=("window", "retention", "streaks"),
)
def q141_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaks_plan(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# q142: TWAP (time-weighted average price)
# --------------------------------------------------------------------------

def twap_plan(e: DataFrame) -> DataFrame:
    """events(user_id, event_id, ts, value) -> per-key daily TWAP."""
    t = e.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    wn = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    t = t.select(
        "user_id",
        "day",
        "value",
        (
            # ts is TIMESTAMP_NTZ from parquet; unix_micros needs TIMESTAMP.
            # Both operands get the same session-tz shift, so the delta is
            # unaffected.
            F.unix_micros(
                F.coalesce(
                    F.lead("ts").over(wn),
                    F.date_add(F.col("day"), 1).cast("timestamp"),
                ).cast("timestamp")
            )
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("w_us"),
    )
    # All-integer arithmetic: value in 1e-4 units (exact from DECIMAL),
    # weight in microseconds. The numerator sum exceeds 2^53, and the two
    # engines' DECIMAL->DOUBLE casts round differently up there (Spark's
    # BigDecimal path is correctly rounded, DuckDB divides int128 by
    # 10^scale in double) — ULP mismatches. BIGINT->DOUBLE is correctly
    # rounded in both, and both operands fit int64: numerator <=
    # max_units x a day of us ~ 4e17; denominator = sum(w_us) x 1e4 <=
    # 8.64e14 (< 2^53, so its double is even exact).
    units = (F.col("value").cast(DEC) * 10000).cast("bigint")
    return t.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        (
            F.sum(units * F.col("w_us")).cast("double")
            / (F.sum("w_us") * 10000).cast("double")
        ).alias("twap"),
    )


@query(
    "q142_twap",
    oracle="""
    WITH t AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, value,
             lead(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS next_ts
      FROM events
    ),
    w AS (
      SELECT user_id, day, value,
             date_diff('microsecond', ts,
                       COALESCE(next_ts, CAST(day + INTERVAL 1 DAY AS TIMESTAMP))) AS w_us
      FROM t
    )
    SELECT user_id, day,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) * w_us)
                     AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(w_us) * 10000 AS BIGINT) AS DOUBLE) AS twap
    FROM w GROUP BY user_id, day
    """,
    doc="Time-weighted average price: each tick's value holds until the "
    "next tick (the last until end of day), weights are integer "
    "microseconds, value x weight sums in DECIMAL — exact and order-"
    "independent, one double division at the end. The execution-quality "
    "twin of q136's VWAP (VWAP weights by traded size, TWAP by elapsed "
    "time). One lead window + one hash aggregate, both on (user, day).",
    tags=("window", "agg", "timeseries", "gold"),
)
def q142_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return twap_plan(_events(spark, sf_dir))


# --------------------------------------------------------------------------
# q143: week-over-week growth (window AFTER aggregation)
# --------------------------------------------------------------------------

@query(
    "q143_weekly_growth",
    oracle="""
    WITH wk AS (
      SELECT event_type, date_trunc('week', ts) AS week_start,
             SUM(CAST(value AS DECIMAL(18,4))) AS rev
      FROM events GROUP BY event_type, date_trunc('week', ts)
    )
    SELECT event_type, week_start,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev - lag(rev) OVER (PARTITION BY event_type ORDER BY week_start)
                AS DOUBLE) AS wow_delta,
           CAST(rev AS DOUBLE)
             / CAST(lag(rev) OVER (PARTITION BY event_type ORDER BY week_start)
                    AS DOUBLE) AS wow_ratio
    FROM wk
    """,
    doc="Week-over-week growth per series: decimal-exact weekly rollup, "
    "then lag/delta/ratio. The window partitions on the low-cardinality "
    "event_type BUT only AFTER aggregation has reduced the frame to "
    "(series x weeks) — dimension-sized, so the skew hazard that made "
    "q127's pre-aggregation lang window a 100x finding does not exist "
    "here. The pattern to document: low-card windows are fine on "
    "dimension-sized frames, never on data-sized ones. First week's "
    "lag is NULL in both engines.",
    tags=("window", "agg", "timeseries", "growth"),
)
def q143_weekly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    wk = e.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).cast("date").alias("week_start")
    ).agg(F.sum(F.col("value").cast(DEC)).alias("rev"))
    wl = Window.partitionBy("event_type").orderBy("week_start")
    return wk.select(
        "event_type",
        "week_start",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev") - F.lag("rev").over(wl)).cast("double").alias("wow_delta"),
        (F.col("rev").cast("double") / F.lag("rev").over(wl).cast("double")).alias(
            "wow_ratio"
        ),
    )


# --------------------------------------------------------------------------
# q144: integer PageRank over the co-purchase graph (fixed iterations)
# --------------------------------------------------------------------------

from ..operators.graph import PR_BASE as _PR_BASE  # noqa: E402
from ..operators.graph import PR_SCALE as _PR_SCALE  # noqa: E402

_PR_ITERS = 3


def copurchase_sym_edges(li: DataFrame, distinct: bool = True) -> DataFrame:
    """Symmetrized co-purchase edge list: distinct (order, part) pairs
    paired within each order (u < v kills self-loops and halves the
    intermediate), then mirrored. Shared by the oracle-form lazy unroll
    and the registry query so both walk the identical graph.

    Built on order_part_pairs (one order-keyed exchange with map-side
    partial sets — not a self-join; the join form cost a distinct
    exchange on (order, part) PLUS a sort-merge join sorting 60M rows
    twice at sf10) followed by the (u, v) distinct. Same distinct pair
    set, bit-for-bit (r16: edge build 87.5 s -> measured win recorded
    in BENCH_NOTES).

    ``distinct=False`` skips the pair-level DISTINCT for consumers that
    deduplicate per node anyway (r17): pagerank's adjacency build is a
    ``collect_set``, so the same-set guarantee holds while the full
    edge-sized exchange+sort the DISTINCT paid disappears — at sf10 the
    co-purchase pair multiset is ~1:1 with its set, so that exchange
    bought nothing. Consumers that COUNT edges (the lazy unrolled
    pagerank_plan derives degree via GROUP BY u COUNT(*)) must keep the
    default.

    r18: the distinct=False branch mirrors IN-ROW — all ordered pairs
    i != j of the same sorted distinct part array in ONE Generate —
    instead of union-mirroring the half-pair frame, which planned the
    basket build + C(L,2) expansion TWICE (ReuseExchange shares the
    baskets shuffle, but each union branch re-ran the in-row expansion
    over it). Multiset identity: {(e_i, e_j) : i < j} u {(e_j, e_i) :
    i < j} = {(e_i, e_j) : i != j}, and ps is distinct so p.u != p.v
    filters exactly the i == j diagonal."""
    if not distinct:
        # int-narrowed part keys (§2.3): the basket exchange and the
        # 2x-edge-sized downstream payloads (pagerank's adjacency sets)
        # ship 4-byte elements; the guard raises loudly past int range
        # (drop the cast at that scale — everything downstream is
        # width-agnostic). No array_sort: the ordered-pair multiset and
        # the per-node collect_set downstream are enumeration-order-
        # independent, so the i<j orientation the sorted array bought
        # the distinct=True branch buys nothing here.
        pk = F.when(
            (F.col("l_partkey") >= F.lit(-2147483648))
            & (F.col("l_partkey") <= F.lit(2147483647)),
            F.col("l_partkey").cast("int"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("copurchase_sym_edges: part key overflows int: "),
                    F.col("l_partkey").cast("string"),
                )
            )
        )
        ps = (
            li.select("l_orderkey", pk.alias("_pk"))
            .groupBy("l_orderkey")
            .agg(F.collect_set("_pk").alias("_ps"))
            .filter(F.size("_ps") >= 2)
            .select("_ps")
        )
        both = F.expr(
            "filter(flatten(transform(_ps, x ->"
            " transform(_ps, y -> struct(x AS u, y AS v)))),"
            " p -> p.u != p.v)"
        )
        return ps.select(F.explode(both).alias("_p")).select("_p.u", "_p.v")
    half = order_part_pairs(li.select("l_orderkey", "l_partkey")).distinct()
    return half.unionByName(half.select(F.col("v").alias("u"), F.col("u").alias("v")))


def pagerank_plan(li: DataFrame, n_iters: int = _PR_ITERS) -> DataFrame:
    """lineitem(l_orderkey, l_partkey) -> top items by co-purchase PageRank.

    ALL-INTEGER PageRank: ranks live in 1e-6 units, each step is
    r'(v) = base + (85 * sum(r(u) DIV deg(u))) DIV 100 over in-neighbors.
    Truncating integer division behaves identically in Spark (DIV) and
    DuckDB (//) on the all-positive ranks, so a fixed-iteration unroll is
    bit-replayable in SQL — the same engine-matches-oracle trick as the
    unrolled min-label cluster oracle (queries_text2; the engine side of
    that one is now star contraction, the oracle stays propagation). The
    floor remainders damp total mass slightly; rankings are what the
    query contracts, not mass conservation.

    This is the ORACLE-FORM twin: fully lazy, so the whole unroll is one
    Catalyst plan — exactly what the SQL oracle replays. The registry
    query (q144) runs operators/graph.pagerank instead, which is the
    same recursion with edges/deg/per-round ranks materialized
    (bit-equality pinned by tests/test_operators.py
    TestGraphPagerank): at sf10 the lazy unroll's overlapping hash-agg
    stages can exhaust the shared execution pool late in a long
    session (r13 smoke: UNABLE_TO_ACQUIRE_MEMORY), while the
    materialized form runs each round as its own bounded job.

    Scale shape: each iteration is one ranks->edges join (ranks are
    node-dimension-sized — broadcastable well past 1e8 nodes) plus one
    groupBy(v) reduce on the data-sized edge list. Fixed n_iters bounds
    the lazy plan depth.
    """
    edges = copurchase_sym_edges(li)
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ranks = deg.select(
        F.col("u").alias("node"), F.lit(_PR_SCALE).cast("bigint").alias("rank")
    )
    for _ in range(n_iters):
        contrib = (
            ranks.join(deg, ranks.node == deg.u)
            .select("node", F.expr("rank DIV d").alias("c"))
            .join(edges, F.col("node") == edges.u)
            .select("v", "c")
        )
        ranks = contrib.groupBy(F.col("v").alias("node")).agg(
            (F.lit(_PR_BASE) + F.expr("(85 * sum(c)) DIV 100"))
            .cast("bigint")
            .alias("rank")
        )
    return (
        ranks.select(F.col("node").alias("part_id"), F.col("rank").alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "part_id")
        .limit(100)
    )


@query(
    "q144_pagerank_copurchase",
    oracle="""
    WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    edges AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
    r1 AS MATERIALIZED (
      SELECT e.v AS node, 150000 + (85 * SUM(r.rank // d.d)) // 100 AS rank
      FROM r0 r JOIN deg d ON r.node = d.u JOIN edges e ON e.u = r.node
      GROUP BY e.v
    ),
    r2 AS MATERIALIZED (
      SELECT e.v AS node, 150000 + (85 * SUM(r.rank // d.d)) // 100 AS rank
      FROM r1 r JOIN deg d ON r.node = d.u JOIN edges e ON e.u = r.node
      GROUP BY e.v
    ),
    r3 AS (
      SELECT e.v AS node, 150000 + (85 * SUM(r.rank // d.d)) // 100 AS rank
      FROM r2 r JOIN deg d ON r.node = d.u JOIN edges e ON e.u = r.node
      GROUP BY e.v
    )
    SELECT node AS part_id, CAST(rank AS BIGINT) AS pagerank
    FROM r3 ORDER BY pagerank DESC, part_id LIMIT 100
    """,
    doc="Fixed-iteration integer PageRank over the undirected co-purchase "
    "graph: item centrality for recommendation/curation. Every arithmetic "
    "step is int64 with truncating division, so the 3-round unroll "
    "replays bit-for-bit in SQL — the iterative-algorithm oracle pattern "
    "(match the engine's iteration, don't recompute reachability) "
    "applied to a numeric fixpoint. Deterministic top-100. Runs the "
    "materialized operators/graph.pagerank (adjacency checkpointed once, "
    "each round's ranks checkpointed, releasing the round they supersede; "
    "an adjacency of at most LOCAL_FINISH_ROWS edges runs its rounds in "
    "numpy on the driver instead) — "
    "bit-equal to the lazy pagerank_plan unroll the oracle replays "
    "(pinned by TestGraphPagerank on both paths), but each round is its "
    "own bounded job, so late-session execution-memory pressure cannot "
    "starve the overlapped unrolled stages (r13 sf10 smoke fix).",
    tags=("graph", "iterative", "affinity", "topk"),
)
def q144_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    li = tables.load(spark, sf_dir, "lineitem")
    # distinct=False (r17): pagerank's adjacency is a collect_set, so
    # the pair-level DISTINCT was a redundant edge-sized exchange+sort
    # layered under the same dedup — adjacency sets verified identical
    # over all 2M sf10 nodes (array_except both ways = 0), ranks
    # bit-identical. sf10 adj build 38.0 -> 27.5 s.
    ranks = pagerank(copurchase_sym_edges(li, distinct=False), n_iters=_PR_ITERS)
    # the edge build narrows part keys to int (guarded, r18); the output
    # contract stays BIGINT part_id — the cast back is exact
    return (
        ranks.select(
            F.col("node").cast("bigint").alias("part_id"),
            F.col("rank").alias("pagerank"),
        )
        .orderBy(F.col("pagerank").desc(), "part_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q145: table profile — per-column stats in ONE scan, unpivoted
# --------------------------------------------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "q145_table_profile",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS DOUBLE) AS min_val,
           CAST(MAX({c}) AS DOUBLE) AS max_val
    FROM lineitem"""
        for c in _PROFILE_COLS
    ),
    doc="ANALYZE-style table profile: row/null/distinct counts plus "
    "min/max for every measure column, unpivoted to one row per column "
    "— the stats pass a pipeline runs before choosing clip thresholds, "
    "and the numbers a table format keeps per file for data skipping "
    "(maintenance.pruned_scan consumes exactly these). The Spark plan "
    "computes ALL columns in ONE scan (a single multi-aggregate, then "
    "an in-memory unpivot of the 1-row result); the oracle's UNION ALL "
    "re-scans per column — at 100 TB that difference is the whole "
    "point: profile passes must not multiply scans by column count.",
    tags=("agg", "profile", "quality", "unpivot"),
)
def q145_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    # r17 (the q37 mixed-distinct lesson, guide §2.3): N countDistincts
    # in ONE aggregate make RewriteDistinctAggregates EXPAND every input
    # row N+1 times (sf10: 60M rows x 5 through the partial aggregate —
    # measured 11.8 s while the plain agg alone is 0.57 s). Split: the
    # non-distinct stats stay one scan; each distinct count becomes its
    # own COLUMN-PRUNED scan + map-side partial distinct (tiny domains
    # collapse before the exchange). Columnar total I/O is unchanged —
    # each column is still read exactly once — so the "profile must not
    # multiply table scans" posture holds; measured 11.8 -> 4.2 s.
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).cast("bigint").alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias(f"{c}__nulls"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    dists = None
    for c in _PROFILE_COLS:
        # distinct non-null values: distinct() keeps at most one NULL
        # row and count(c) excludes it — exactly COUNT(DISTINCT c)
        d = li.select(c).distinct().agg(F.count(c).cast("bigint").alias(f"{c}__distinct"))
        dists = d if dists is None else dists.crossJoin(d)
    one = li.agg(*aggs).crossJoin(F.broadcast(dists))
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(structs).alias("p")).select("p.*")


# --------------------------------------------------------------------------
# q146: SCD2 validity intervals (state-change history build)
# --------------------------------------------------------------------------

@query(
    "q146_scd2_intervals",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS prev_type
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, ts AS valid_from, event_id, event_type
      FROM o WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           (lead(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id) IS NULL)
             AS is_current
    FROM changes
    """,
    doc="SCD type-2 history build: collapse each key's event stream to "
    "state-change rows (lag filter), then derive [valid_from, valid_to) "
    "intervals with lead — the warehouse pattern that turns an append "
    "log into a queryable dimension history (the batch construction "
    "behind pipeline/versioned.py's time travel). Open intervals "
    "(valid_to NULL) mark current state. Two windows, both keyed on "
    "the high-cardinality user_id, second one over the already-"
    "collapsed change rows.",
    tags=("window", "scd2", "warehouse", "history"),
)
def q146_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.lag("event_type").over(wo).alias("prev_type"),
    )
    changes = o.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select("user_id", F.col("ts").alias("valid_from"), "event_id", "event_type")
    wi = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    nxt = F.lead("valid_from").over(wi)
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# q147: sequential pattern mining — top event-type trigram paths
# --------------------------------------------------------------------------

@query(
    "q147_event_trigrams",
    oracle="""
    WITH tri AS (
      SELECT lag(event_type, 2) OVER w AS e1,
             lag(event_type, 1) OVER w AS e2,
             event_type AS e3
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
    FROM tri WHERE e1 IS NOT NULL
    GROUP BY path ORDER BY n DESC, path LIMIT 25
    """,
    doc="Sequential pattern mining (n-gram-over-events form): each key's "
    "ordered stream yields sliding event-type trigrams via two lags in "
    "ONE window pass — no self-joins, no explode — then a global count "
    "ranks the paths. The behavioral twin of the text bigram miner "
    "(q54): same sliding-window-then-count shape, time-ordered instead "
    "of token-ordered. Deterministic top-25.",
    tags=("window", "sequence", "funnel", "topk"),
)
def q147_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = e.select(
        F.lag("event_type", 2).over(w).alias("e1"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.col("event_type").alias("e3"),
    ).filter(F.col("e1").isNotNull())
    return (
        tri.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(25)
    )
