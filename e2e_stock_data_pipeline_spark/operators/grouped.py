"""Grouped-map pandas operators (applyInPandas) [EXT] — the per-key
RECURSIVE kernels windowed SQL cannot express (each output depends on
the previous output): ``per_key_ema`` (q125, the unbounded-series form
of q118's Catalyst fold) and ``per_key_macd``. Everything Catalyst can
express stays off this path. Arrow-batched; state is one group in
memory at a time, so the operator scales with max-group size, not table
size (salt long groups upstream if a single key exceeds executor
memory). Each kernel sorts its group deterministically (ts, event_id
first) before the recursion.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

EMA_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_obs", T.LongType()),
        T.StructField("ema", T.DoubleType()),
    ]
)


def _ema_group(pdf: pd.DataFrame, alpha: float) -> pd.DataFrame:
    # (ts, event_id, value) ordering mirrors plans/queries_ext5.ema_plan's
    # struct sort, value as the tertiary tie-break.
    pdf = pdf.sort_values(["ts", "event_id", "value"])
    ema = pdf["value"].ewm(alpha=alpha, adjust=False).mean().iloc[-1]
    return pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_obs": [len(pdf)],
            "ema": [float(ema)],
        }
    )


# alphas for which pandas ewm(adjust=False) is BIT-equal to the explicit
# y_t = a*x_t + (1-a)*y_{t-1} recursion q118's Catalyst fold runs: ewm
# divides by accumulated weights (old_wt + new_wt), which only collapses
# to the plain recursion when alpha and 1-alpha are exactly representable
# and sum to exactly 1.0 — true for these dyadic values, false for e.g.
# alpha=0.3 (ADVICE r7). Callers needing other alphas should extend this
# set only after re-running the bit-equality property test with them.
_EXACT_ALPHAS = frozenset({0.25, 0.5, 0.75, 0.125, 0.375, 0.625, 0.875})


def per_key_ema(events: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Final EMA per key — the unbounded-series form of q118's fold.

    q118 (plans/queries_ext5.ema_plan) collects each key's series into
    one array and folds it with Catalyst `aggregate`: O(series) heap
    per key on a single expression — ideal for bounded bar series. For
    UNBOUNDED keys this applyInPandas twin streams each group through
    an Arrow batch instead of materializing an array inside an agg
    buffer, so memory is governed by spark.sql.execution.arrow batch
    handling rather than a single collect_list cell. pandas' adjust=False
    ewm runs the identical recursion y_t = a*x_t + (1-a)*y_{t-1} in
    float64, and the property test (tests/test_ext5_properties.py)
    pins BIT-EQUALITY against ema_plan on the same data.

    That bit-equality holds only for dyadic alphas where alpha and
    1-alpha are exact in float64 and sum to exactly 1.0 (_EXACT_ALPHAS);
    other values silently diverge from the fold in the last ulp, so
    they are rejected rather than allowed to break the hash-verified
    parity this docstring promises (ADVICE r7).

    Same output contract as ema_plan: (user_id, n_obs, ema).
    """
    if alpha not in _EXACT_ALPHAS:
        raise ValueError(
            f"alpha={alpha} is not in the bit-equality-validated set "
            f"{sorted(_EXACT_ALPHAS)}; pandas ewm only matches the Catalyst "
            "fold exactly for dyadic alphas (see _EXACT_ALPHAS note)"
        )
    return (
        events.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(lambda pdf: _ema_group(pdf, alpha), schema=EMA_SCHEMA)
    )


MACD_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("macd", T.DoubleType()),
        T.StructField("macd_signal", T.DoubleType()),
        T.StructField("macd_hist", T.DoubleType()),
    ]
)


def _macd_group(pdf: pd.DataFrame, fast: int, slow: int, signal: int) -> pd.DataFrame:
    pdf = pdf.sort_values(["ts", "event_id"])
    ema_fast = pdf["value"].ewm(span=fast, adjust=False).mean()
    ema_slow = pdf["value"].ewm(span=slow, adjust=False).mean()
    macd = ema_fast - ema_slow
    sig = macd.ewm(span=signal, adjust=False).mean()
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "user_id": pdf["user_id"],
            "macd": macd,
            "macd_signal": sig,
            "macd_hist": macd - sig,
        }
    )


def per_key_macd(
    events: DataFrame, fast: int = 12, slow: int = 26, signal: int = 9
) -> DataFrame:
    """MACD(fast, slow, signal) per key — the classic momentum gold
    feature (EMA(fast) - EMA(slow), plus its EMA(signal) line and the
    histogram). Triple-recursive, so it rides the same sanctioned
    applyInPandas path as per_key_ema: one key's series per kernel
    call, deterministic in-kernel ordering by (ts, event_id)."""
    return (
        events.select("event_id", "user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(
            lambda pdf: _macd_group(pdf, fast, slow, signal), schema=MACD_SCHEMA
        )
    )
