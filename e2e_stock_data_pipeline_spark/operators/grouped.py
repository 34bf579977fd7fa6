"""Grouped-map pandas operator (applyInPandas) [EXT] — the per-key
RECURSIVE kernel windowed SQL cannot express (each output depends on
the previous output): ``per_key_ema`` (q125, the unbounded-series form
of q118's Catalyst fold). Everything Catalyst can express stays off
this path. Arrow-batched; state is one group in memory at a time, so
the operator scales with max-group size, not table size (salt long
groups upstream if a single key exceeds executor memory). The kernel
sorts its group deterministically (ts, event_id first) before the
recursion.
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
