"""Custom stateful streaming operators via applyInPandasWithState
[EXT, SURVEY.md §2.10 — the reference has no stateful ops; these make
the engine streaming-complete for per-key running state that windowed
aggs can't express].

running_user_stats: per-key cumulative (count, sum, max) maintained in
GroupState across micro-batches — the canonical shape for online
feature accumulation (e.g., per-symbol running VWAP in the reference's
domain). streaming_cusum: the per-key CUSUM recursion behind q174's
batch calibration. Both work identically under availableNow batches and
continuous triggers; state is bounded per key (a fixed-width tuple), so
each operator scales with key cardinality, not event volume.

applyInPandasWithState is the engine's one custom-state API. Spark 4's
transformWithStateInPandas talks to its state server over protobuf,
which is not among the package's dependencies (pyproject.toml).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

STATS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

STATS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


def _update_user_stats(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        n += int(vals.size)
        total += float(vals.sum())
        if vals.size:
            mx = max(mx, float(vals.max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "max_value": [mx if mx != float("-inf") else None],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Streaming per-user running stats; emits one updated row per key per
    micro-batch (outputMode=update)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=STATS_OUTPUT_SCHEMA,
            stateStructType=STATS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM detector — the deployment twin of q174_cusum_alarms:
# the BATCH query calibrates (reference mean, alarm threshold) over
# history; this operator carries the sequential S_t = max(0, S_{t-1} +
# (x_t - mean)) recursion per key across micro-batches. State is three
# int64s per key, so the operator scales with key cardinality, not
# event volume. Fixed-point conversion happens Catalyst-side (the same
# DECIMAL cast the batch query uses), so stream and batch agree to the
# unit; rows are ordered by (ts, event_id) inside each group to pin
# the recursion order (tests/test_streaming.py replays the literal
# recursion for equality).
# ---------------------------------------------------------------------------

CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("cusum_fp", T.LongType()),
        T.StructField("max_cusum_fp", T.LongType()),
        T.StructField("n_alarms", T.LongType()),
    ]
)

CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("s", T.LongType()),
        T.StructField("mx", T.LongType()),
        T.StructField("alarms", T.LongType()),
    ]
)


def _make_cusum_update(mean_fp: int, h_fp: int):
    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        s, mx, alarms = state.get if state.exists else (0, 0, 0)
        chunks = [p for p in pdfs if len(p)]
        batch = (
            chunks[0]
            if len(chunks) == 1
            else pd.concat(chunks, ignore_index=True)
            if chunks
            else None
        )
        if batch is not None:
            # Vectorized Lindley recursion (r12; the per-row Python loop
            # capped the operator at ~200k rows/s at sf10). With
            # d_t = x_t - mean, C_t = cumsum(d), the reflected recursion
            # s_t = max(0, s_{t-1} + d_t) has the closed form
            #   s_t = max(s_0 + C_t, C_t - min_{1<=k<=t} C_k)
            # (last-reset decomposition: either no reset since carry-in,
            # or the best reset point k; the k = t term makes the second
            # candidate >= 0, which subsumes the floor). All-numpy,
            # including the (ts, event_id) ordering via lexsort — a
            # 67-row pandas sort_values cost MORE than the whole kernel
            # at the sf10 batch shape (150k keys x 67 rows; measured
            # 2.3x). Bit-identical to the loop, property-pinned in
            # tests/test_streaming.py.
            order = np.lexsort(
                (batch["event_id"].to_numpy(), batch["ts"].to_numpy())
            )
            x = batch["x_fp"].to_numpy(dtype="int64")[order]
            # int64 safety gate, checked in arbitrary-precision Python ints:
            # the worst-case |cumsum| is n*max|x - mean| and the recursion
            # adds the carry-in s. The old per-row loop used Python ints and
            # could not wrap; the numpy kernel must surface the (absurd, but
            # possible) overflow as an error, never as wrong alarm counts.
            amax = int(np.abs(x).max()) + abs(int(mean_fp))
            if amax * x.size + abs(s) >= 2**63:
                raise OverflowError(
                    "CUSUM fixed-point magnitudes exceed the int64 bound of "
                    "the vectorized kernel (|x-mean|*batch + |carry| >= 2^63)"
                )
            c = np.cumsum(x - mean_fp)
            st = np.maximum(s + c, c - np.minimum.accumulate(c))
            s = int(st[-1])
            mx = max(mx, int(st.max()))
            alarms += int((st > h_fp).sum())
        state.update((s, mx, alarms))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "cusum_fp": [s],
                "max_cusum_fp": [mx],
                "n_alarms": [alarms],
            }
        )

    return update


def streaming_cusum(events: DataFrame, mean_fp: int, h_fp: int) -> DataFrame:
    """Per-key streaming CUSUM against a calibrated reference mean and
    threshold (both in DECIMAL(18,4)*10000 fixed-point units, e.g. from
    q174's batch calibration). Emits the updated detector row per key
    per micro-batch (outputMode=update)."""
    from pyspark.sql import functions as F

    keyed = events.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,4)") * 10000).cast("bigint").alias("x_fp"),
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _make_cusum_update(mean_fp, h_fp),
        outputStructType=CUSUM_OUTPUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
