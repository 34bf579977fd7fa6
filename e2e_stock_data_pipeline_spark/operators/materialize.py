"""Spill-safe eager materialization for iterative operators.

Iterative operators (connected components, PageRank, BFS, k-core,
greedy coverage) must materialize their loop-carried frames once per
round — re-deriving them would re-execute the whole upstream pipeline
per iteration. The obvious tool, ``localCheckpoint(eager=True)``,
defaults to DESERIALIZED memory-and-disk storage: each task unrolls its
partition as full JVM row objects in a growing array before the block
manager can account for it. At sf10 the q56 near-dup graph symmetrizes
to 672M edge rows in 32 inherited partitions — 21M row objects per
task, 32 concurrent tasks — and the unroll OOMs an 8 GiB heap before a
single block is evicted (observed: GCLocker retry failures on ~16 MB
array growth steps, then Java heap space in the localCheckpoint job).

:func:`materialize` fixes both failure modes:

* DISK_ONLY storage — tasks stream-serialize their partition straight
  to local block files, so unroll memory is bounded by the serializer
  buffer regardless of partition size. (MEMORY_AND_DISK serialized was
  tried first and still OOMed: 32 concurrent unrolls of ~400 MB blocks
  compete with the join's execution memory in the unified pool, and
  the reservation accounting trails the serializer's buffer growth.)
  On a warm box the OS page cache serves the re-reads at memory speed,
  and the per-round deserialization cost is identical to what a
  serialized in-memory level would pay — this is the local-mode analog
  of the cluster-scale checkpoint-to-durable-storage the operator docs
  prescribe;
* sized re-widening — the checkpoint's row count is checked against a
  per-task bound and the frame is reshuffled to ``ceil(n / 5M)``
  partitions when the inherited width would leave multi-GB partitions
  for every downstream round (the same rows-per-task rule as
  operators/asof.asof_shuffle_width).

Pass ``cols`` when downstream rounds join the frame on specific keys:
the widening repartition then hash-partitions on those columns so the
co-location the caller set up survives.

It is also the eager operators' one round protocol: ARCHITECTURE.md,
"Eager rounds".

:func:`session_memo` is the engine's one store for values reused within
a Spark application: prepared query plans, table frames and the
materialized graph/dedup frames several queries share. Its policy is in
ARCHITECTURE.md, "Session memos".
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Same bound as operators/asof.py: a cached/sorted partition beyond this
# row count risks unspillable pressure; below it, fewer tasks win.
MAX_ROWS_PER_TASK = 5_000_000

# Once a round's checkpoint observes at most this many edges, connected
# components and pagerank collect the live graph and finish it exactly
# in numpy on the driver (ARCHITECTURE.md, "Eager rounds"): 2M
# (long, long) edges are 32 MB, the same order as the node tables CC
# already broadcasts. Read at call time; 0 keeps every round distributed.
LOCAL_FINISH_ROWS = 2_000_000


def materialize(
    df: DataFrame,
    *cols: str,
    widen: bool = True,
    observe: Sequence[Column] = (),
    release: Iterable[DataFrame | None] = (),
) -> tuple[DataFrame, dict[str, Any]]:
    """Eagerly materialize ``df`` with serialized spill-safe storage,
    re-widening to ``ceil(rows / MAX_ROWS_PER_TASK)`` partitions (hash
    partitioned on ``cols`` when given) if the inherited partitioning
    is coarser than the bound. Returns ``(frame, stats)``; the interim
    narrow frame is unpersisted when a re-widen happens.

    ``stats`` maps ``n`` (the row count) and the alias of each aggregate
    in ``observe`` (no DISTINCT) to its value, all observed on the
    checkpoint job itself: no other job runs. ``release`` lists the
    frames this one supersedes (earlier results; ``None`` is skipped),
    unpersisted once the checkpoint has run: nothing may read them later.

    ``widen=False`` skips the re-widen: correct when every downstream
    consumer re-exchanges the frame anyway (scan-side map partitions
    stream, they hold no sort/agg state, so the 5M-row bound doesn't
    apply). For CC's 336M-row sf10 edge set the re-widen was a SECOND
    full checkpoint write plus a full shuffle — ~60 s of pure overhead
    (r12 measurement)."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n"), *observe).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    stats = obs.get
    unpersist_materialized(*release)
    need = max(1, -(-stats["n"] // MAX_ROWS_PER_TASK))
    if widen and need > out.rdd.getNumPartitions():
        out, _ = materialize(out.repartition(need, *cols), widen=False, release=[out])
    return out, stats


def unpersist_materialized(*frames: DataFrame | None) -> None:
    """Release the block-manager storage behind frames returned by
    :func:`materialize` (``None`` is skipped): for what no later
    checkpoint supersedes. ``Dataset.unpersist()`` is NOT enough: it
    only clears CacheManager entries, and a localCheckpoint's
    persistence lives on the internal RDD wrapped by the LogicalRDD plan
    node — so iterative operators that called ``.unpersist()`` per round
    were silently accumulating every round's blocks (found in r12 while
    wiring the session-lifecycle release). Reaches the RDD through the
    analyzed plan; a frame whose plan isn't a LogicalRDD (a projection
    of a checkpoint, say) is left alone, for the session-level
    registry.release sweep."""
    for df in (f for f in frames if f is not None):
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:  # noqa: BLE001 — non-checkpoint plan or dead session
            pass


# (applicationId, *key) -> (value, backing RDD ids, spared by release)
_MEMO: dict[tuple, tuple[Any, tuple[int, ...], bool]] = {}


def session_memo(
    spark,
    key: tuple,
    build: Callable[[], Any],
    *,
    spare: bool = True,
    pure: bool = False,
) -> Any:
    """``build()``'s value, memoized under ``(applicationId, *key)``.

    Every call first evicts other applications' entries. The frames of
    the value (a DataFrame or a tuple of them) that are persisted
    checkpoints back the entry: a hit is served only while all of them
    are still persisted, otherwise it is rebuilt, because a checkpointed
    frame cannot recompute once its blocks drop. :func:`release_memos`
    drops entries made with ``spare=False``. ``pure=True`` stores only a
    build that launched no Spark job, so an eager build is never
    replaced by a read of its own result."""
    try:
        sc = spark.sparkContext
        app = sc.applicationId
    except Exception:  # noqa: BLE001 — no live context: just build
        return build()
    _evict_other_apps(app)
    full = (app, *key)
    hit = _MEMO.get(full)
    if hit is not None:
        if not hit[1] or _all_persisted(sc, hit[1]):
            return hit[0]
        del _MEMO[full]
    before = _last_job_id(sc) if pure else None
    value = build()
    if not pure or _last_job_id(sc) == before:
        _MEMO[full] = (value, _backing_rdd_ids(sc, value), spare)
    return value


def drop_memos(match: Callable[[tuple], bool]) -> None:
    """Drop every entry whose key (without the application id) matches."""
    for k in [k for k in _MEMO if match(k[1:])]:
        del _MEMO[k]


def release_memos(spark) -> tuple[int, set[int]]:
    """Drop other applications' entries, dead ones and every non-spared
    one. Returns (non-spared entries dropped, RDD ids the spared entries
    left still need)."""
    sc = spark.sparkContext
    _evict_other_apps(sc.applicationId)
    n_dropped = 0
    for k, (_value, ids, spare) in list(_MEMO.items()):
        if not spare:
            n_dropped += 1
            del _MEMO[k]
        elif ids and not _all_persisted(sc, ids):
            del _MEMO[k]
    return n_dropped, {rid for _value, ids, _spare in _MEMO.values() for rid in ids}


def _evict_other_apps(app: str) -> None:
    for k in [k for k in _MEMO if k[0] != app]:
        del _MEMO[k]


def _all_persisted(sc, ids) -> bool:
    live = sc._jsc.getPersistentRDDs()
    return all(live.containsKey(rid) for rid in ids)


def _last_job_id(sc) -> int:
    # ids grow monotonically, so the max still moves once the tracker
    # starts forgetting old jobs (a count of retained ids would not)
    return max(sc.statusTracker().getJobIdsForGroup(None) or [], default=-1)


def _backing_rdd_ids(sc, value) -> tuple[int, ...]:
    ids = []
    for df in value if isinstance(value, tuple) else (value,):
        try:
            ids.append(df._jdf.queryExecution().analyzed().rdd().id())
        except Exception:  # noqa: BLE001 — not a LogicalRDD: nothing backs it
            pass
    live = sc._jsc.getPersistentRDDs() if ids else None
    return tuple(rid for rid in ids if live.containsKey(rid))
