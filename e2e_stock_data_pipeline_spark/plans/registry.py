"""Named query inventory.

Every operator the engine claims (SURVEY.md §2) is exposed here as a
named query: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus
an equivalent ANSI-SQL oracle string that DuckDB runs on the same
parquet tables. The driver's correctness gate compares
the two (row count + schema + order-insensitive value hash), so:

* every computed column is aliased IDENTICALLY on both sides;
* money-style aggregates go through DECIMAL so sums are exact (and
  bit-identical after the final cast to DOUBLE) in both engines;
* top-k queries carry explicit deterministic tie-breakers.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.materialize import release_memos, session_memo

SparkQuery = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str  # ANSI SQL for DuckDB
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    # Set when the oracle SQL references a literal path and is therefore
    # only valid at one sf (the driver's correctness sf): local tests must
    # run the Spark side against this dir too.
    pinned_sf_dir: str | None = None
    # Required for queries tagged "baseline" (deliberately quadratic
    # correctness anchors): the registered scale-safe query that replaces
    # them on the production path. Enforced by tests/test_plans.py.
    scale_twin: str | None = None


def release(spark: SparkSession) -> dict:
    """Between-queries lifecycle hygiene for sweep/gate contexts.

    A long single-session sweep accumulates executor-side state that no
    individual query can release on its own (VERDICT r11: q144 died at
    query #150 of the 196-query sf10 smoke from exactly this):

    * localCheckpoint blocks from iterative operators (connected
      components, PageRank, two-pass ranks) — the FINAL materialized
      frame backs the returned DataFrame, so the operator itself cannot
      unpersist it; once the caller has consumed the result it is dead
      weight. Enumerated and unpersisted here via the context's
      persistent-RDD map (the local-mode analog of a cluster's
      ContextCleaner sweep, but synchronous and unconditional).
    * broadcast blocks from BroadcastHashJoins — freed by the JVM
      ContextCleaner only once the driver-side plan references are
      garbage; clearing the prepared-plan cache plus an explicit
      gc.collect() cuts those references NOW instead of at an arbitrary
      future GC.
    * catalog-cached tables/views (none on the query path today, but a
      user session may have cached some): spark.catalog.clearCache().

    Returns counts (and the unpersisted RDD ids) of what was released.
    Safe to call between any two queries: the table memo keeps plain
    (unpersisted) scans, the plan cache rebuilds on demand, and
    correctness never depends on persisted state.

    CONTRACT (enforced by callers, diagnosable here): a localCheckpoint-
    backed DataFrame a caller still holds but has not consumed becomes
    permanently unrecomputable after release (checkpointing truncates
    lineage, so the frame cannot rebuild once its blocks are dropped).
    Sweep drivers must therefore fully consume each query's result
    before calling release. The ids are logged at INFO so a later
    "RDD ... not found" failure can be matched to the release that
    dropped it.

    Session memos (ARCHITECTURE.md, "Session memos"): every prepared
    plan is dropped; the spared entries (table frames and the graph and
    dedup checkpoint memos) stay, and the RDDs backing them are not
    unpersisted.
    """
    import gc
    import logging

    n_plans, spared = release_memos(spark)
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    jmap = jsc.getPersistentRDDs()
    n_rdds = 0
    rdd_ids = []
    it = jmap.values().iterator()
    while it.hasNext():
        rdd = it.next()
        if rdd.id() in spared:
            continue
        n_rdds += 1
        rdd_ids.append(rdd.id())
        rdd.unpersist(False)
    if rdd_ids:
        logging.getLogger(__name__).info(
            "registry.release unpersisted RDD ids %s — any DataFrame still "
            "holding one of these as truncated lineage is now unrecomputable",
            rdd_ids,
        )
    # drop py4j handles so the JVM ContextCleaner can reap broadcast
    # blocks referenced only by now-dead plans
    gc.collect()
    return {
        "plans_dropped": n_plans,
        "rdds_unpersisted": n_rdds,
        "rdd_ids": rdd_ids,
        "rdds_spared": sorted(spared),
    }


def _memoized(name: str, fn: SparkQuery) -> SparkQuery:
    # Prepared-plan memo: a builder that launched no Spark job is pure,
    # so a rebuild for the same (application, sf_dir) cannot differ.
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        return session_memo(
            spark,
            ("plan", sf_dir, name),
            lambda: fn(spark, sf_dir),
            spare=False,
            pure=True,
        )

    wrapper.__name__ = fn.__name__
    wrapper.__doc__ = fn.__doc__
    wrapper.__wrapped__ = fn
    return wrapper


def query(
    name: str,
    oracle: str,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
    pinned_sf_dir: str | None = None,
    scale_twin: str | None = None,
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator registering a Spark query plus its DuckDB oracle."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name,
            _memoized(name, fn),
            oracle,
            doc or (fn.__doc__ or ""),
            tuple(tags),
            bench,
            pinned_sf_dir,
            scale_twin,
        )
        return fn

    return deco


def load_all_query_modules() -> dict[str, QuerySpec]:
    """Import every module that registers queries; return the registry."""
    from . import queries_relational  # noqa: F401
    from . import queries_relational2  # noqa: F401
    from . import queries_relational3  # noqa: F401
    from . import queries_relational4  # noqa: F401
    from . import queries_window  # noqa: F401
    from . import queries_dedup  # noqa: F401
    from . import queries_text  # noqa: F401
    from . import queries_text2  # noqa: F401
    from . import queries_similarity  # noqa: F401
    from . import queries_streaming  # noqa: F401
    from . import queries_ext3  # noqa: F401
    from . import queries_ext4  # noqa: F401
    from . import queries_ext5  # noqa: F401
    from . import queries_ext6  # noqa: F401
    from . import queries_ext7  # noqa: F401
    from . import queries_ext8  # noqa: F401
    from . import queries_ext9  # noqa: F401
    from . import queries_ext10  # noqa: F401
    from . import queries_ext11  # noqa: F401
    from . import queries_ext12  # noqa: F401
    from . import queries_ext13  # noqa: F401
    from . import queries_ext14  # noqa: F401
    from . import queries_ext15  # noqa: F401
    from . import queries_ext16  # noqa: F401
    from . import queries_ext17  # noqa: F401
    from . import queries_ext18  # noqa: F401

    return REGISTRY
