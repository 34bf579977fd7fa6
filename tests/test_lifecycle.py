"""Session-lifecycle hygiene (VERDICT r11 item 3): iterative operators
leave localCheckpoint blocks behind by design (the final materialized
frame backs the returned DataFrame); registry.release() must reclaim
them between queries and leave the session fully usable."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from e2e_stock_data_pipeline_spark.operators import materialize as memo
from e2e_stock_data_pipeline_spark.plans import registry
from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules

REGISTRY = load_all_query_modules()


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _memos(kind: str) -> list[tuple]:
    """Keys of the session-memo entries of one kind."""
    return [k for k in memo._MEMO if k[1] == kind]


def _drop(*kinds: str) -> None:
    memo.drop_memos(lambda key: key[0] in kinds)


def test_release_reclaims_iterative_residue(spark, sf_dir):
    from e2e_stock_data_pipeline_spark.operators.dedup import connected_components

    # no spared memos in this scenario (earlier tests in the session may
    # have populated either checkpoint memo — both must be emptied or
    # release() correctly spares their backing rids)
    _drop("copurchase_edges", "cluster_labels")
    registry.release(spark)
    nodes = spark.createDataFrame([(i,) for i in range(40)], ["doc_id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 38, 2)], ["doc_a", "doc_b"]
    )
    result = connected_components(nodes, edges)
    assert result.count() == 40
    # the labels checkpoint is still persisted — the operator cannot
    # release what backs its own return value
    assert _n_persistent(spark) > 0
    stats = registry.release(spark)
    assert stats["rdds_unpersisted"] > 0
    assert _n_persistent(spark) == 0


def test_release_spares_live_session_memo(spark, sf_dir):
    """VERDICT r16 item 4: the co-purchase edge memo (five graph
    consumers) must survive a between-queries release — its DISK_ONLY
    blocks cost scratch disk, not heap — while non-memo checkpoint
    residue in the same session is still reclaimed."""
    from e2e_stock_data_pipeline_spark.operators import graph
    from e2e_stock_data_pipeline_spark.operators.materialize import materialize

    _drop("copurchase_edges")
    registry.release(spark)
    li = spark.createDataFrame(
        [(o, p) for o in range(30) for p in (o % 5, (o + 1) % 5, (o + 2) % 5)],
        ["l_orderkey", "l_partkey"],
    )
    edges = graph.copurchase_edges_plan(li, min_support=2)
    n_edges = edges.count()
    assert n_edges > 0 and len(_memos("copurchase_edges")) == 1
    # unrelated checkpoint residue that release MUST still reclaim
    residue, _ = materialize(spark.range(100).selectExpr("id", "id * 2 AS v"))
    assert residue.count() == 100
    stats = registry.release(spark)
    assert stats["rdds_spared"], "memo rdd should be spared"
    assert stats["rdds_unpersisted"] > 0, "non-memo residue still reclaimed"
    # the memo hit is served (blocks alive), and the frame still reads
    again = graph.copurchase_edges_plan(li, min_support=2)
    assert again is edges, "live memo must be reused after release"
    assert again.count() == n_edges
    _drop("copurchase_edges")
    registry.release(spark)


def test_release_keeps_session_usable_and_plans_rebuild(spark, sf_dir):
    name = "q01_pricing_summary"
    first = REGISTRY[name].spark(spark, sf_dir).collect()
    registry.release(spark)
    # plan cache was dropped; rebuild must produce identical results
    again = REGISTRY[name].spark(spark, sf_dir).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    # and arbitrary new work still runs
    assert spark.range(10).agg(F.sum("id")).collect()[0][0] == 45


def test_release_is_idempotent(spark):
    a = registry.release(spark)
    b = registry.release(spark)
    assert b["rdds_unpersisted"] == 0
    assert a["plans_dropped"] >= 0


def test_release_drops_plans_and_keeps_table_frames(spark, sf_dir):
    """Prepared plans are not spared by release; table frames are (they
    hold no blocks, and rebuilding them re-lists files)."""
    from e2e_stock_data_pipeline_spark.sources import tables

    region = tables.load(spark, sf_dir, "region")
    REGISTRY["q01_pricing_summary"].spark(spark, sf_dir)
    assert _memos("plan")
    stats = registry.release(spark)
    assert stats["plans_dropped"] >= 1 and not _memos("plan")
    assert tables.load(spark, sf_dir, "region") is region


def test_new_application_evicts_every_memo_of_the_old_one(spark, sf_dir):
    """A process that cycles sessions (one application per nightly pass)
    must not keep the stopped application's plans and table frames: the
    first memo access from the new application evicts them all."""
    from e2e_stock_data_pipeline_spark.sources import tables

    stopped = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app-stopped")
    )
    plan_key = ("plan", sf_dir, "q01_pricing_summary")
    memo.session_memo(stopped, plan_key, object, spare=False)
    memo.session_memo(stopped, ("table", tables.path_for(sf_dir, "region")), object)
    assert {k[0] for k in memo._MEMO} >= {"app-stopped"}
    tables.load(spark, sf_dir, "region")
    live = spark.sparkContext.applicationId
    assert memo._MEMO and all(k[0] == live for k in memo._MEMO)


def test_release_spares_live_cluster_memo(spark, sf_dir):
    """r17: the dedup-tier cluster memo (q56/q105/q153/q158) follows the
    graph memo's contract — BOTH backing frames (pairs, labels) survive
    a between-queries release, the memo hit is served afterwards, and a
    dead memo (blocks force-dropped) rebuilds instead of handing out an
    unrecomputable frame."""
    from e2e_stock_data_pipeline_spark.operators import dedup

    _drop("cluster_labels")
    registry.release(spark)
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(6)]
        + [(i, f"unique{i} text{i} body{i} words{i} here{i}") for i in range(6, 12)],
        ["doc_id", "text"],
    )
    pairs, labels = dedup.cluster_labels_plan(docs)
    n_pairs, n_labels = pairs.count(), labels.count()
    assert n_labels == 12 and len(_memos("cluster_labels")) == 1
    # the 6 identical docs share one cluster rooted at the min doc_id
    assert labels.filter("cluster_id = 0").count() == 6
    stats = registry.release(spark)
    assert stats["rdds_spared"], "cluster memo rids should be spared"
    p2, l2 = dedup.cluster_labels_plan(docs)
    assert p2 is pairs and l2 is labels, "live memo must be reused after release"
    assert l2.count() == n_labels and p2.count() == n_pairs
    # kill the blocks WITH the memo entry still present -> the liveness
    # probe must force a rebuild, not hand out an unrecomputable frame
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    assert len(_memos("cluster_labels")) == 1  # stale entry still cached
    p3, l3 = dedup.cluster_labels_plan(docs)
    assert p3 is not pairs and l3 is not labels
    assert l3.count() == n_labels and p3.count() == n_pairs
    _drop("cluster_labels")
    registry.release(spark)


def test_fresh_cluster_labels_plan_leaves_only_its_memo(spark, monkeypatch):
    """A fresh build of the cluster memo adds exactly the persisted RDDs
    the memo entry holds (pairs and labels): connected components
    releases its final edge set when it checkpoints the labels, whether
    its tail runs distributed (bound 0) or on the driver."""
    from e2e_stock_data_pipeline_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(6)]
        + [(i, f"unique{i} text{i} body{i} words{i} here{i}") for i in range(6, 12)],
        ["doc_id", "text"],
    )
    for bound in (0, memo.LOCAL_FINISH_ROWS):
        monkeypatch.setattr(memo, "LOCAL_FINISH_ROWS", bound)
        _drop("cluster_labels")
        registry.release(spark)
        before = _persisted_ids(spark)
        dedup.cluster_labels_plan(docs)
        (held,) = [
            ids for k, (_v, ids, _s) in memo._MEMO.items() if k[1] == "cluster_labels"
        ]
        assert len(held) == 2, bound
        assert _persisted_ids(spark) - before == set(held), bound
    _drop("cluster_labels")
    registry.release(spark)


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _leaf_rdd_ids(df) -> set[int]:
    """Ids of the RDDs behind the LogicalRDD leaves of a frame's plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    }


def _residue_graph():
    import random

    rng = random.Random(17)
    return sorted({tuple(sorted(rng.sample(range(40), 2))) for _ in range(60)})


def _run_cc(spark):
    from e2e_stock_data_pipeline_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(40)], "doc_id: long")
    edges = spark.createDataFrame(_residue_graph(), "doc_a: long, doc_b: long")
    return connected_components(nodes, edges)


def _run_pagerank(spark):
    from e2e_stock_data_pipeline_spark.operators.graph import pagerank

    g = _residue_graph()
    edges = spark.createDataFrame(g + [(b, a) for a, b in g], "u: long, v: long")
    return pagerank(edges, n_iters=3)


def _run_bfs(spark):
    from e2e_stock_data_pipeline_spark.operators.graph import bfs_hops

    return bfs_hops(spark.createDataFrame(_residue_graph(), "pa: long, pb: long"), 3)


def _run_kcore(spark):
    from e2e_stock_data_pipeline_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(_residue_graph(), "pa: long, pb: long")
    return kcore_peel(edges, k=3, rounds=3)


def _run_coverage(spark):
    from e2e_stock_data_pipeline_spark.operators.coverage import greedy_max_coverage

    sets = [range(0, 9), range(5, 12), range(10, 14), range(13, 20), range(0, 3),
            range(18, 23)]
    pairs = spark.createDataFrame(
        [(s, i) for s, items in enumerate(sets) for i in items], "s: long, i: long"
    )
    return greedy_max_coverage(pairs, "s", "i", k=4)


def _run_ivf(spark):
    import random

    from e2e_stock_data_pipeline_spark.operators.similarity import (
        ivf_rerank_topk_seeded,
    )

    rng = random.Random(3)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(120)],
        "vec_id: long, embedding: array<double>",
    )
    q, c = df.filter(F.col("vec_id") < 4), df.filter(F.col("vec_id") >= 4)
    return ivf_rerank_topk_seeded(q, c, dim=8, n_cells=6, n_probe=2, k_top=3)


@pytest.mark.parametrize(
    "run, finish_bound",
    [
        (_run_cc, None),
        (_run_cc, 0),
        (_run_pagerank, None),
        (_run_pagerank, 0),
        (_run_bfs, None),
        (_run_kcore, None),
        (_run_coverage, None),
        (_run_ivf, None),
    ],
    ids=[
        "connected_components",
        "connected_components_distributed",
        "pagerank",
        "pagerank_distributed",
        "bfs_hops",
        "kcore_peel",
        "greedy_max_coverage",
        "ivf_rerank_seeded",
    ],
)
def test_eager_operator_leaves_only_what_backs_its_result(
    spark, monkeypatch, run, finish_bound
):
    """Each round's checkpoint releases what it supersedes, so after the
    call (and a read of its result) the only new persisted RDDs are the
    checkpoints the result's plan reads. CC and pagerank run once with
    the default driver finish and once (``LOCAL_FINISH_ROWS`` = 0) with
    every round distributed."""
    if finish_bound is not None:
        monkeypatch.setattr(memo, "LOCAL_FINISH_ROWS", finish_bound)
    before = _persisted_ids(spark)
    result = run(spark)
    assert result.collect()
    after = _persisted_ids(spark)
    assert after - before == _leaf_rdd_ids(result) & after
