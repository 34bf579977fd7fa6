"""Unit/property tests for the round-10 session-4 tier: BFS hop
distance, k-core peel, Kaplan-Meier fold, and the spill-safe
materialize() helper (observed round scalars, release of superseded
frames)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from e2e_stock_data_pipeline_spark.operators.graph import bfs_hops, kcore_peel
from e2e_stock_data_pipeline_spark.operators.materialize import materialize


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "pa: long, pb: long"
    )


class TestBfsHops:
    def test_path_graph_hops(self, spark):
        # path 1-2-3-4-5-6; max degree is tied at 2 for nodes 2..5 ->
        # seed = 2 (smallest id). Hops: 2->0, {1,3}->1, 4->2, 5->3, 6->4
        got = {
            r.node: r.hops
            for r in bfs_hops(
                _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]),
                max_hops=4,
            ).collect()
        }
        assert got == {2: 0, 1: 1, 3: 1, 4: 2, 5: 3, 6: 4}

    def test_bounded_horizon_excludes_far_nodes(self, spark):
        # star at 1 (degree 3 -> seed) plus a long tail off node 2
        e = [(1, 2), (1, 3), (1, 4), (2, 5), (5, 6), (6, 7), (7, 8)]
        got = {r.node: r.hops for r in bfs_hops(_edges(spark, e), max_hops=2).collect()}
        assert got == {1: 0, 2: 1, 3: 1, 4: 1, 5: 2}  # 6,7,8 beyond horizon

    def test_disconnected_component_unreached(self, spark):
        e = [(1, 2), (1, 3), (10, 11)]
        nodes = {r.node for r in bfs_hops(_edges(spark, e), max_hops=4).collect()}
        assert nodes == {1, 2, 3}

    def test_matches_python_bfs_random(self, spark):
        rng = random.Random(7)
        pairs = {tuple(sorted(rng.sample(range(30), 2))) for _ in range(60)}
        adj: dict[int, set[int]] = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        deg = {n: len(v) for n, v in adj.items()}
        seed = min(deg, key=lambda n: (-deg[n], n))
        expect, frontier = {seed: 0}, [seed]
        for h in range(1, 5):
            frontier = [
                v for u in frontier for v in adj[u] if v not in expect
            ]
            frontier = sorted(set(frontier))
            for v in frontier:
                expect[v] = h
        got = {
            r.node: r.hops
            for r in bfs_hops(_edges(spark, sorted(pairs)), max_hops=4).collect()
        }
        assert got == expect


class TestKcorePeel:
    def test_triangle_with_pendant(self, spark):
        # triangle 1-2-3 plus pendant 4 on node 1: 2-core keeps the
        # triangle, drops the pendant in round 1, then is stable
        e = [(1, 2), (1, 3), (2, 3), (1, 4)]
        rows = kcore_peel(_edges(spark, e), k=2, rounds=3).orderBy("round_no").collect()
        assert [(r.round_no, r.n_nodes, r.n_edges) for r in rows] == [
            (0, 4, 4),
            (1, 3, 3),
            (2, 3, 3),
            (3, 3, 3),
        ]

    def test_cascading_peel(self, spark):
        # chain 1-2-3-4: k=2 peels endpoints each round until empty —
        # the cascade takes MULTIPLE rounds (endpoint removal lowers
        # interior degrees), which is the behavior fixed rounds exist for
        e = [(1, 2), (2, 3), (3, 4)]
        rows = kcore_peel(_edges(spark, e), k=2, rounds=3).orderBy("round_no").collect()
        assert [(r.round_no, r.n_nodes, r.n_edges) for r in rows] == [
            (0, 4, 3),
            (1, 2, 1),
            (2, 0, 0),
            (3, 0, 0),
        ]

    def test_matches_python_peel_random(self, spark):
        rng = random.Random(11)
        pairs = {tuple(sorted(rng.sample(range(25), 2))) for _ in range(50)}
        cur = set(pairs)
        expect = []

        def sizes(es):
            nodes = {n for e in es for n in e}
            return (len(nodes), len(es))

        expect.append((0, *sizes(cur)))
        for r in range(1, 7):
            deg: dict[int, int] = {}
            for a, b in cur:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= 3}
            cur = {(a, b) for a, b in cur if a in keep and b in keep}
            expect.append((r, *sizes(cur)))
        rows = (
            kcore_peel(_edges(spark, sorted(pairs)), k=3, rounds=6)
            .orderBy("round_no")
            .collect()
        )
        assert [(r.round_no, r.n_nodes, r.n_edges) for r in rows] == expect


class TestKaplanMeierFold:
    """The q195 integer-ppm product fold against a literal Python KM."""

    def _km_ppm(self, lifetimes_churned, horizon):
        # lifetimes_churned: list of (lifetime_d, churned)
        from collections import Counter

        deaths = Counter(t for t, c in lifetimes_churned if c)
        s = 1_000_000
        for t in sorted(deaths):
            if t > horizon:
                break
            n_t = sum(1 for lt, _ in lifetimes_churned if lt >= t)
            s = (s * (n_t - deaths[t])) // n_t
        return s

    @pytest.mark.parametrize("seed", [3, 17, 99])
    def test_fold_matches_literal_km(self, spark, seed):
        rng = random.Random(seed)
        data = [
            (rng.randrange(0, 31), rng.random() < 0.6) for _ in range(200)
        ]
        df = spark.createDataFrame(
            [(int(t), bool(c)) for t, c in data], "lifetime_d: long, churned: boolean"
        )
        per_t = df.groupBy("lifetime_d").agg(
            F.count(F.lit(1)).alias("c_all"),
            F.sum(F.when(F.col("churned"), 1).otherwise(0)).cast("bigint").alias("d"),
        )
        from pyspark.sql import Window

        w = Window.orderBy(F.col("lifetime_d").desc())
        ar = per_t.withColumn("n_t", F.sum("c_all").over(w).cast("bigint"))
        entries = ar.filter(F.col("d") > 0).select(
            "lifetime_d", (F.col("n_t") * F.lit(10_000_000) + F.col("d")).alias("e")
        )
        arr = entries.agg(
            F.sort_array(F.collect_list(F.struct("lifetime_d", "e"))).alias("arr")
        )
        for h in (7, 14, 30):
            got = arr.select(
                F.expr(
                    f"aggregate(filter(arr, s -> s.lifetime_d <= {h}),"
                    f" CAST(1000000 AS BIGINT),"
                    f" (acc, s) -> (acc * ((s.e DIV 10000000) - (s.e % 10000000)))"
                    f" DIV (s.e DIV 10000000))"
                ).alias("s")
            ).collect()[0]["s"]
            assert got == self._km_ppm(data, h), f"horizon {h}"


def _last_job(spark) -> int:
    return max(
        spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [], default=-1
    )


class TestMaterialize:
    def test_returns_same_rows(self, spark):
        df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
        out, _ = materialize(df, "k")
        assert sorted(r.id for r in out.collect()) == list(range(1000))

    def test_rewidens_coarse_partitions(self, spark, monkeypatch):
        import e2e_stock_data_pipeline_spark.operators.materialize as mat

        monkeypatch.setattr(mat, "MAX_ROWS_PER_TASK", 100)
        df = spark.range(1000).coalesce(2)
        out, _ = mat.materialize(df)
        assert out.rdd.getNumPartitions() == 10
        assert out.count() == 1000

    def test_keeps_fine_partitions(self, spark):
        df = spark.range(100).repartition(8)
        out, _ = materialize(df)
        assert out.rdd.getNumPartitions() == 8

    def test_shuffle_free_frame_runs_one_job(self, spark):
        """The row count re-widening needs comes out of the checkpoint
        job itself: no count job follows it."""
        before = _last_job(spark)
        _, stats = materialize(spark.range(1000))
        assert _last_job(spark) - before == 1
        assert stats["n"] == 1000

    @pytest.mark.parametrize("case", ["random", "empty", "rewiden"])
    def test_observed_stats_equal_a_separate_aggregate(self, spark, monkeypatch, case):
        import e2e_stock_data_pipeline_spark.operators.materialize as mat

        rng = random.Random(23)
        rows = [(rng.randrange(60), rng.randrange(60)) for _ in range(500)]
        df = spark.createDataFrame(rows, "u: long, v: long").distinct()
        if case == "empty":
            df = df.filter(F.col("u") < 0)
        if case == "rewiden":
            monkeypatch.setattr(mat, "MAX_ROWS_PER_TASK", 50)
            df = df.coalesce(1)

        def aggs():
            return [
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
                F.sum("u").alias("s"),
            ]

        want = df.agg(F.count(F.lit(1)).alias("n"), *aggs()).collect()[0].asDict()
        out, stats = mat.materialize(df, "u", observe=aggs())
        assert stats == want
        assert out.agg(F.count(F.lit(1)).alias("n"), *aggs()).collect()[0].asDict() == want
        if case == "empty":
            assert want["n"] == 0
        if case == "rewiden":
            assert out.rdd.getNumPartitions() == -(-want["n"] // 50) > 1

    def test_releases_superseded_frames_after_its_checkpoint(self, spark):
        def persisted(frame) -> bool:
            rid = frame._jdf.queryExecution().analyzed().rdd().id()
            return spark.sparkContext._jsc.getPersistentRDDs().containsKey(rid)

        old, _ = materialize(spark.range(100))
        new, stats = materialize(old.select((F.col("id") * 2).alias("x")), release=[old, None])
        assert not persisted(old) and persisted(new)
        assert stats["n"] == 100
        assert sorted(r.x for r in new.collect()) == list(range(0, 200, 2))
