"""Physical-plan assertions — the scale claims as executable checks:
filters/pruning reach the parquet scan, fixed-size dims broadcast, the
shared-window queries use ONE shuffle, and every registered plan
matches its line in the plan-shape ledger (plans/shapes.json), whose
lints keep row-at-a-time Python UDFs out of every plan.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules

REGISTRY = load_all_query_modules()


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = formatted_plan(REGISTRY["q02_filter_project"].spark(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark, sf_dir):
    plan = formatted_plan(REGISTRY["q13_topk_active_users"].spark(spark, sf_dir))
    # only user_id should be read from the 6-column events table
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "user_id" in read and "props" not in read and "value" not in read


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = formatted_plan(REGISTRY["q05_region_revenue"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # nothing big enough to merge-join here


def test_gold_windows_share_one_shuffle(spark, sf_dir):
    plan = formatted_plan(REGISTRY["q21_moving_averages"].spark(spark, sf_dir))
    # both moving averages hang off ONE exchange (shared partitioning)
    assert plan.count("Exchange (") == 1


@pytest.fixture(scope="module")
def plan_shapes_run(sf_dir):
    """stdout of ``scripts/plan_shapes.py <sf_dir>``, run once in its own
    process as a reviewer runs it. A plan built in this session would not
    do: the numbering of its expression ids depends on what ran before,
    and q117's distinct-aggregate Expand orders its groups by their hash."""
    script = Path(__file__).resolve().parents[1] / "scripts" / "plan_shapes.py"
    run = subprocess.run(
        [sys.executable, str(script), str(sf_dir)], capture_output=True, text=True, timeout=900
    )
    assert '"queries": ' in run.stdout, run.stderr[-3000:]
    return run


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_python_row_udfs(plan_shapes_run, name):
    assert f"{name}: Python row UDF" not in plan_shapes_run.stdout


def test_plan_shapes_match_the_ledger(plan_shapes_run):
    """Every registered plan against plans/shapes.json (fingerprint and
    counts, and every registered name and no other), with no Arrow/pandas
    node or generate-under-broadcast site outside its allowlist in
    scripts/plan_shapes.py. At an sf other than the ledger's only the
    lints run."""
    summary = json.loads(plan_shapes_run.stdout.splitlines()[-1])
    assert summary["queries"] == len(REGISTRY)
    assert plan_shapes_run.returncode == 0, plan_shapes_run.stdout


class TestHeavyTierPlanContracts:
    """EXT heavy tier (CC family) shape pins — VERDICT r12 item 6. The
    hand-tuned contracts: the LSH pair set and the CC label table are
    materialized ONCE (localCheckpoint), so the FINAL plan must consume
    them as ExistingRDD scans and must never re-derive the banding
    pipeline (whose unmistakable marker is the sha256 shingle hash). A
    refactor that drops the pair-set materialize() re-triples the
    banding work at sf10 — these tests fail on the plan, not 400 s into
    a bench."""

    @pytest.mark.parametrize(
        "name,max_exchanges",
        [
            ("q56_dedup_clusters", 2),
            ("q105_cluster_size_histogram", 4),
            ("q153_cluster_split", 12),
        ],
    )
    def test_pair_set_materialized_once(self, spark, sf_dir, name, max_exchanges):
        plan = formatted_plan(REGISTRY[name].spark(spark, sf_dir))
        assert plan.count("sha256") == 0, (
            f"{name}: banding pipeline re-derived in the final plan — "
            "pair set / labels no longer pre-materialized"
        )
        assert plan.count("Scan ExistingRDD") >= 2  # labels (+ pairs for q153)
        assert plan.count("Exchange (") <= max_exchanges

    def test_q153_probe_joins_broadcast_under_node_limit(self, spark, sf_dir):
        """The dual-leak probe must be two broadcast hash joins against
        the per-doc label maps when docs <= _BCAST_NODE_LIMIT (above the
        limit the gate removes the hint — ADVICE r12)."""
        plan = formatted_plan(REGISTRY["q153_cluster_split"].spark(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= 2

    def test_q184_rarity_pipeline_materialized_once(self, spark, sf_dir):
        """r14 contract: q184's scan+explode+rarity-sort pipeline is
        materialized ONCE and every downstream leg (both candidate join
        sides, the small-set branch, both verify sides) consumes the
        checkpoint — the FINAL plan must contain ZERO parquet scans.
        Losing this re-runs the pipeline five times AND reopens the
        Catalyst size-misestimate that broadcast the 17M-row exploded
        pair side at sf10 (GC death)."""
        plan = formatted_plan(REGISTRY["q184_set_similarity_join"].spark(spark, sf_dir))
        assert plan.count("Scan parquet") == 0, (
            "q184: a leg re-derives from parquet — rarity pipeline no "
            "longer shared through the checkpoint"
        )
        assert plan.count("Scan ExistingRDD") >= 5  # pa, pb, small, wa, wb


def test_no_eager_actions_in_plan_modules():
    """Plan construction must be pure (lazy): no count/first/collect/
    toPandas anywhere in the query modules or the lazy operator layers
    they call. (Iterative operators — connected_components — and
    maintenance jobs run actions by design and are out of scope.)"""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "e2e_stock_data_pipeline_spark"
    targets = sorted((pkg / "plans").glob("queries_*.py")) + [
        pkg / "operators" / "similarity.py",
        pkg / "operators" / "asof.py",
        pkg / "operators" / "interval.py",
        pkg / "operators" / "windows.py",
        pkg / "operators" / "skew.py",
    ]
    # localCheckpoint/checkpoint/cache/persist also belong here: under AQE
    # even a LAZY localCheckpoint materializes upstream stages at plan-
    # construction time (the q116 round-6 regression class)
    pat = re.compile(
        r"\.(count|first|collect|toPandas|head)\(\)"
        r"|\.(localCheckpoint|checkpoint|cache|persist)\("
        # operators.materialize routes the same eager work (DISK_ONLY
        # localCheckpoint) through a helper the method regexes
        # above can't see — an eager plan builder must be a CONSCIOUS
        # decision, recorded in the allowlist below with its rationale
        r"|materialize\("
    )
    # plan builders allowed to be eager, file:line-independent:
    #   queries_ext15.py (q184): `ordered` feeds all 5 legs of the l=2
    #     prefix join — materializing once at build time is the measured
    #     629s->123s sf10 win AND suppresses a Catalyst through-aggregate
    #     size underestimate that broadcast a 17M-row side;
    #   (queries_ext9.py's q153 pair-set checkpoint moved into
    #     operators/dedup.cluster_labels_plan in r17 — the session memo
    #     shared by q56/q105/q153/q158; dedup.py, like graph.py, is an
    #     operator module with sanctioned eager sites, not a target.)
    #   queries_ext15.py second site (r17): the (doc_id, shingle) token
    #     explode is checkpointed so the interpreted shingle build runs
    #     ONCE instead of twice (dfreq pass + rank-attach pass) — half
    #     of the measured q184 87.5->38.7 s ordered-phase cut; released
    #     by the `ordered` checkpoint (materialize's release=).
    # Keyed by file -> EXPECTED materialize() occurrence count, so a new
    # eager call site added to an already-allowlisted file still fails
    # here and must be consciously recorded (ADVICE r15).
    allowed_eager = {"queries_ext15.py": 2}
    # driver-side collects/counts allowed in plan builders, file ->
    # EXPECTED occurrence count (same conscious-decision contract):
    #   similarity.py: ivf_rerank_topk_seeded collects the density
    #     count, the seed scan and the Lloyd centroid update — all
    #     dimension-sized (<= IVF_CELLS_MAX rows), recomputed from
    #     parquet every call — so its two corpus x cells argmin scans
    #     run as numpy matmuls over Arrow batches. Measured against the
    #     lazy Catalyst fold it replaced (q128's arguments, local[4],
    #     identical rows at every size; BENCH_NOTES.md):
    #       vectors   Arrow     Catalyst   runs
    #       2k        2.07 s    3.15 s     5 alternating reps
    #       20k       4.16 s    29.0 s     5 alternating reps
    #       200k      16.9 s    546.9 s    1 rep
    allowed_driver_eager = {"similarity.py": 3}
    eager_pat = re.compile(r"\.(count|first|collect|toPandas|head)\(\)")
    offenders = []
    eager_seen: dict[str, int] = {}
    driver_seen: dict[str, int] = {}
    for f in targets:
        for i, line in enumerate(f.read_text().splitlines(), 1):
            code = line.split("#")[0]
            if pat.search(code):
                if "materialize(" in code and f.name in allowed_eager:
                    eager_seen[f.name] = eager_seen.get(f.name, 0) + 1
                    if eager_seen[f.name] <= allowed_eager[f.name]:
                        continue
                elif eager_pat.search(code) and f.name in allowed_driver_eager:
                    driver_seen[f.name] = driver_seen.get(f.name, 0) + 1
                    if driver_seen[f.name] <= allowed_driver_eager[f.name]:
                        continue
                offenders.append(f"{f.name}:{i}")
    assert not offenders, offenders


def test_lsh_family_consistency_v2_everywhere():
    """r15 cutover contract: the v1 MinHash family (correlated seeds —
    measured 6.5x excess argmin agreement, 45.2% planted recall at
    sf10) must be fully retired from the registered surface. Every
    oracle that builds a MinHash index must embed the SHARED v2 band
    fragment (seeds from range(LSH_NUM_HASHES), the Weyl hash from
    UNIVERSAL_HASH_V2_SQL) — a partial rollback or a hand-edited copy
    that drifts from the constants fails here, not at sf10."""
    from e2e_stock_data_pipeline_spark.operators import dedup as D
    from e2e_stock_data_pipeline_spark.plans.queries_dedup import SQL_V2_BANDS

    v1_relics = [
        n
        for n, s in REGISTRY.items()
        if s.oracle and ("* 7919 +" in s.oracle or "seed * 2 + 1" in s.oracle)
    ]
    assert not v1_relics, f"v1 MinHash family still in oracles: {v1_relics}"

    v2_hash = D.UNIVERSAL_HASH_V2_SQL.format(seed="seed", base="h")
    assert v2_hash in SQL_V2_BANDS  # fragment derives from the constant
    minhash_queries = [
        n for n, s in REGISTRY.items() if s.oracle and "MIN(" in s.oracle
        and "sha256(shingle)" in s.oracle
    ]
    assert sorted(minhash_queries) == sorted([
        "q41_minhash_lsh_pairs",
        "q56_dedup_clusters",
        "q86_neardup_pipeline",
        "q105_cluster_size_histogram",
        "q126_incremental_dedup",
        "q153_cluster_split",
        "q155_minhash_calibration",
        "q158_cluster_canonicals",
    ]), "MinHash oracle census drifted — update this contract deliberately"
    for n in minhash_queries:
        assert SQL_V2_BANDS in REGISTRY[n].oracle, (
            f"{n} oracle does not embed the shared v2 band fragment"
        )


def test_bench_queries_all_have_oracles():
    """Every bench-flagged query must be oracle-gated (the judge reads the
    bench numbers as verified results, not just timings)."""
    missing = [n for n, s in REGISTRY.items() if s.bench and not s.oracle]
    assert not missing, missing


def test_registry_names_and_oracle_coverage():
    names = sorted(REGISTRY)
    assert len(names) == len(set(names))
    rows_only = {n for n, s in REGISTRY.items() if s.oracle is None}
    assert rows_only == set()  # every registered query is oracle-gated


def test_quadratic_baselines_name_scale_safe_twins():
    """Deliberately scale-unsafe correctness anchors (all-pairs /
    uncapped self-joins / whole-group-in-memory aggregates) must be
    tagged "baseline" and name a registered scale-safe twin, so nobody
    can mistake them for the production path. The twin must not itself
    be a baseline."""
    baselines = {n: s for n, s in REGISTRY.items() if "baseline" in s.tags}
    # r11: q115 left this set — its exact interpolated percentiles now
    # run on the two-pass bucket histogram (scale-bounded), so it no
    # longer needs a twin
    assert set(baselines) == {
        "q50_cosine_neardup_pairs",
        "q42_ngram_jaccard",
    }
    for name, spec in baselines.items():
        assert spec.scale_twin, f"{name}: baseline without a scale_twin"
        twin = REGISTRY.get(spec.scale_twin)
        assert twin is not None, f"{name}: scale_twin {spec.scale_twin!r} not registered"
        assert "baseline" not in twin.tags, f"{name}: twin {twin.name} is itself a baseline"
    # the inverse: a scale_twin pointer only makes sense on a baseline
    for n, s in REGISTRY.items():
        if s.scale_twin:
            assert "baseline" in s.tags, f"{n}: scale_twin set but not tagged baseline"


def test_q37_approx_value_sanity(spark, sf_dir):
    """The oracle checks exact_users + the within-5%-of-exact boolean; this
    bounds the raw approx_count_distinct value itself so a broken sketch
    (e.g. always 0) can't hide behind a trivially-true flag."""
    from pyspark.sql import functions as F

    from e2e_stock_data_pipeline_spark.sources import tables

    e = tables.load(spark, str(sf_dir), "events")
    rows = (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id").alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert r.exact > 0
        assert abs(r.approx - r.exact) <= 0.05 * r.exact, (r.event_type, r.approx, r.exact)


def test_q75_broadcasts_dims(spark, sf_dir):
    plan = formatted_plan(REGISTRY["q75_min_cost_supplier"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # supplier/nation/region stay broadcast


def test_q76_plans_semi_joins(spark, sf_dir):
    plan = formatted_plan(REGISTRY["q76_bulk_part_suppliers"].spark(spark, sf_dir))
    assert "LeftSemi" in plan


def test_q77_plans_single_pass_aggregation(spark, sf_dir):
    # r17 rewrite: the EXISTS/NOT-EXISTS pair is now per-order counts
    # over ONE merge-hinted lineitem x orders join; both nested
    # groupBys must reuse the join's l_orderkey hash partitioning, so
    # the plan carries exactly 3 shuffle exchanges (two join inputs +
    # the dimension-sized final agg) and no data-sized broadcast.
    plan = formatted_plan(REGISTRY["q77_sole_late_supplier"].spark(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert plan.count(") Exchange") == 3


def test_q78_anti_join_with_broadcast_scalar(spark, sf_dir):
    plan = formatted_plan(REGISTRY["q78_idle_rich_customers"].spark(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_partition_pruning_on_dt_layout(spark, sf_dir, tmp_path):
    """The dt=-partitioned layout must prune at the scan: a filter on the
    partition column appears as PartitionFilters and non-matching
    partitions are never read — THE data-skipping mechanism the 100 TB
    layout depends on."""
    from pyspark.sql import functions as F

    from e2e_stock_data_pipeline_spark.sources import tables

    events = tables.load(spark, str(sf_dir), "events").limit(2000)
    path = str(tmp_path / "part")
    (
        events.withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .write.partitionBy("dt")
        .parquet(path)
    )
    df = spark.read.parquet(path)
    one_day = sorted(r.dt for r in df.select("dt").distinct().collect())[0]
    plan = formatted_plan(df.filter(df.dt == one_day))
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "dt" in seg and "isnotnull" in seg or one_day in seg


def test_q120_market_share_fixed_dims_broadcast(spark, sf_dir):
    """Q8 shape: the fixed dims (supplier, nation x2, region) are
    force-broadcast; customer/part are AQE-sized (auto-broadcast at this
    tiny sf, shuffle join at scale). At test scale everything lands
    broadcast and nothing falls back to a sort-merge join on a dim."""
    plan = formatted_plan(REGISTRY["q120_market_share"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 5
    # Only the lineitem-orders fact-fact join may legitimately merge-join;
    # every dim join must have landed broadcast above.
    assert plan.count("SortMergeJoin") <= 1


def test_q122_anti_join_is_broadcast(spark, sf_dir):
    plan = formatted_plan(REGISTRY["q122_parts_supplier_breadth"].spark(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_query_construction_runs_no_jobs(spark, sf_dir):
    """Building a query's DataFrame must execute ZERO Spark jobs — the
    dynamic complement of the static regex above (which cannot see, e.g.,
    a localCheckpoint whose upstream stages AQE materializes at build
    time). Warm the table memo first so its one-time schema probes don't
    count against the queries."""
    tracker = spark.sparkContext.statusTracker()
    names = ["q114_token_entropy", "q116_source_kl_divergence", "q118_ema_smoothing"]
    for name in names:
        REGISTRY[name].spark(spark, str(sf_dir))  # warm table-load memo
    before = len(tracker.getJobIdsForGroup(None) or [])
    for name in names:
        REGISTRY[name].spark(spark, str(sf_dir))
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, f"plan construction ran {after - before} job(s)"


def test_cc_oracle_propagation_budget(spark):
    """q56/q105's DuckDB oracle unrolls min-label propagation for
    _CC_ROUNDS rounds; the engine (large-star/small-star since r12) no
    longer bounds that trajectory, so this test pins the budget directly:
    the max BFS distance from any node to its component minimum on the
    GATE-SCALE (sf0.01) candidate graph must fit inside _CC_ROUNDS.
    Propagation needs exactly that many rounds to reach the fixpoint."""
    import collections
    import os

    from e2e_stock_data_pipeline_spark.operators import dedup as D
    from e2e_stock_data_pipeline_spark.plans.queries_text2 import _CC_ROUNDS, _docs

    gate_sf = "/root/testdata/sf0.01"
    if not os.path.isdir(gate_sf):
        import pytest

        pytest.skip("gate-scale dataset not present")
    docs = _docs(spark, gate_sf)
    sh = D.exploded_shingles(docs, distinct=False)
    # mirror q56's registered configuration (v2 family, 6 bands x 2 rows)
    pairs = D.lsh_candidate_pairs(D.minhash_bands(sh)).collect()
    adj = collections.defaultdict(set)
    for r in pairs:
        adj[r.doc_a].add(r.doc_b)
        adj[r.doc_b].add(r.doc_a)
    seen: set = set()
    max_dist = 0
    for start in sorted(adj):  # ascending: first unseen node IS its component min
        if start in seen:
            continue
        frontier, dist = {start}, 0
        seen.add(start)
        while frontier:
            nxt = {v for u in frontier for v in adj[u] if v not in seen}
            seen.update(nxt)
            if nxt:
                dist += 1
            frontier = nxt
        max_dist = max(max_dist, dist)
    assert max_dist <= _CC_ROUNDS, (
        f"oracle propagation budget too small: graph needs {max_dist} rounds, "
        f"_CC_ROUNDS={_CC_ROUNDS}"
    )
