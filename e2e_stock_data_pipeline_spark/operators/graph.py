"""Graph centrality over pair graphs (the production form of q144).

Since r13 the REGISTERED q144_pagerank_copurchase runs THIS
materialized operator — the lazy 3-round unroll (still present in
plans/queries_ext8.pagerank_plan) is the oracle-form twin, kept because
the DuckDB oracle can replay it and because it pins bit-equality with
this loop (same integer recursion, same constants; see
tests/test_operators.py). The lazy form's price (visible in the plan
listings of that era) was that Catalyst re-executed the edge-construction subtree
every round — 66 exchanges for 3 rounds — and its overlapping per-round
hash aggs died under sf10 session memory pressure. This operator is
built on the same pattern as dedup.connected_components: materialize
the edge list once (it is joined every round), truncate lineage per
round so the plan stays round-sized, and keep the per-round work at one
data-sized join + one reduce.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import materialize as _mat
from .materialize import materialize, session_memo, unpersist_materialized

# Integer PageRank constants shared with plans/queries_ext8.pagerank_plan
# (ranks in 1e-6 units; 0.85 damping as integer *85 // 100).
PR_SCALE = 1_000_000
PR_BASE = 150_000


def pagerank(
    edges: DataFrame,
    n_iters: int = 10,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Integer PageRank over a DIRECTED edge list (symmetrize first for
    undirected graphs). Returns (node, rank) for every node that
    received a contribution in the last round, ids at ``dst``'s type.

    Each round: contribution = rank DIV out-degree, shipped along edges,
    reduced per target, damped with integer arithmetic — identical to
    the q144 recursion, so fixed-round results are bit-comparable. The
    adjacency is materialized once; each round's ranks are materialized
    (localCheckpoint; swap for checkpoint() on durable storage at
    cluster scale), releasing the round they supersede. When the
    adjacency checkpoint observes at most
    ``materialize.LOCAL_FINISH_ROWS`` edges, the adjacency is collected
    and the same rounds run in numpy on the driver
    (:func:`_pagerank_rounds`).

    ``n_iters`` must be >= 1: zero rounds would rank nothing."""
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    # Checkpoint the ADJACENCY form, not the edge list (r16): one
    # groupBy(u).collect_set(v) turns the edge set into node-count rows
    # of neighbor arrays. Compared to the r15 edge-list checkpoint this
    # (a) writes/scans n_nodes rows instead of n_edges rows per round
    # (sf10: 2M vs 180M — the write alone was ~27 s), (b) makes the
    # degree table FREE (size(_nb) — the r15 version paid a separate
    # edge-sized aggregation plus its own checkpoint), and (c) turns
    # each round's broadcast-hash probe count from per-edge into
    # per-node; the explode then re-expands to edge volume only INSIDE
    # the round's single aggregation pipeline. PRECONDITION: the input
    # may be a pair MULTISET — the collect_set dedup here is
    # LOAD-BEARING for correctness (r17: q144 feeds
    # copurchase_sym_edges(distinct=False), relying on this set
    # semantics; r17 ADVICE). Consequences: (a) parallel edges carry no
    # weight — a multigraph caller that wants duplicate-edge weighting
    # must pre-aggregate an explicit weight; (b) any refactor toward a
    # count(*)-based degree must first restore distinct=True at every
    # caller, or degrees silently inflate and ranks change.
    # Set order is storage-nondeterministic, which is safe: the only
    # consumer is an integer SUM, order-independent and exact.
    adj, st = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .groupBy("u")
        .agg(F.collect_set("v").alias("_nb")),
        "u",
        observe=[F.sum(F.size("_nb")).alias("n_edges")],
    )
    if 0 < (st["n_edges"] or 0) <= _mat.LOCAL_FINISH_ROWS:
        # Small graph: every round would cost only per-job overhead, so
        # run the rounds on the driver (null ids never join a rank, so
        # their rows contribute nothing in Spark either)
        t = adj.where(F.col("u").isNotNull()).toArrow()
        unpersist_materialized(adj)
        nb = t["_nb"].combine_chunks()
        offsets = nb.offsets.to_numpy()
        node, rank = _pagerank_rounds(
            t["u"].to_numpy(),
            offsets - offsets[0],
            nb.flatten().to_numpy(),
            n_iters,
        )
        return edges.sparkSession.createDataFrame(
            pa.table(
                {
                    "node": pa.array(node, nb.type.value_type),
                    "rank": pa.array(rank, pa.int64()),
                }
            )
        )
    # Per-round join pairs the adjacency against the NODE-sized ranks
    # table. materialize()'s LogicalRDD stats deliberately suppress
    # auto-broadcast, so gate an explicit hint on the node count the
    # checkpoint observed: under the CC bound each round is
    # adjacency-scan -> broadcast hash join -> explode -> ONE shuffle
    # (the per-target reduce); above it, fall back to AQE's choice.
    from .dedup import _BCAST_NODE_LIMIT

    bcast_ok = 0 < st["n"] <= _BCAST_NODE_LIMIT
    ranks = adj.select(
        F.col("u").alias("node"), F.lit(PR_SCALE).cast("bigint").alias("rank")
    )
    for i in range(n_iters):
        bcast = F.broadcast if bcast_ok else (lambda f: f)
        contrib = adj.join(bcast(ranks), adj.u == ranks.node).select(
            F.expr("rank DIV size(_nb)").alias("c"),
            F.explode("_nb").alias("v"),
        )
        # round 0's ranks is a projection of adj, not a checkpoint; the
        # last round is the adjacency's last consumer
        ranks, st = materialize(
            contrib.groupBy(F.col("v").alias("node")).agg(
                (F.lit(PR_BASE) + F.expr("(85 * sum(c)) DIV 100"))
                .cast("bigint")
                .alias("rank")
            ),
            "node",
            release=[ranks if i > 0 else None, adj if i == n_iters - 1 else None],
        )
        if i == 0 and bcast_ok:
            # After round 1 ranks holds the reduce TARGETS (nodes with
            # in-edges), which on a sink-heavy directed graph can exceed
            # the out-node count the gate measured (r16 ADVICE). Later
            # rounds rank the targets of a subset of sources, so the set
            # only shrinks and round 1's observed count bounds every
            # remaining broadcast.
            bcast_ok = st["n"] <= _BCAST_NODE_LIMIT
    return ranks


def _pagerank_rounds(
    u: np.ndarray, offsets: np.ndarray, dst: np.ndarray, n_iters: int
) -> tuple[np.ndarray, np.ndarray]:
    """(node, rank) after ``n_iters`` rounds of :func:`pagerank`'s
    recursion over a CSR adjacency: source ``u[i]`` points to
    ``dst[offsets[i]:offsets[i + 1]]`` (distinct targets). Same
    semantics as the distributed join: round 1 ranks every source at
    PR_SCALE, and a round's ranks are exactly the targets of the
    sources ranked the round before, so a node with no in-edges stops
    contributing after round 1. numpy wraps int64 silently where
    Spark's ANSI bigint raises, so each round first checks the exact
    rank total: every contribution is non-negative, so no per-target
    ``85 * sum`` can exceed 85 times that total."""
    limit = (2**63 - 1) // 85
    deg = np.diff(offsets)
    ids, idx = np.unique(
        np.concatenate([u.astype(np.int64), dst.astype(np.int64)]),
        return_inverse=True,
    )
    src_i, dst_i = idx[: len(u)], idx[len(u) :]
    rank = np.zeros(len(ids), np.int64)
    ranked = np.zeros(len(ids), bool)
    rank[src_i], ranked[src_i] = PR_SCALE, True
    for _ in range(n_iters):
        if sum(rank[ranked].tolist()) > limit:
            raise ArithmeticError(
                "pagerank: rank total overflows 85 * rank in bigint"
            )
        live = np.repeat(ranked[src_i], deg)
        c = np.repeat(rank[src_i] // np.maximum(deg, 1), deg)[live]
        to = dst_i[live]
        total = np.zeros(len(ids), np.int64)
        np.add.at(total, to, c)
        ranked = np.zeros(len(ids), bool)
        ranked[to] = True
        rank = np.where(ranked, PR_BASE + (85 * total) // 100, 0)
    return ids[ranked].astype(dst.dtype), rank[ranked]


def bfs_hops(edges: DataFrame, max_hops: int = 4) -> DataFrame:
    """Bounded BFS hop distance over an UNDIRECTED (pa, pb) edge list,
    seeded at the max-degree node (ties -> smallest node id). Returns
    (node, hops) for every node within ``max_hops`` of the seed.

    Scale design: the symmetrized edge list is hash-partitioned on its
    join key and materialized ONCE (every round probes it), so each
    round costs one frontier-sized shuffle + one anti-join against the
    visited set — never an edge re-shuffle. The frontier is the only
    growing input and it is lineage-truncated per round
    (localCheckpoint; swap for checkpoint() on durable storage at
    cluster scale), the same bounded-iteration contract as
    :func:`pagerank` and dedup.connected_components.

    ``max_hops`` must be >= 1: the last round releases the probe table."""
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    sym, _ = materialize(
        edges.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionAll(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
        .repartition("u"),
        "u",
    )
    seed = (
        node_degrees(edges)
        .orderBy(F.col("d").desc(), F.col("x").asc())
        .limit(1)
        .select(F.col("x").alias("node"))
    )
    # one seed row — no sizing needed
    dist, _ = materialize(
        seed.select("node", F.lit(0).cast("bigint").alias("hops")), widen=False
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt, _ = materialize(
            frontier.join(sym, frontier.node == sym.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(h).cast("bigint").alias("hops")),
            "node",
        )
        # the new dist is the last reader of the old one and of this
        # round's input frontier; in the last round, of sym and nxt too
        last = [sym, nxt] if h == max_hops else []
        dist, _ = materialize(
            dist.unionAll(nxt), "node", release=[dist, frontier, *last]
        )
        frontier = nxt
    return dist


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 6) -> DataFrame:
    """Fixed-round k-core peel over an UNDIRECTED (pa, pb) edge list:
    each round drops nodes of current degree < k and the edges touching
    them. Returns (round_no, n_nodes, n_edges) for rounds 0..``rounds``
    (round 0 = the input graph). Fixed-round semantics by design — the
    oracle replays the same ``rounds`` peels; convergence inside the
    budget makes the tail rows constant.

    Scale design: each round is one degree aggregation plus two semi
    joins, all keyed on node id; the surviving edge set shrinks
    monotonically and is lineage-truncated per round."""
    spark = edges.sparkSession

    def n_nodes(e: DataFrame) -> int:
        # collected EAGERLY so the superseded round can be released (a
        # lazy union of all rounds would pin every round's frame; r12).
        # A DISTINCT count, which observe cannot take.
        return node_degrees(e).agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]

    cur, st = materialize(edges.select("pa", "pb"), "pa")
    out_rows = [(0, n_nodes(cur), st["n"])]
    for r in range(1, rounds + 1):
        keep = node_degrees(cur).filter(F.col("d") >= k).select("x")
        cur, st = materialize(
            cur.join(keep.select(F.col("x").alias("pa")), "pa", "left_semi")
            .join(keep.select(F.col("x").alias("pb")), "pb", "left_semi")
            .select("pa", "pb"),
            "pa",
            release=[cur],
        )
        out_rows.append((r, n_nodes(cur), st["n"]))
    # no checkpoint supersedes the last round: the result is driver rows
    unpersist_materialized(cur)
    return spark.createDataFrame(
        out_rows, "round_no bigint, n_nodes bigint, n_edges bigint"
    )


_TRI_KB = 10**12  # orientation key = degree * _TRI_KB + node_id (int64-safe)
_TRI_P6 = 1_000_000  # parts-per-million fixed point


def copurchase_edges_plan(li: DataFrame, min_support: int = 2) -> DataFrame:
    """(l_orderkey, l_partkey) basket rows -> undirected co-purchase
    edge list (pa < pb, pairs sharing >= min_support baskets),
    materialized ONCE PER SESSION (a spared session memo, see
    ARCHITECTURE.md "Session memos") because every consumer reads it
    from several branches and five registered queries
    (q170/q177/q187/q193/q194) share the identical frame.

    Pair generation via per-order part arrays: ONE shuffle of the fact
    table builds each order's sorted distinct part list (order-line
    fan-out is bounded, so the array and its C(L,2) in-memory expansion
    are tiny), replacing the textbook distinct -> self-join shape that
    shuffles the fact table three times (distinct, both join sides).
    sort_array makes pa < pb by construction; array_distinct subsumes
    the (orderkey, partkey) distinct."""
    key = (
        "copurchase_edges",
        li._jdf.queryExecution().analyzed().semanticHash(),
        min_support,
    )
    return session_memo(
        li.sparkSession, key, lambda: _copurchase_edges(li, min_support)
    )


def _copurchase_edges(li: DataFrame, min_support: int) -> DataFrame:
    baskets = li.groupBy("l_orderkey").agg(
        F.array_distinct(F.sort_array(F.collect_list("l_partkey"))).alias("ps")
    )
    # r17 (q175/q184 interpreted-lambda lesson): index sequences +
    # element_at instead of per-element slice() copies — identical
    # i<j pairs of the same sorted array, ~5x less expansion CPU. The
    # size guard is REQUIRED here (unlike queries_ext8.order_part_pairs
    # there is no size >= 2 pre-filter, and sequence(1, 0) would emit a
    # DESCENDING range, not an empty one).
    pairs = baskets.select(
        F.explode(
            F.expr(
                "CASE WHEN size(ps) >= 2 THEN"
                " flatten(transform(sequence(1, size(ps) - 1), i ->"
                " transform(sequence(i + 1, size(ps)), j ->"
                " struct(element_at(ps, i) AS pa, element_at(ps, j) AS pb))))"
                # empty branch typed FROM ps (never evaluated) so the
                # operator stays generic over the key's integer width
                " ELSE transform(CAST(array() AS ARRAY<INT>), z ->"
                " struct(element_at(ps, 1) AS pa, element_at(ps, 1) AS pb)) END"
            )
        ).alias("pr")
    ).select("pr.pa", "pr.pb")
    edges, _ = materialize(
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_support)
        .select("pa", "pb")
    )
    return edges


def node_degrees(edges: DataFrame) -> DataFrame:
    """Undirected degree per node from a (pa, pb) edge list."""
    return (
        edges.select(F.col("pa").alias("x"))
        .unionAll(edges.select(F.col("pb").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )


def triangle_census_plan(li: DataFrame) -> DataFrame:
    """(l_orderkey, l_partkey) basket rows -> one-row triangle census.

    Module-level so scripts/scale_smoke.py times the EXACT plan the
    registered query runs (the ext5 ema_plan pattern)."""
    edges = copurchase_edges_plan(li)
    deg = node_degrees(edges)
    ek = (
        edges.join(deg.select(F.col("x").alias("pa"), F.col("d").alias("da")), "pa")
        .join(deg.select(F.col("x").alias("pb"), F.col("d").alias("db")), "pb")
        .select(
            "pa",
            "pb",
            (F.col("da") * _TRI_KB + F.col("pa")).alias("ka"),
            (F.col("db") * _TRI_KB + F.col("pb")).alias("kb"),
        )
    )
    oriented = ek.select(
        F.when(F.col("ka") < F.col("kb"), F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.greatest("ka", "kb").alias("kd"),
    )
    o1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("kd").alias("kv")
    )
    o2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"), F.col("kd").alias("kw")
    )
    wedges = o1.join(o2, "u").filter(F.col("kv") < F.col("kw"))
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    ne = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    nw = deg.agg(
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("bigint").alias("n_wedges")
    )
    return (
        tri.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nw))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("t").alias("n_triangles"),
            F.when(
                F.col("n_wedges") > 0,
                F.expr(f"(3 * t * {_TRI_P6}) DIV n_wedges"),
            )
            .cast("bigint")
            .alias("transitivity_fp"),
        )
    )
