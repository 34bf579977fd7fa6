"""Phase-time q144_pagerank_copurchase's exact frames at any sf dir
(the profile_q184 pattern): each phase forced with the noop sink in a
clean session so the registered query's cost decomposes into
(baskets, pair explode+mirror, adjacency collect_set, per round).

    python scripts/profile_q144.py <sf_dir>
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from e2e_stock_data_pipeline_spark.operators.graph import (  # noqa: E402
    PR_BASE,
    PR_SCALE,
    pagerank,
)
from e2e_stock_data_pipeline_spark.operators.materialize import (  # noqa: E402
    materialize,
    unpersist_materialized,
)
from e2e_stock_data_pipeline_spark.plans.queries_ext8 import (  # noqa: E402
    copurchase_sym_edges,
)
from e2e_stock_data_pipeline_spark.session import get_spark  # noqa: E402
from e2e_stock_data_pipeline_spark.sources import tables  # noqa: E402


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main(argv: list[str]) -> int:
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    spark = get_spark(app_name="profile-q144")
    spark.sparkContext.setLogLevel("ERROR")
    li = tables.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")

    spark.sparkContext.setJobDescription("q144: baskets")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("_ps")
    )
    print(f"baskets              {noop(baskets):7.2f} s", flush=True)

    spark.sparkContext.setJobDescription("q144: edges (pairs+mirror)")
    edges = copurchase_sym_edges(li, distinct=False)
    print(f"edges pairs+mirror   {noop(edges):7.2f} s", flush=True)

    spark.sparkContext.setJobDescription("q144: adjacency collect_set")
    t0 = time.perf_counter()
    adj, st = materialize(
        edges.select("u", "v").groupBy("u").agg(F.collect_set("v").alias("_nb")),
        "u",
    )
    t_adj = time.perf_counter() - t0
    n_nodes = st["n"]
    print(f"adjacency (materialize) {t_adj:7.2f} s   n_nodes={n_nodes}", flush=True)

    spark.sparkContext.setJobDescription("q144: one round (explode+reduce)")
    ranks = adj.select(
        F.col("u").alias("node"), F.lit(PR_SCALE).cast("bigint").alias("rank")
    )
    contrib = adj.join(F.broadcast(ranks), adj.u == ranks.node).select(
        F.expr("rank DIV size(_nb)").alias("c"),
        F.explode("_nb").alias("v"),
    )
    rd = contrib.groupBy(F.col("v").alias("node")).agg(
        (F.lit(PR_BASE) + F.expr("(85 * sum(c)) DIV 100")).cast("bigint").alias("rank")
    )
    for i in range(3):
        print(f"round (noop, warm {i}) {noop(rd):7.2f} s", flush=True)
    unpersist_materialized(adj)

    spark.sparkContext.setJobDescription("q144: full registered query")
    t0 = time.perf_counter()
    out = pagerank(copurchase_sym_edges(li, distinct=False), n_iters=3)
    full = (
        out.select(F.col("node").alias("part_id"), F.col("rank").alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "part_id")
        .limit(100)
    )
    dt = noop(full)
    print(f"full q144 (cold)     {time.perf_counter() - t0:7.2f} s (noop {dt:.2f})", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
