"""Spark-side invariant verification of the connected-components family
at scales where the DuckDB oracle is infeasible (the unrolled label-
propagation closure over the sf10 LSH graph's 336M candidate pairs
spills past any reasonable budget).

Covers every oracle-infeasible graph query (VERDICT r11 item 2):

q56 (labels) — the base invariants:
1. EDGE CONSISTENCY — no candidate edge crosses two labels: for every
   (doc_a, doc_b), label(doc_a) == label(doc_b). Rules out under-merge
   (a split component) entirely.
2. LABEL MINIMALITY + MEMBERSHIP — for every cluster, the label equals
   the minimum member id (which also proves the label node is a
   member, and covers singletons: cluster_id == doc_id).
3. TOTALITY — every document carries exactly one label.

Together with 1-2, the only labeling defect these cannot catch is an
over-merge (two disconnected components sharing a label). The engine's
large-star/small-star contraction (operators/dedup.py) reconnects nodes
exclusively within a node's current neighborhood, so every intermediate
edge set preserves the input graph's components — a cross-component
merge cannot be manufactured by construction; the 4-sf oracle ladder
(sf0.001-1, exact vs the DuckDB propagation closure) pins that
structurally.

q105 (cluster-size histogram) — recomputed independently from the
VERIFIED labels (groupBy cluster -> size -> histogram) and compared
cell-for-cell with the registered query's output.

q153 (leakage-free split) — on the query's own output:
leak_edges_cluster == 0 (the property the query exists to guarantee),
leak_edges_naive > 0 (the audit contrast is live, not vacuous), and the
per-split doc totals sum to n_docs.

    python scripts/sf10_cc_verify.py <sf_dir>

Prints one JSON line per check plus a closing summary; exit 0 iff all ok.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from e2e_stock_data_pipeline_spark.operators import dedup as D  # noqa: E402
from e2e_stock_data_pipeline_spark.plans import registry as reg  # noqa: E402
from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules  # noqa: E402
from e2e_stock_data_pipeline_spark.session import get_spark  # noqa: E402
from e2e_stock_data_pipeline_spark.sources import tables  # noqa: E402


def main(sf_dir: str) -> int:
    owned = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="cc-verify")
    if owned:
        spark.sparkContext.setLogLevel("ERROR")
    registry = load_all_query_modules()
    all_ok = True

    # ---- q56: base label invariants --------------------------------
    t0 = time.perf_counter()
    labels = registry["q56_dedup_clusters"].spark(spark, sf_dir).localCheckpoint()
    q56_sec = round(time.perf_counter() - t0, 1)
    docs = tables.load(spark, sf_dir, "documents")
    # the candidate pairs q56 clustered: the same session memo it read
    edges = D.cluster_labels_plan(docs)[0]

    la = labels.select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca"))
    lb = labels.select(F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb"))
    crossing = (
        edges.join(la, "doc_a").join(lb, "doc_b").filter(F.col("ca") != F.col("cb")).count()
    )
    bad_min = (
        labels.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("m"))
        .filter(F.col("m") != F.col("cluster_id"))
        .count()
    )
    n_docs = docs.count()
    n_labeled = labels.filter(F.col("cluster_id").isNotNull()).count()
    out = {
        "metric": "cc_invariants",
        "query": "q56_dedup_clusters",
        "sf_dir": sf_dir,
        "sec": q56_sec,
        "n_docs": n_docs,
        "n_edges": edges.count(),
        "n_clusters": labels.select("cluster_id").distinct().count(),
        "crossing_edges": crossing,
        "bad_min_labels": bad_min,
        "unlabeled": n_docs - n_labeled,
        "ok": crossing == 0 and bad_min == 0 and n_labeled == n_docs,
    }
    print(json.dumps(out), flush=True)
    all_ok &= out["ok"]

    # ---- q105: histogram must equal one derived from verified labels
    t0 = time.perf_counter()
    got = {
        (r[0], r[1])
        for r in registry["q105_cluster_size_histogram"].spark(spark, sf_dir).collect()
    }
    want = {
        (r[0], r[1])
        for r in labels.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy(F.col("sz").alias("cluster_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .collect()
    }
    out = {
        "metric": "cc_invariants",
        "query": "q105_cluster_size_histogram",
        "sec": round(time.perf_counter() - t0, 1),
        "cells": len(want),
        "ok": got == want,
    }
    print(json.dumps(out), flush=True)
    all_ok &= out["ok"]
    labels.unpersist()
    reg.release(spark)

    # ---- q153: the leakage guarantee on its own output -------------
    t0 = time.perf_counter()
    rows = registry["q153_cluster_split"].spark(spark, sf_dir).collect()
    leak_cluster = {r["leak_edges_cluster"] for r in rows}
    leak_naive = {r["leak_edges_naive"] for r in rows}
    out = {
        "metric": "cc_invariants",
        "query": "q153_cluster_split",
        "sec": round(time.perf_counter() - t0, 1),
        "splits": sorted(r["split"] for r in rows),
        "leak_edges_cluster": max(leak_cluster),
        "leak_edges_naive": max(leak_naive),
        "docs_total": sum(r["n_docs"] for r in rows),
        "ok": (
            leak_cluster == {0}
            and all(v > 0 for v in leak_naive)
            and sum(r["n_docs"] for r in rows) == n_docs
        ),
    }
    print(json.dumps(out), flush=True)
    all_ok &= out["ok"]
    reg.release(spark)

    print(json.dumps({"metric": "cc_invariants_summary", "sf_dir": sf_dir, "ok": bool(all_ok)}))
    if owned:
        spark.stop()
    return 0 if all_ok else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
