"""Phase-profile q184_set_similarity_join at a given sf dir (VERDICT
r16 item 1: decompose the slowest sf10 row the way q144's decomposition
found the adjacency checkpoint).

Phases (module-level plan functions — the EXACT registered plan):
  ordered  q184_ordered_plan: scan -> shingle explode -> dfreq join ->
           struct-sort agg -> DISK_ONLY materialize (eager)
  cand     q184_cand_plan: prefix-pair self-join + small branch +
           distinct, forced via noop write
  verify   q184_verify_plan over the materialized cand

Usage: python scripts/profile_q184.py [sf_dir] [--mem 8g]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main(argv: list[str]) -> int:
    sf_dir = argv[0] if argv and not argv[0].startswith("--") else ".bench_sf1/sf10"
    mem = argv[argv.index("--mem") + 1] if "--mem" in argv else "8g"

    from pyspark.sql import SparkSession

    from e2e_stock_data_pipeline_spark.plans.queries_ext15 import (
        q184_cand_plan,
        q184_ordered_plan,
        q184_verify_plan,
    )
    from e2e_stock_data_pipeline_spark.session import configure_existing
    from e2e_stock_data_pipeline_spark.sources import tables
    from e2e_stock_data_pipeline_spark.operators.materialize import materialize

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    configure_existing(spark)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    d = tables.load(spark, sf_dir, "documents")
    ordered = q184_ordered_plan(d)  # materialize() is eager
    t_ordered = time.perf_counter() - t0

    t0 = time.perf_counter()
    cand, st = materialize(q184_cand_plan(ordered), "doc_a")
    t_cand = time.perf_counter() - t0
    n_cand = st["n"]

    t0 = time.perf_counter()
    noop(q184_verify_plan(ordered, cand))
    t_verify = time.perf_counter() - t0

    print(
        f"PROFILE ordered={t_ordered:.1f}s cand={t_cand:.1f}s "
        f"verify={t_verify:.1f}s n_cand={n_cand} "
        f"total={t_ordered + t_cand + t_verify:.1f}s"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
