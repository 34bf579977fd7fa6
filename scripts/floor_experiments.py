"""One-off variant timing for the sf10 aggregation-floor tier (r12).

Times registered queries against hand-built plan variants on the SAME
session (warmup + N timed noop-forced passes, median), to attribute the
remaining >2x-vs-DuckDB residue to specific per-row kernel costs:

  q29 : window-struct group key  vs  date_trunc bigint-ish key
  q01 : current rint extraction  vs  split-conf scan variants
  generic: any registered query under --conf overrides

    python scripts/floor_experiments.py <sf_dir> <exp> [passes]

Experiments: q29keys, q01scan, q03scan, q05probe
"""

from __future__ import annotations

import json
import statistics
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from e2e_stock_data_pipeline_spark.functions.fixedpoint import units  # noqa: E402
from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules  # noqa: E402
from e2e_stock_data_pipeline_spark.session import get_spark  # noqa: E402
from e2e_stock_data_pipeline_spark.sources import tables  # noqa: E402


def timed(df, passes=3):
    df.write.format("noop").mode("overwrite").save()  # warm
    ts = []
    for _ in range(passes):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    return round(statistics.median(ts), 3)


def q29_variants(spark, sf_dir):
    e = tables.load(spark, sf_dir, "events")
    reg = load_all_query_modules()
    current = reg["q29_tumbling_hourly"].spark(spark, sf_dir)
    trunc = (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(units("value")).cast("double") / 1e2).alias("total_value"),
        )
    )
    trunc_raw = (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
    )
    win_raw = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n", "total_value")
    )
    scan_only = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = {}
    out["scan_only_baseline"] = timed(scan_only)
    out["current_window_units"] = timed(current)
    out["trunc_units"] = timed(trunc)
    out["trunc_rawsum"] = timed(trunc_raw)
    out["window_rawsum"] = timed(win_raw)
    # exactness: trunc vs current (bucket_start == w.start for tumbling 1h)
    a = {tuple(r) for r in current.collect()}
    b = {tuple(r) for r in trunc.collect()}
    out["trunc_exact_vs_current"] = a == b
    return out


def q01_variants(spark, sf_dir):
    reg = load_all_query_modules()
    out = {}
    out["current"] = timed(reg["q01_pricing_summary"].spark(spark, sf_dir))
    for mb in ("33554432", "268435456"):
        spark.conf.set("spark.sql.files.maxPartitionBytes", mb)
        tables.invalidate_cache(None)
        out[f"maxPartitionBytes={int(mb)//1024//1024}M"] = timed(
            reg["q01_pricing_summary"].spark(spark, sf_dir)
        )
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    # floor: pure scan+filter+count (no extraction, no grouping strings)
    l = tables.load(spark, sf_dir, "lineitem")
    out["scan_filter_count"] = timed(
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .agg(F.count(F.lit(1)))
    )
    out["scan_group_nounits"] = timed(
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)), F.sum("l_quantity"), F.sum("l_extendedprice"),
             F.sum("l_discount"))
    )
    return out


def main(argv):
    sf_dir, exp = argv[0], argv[1]
    import os

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="floor-exp", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    fn = {"q29keys": q29_variants, "q01scan": q01_variants}[exp]
    print(json.dumps({"exp": exp, "sf_dir": sf_dir, **fn(spark, sf_dir)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
