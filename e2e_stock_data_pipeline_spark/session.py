"""SparkSession factory.

The reference runs its Spark tier on Databricks with Photon + Auto Loader
(reference: databricks/bronze_prices_auto_loader.ipynb:cell-1); here we
build an OSS session tuned the way a 1000-executor job would be, scaled
down to local[N]:

* AQE on (runtime coalescing, skew-join splitting) — the knob that makes
  one config survive a 100x scale-up.
* shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a high initial number, so we set the *initial* number
  high and let AQE shrink, instead of hand-tuning per query.
* Arrow enabled for the few pandas_udf paths (vectors, multimodal).
* Session timezone pinned to UTC so timestamp semantics match the
  reference's tz-stripped timestamps (ingest_fmp_prices.py:258) and the
  DuckDB oracle's naive timestamps.
* Streaming state stays on Spark's default HDFSBacked provider. Large-
  state jobs choose RocksDB with Spark's own conf,
  ``spark.sql.streaming.stateStore.providerClass`` (``extra_conf`` or
  ``--conf``); BENCH_NOTES "RocksDB state store experiment" measured
  resident state 4.3x smaller at throughput within noise.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

def get_spark(
    app_name: str = "e2e-stock-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Static conf, must be set before the first session in the JVM.
        # Default 100 thrashes on any multi-query workload: the registry's
        # headline set alone generates >100 codegen units (whole-stage
        # bodies, unsafe projections, orderings, predicates all share this
        # LRU), so every repeated run re-runs Janino + HotSpot on freshly
        # evicted classes — measured 15-20 s of compiler-thread time per
        # bench pass that never amortizes. 10k entries holds the whole
        # 171-query registry compiled.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to a session we didn't build.

    The driver harness hands us its own SparkSession; static conf
    (memory, master) is fixed by then, but SQL conf is not.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_CPUS))
    except Exception:
        pass
    return spark
