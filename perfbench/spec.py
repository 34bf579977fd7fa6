"""What the benchmark runs: workloads, query lists, scale and metrics.

Pure data, no Spark import, so the prepare step and the smoke check can
read it without starting a JVM.
"""

from __future__ import annotations

# Spark runs on local[CPUS] with SPARK_GRAFT_CPUS pinned to the same value,
# so the re-split table cache and the shuffle width never depend on the box.
CPUS = 4
# Driver heap for the benchmark's one Spark process (the engine default is
# 8g, sized for sf10 sweeps).
DRIVER_MEMORY = "1g"
SF = 0.01

# curation_eager: driver-eager operators, each memo owner followed by the
# queries that read its session memo, so sharing within a pass is measured.
CURATION = (
    "q56_dedup_clusters",  # connected components; owns the cluster memo
    "q105_cluster_size_histogram",
    "q153_cluster_split",
    "q158_cluster_canonicals",
    "q144_pagerank_copurchase",  # pagerank; owns the co-purchase edge memo
    "q177_neighbor_jaccard",
)
# a q56 build that launches fewer Spark jobs than this read the cluster
# memo instead of running connected components
Q56_MIN_BUILD_JOBS = 10

WORKLOADS = ("curation_eager", "medallion_nightly")

# untimed passes before the first timed one: the first compiles (about
# 2.3 times a warm pass), the second takes the 10-15% drift that follows
WARM_PASSES = 2
MIN_TIMED_PASSES = 2

# medallion_nightly: bronze file-stream micro-batch size
MAX_FILES_PER_TRIGGER = 4

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_core_s": "s",
    "peak_rss_mb": "MB",
}

# layers whose event-log counters are reported, and the workload whose
# passes each one is normalised by
COUNTER_LAYERS = {
    "sources": None,  # per table resolution, not per pass
    "plans": "curation_eager",
    "operators": "curation_eager",
    "streaming": "medallion_nightly",
    "pipeline": "medallion_nightly",
}
COUNTERS = {
    "jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "sched_delay_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
}


def counters(layer: str) -> list[str]:
    """Counters reported for a layer: table resolution only runs schema
    jobs, which never shuffle."""
    return [c for c in COUNTERS if layer != "sources" or not c.startswith("shuffle")]


PER_LAYER = {
    "session.start_s": "s",
    "sources.resolve_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    **{f"operators.{q}_s": "s" for q in CURATION},
    "streaming.bronze_s": "s",
    "streaming.bronze_rows_per_s": "1/s",
    "streaming.bronze_batches": "count",
    "streaming.rollup_s": "s",
    "pipeline.normalize_write_s": "s",
    "pipeline.merge_initial_s": "s",
    "pipeline.merge_incremental_s": "s",
    "pipeline.gold_s": "s",
    "pipeline.compact_s": "s",
    "pipeline.silver_bytes_written": "bytes",
    **{f"{layer}.{c}": COUNTERS[c] for layer in COUNTER_LAYERS for c in counters(layer)},
    "trace.overhead_s": "s",
}
