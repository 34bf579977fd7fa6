"""Physical-layout maintenance (SURVEY.md §2.11) — the OSS analog of
the reference's Delta maintenance surface:

* M1 `OPTIMIZE ... ZORDER BY (a, b)`  -> cluster_rewrite(): range-
  partition on the leading cluster key + sortWithinPartitions on the
  full key — the same data-skipping effect (correlated min/max per
  file) that Z-ordering buys for 1-2 leading columns.
* M2 optimizeWrite/autoCompact        -> compact(): bin small files to
  a target count derived from the data size.

Both rewrite parquet through `commit.staged` (never reads and
overwrites the same path in one job); there is no Delta `OPTIMIZE`
branch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .commit import recover, staged

TARGET_FILE_BYTES = 128 * 1024 * 1024
# Row-group size for maintenance rewrites. Spark's writer default is one
# 128MB row group per file — which collapses BOTH footer-pruning
# granularity (a clustered table's whole point) and scan parallelism
# (Spark splits files by byte range, but a range without a row-group
# midpoint processes nothing, so 13 one-group files = 13 effective
# tasks). Measured at sf10 (r11): the clustered lineitem went from 481
# row groups to 13 and date-filtered scans got SLOWER than the unsorted
# layout; 16MB groups restore ~8 groups/file and with them both pruning
# and parallelism.
ROW_GROUP_BYTES = 16 * 1024 * 1024


def _rewrite(df, path: str) -> None:
    with staged(path) as tmp:
        df.write.option("parquet.block.size", ROW_GROUP_BYTES).mode(
            "overwrite"
        ).parquet(tmp)


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def compact(spark: SparkSession, path: str, target_file_bytes: int = TARGET_FILE_BYTES) -> int:
    """Rewrite a parquet dir into ceil(size/target) files; returns file count."""
    recover(path)
    n = max(1, -(-_dir_bytes(path) // target_file_bytes))
    df = spark.read.parquet(path)
    _rewrite(df.repartition(n), path)
    return n


def cluster_rewrite(
    spark: SparkSession,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Range-partition + sort: each output file covers a narrow range of
    the cluster key, so min/max footer stats prune scans (the effect the
    reference gets from OPTIMIZE ZORDER BY (as_of_date, symbol)).
    num_files pins the output file count — without it AQE may coalesce a
    small table to one file, which erases the per-file span narrowing
    the rewrite exists to produce (size-based default as in compact)."""
    recover(path)
    df = spark.read.parquet(path)
    cols = [F.col(c) for c in cluster_cols]
    if num_files is None:
        num_files = max(1, -(-_dir_bytes(path) // TARGET_FILE_BYTES))
    _rewrite(
        df.repartitionByRange(num_files, *cols).sortWithinPartitions(*cols), path
    )


def _quantile_bucket(df, col: str, n_buckets: int):
    """Map a numeric column into [0, n_buckets) by sampled-quantile
    boundaries: a distributed sketch (approxQuantile) computes ~equi-height
    cut points, then each row counts boundaries below its value — a pure
    per-row expression, no window, no shuffle. This replaces the earlier
    dense_rank-over-global-Window mapping, which serialized the whole
    table through one task (the pattern ranking.py flags as fatal at
    100 TB)."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = sorted(set(df.stat.approxQuantile(col, probs, 0.001)))
    barr = F.array(*[F.lit(float(b)) for b in bounds])
    v = F.col(col).cast("double")
    return F.aggregate(
        barr,
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + F.when(v > b, 1).otherwise(0),
    )


def zorder_rewrite(
    spark: SparkSession,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    num_files: int | None = None,
) -> None:
    """Rewrite a parquet dir clustered on the Morton curve of two numeric
    columns, each quantile-bucketed into a compact integer domain (skew-
    proof: equi-height buckets) with no global window anywhere in the
    plan. Cast date/timestamp dimensions to epoch numerics first."""
    from pyspark.sql import functions as F

    recover(path)
    df = spark.read.parquet(path)
    n_buckets = 1 << min(bits, 12)
    staged = df.withColumn(
        "_za", _quantile_bucket(df, col_a, n_buckets)
    ).withColumn("_zb", _quantile_bucket(df, col_b, n_buckets))
    expr_terms = " + ".join(
        f"shiftleft(shiftright(_za, {i}) & 1, {2 * i}) + shiftleft(shiftright(_zb, {i}) & 1, {2 * i + 1})"
        for i in range(bits)
    )
    staged = staged.withColumn("_zv", F.expr(expr_terms))
    if num_files is None:
        num_files = max(1, -(-_dir_bytes(path) // TARGET_FILE_BYTES))
    _rewrite(
        staged.repartitionByRange(num_files, F.col("_zv"))
        .sortWithinPartitions("_zv")
        .drop("_za", "_zb", "_zv"),
        path,
    )


def table_stats(path: str, columns: list[str] | None = None) -> dict:
    """File-layout introspection for a parquet dir: file count/bytes and
    per-column footer min/max spans per file — the observability half of
    the maintenance story (compact/cluster_rewrite change exactly these
    numbers, and data-skipping quality is READ from them: narrow per-file
    spans = effective pruning). Pure pyarrow metadata reads; no Spark job.
    """
    import glob as _glob

    import pyarrow.parquet as pq

    # recursive: a Hive-partitioned layout (dt=... subdirs) keeps its
    # leaves one level (or more) down; span keys are paths RELATIVE to
    # the table root (equal to the basename for a flat dir, so flat-dir
    # consumers are unaffected; partition dirs all name their leaf
    # part-0.parquet, so basenames alone would collide).
    files = sorted(
        _glob.glob(os.path.join(path, "*.parquet"))
        or _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    out: dict = {
        "n_files": len(files),
        "total_bytes": sum(os.path.getsize(f) for f in files),
        "total_rows": 0,
        "columns": {},
    }
    for f in files:
        md = pq.read_metadata(f)
        out["total_rows"] += md.num_rows
        names = {md.schema.column(i).name: i for i in range(len(md.schema))}
        targets = columns if columns is not None else list(names)
        for c in targets:
            if c not in names:
                continue
            stats = [
                md.row_group(g).column(names[c]).statistics
                for g in range(md.num_row_groups)
            ]
            stats = [s for s in stats if s is not None and s.has_min_max]
            if not stats:
                continue
            mn, mx = min(s.min for s in stats), max(s.max for s in stats)
            out["columns"].setdefault(c, []).append(
                {"file": os.path.relpath(f, path), "min": mn, "max": mx}
            )
    return out


def skipping_effectiveness(stats: dict, col: str) -> float:
    """Fraction of files a random point-lookup on `col` can SKIP, assuming
    uniform queries over the observed value range: 1 - avg(file span /
    global span). 0 = every file covers the whole range (no pruning);
    -> 1 = disjoint narrow spans (perfect pruning). The metric
    cluster_rewrite/zorder_rewrite exist to push up."""
    spans = stats["columns"].get(col, [])
    if not spans:
        return 0.0
    try:
        lo = min(s["min"] for s in spans)
        hi = max(s["max"] for s in spans)
        width = hi - lo
    except TypeError:  # non-numeric column: span arithmetic undefined
        return 0.0
    if not width:
        return 0.0
    covered = sum((s["max"] - s["min"]) / width for s in spans) / len(spans)
    return 1.0 - covered


def pruned_scan(spark: SparkSession, path: str, col: str, lo, hi):
    """Data-skipping scan for a plain parquet dir: consult the per-file
    footer min/max (the stats Delta keeps in its log; table_stats reads
    them straight from the footers) and hand Spark ONLY the files whose
    [min, max] span overlaps [lo, hi], then re-apply the predicate.

    Correctness never depends on the stats: the range filter is applied
    to whatever is read, and files with no usable statistics for `col`
    are conservatively read. This is what turns cluster_rewrite /
    zorder_rewrite's narrow spans into actual I/O savings — at 100 TB
    the footer read is the metadata layer (a per-file stats index / the
    Delta log), and the scan cost drops from all files to the
    overlapping fraction that skipping_effectiveness predicts.

    Returns (df, {"files_total": n, "files_read": k}).
    """
    import glob as _glob

    predicate = F.col(col).between(lo, hi)
    # recursive listing + table-root-relative keys: works unchanged for a
    # flat part-file dir AND a Hive-partitioned layout (where each day's
    # leaf carries a one-day ts span, so a date predicate skips whole
    # partition files from footer stats alone)
    files = sorted(
        _glob.glob(os.path.join(path, "*.parquet"))
        or _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    spans = table_stats(path, [col])["columns"].get(col, [])
    known = {s["file"] for s in spans}
    keep = {s["file"] for s in spans if not (s["max"] < lo or s["min"] > hi)}
    rel = {os.path.relpath(f, path) for f in files}
    keep |= {r for r in rel if r not in known}
    meta = {"files_total": len(files), "files_read": len(keep)}
    if not keep:  # stats exclude everything: empty frame, correct schema
        return spark.read.parquet(path).filter(F.lit(False)), meta
    paths = [os.path.join(path, f) for f in sorted(keep)]
    return spark.read.parquet(*paths).filter(predicate), meta
