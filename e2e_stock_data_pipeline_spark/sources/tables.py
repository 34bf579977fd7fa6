"""Batch table loaders for the synthetic warehouse.

One parquet file per table under an sf directory (TESTDATA.md). Loaders
go through ``spark.read.parquet`` so Catalyst gets native filter
pushdown + column pruning; never collect driver-side.

Nanosecond-timestamp compat: some driver tables (``events``) are
written with parquet TIMESTAMP(NANOS), which Spark rejects outright
(PARQUET_TYPE_ILLEGAL). DuckDB silently truncates ns -> us (its native
unit), so we do exactly the same conversion once via pyarrow into a
local cache dir and read the cached file. Values are bit-identical to
what the DuckDB oracle sees.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from e2e_stock_data_pipeline_spark.operators.materialize import drop_memos, session_memo
from e2e_stock_data_pipeline_spark.session import DEFAULT_CPUS

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (fixed
# size or sublinear growth in TPC-H-style generators). customer/part/
# orders grow linearly — those are left to AQE.
BROADCAST_DIMS = {"region", "nation", "supplier"}

_CACHE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".testdata_cache")


def path_for(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _leaf_parquet(src: str) -> str:
    """First leaf .parquet file under a table path (the path itself when
    it is a plain file). For a Hive-partitioned directory the leaf's
    footer is the authoritative DATA schema — partition columns live
    only in directory names."""
    if not os.path.isdir(src):
        return src
    for root, _dirs, files in sorted(os.walk(src)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                return os.path.join(root, f)
    raise FileNotFoundError(f"no parquet leaf under {src}")


def _is_hive_partitioned(src: str) -> bool:
    """A table delivered as a directory of key=value subdirectories —
    the reference's dt=/symbol= layout. Detected from the first level of
    entries (Spark's partition discovery does the same)."""
    if not os.path.isdir(src):
        return False
    return any(
        "=" in e and os.path.isdir(os.path.join(src, e)) for e in os.listdir(src)
    )


_NS_PROBE_CACHE: dict[str, bool] = {}


def _needs_ns_downcast(src: str) -> bool:
    if src not in _NS_PROBE_CACHE:
        schema = pq.read_schema(_leaf_parquet(src))
        _NS_PROBE_CACHE[src] = any(
            pa.types.is_timestamp(t) and t.unit == "ns" for t in schema.types
        )
    return _NS_PROBE_CACHE[src]


def _us_schema(schema: pa.Schema) -> pa.Schema:
    fields = []
    for f in schema:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            fields.append(f.with_type(pa.timestamp("us", tz=f.type.tz)))
        else:
            fields.append(f)
    return pa.schema(fields)


# Re-split policy: a table shipped as ONE single-row-group parquet file
# caps Spark's scan parallelism at one task (a row group is the atomic
# read unit, and one file : one byte-range under the default
# maxPartitionBytes), which serializes every downstream stage's first
# exchange. The engine's own bronze/maintenance layers already size files
# to the cluster at write time; for driver-provided files we apply the
# same posture once in the local rewrite cache. Values are untouched —
# only the file grouping changes.
#
# Two triggers:
#  * volume: big by rows or bytes (lineitem) — split into ~50k-row /
#    ~2 MB chunks so the scan stage gets dozens of tasks;
#  * width: ANY non-trivial table (>= 2k rows) is split to at least
#    cluster width. Bytes wildly understate compute for these — sf1
#    `documents` is 4 MB / 50k rows but its scan stage feeds a shingle
#    explode doing ~10M sha256s, and `embeddings` feeds 768-wide dot
#    products; DuckDB parallelizes inside a row group (morsels), Spark
#    cannot, so a single-file layout runs those stages 1-task. Measured
#    r9: q41 minhash 7.2 s -> well under half on 32 files at sf1.
_RESPLIT_MIN_ROWS = 200_000
_RESPLIT_MIN_BYTES = 8 * 1024 * 1024
_RESPLIT_TARGET_CHUNK_ROWS = 50_000
_RESPLIT_TARGET_CHUNK_BYTES = 2 * 1024 * 1024
_RESPLIT_MAX_FILES = 64
_RESPLIT_WIDTH_MIN_ROWS = 2_000  # below this, scheduling beats parallelism
_RESPLIT_WIDTH_CHUNK_ROWS = 256  # never make files smaller than this

_RESPLIT_PROBE_CACHE: dict[str, int] = {}


def _resplit_n_files(src: str) -> int:
    # Any large SINGLE file is the limiter: with one row group the scan is
    # one task outright; with many row groups it is still capped at
    # ceil(file_size / maxPartitionBytes) tasks (~2 for a 6M-row table),
    # so the file count, not the row-group count, is what must scale.
    # Returns 0 for "leave as is".
    if src not in _RESPLIT_PROBE_CACHE:
        if os.path.isdir(src):
            # already a multi-file layout (partitioned or part-files):
            # scan parallelism comes from the existing file count
            _RESPLIT_PROBE_CACHE[src] = 0
            return 0
        md = pq.ParquetFile(src).metadata
        size = os.path.getsize(src)
        if md.num_rows < _RESPLIT_WIDTH_MIN_ROWS and size < _RESPLIT_MIN_BYTES:
            _RESPLIT_PROBE_CACHE[src] = 0
        else:
            by_rows = -(-md.num_rows // _RESPLIT_TARGET_CHUNK_ROWS)
            by_bytes = -(-size // _RESPLIT_TARGET_CHUNK_BYTES)
            by_width = min(DEFAULT_CPUS, md.num_rows // _RESPLIT_WIDTH_CHUNK_ROWS)
            _RESPLIT_PROBE_CACHE[src] = min(
                _RESPLIT_MAX_FILES, max(by_rows, by_bytes, by_width, 1)
            )
    return _RESPLIT_PROBE_CACHE[src]


_ROWS_PROBE_CACHE: dict[str, int] = {}


def table_rows(sf_dir: str, name: str) -> int:
    """Total row count of a table from parquet FOOTER metadata —
    driver-side, no Spark job, cached per source path. Queries use it to
    size data-dependent knobs (e.g. the as-of window's shuffle width)
    from the actual input volume instead of a hardcoded constant."""
    src = path_for(sf_dir, name)
    n = _ROWS_PROBE_CACHE.get(src)
    if n is None:
        if os.path.isdir(src):
            n = sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for root, _dirs, files in os.walk(src)
                for f in files
                if f.endswith(".parquet")
            )
        else:
            n = pq.ParquetFile(src).metadata.num_rows
        _ROWS_PROBE_CACHE[src] = n
    return n


def raw_readable_path(sf_dir: str, name: str) -> str:
    """Like spark_readable_path but WITHOUT the re-split rewrite: the
    original one-file-per-table layout, only the ns->us timestamp fix
    applied when Spark cannot read the source at all. For consumers whose
    semantics depend on the delivered file identity (file-lineage columns:
    the re-split cache is an engine-internal detail and must not leak into
    _metadata.file_path results)."""
    src = path_for(sf_dir, name)
    if not _needs_ns_downcast(src):
        return src
    tag = os.path.basename(os.path.normpath(sf_dir))
    dst = os.path.join(_CACHE_ROOT, tag, "raw", f"{name}.parquet")
    if os.path.exists(dst) and os.path.getmtime(dst) >= os.path.getmtime(src):
        return dst
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if os.path.isdir(src):
        _rewrite_dir_us(src, dst)
        return dst
    tbl = pq.read_table(src)
    pq.write_table(
        tbl.cast(_us_schema(tbl.schema), safe=False), dst, compression="snappy"
    )
    return dst


def _rewrite_dir_us(src: str, dst: str) -> None:
    """ns->us rewrite of a DIRECTORY source, leaf file by leaf file with
    the relative layout (partition subdirs, file names) preserved — the
    partition structure IS the point of such a layout."""
    import shutil

    tmp = f"{dst}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        for f in files:
            if not f.endswith(".parquet"):
                continue
            out_dir = os.path.join(tmp, rel) if rel != "." else tmp
            os.makedirs(out_dir, exist_ok=True)
            tbl = pq.read_table(os.path.join(root, f))
            pq.write_table(
                tbl.cast(_us_schema(tbl.schema), safe=False),
                os.path.join(out_dir, f),
                compression="snappy",
            )
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)


def load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table from its original single-file layout (see
    raw_readable_path); scan parallelism is capped by that layout, so
    this is only for file-lineage-sensitive consumers."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = raw_readable_path(sf_dir, name)
    return session_memo(spark, ("table", path), lambda: spark.read.parquet(path))


def spark_readable_path(sf_dir: str, name: str) -> str:
    """Return a path Spark can read: ns timestamps converted to us, and
    large single-row-group files re-split into part files so scans
    parallelize. Both rewrites preserve values bit-for-bit vs what DuckDB
    reads (ns->us is the truncation DuckDB applies natively; re-splitting
    only re-groups rows into files) and happen once per sf dir."""
    src = path_for(sf_dir, name)
    ns = _needs_ns_downcast(src)
    resplit = _resplit_n_files(src)
    if not ns and not resplit:
        return src
    tag = os.path.basename(os.path.normpath(sf_dir))
    dst = os.path.join(_CACHE_ROOT, tag, f"{name}.parquet")
    if os.path.isdir(src):
        # directory source (partitioned / part-files) needing the ns fix:
        # leaf-wise rewrite preserving the layout (resplit is 0 for dirs)
        if not (
            os.path.exists(dst) and os.path.getmtime(dst) >= os.path.getmtime(src)
        ):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _rewrite_dir_us(src, dst)
        return dst
    if os.path.exists(dst) and os.path.getmtime(dst) >= os.path.getmtime(src):
        # layout check: a cache written under an older split policy (or a
        # single file where the policy now wants a directory of parts) is
        # rebuilt, not reused — the whole point is the file COUNT.
        if os.path.isdir(dst):
            n_parts = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
            # expected part count under the CURRENT policy (slicing by
            # per = ceil(rows/resplit) can land under resplit itself)
            rows = pq.ParquetFile(src).metadata.num_rows
            per = max(1, -(-rows // max(resplit, 1)))
            if resplit and n_parts == -(-rows // per):
                return dst
        elif not resplit:
            return dst
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    tbl = pq.read_table(src)
    if ns:
        # safe=False: truncate sub-microsecond digits, exactly as DuckDB
        # does when it reads ns timestamps into its native us representation.
        tbl = tbl.cast(_us_schema(tbl.schema), safe=False)
    # clear a stale cache whose LAYOUT no longer matches the current
    # policy (a part-file directory where a single file is now wanted,
    # or vice versa) before writing the rebuilt one: pq.write_table
    # cannot overwrite a directory and os.replace cannot replace one.
    if os.path.isdir(dst) or os.path.isfile(dst):
        import shutil

        shutil.rmtree(dst, ignore_errors=True)
        if os.path.isfile(dst):
            os.remove(dst)
    if not resplit:
        pq.write_table(tbl, dst, compression="snappy")
        return dst
    # multi-file layout: write slices to a tmp dir, then atomic rename so
    # a concurrent reader never sees a half-written directory
    tmp = f"{dst}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    n = tbl.num_rows
    per = max(1, -(-n // resplit))
    for part, start in enumerate(range(0, n, per)):
        pq.write_table(
            tbl.slice(start, per),
            os.path.join(tmp, f"part-{part:05d}.parquet"),
            compression="snappy",
        )
    os.replace(tmp, dst)
    return dst


def invalidate_cache(path: str | None = None) -> None:
    """Drop memoized table frames whose file index may be stale, and
    every prepared plan (plans reference the frames).

    Must be called after any in-place rewrite of a parquet dir that may
    have been loaded in this session (maintenance does this itself);
    with no argument every table frame is dropped.
    """
    if path is None:
        _ROWS_PROBE_CACHE.clear()
    else:
        path = os.path.normpath(path)
        _ROWS_PROBE_CACHE.pop(path, None)
    drop_memos(
        lambda key: key[0] == "plan"
        or (key[0] == "table" and path in (None, os.path.normpath(key[1])))
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = spark_readable_path(sf_dir, name)
    return session_memo(spark, ("table", path), lambda: _read(spark, path))


def _read(spark: SparkSession, path: str) -> DataFrame:
    # Table frames are session memos (ARCHITECTURE.md "Session memos"):
    # repeated loads skip re-listing files and re-reading footers. No
    # persist()/cache(): that would swap parquet scans for
    # InMemoryTableScan and hide pushdown from the plans the engine
    # asserts on.
    df = spark.read.parquet(path)
    if _is_hive_partitioned(path):
        # A partitioned layout carries DERIVED partition columns in
        # its directory names (dt= from ts, ship-month from
        # l_shipdate). Project back to the leaf-file data schema so
        # every query sees the exact same table regardless of
        # layout. Partition pruning is unaffected for queries on
        # real data columns: each leaf file covers one partition
        # value, so pushed predicates skip whole files via footer
        # min/max stats (measured: see tests/test_partitioned_layout.py).
        data_cols = pq.read_schema(_leaf_parquet(path)).names
        if list(df.columns) != list(data_cols):
            df = df.select(*data_cols)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load(spark, sf_dir, n) for n in TABLE_NAMES}


def oracle_view_source(sf_dir: str, name: str) -> str:
    """DuckDB FROM-clause source for a table path: a plain file reads
    directly, a directory layout (partitioned copy / part files) reads
    via a recursive glob — leaf files only, so the oracle sees the exact
    DATA schema (partition columns live in directory names and are a
    layout detail, not table content)."""
    src = path_for(sf_dir, name)
    if os.path.isdir(src):
        return f"read_parquet('{src}/**/*.parquet')"
    return f"read_parquet('{src}')"


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() queries run."""
    for n in TABLE_NAMES:
        load(spark, sf_dir, n).createOrReplaceTempView(n)
