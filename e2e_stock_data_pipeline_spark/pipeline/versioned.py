"""Versioned parquet tables: time travel + change feed without Delta.

The reference leans on Delta for ACID history (`DESCRIBE HISTORY`,
`VERSION AS OF`, reference: bronze_prices_auto_loader.ipynb:cell-4,
docs/databricks_setup.md:336-340) and Change Data Feed
(`delta.enableChangeDataFeed`). delta-spark isn't importable here, so
the engine provides the same *capabilities* over plain parquet:

    table_root/
      _versions/v=N/   immutable data snapshots
      _manifest.json   ordered version log (id, timestamp, op, rows)

* write_version(df, root, op)        -> append an immutable snapshot
* read_version(spark, root, v=None)  -> any historical version (None=latest)
* history(root)                      -> the DESCRIBE HISTORY analog
* changes_between(spark, root, keys, v1, v2) -> CDF analog: per-key
  insert / update / delete rows between two versions.

Snapshots are full copies (fine for silver-sized tables); swapping the
storage for Delta when available changes none of the call sites.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .commit import write_atomic

_MANIFEST = "_manifest.json"


def _manifest_path(root: str) -> str:
    return os.path.join(root, _MANIFEST)


def history(root: str) -> list[dict]:
    """Ordered version log (oldest first) — DESCRIBE HISTORY analog."""
    p = _manifest_path(root)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def write_version(df: DataFrame, root: str, op: str = "write") -> int:
    """Append an immutable snapshot; returns the new version id."""
    log = history(root)
    v = (log[-1]["version"] + 1) if log else 0
    dest = os.path.join(root, "_versions", f"v={v}")
    # v is past every listed version, so an existing v=N is the orphan of
    # a write that crashed before its manifest commit: overwrite it
    df.write.mode("overwrite").parquet(dest)
    n = df.sparkSession.read.parquet(dest).count()
    log.append(
        {
            "version": v,
            "timestamp": datetime.now(timezone.utc).isoformat(),
            "operation": op,
            "rows": n,
        }
    )
    write_atomic(_manifest_path(root), json.dumps(log, indent=1))
    return v


def read_version(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """VERSION AS OF analog; latest when version is None."""
    log = history(root)
    if not log:
        raise FileNotFoundError(f"no versions at {root}")
    ids = [e["version"] for e in log]
    v = ids[-1] if version is None else version
    if v not in ids:
        raise ValueError(f"version {v} not in {ids}")
    return spark.read.parquet(os.path.join(root, "_versions", f"v={v}"))


def changes_between(
    spark: SparkSession, root: str, keys: list[str], v_from: int, v_to: int
) -> DataFrame:
    """Change feed between two versions, keyed: one row per changed key
    with _change_type in (insert, update_postimage, delete) — the OSS
    analog of Delta CDF's readChangeFeed output."""
    old = read_version(spark, root, v_from)
    new = read_version(spark, root, v_to)
    val_cols = [c for c in new.columns if c not in keys]
    o = old.select(*keys, F.struct(*val_cols).alias("_old"))
    n = new.select(*keys, F.struct(*val_cols).alias("_new"))
    joined = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .when(F.col("_old") != F.col("_new"), F.lit("update_postimage"))
    )
    payload = F.coalesce(F.col("_new"), F.col("_old"))
    return (
        joined.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(
            *keys,
            *[payload[c].alias(c) for c in val_cols],
            "_change_type",
        )
    )
