"""Silver layer: keep-latest upsert (reference:
docs/databricks_setup.md:146-198 — `MERGE INTO silver USING (dedup
subquery) ... WHEN MATCHED AND row_num=1 THEN UPDATE SET *`).

`merge_upsert` implements the same semantics engine-side (union +
ROW_NUMBER keep-latest + full rewrite), committed through
pipeline/commit.py. The rewrite shuffles on the merge key once and
rewrites the whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import keep_last
from .commit import recover, staged


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
) -> None:
    """Upsert: newest row per key wins across existing target + updates.

    The semantics contract (pinned by the MERGE matrix test in
    tests/test_pipeline.py):

    * source is deduped to its newest row per key first (the
      reference's ``row_num = 1`` guard, docs/databricks_setup.md:
      183-197);
    * a matched target row is replaced iff the source row's
      ``order_col`` is **newer or equal** — i.e. the update wins ties
      (a MERGE's ``s.order >= t.order`` condition, encoded here as a
      source-precedence tie-break column). This is deliberately
      stricter than the reference's unconditional ``WHEN MATCHED THEN
      UPDATE SET *``: a late-arriving OLDER source row must not clobber
      newer silver data;
    * unmatched source rows insert; target rows never disappear;
    * re-running the same merge is a no-op (idempotent);
    * multiple SOURCE rows tied on ``order_col`` resolve by a content
      hash over all columns (deterministic on every engine/partitioning
      — ADVICE r7; identical duplicate rows are interchangeable, so the
      arbitrary-but-stable hash order is sufficient).
    """
    helper_clash = {"_src_pri", "_tie", "_rn"} & set(updates.columns)
    if helper_clash:
        raise ValueError(
            f"merge_upsert input carries reserved helper column(s) "
            f"{sorted(helper_clash)}; rename them before merging (they would "
            "silently corrupt the tie-break policy)"
        )

    def with_tie(df: DataFrame) -> DataFrame:
        # content hash over the DATA columns only, fixed column order
        return df.withColumn("_tie", F.xxhash64(*[F.col(c) for c in updates.columns]))

    import os

    recover(target_path)
    if os.path.exists(target_path):
        existing = spark.read.parquet(target_path)
    else:  # first run: nothing to merge with (avoids a noisy read probe)
        existing = None
    if existing is None:
        result = keep_last(with_tie(updates), keys, [order_col, "_tie"]).drop("_tie")
    else:
        # _src_pri makes the update win order-col ties deterministically
        # (a MERGE's `s.order >= t.order`); _tie resolves same-source
        # order-col ties by content hash.
        merged = with_tie(existing).withColumn("_src_pri", F.lit(0)).unionByName(
            with_tie(updates).withColumn("_src_pri", F.lit(1))
        )
        result = keep_last(merged, keys, [order_col, "_src_pri", "_tie"]).drop(
            "_src_pri", "_tie"
        )
    # Can't overwrite the path being read: stage to a sibling temp dir,
    # then swap (distributed write, no driver materialization).
    with staged(target_path) as tmp:
        result.write.mode("overwrite").parquet(tmp)
