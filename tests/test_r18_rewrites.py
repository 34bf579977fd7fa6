"""Old-vs-new equivalence for the r18 q99 rewrite.

q99 (contamination check) moved from the exploded-shingle double join
over ``exploded_shingles(distinct=True)`` (distinct per (doc_id,
shingle)) to a posting-list pass over ``exploded_shingle_sets``
(distinct per ROW). Random documents over a small skewed vocabulary put
shingle doc-frequencies on both sides of the 50-doc cap; the duplicate
case adds rows that repeat a doc_id, with the same text or a new one,
which the per-row form must not count twice.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from e2e_stock_data_pipeline_spark.operators import dedup as D
from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules

REG = load_all_query_modules()

_VOCAB = ["a", "b", "c", "d", "e", "f", "g"]
_WEIGHTS = [8, 5, 3, 2, 1, 1, 1]


def _q99_reference(docs):
    """q99 as it was before the posting-list rewrite."""
    sh = D.exploded_shingles(docs, distinct=True)
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
    capped = sh.join(df_counts.filter(F.col("c") <= 50), "shingle").select(
        "doc_id", "shingle"
    )
    ev = capped.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    tr = capped.filter(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    return (
        tr.join(ev, "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def _documents(seed: int, duplicates: bool) -> list[dict]:
    rng = random.Random(seed)

    def text() -> str:
        return " ".join(rng.choices(_VOCAB, _WEIGHTS, k=rng.randint(3, 10)))

    ids = [97 * j for j in range(1, 21)]
    ids += rng.sample([i for i in range(1, 4000) if i % 97], 400)
    rows = [{"doc_id": i, "text": text()} for i in ids]
    if duplicates:
        for r in rng.sample(rows, 40):
            rows.append({"doc_id": r["doc_id"], "text": r["text"]})
            rows.append({"doc_id": r["doc_id"], "text": text()})
        rng.shuffle(rows)
    return rows


@pytest.mark.parametrize("duplicates", [False, True], ids=["unique_ids", "duplicate_ids"])
@pytest.mark.parametrize("seed", [1, 2])
def test_q99_matches_pre_rewrite_shape(spark, tmp_path, seed, duplicates):
    rows = _documents(seed, duplicates)
    pd.DataFrame(rows).to_parquet(os.path.join(str(tmp_path), "documents.parquet"))
    got = REG["q99_contamination_check"].spark(spark, str(tmp_path))
    want = _q99_reference(spark.createDataFrame(pd.DataFrame(rows)))
    got_rows = sorted(map(tuple, got.select("train_doc", "eval_doc", "n_shared").collect()))
    want_rows = sorted(map(tuple, want.select("train_doc", "eval_doc", "n_shared").collect()))
    assert want_rows, "fixture produced no contaminated pairs"
    assert got_rows == want_rows
