"""Greedy maximum-coverage selection (submodular curation).

The data-curation primitive behind "pick the k sources/owners whose
union covers the most items": classic greedy on a submodular objective
(1 - 1/e optimal) — never a materialized power set, never a
driver-side pair scan.

Scale design (100 TB): the pair table is scanned once, into one item
array per set; each round scores that set-dimension frame against a
one-row broadcast of the covered set (covered grows by at most one
set's items per round, bounded by k * max-set-size). The per-round
argmax reduces to one row collected to the driver (same documented
driver-contact pattern as ranking.py's two-pass global rank: k rows
total cross the driver for k rounds). The covered set is checkpointed
per round (ARCHITECTURE.md, "Eager rounds").

Reference anchor: the reference has no curation tier; this extends the
[EXT] training-data operators (SURVEY.md SS2.14).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .materialize import materialize, unpersist_materialized


def greedy_max_coverage(
    pairs: DataFrame,
    set_col: str,
    item_col: str,
    k: int,
) -> DataFrame:
    """Greedy max-coverage over distinct (set, item) pairs.

    Returns one row per selection round: ``pick_order`` (1-based),
    ``<set_col>`` (the chosen set), ``new_items`` (its marginal gain),
    ``covered_total`` (running union size). Ties break on the smallest
    set key (fully deterministic). Sets contributing zero new items are
    never picked; the result may have fewer than k rows.
    """
    # r17 (guide §2.3 "aggregate before you shuffle", §1.2 step 1): the
    # previous shape re-scanned the data-sized distinct (set, item)
    # pair frame EVERY round (broadcast anti-join + full
    # re-aggregation, k passes over ~50M rows at sf10). All the rounds
    # need is each set's item SET, which never changes — so aggregate
    # ONCE to a per-set array frame (collect_set dedups (s, i) repeats
    # exactly like the old distinct) and let each round score
    # size(array_except(items, covered)) over the SET-dimension frame
    # (100k rows at sf10 vs 50M pair rows). The covered set stays a
    # distributed frame collected into a one-row broadcast array per
    # round (bounded by k * max-set-size, same bound and driver
    # contract as before: exactly k argmax rows cross the driver).
    # Precondition inherited from the array form: one set's items must
    # fit a single array cell (max-set-size * 8B, executor-bounded);
    # for set cardinalities beyond that, the pre-r17 per-round
    # anti-join form in git history is the fallback.
    spark: SparkSession = pairs.sparkSession
    p, _ = materialize(
        pairs.select(F.col(set_col).alias("_s"), F.col(item_col).alias("_i"))
        .groupBy("_s")
        .agg(F.collect_set("_i").alias("_items")),
        "_s",
    )
    covered: DataFrame | None = None
    out_rows: list[tuple] = []
    total = 0
    for round_no in range(1, k + 1):
        if covered is None:
            scored = p.select("_s", F.size("_items").alias("_n"))
        else:
            cov1 = covered.agg(F.collect_set("_c").alias("_cov"))
            scored = p.crossJoin(F.broadcast(cov1)).select(
                "_s", F.size(F.array_except("_items", "_cov")).alias("_n")
            )
        best = (
            scored.orderBy(F.col("_n").desc(), F.col("_s").asc())
            .limit(1)
            .collect()
        )
        if not best or best[0]["_n"] == 0:
            break
        s_key, gain = best[0]["_s"], int(best[0]["_n"])
        total += gain
        out_rows.append((round_no, s_key, gain, total))
        if round_no == k:
            break  # no later round reads the covered set
        picked_items = (
            p.filter(F.col("_s") == F.lit(s_key))
            .select(F.explode("_items").alias("_c"))
        )
        # bounded by k * max-set-size — plain checkpoint is fine, but
        # the serialized storage level costs nothing here
        covered, _ = materialize(
            picked_items
            if covered is None
            else covered.unionByName(picked_items),
            release=[covered],
        )
    # no checkpoint supersedes these: the result is driver rows
    unpersist_materialized(p, covered)
    schema_set_type = [f.dataType for f in p.schema.fields if f.name == "_s"][0]
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("pick_order", IntegerType(), False),
            StructField(set_col, schema_set_type, False),
            StructField("new_items", LongType(), False),
            StructField("covered_total", LongType(), False),
        ]
    )
    return spark.createDataFrame(out_rows, schema)
