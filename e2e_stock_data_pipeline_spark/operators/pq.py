"""Product quantization (PQ) ANN [EXT] — the memory-bound scale path
for embedding search: candidates compress from d floats to m small
codes, and query-time distance is a table lookup, not a dot product.

At 100 TB of embeddings the working set, not compute, is the binding
constraint; PQ shrinks a 64-dim vector to m codes so the scan stage
streams codes while each query carries a tiny (m x k) distance lookup
table. :func:`pq_rerank_topk_seeded` (q123) is the one operator, one
lazy Catalyst plan end to end:

* codebook: centroid c of subspace j is the j-th subvector of the
  c-th-smallest-id candidate (a deterministic sample codebook, KMeans
  iteration zero), so no fit job runs and an SQL oracle replays it;
* encode: argmin over the centroids per (candidate, subspace) as pure
  Catalyst expressions (no UDF), ties to the smaller centroid index;
* search (ADC): the per-query LUT is |Q| x m x k rows, broadcast to
  the code scan, which joins it on (subspace, code) and sums per
  (query, candidate) — never a full-vector product against the
  candidate table;
* rerank: only the shortlist survivors pay an exact integer distance.

Approximation contract: ADC distances are reconstructions, so the
shortlist is approximate; recall against brute force is tested in
tests/test_operators.py. On near-uniform data, where the true NN is
barely closer than the median candidate, quantization error rivals the
neighbour gap, which is why PQ runs as a SHORTLIST stage followed by
exact rerank — the standard production deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import dot_q, quantized

# Density divisor for the ADC shortlist (the r15 planted-audit fix):
# effective shortlist = max(shortlist, n_candidates DIV this). Module-
# level so the registered q123 call AND its DuckDB oracle f-string
# reference the same constant and cannot drift (ADVICE r15).
SHORTLIST_SCALE_DIV = 16


def _d2_q(a, b):
    """Exact integer squared L2 via the dot decomposition |a|^2 - 2ab + |b|^2.

    Same value as summing (x-y)^2 (integers are exact), but each dot is a
    single fold and the decomposition is what an SQL oracle can replay with
    its native list dot product.
    """
    return dot_q(a, a) - F.lit(2).cast("bigint") * dot_q(a, b) + dot_q(b, b)


def pq_rerank_topk_seeded(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    n_seeds: int = 16,
    shortlist: int = 32,
    k_top: int = 5,
    shortlist_scale_div: int | None = SHORTLIST_SCALE_DIV,
) -> DataFrame:
    """PQ shortlist -> exact rerank, fully lazy and integer-exact.

    The production two-stage ANN composition (see module docstring): an
    ADC scan over m-byte codes shortlists `shortlist` candidates per
    query, then only those survivors pay an exact full-vector distance.
    The codebook is DATA-DERIVED INSIDE THE PLAN: centroid c of subspace j is
    the j-th subvector of the c-th-smallest-id candidate (a deterministic
    sample codebook ~ KMeans iteration zero). That keeps the whole chain
    one lazy Catalyst plan — no fit job, no literals — and lets a SQL
    oracle replay every stage bit-for-bit over integer-quantized vectors.

    Scale shape: seeds are a broadcast O(n_seeds) frame; encode is one
    explode + map-side-combinable groupBy(cand, j) (the stored code
    index at 100 TB); the ADC scan touches codes only (|C| * m rows, no
    float vectors) and shortlisting is a per-query top-k window over an
    aggregated |Q| x |C| code-distance frame; the exact stage reads full
    vectors for `shortlist` rows per query only.

    ``shortlist_scale_div`` is the density guard the r15 planted audit
    demanded (sf10: a FIXED 32-deep shortlist is 6.5% of the gate corpus
    but 0.016% of 200k candidates — measured recall@5 fell to 22.8%):
    the effective shortlist is max(shortlist, n_candidates DIV div),
    computed per query as a COUNT window over the same partition the
    top-k window already shuffles — no extra exchange, and at gate
    scales (< div * shortlist candidates) the output is bit-unchanged.
    A fixed FRACTION is the honest operating point for THIS codebook:
    the 16-seed sampled codebook's distortion does not improve with
    corpus size, so a fixed-count shortlist must lose recall as density
    grows. At true 100 TB scale a trained codebook would allow a
    fixed-count shortlist; pass None to disable scaling.

    Returns (query_id, cand_id, adc_dist2, exact_d2, rnk) — all bigint
    but the int rnk; ties break on cand_id everywhere.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    subs = f"transform(sequence(0, {m - 1}), j -> slice(_q, j * {dsub} + 1, {dsub}))"

    def checked_q(side: str):
        # Length guard INSIDE the _q expression (a separate asserted
        # column would be pruned out of the plan): a short/malformed
        # embedding would otherwise silently truncate zip_with dots and
        # produce short slice() subvectors — wrong ADC and exact
        # distances instead of an error (ADVICE r7).
        q = quantized(vec_col)
        return F.when(F.size(q) == dim, q).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"pq_rerank: {side} embedding length != dim={dim} for id "),
                    F.col(id_col).cast("string"),
                )
            )
        )

    qn = queries.select(F.col(id_col).alias("query_id"), checked_q("query").alias("_q"))
    cn = candidates.select(F.col(id_col).alias("cand_id"), checked_q("candidate").alias("_q"))

    # Codebook: subvectors of the n_seeds smallest-id candidates. The limit
    # is a TakeOrdered (no global sort); the row_number window then runs on
    # n_seeds rows only.
    seeds = (
        cn.orderBy("cand_id")
        .limit(n_seeds)
        .withColumn("c", F.row_number().over(Window.orderBy("cand_id")) - 1)
    )
    seed_sub = seeds.select("c", F.posexplode(F.expr(subs)).alias("j", "cent"))

    d2 = _d2_q(F.col("sub"), F.col("cent"))

    # Encode: argmin centroid per (candidate, subspace) — min over a
    # lexicographic (d2, c) struct is partial-aggregable, so the explode
    # never shuffles raw subvector rows.
    cand_sub = cn.select("cand_id", F.posexplode(F.expr(subs)).alias("j", "sub"))
    codes = (
        cand_sub.join(F.broadcast(seed_sub), "j")
        .select("cand_id", "j", d2.alias("_d2"), "c")
        .groupBy("cand_id", "j")
        .agg(F.min(F.struct("_d2", "c")).alias("_mc"))
        .select("cand_id", "j", F.col("_mc.c").alias("c"))
    )

    # Per-query LUT: |Q| * m * n_seeds rows, broadcast to the code scan.
    q_sub = qn.select("query_id", F.posexplode(F.expr(subs)).alias("j", "sub"))
    lut = q_sub.join(F.broadcast(seed_sub), "j").select("query_id", "j", "c", d2.alias("d2"))

    adc = (
        codes.join(F.broadcast(lut), ["j", "c"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("d2").cast("bigint").alias("adc_dist2"))
    )
    ws = Window.partitionBy("query_id").orderBy("adc_dist2", "cand_id")
    short = adc.withColumn("_r", F.row_number().over(ws))
    if shortlist_scale_div is not None and shortlist_scale_div < 1:
        raise ValueError(
            f"shortlist_scale_div must be >= 1 or None to disable the "
            f"density guard, got {shortlist_scale_div}"
        )
    if shortlist_scale_div is not None:
        short = short.withColumn(
            "_nc", F.count(F.lit(1)).over(Window.partitionBy("query_id"))
        ).filter(
            F.col("_r")
            <= F.greatest(
                F.lit(shortlist).cast("bigint"),
                F.expr(f"_nc DIV {shortlist_scale_div}"),
            )
        )
    else:
        short = short.filter(F.col("_r") <= shortlist)
    short = short.drop("_r", "_nc")

    # Exact rerank of survivors only.
    exact = _d2_q(F.col("_qq"), F.col("_cq"))
    wr = Window.partitionBy("query_id").orderBy("exact_d2", "cand_id")
    return (
        short.join(cn.select("cand_id", F.col("_q").alias("_cq")), "cand_id")
        .join(F.broadcast(qn.select("query_id", F.col("_q").alias("_qq"))), "query_id")
        .select("query_id", "cand_id", "adc_dist2", exact.alias("exact_d2"))
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= k_top)
    )
