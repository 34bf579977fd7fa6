"""Similarity search over embedding columns [EXT].

Brute-force cosine top-k is the correctness baseline. The scale paths
are LSH-blocked near-dup (random-hyperplane signs -> bucket join:
signatures are per-row transforms, no shuffle, and the candidate join
shuffles only on bucket key, never materializing the n^2 pair matrix)
and the seeded IVF probe -> exact rerank (q128); operators/pq.py holds
the PQ shortlist -> rerank (q123).

Numeric parity design: cosine is computed over vectors QUANTIZED to
integers (floor(x * 10000) per component). Integer dot products are
exact in both Spark (bigint) and DuckDB (double holding ints < 2^53),
so ranking and values hash-match bit-for-bit — no FP summation-order
fuzz. All array math is Catalyst `transform`/`zip_with`/`aggregate`
(JVM-side, no UDF).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT = 10000


def quantized(col: str | Column = "embedding") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.floor(x.cast("double") * QUANT).cast("bigint"))


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors (bigint)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def with_quantized_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    # The coalesce is a nullability fence (the self-dot is never null):
    # downstream cosine-threshold filters are null-intolerant, so a
    # NULLABLE _nn gets an inferred isnotnull(_nn) pushed below this
    # projection — the whole quantize+fold re-evaluated per scan row
    # just for the null check (the banded_hyperplane_buckets _bucket
    # lesson, r17). A provably non-null column infers nothing.
    # Caveat (r17 ADVICE): _nn = -1 ENCODES "null input vector" — it is
    # a semantically impossible norm, only reachable when the whole
    # fold is NULL, and every cosine over such a row is NULL anyway.
    # No consumer may read _nn as a real norm (e.g. a norm-range
    # filter) without first excluding the -1 sentinel.
    q = quantized(vec_col)
    return df.withColumn("_q", q).withColumn(
        "_nn",
        F.coalesce(dot_q(F.col("_q"), F.col("_q")), F.lit(-1).cast("bigint")),
    )


def cosine_q(qa: Column, qb: Column, na: Column, nb: Column) -> Column:
    """Cosine over quantized vectors: exact int dot / product of sqrts."""
    return dot_q(qa, qb).cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k candidates per query by quantized cosine, deterministic ties.

    The (small) query side is broadcast; the candidate scan streams —
    this is the shape that survives a 100 TB candidate table as long as
    the query set fits in memory.
    """
    q = with_quantized_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_q").alias("_qq"), F.col("_nn").alias("_qn")
    )
    c = with_quantized_norm(candidates, vec_col).select(
        F.col(id_col).alias("cand_id"), F.col("_q").alias("_cq"), F.col("_nn").alias("_cn")
    )
    cos = cosine_q(F.col("_qq"), F.col("_cq"), F.col("_qn"), F.col("_cn"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .select("query_id", "cand_id", cos.alias("cos_sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


# Lazy-dim fallback: plane literals are built out to this many components
# and sliced per row to size(vector). Vectors longer than this hash on
# their first MAX_PLANE_DIM components — still a valid signature. Both
# sides of the zip are truncated to min(size, MAX_PLANE_DIM): zip_with
# null-pads the shorter array, so an untruncated long vector would turn
# every plane dot product NULL (sign bit 0 -> all rows in bucket 0).
MAX_PLANE_DIM = 256


def hyperplane_lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 13,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (sign-bit signature).

    Hyperplanes are derived from the engine's portable hash of
    (seed, plane, dim) so they are deterministic and reproducible in
    SQL. Returns (id, bucket) — similar vectors collide with high
    probability; join on bucket for the scale path of near-dup/ANN.

    Fully lazy: when ``dim`` is known the plane literals are built to
    exactly that length; when None they are built to MAX_PLANE_DIM and
    sliced to size(vector) inside the expression. No driver-side probe
    runs in either case, so empty inputs yield an empty (id, bucket)
    frame instead of raising.
    """
    if n_planes == 0:
        # degenerate single-bucket signature: blocking reduces to whatever
        # other keys the caller composes (e.g. label-only in q87)
        return df.select(F.col(id_col), F.lit(0).cast("bigint").alias("bucket"))
    # plane p, dim d coefficient in {-1, +1} from parity of a portable hash
    coeffs = []
    for p in range(n_planes):
        terms = (
            f"aggregate(zip_with(_q, _planes[{p}], (x, c) -> x * c), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        coeffs.append(f"CASE WHEN {terms} > 0 THEN CAST(pow(2, {p}) AS BIGINT) ELSE 0 END")
    bucket_expr = " + ".join(coeffs)

    import hashlib

    def sign(p: int, d: int) -> int:
        h = hashlib.sha256(f"plane:{seed}:{p}:{d}".encode()).hexdigest()
        return 1 if int(h[:2], 16) % 2 == 0 else -1

    lit_dim = dim if dim is not None else MAX_PLANE_DIM

    def plane(p: int) -> Column:
        full = F.array(*[F.lit(sign(p, d)).cast("bigint") for d in range(lit_dim)])
        if dim is not None:
            return full
        return F.slice(full, 1, F.size(F.col("_q")))

    planes = F.array(*[plane(p) for p in range(n_planes)])
    q = quantized(vec_col)
    if dim is None:
        q = F.slice(q, 1, F.least(F.size(q), F.lit(MAX_PLANE_DIM)))
    return (
        df.withColumn("_q", q)
        .withColumn("_planes", planes)
        .select(F.col(id_col), F.expr(bucket_expr).alias("bucket"))
    )


def lsh_blocked_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    threshold: float = 0.2,
    n_planes: int = 4,
    seed: int = 13,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup pairs blocked on (LSH band, bucket [, label]) — the scale
    path for q50-style cosine near-dup. The within-label all-pairs join
    is n^2/L when labels are few; composing hyperplane buckets into the
    blocking key shrinks per-block pair work while same-bucket
    probability for truly similar vectors stays high
    ((1 - theta/pi)^planes per band).

    The bucket tables are the banded density-scaled geometry
    (embed_band_params over the corpus count, ``n_planes`` as the base):
    per-band bucket population stays ~EMBED_DENSITY_DIV rows however big
    the corpus, so in-block pair volume does not grow n^2/2^base — the
    same fix shape as the incremental embedding near-dup. Below the
    640-row density floor the geometry is one ``n_planes``-plane table
    (hyperplane_lsh_buckets' buckets; tests pin the equality).

    Output is a SUBSET of the exact pairs (precision 1 at the same
    threshold); recall is the tunable (extra bands raise it where a
    deeper single table would cut it). Returns (vec_a, vec_b, cos_sim).
    """
    keep = [label_col] if label_col else []
    params = embed_band_params(df, n_planes)
    bk = banded_hyperplane_buckets(
        df, params, id_col, vec_col, seed, dim, n_planes, keep_cols=keep
    )
    keys = ["_band", "_bucket", *keep]
    a = bk.select(F.col(id_col).alias("vec_a"), *keys)
    c = bk.select(F.col(id_col).alias("vec_b"), *keys)
    cand = (
        a.join(c, keys)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()  # a close pair collides in several bands
    )
    n = with_quantized_norm(df, vec_col)
    qa = n.select(
        F.col(id_col).alias("vec_a"),
        F.col("_q").alias("_qa"), F.col("_nn").alias("_na"),
    )
    qb = n.select(
        F.col(id_col).alias("vec_b"),
        F.col("_q").alias("_qb"), F.col("_nn").alias("_nb"),
    )
    cos = cosine_q(F.col("_qa"), F.col("_qb"), F.col("_na"), F.col("_nb"))
    return (
        cand.join(qa, "vec_a")
        .join(qb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _d2_int(a: Column, b: Column) -> Column:
    """Exact integer squared L2 via |a|^2 - 2ab + |b|^2 (pq._d2_q's
    decomposition — the form a SQL oracle replays with a native list
    dot product)."""
    return dot_q(a, a) - F.lit(2).cast("bigint") * dot_q(a, b) + dot_q(b, b)


# Density scaling for the seeded IVF (VERDICT r15 item 2, the q123
# shortlist-guard shape applied to the coarse quantizer): the cell
# count follows the classic IVF rule n_cells ~ sqrt(N), with the
# caller's n_cells and n_probe as floors — concretely
# LEAST(IVF_CELLS_MAX, GREATEST(n_cells,
# FLOOR(SQRT(n_cand DIV IVF_CELLS_SCALE_DIV)))) — and the probe count
# keeps the probed-cell FRACTION constant at 1/IVF_PROBE_DIV
# (GREATEST(n_probe, cells DIV IVF_PROBE_DIV)), so the probed
# population stays the same share of the corpus while the cells
# themselves get finer (recall can only improve over the fixed
# geometry). FLOOR(SQRT(.)) over a bigint is IEEE-exact on both
# engines, so the oracle replays the geometry from the same count.
# IVF_CELLS_MAX bounds the static seed scan (smallest-id top-K) —
# past ~IVF_CELLS_SCALE_DIV * IVF_CELLS_MAX^2 candidate rows the cell
# count stops scaling; raise it with the seed-scan budget at 100 TB.
#
# IVF_PROBE_DIV = 2 since r17 (VERDICT r16 item 2: q128's 81.6%
# recall@5 was the similarity family's low bar, misses pure probe
# pruning). The knob sweep at sf10 (lloyd = Lloyd steps, div = this
# constant; the scripts/recall_audit.py ann planted protocol, 2 reps x
# 25 truth slots per variant, one session):
#   lloyd=1 div=4: 78.0%  41.9 s   (the r16 geometry)
#   lloyd=1 div=2: 92.0%  44.3 s   <- chosen
#   lloyd=2 div=4: 80.0%  55.5 s
#   lloyd=2 div=2: 88.0%  57.4 s
# Probe fraction is the lever; an extra Lloyd step costs a full
# corpus x cells assignment pass (+13 s) and buys ~nothing on this
# corpus (near-uniform synthetic embeddings — cluster structure is
# weak, so sharper centroids don't move neighbor-cell ranking). The
# div=2 rerank leg is cheap because only probed-cell rows pay exact
# distance and the query set is small; the dominant cost stays the
# assignment passes, which div does not touch. Both stay constants:
# one Lloyd step (what q128's oracle replays) and IVF_PROBE_DIV.
IVF_CELLS_SCALE_DIV = 4
IVF_PROBE_DIV = 2
IVF_CELLS_MAX = 1024


def _assign_cells(
    cn: DataFrame, cells, cents, dim: int, id_type: str
) -> DataFrame:
    """Argmin-cell assignment of (cand_id, _q) rows against a fixed
    centroid matrix, computed as ONE int64 matrix product per Arrow
    batch (guide §4.2: hand whole batches to vectorized native code).

    Exactness contract (must stay bit-identical to the oracle's
    ``row_number() ORDER BY d2, c``; pinned against an independent numpy
    reference in tests/test_operators.py): all arithmetic is int64 (quantized components
    are < ~2^17, so a 64-dim reduced distance is < 2^45 — no overflow),
    the reduced distance |c|^2 - 2<x,c> drops the row's own |x|^2 term
    (constant across cells, cannot reorder an argmin), ``cents`` rows
    are sorted by ascending cell id so numpy's first-minimum argmin
    breaks ties toward the smallest cell id, exactly the oracle's order.
    ``_q`` is passed through the batch, so consumers need no join back
    to the candidate table.

    Why not a smarter pruned scan: both exact-pruning bounds were
    measured DEAD on this corpus before this path was written (r18,
    BENCH_NOTES) — Cauchy-Schwarz prunes 0.05% of (row, cell) pairs and
    the Elkan triangle bound 0.0%, because near-uniform 64-dim vectors
    sit ~2x farther from every centroid than centroids sit from each
    other. The win here is constant-factor (interpreted HOF fold ->
    native matmul), not algorithmic."""
    import numpy as np

    cents = np.ascontiguousarray(cents, dtype=np.int64)
    cells_np = np.asarray(cells, dtype=np.int32)
    nc2 = (cents * cents).sum(axis=1)

    def fn(batches):
        import numpy as np  # noqa: F811 — resolved once per task
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            idx = b.schema.get_field_index("_q")
            qcol = b.column(idx)
            values = qcol.flatten()
            if values.null_count:
                # to_numpy would turn a NULL into NaN, then a garbage int64
                raise ValueError(
                    f"ivf arrow assign: {values.null_count} NULL _q elements"
                )
            flat = values.to_numpy(zero_copy_only=False)
            if flat.shape[0] != n * dim:
                raise ValueError(
                    f"ivf arrow assign: ragged _q batch ({flat.shape[0]}"
                    f" values for {n} rows at dim={dim})"
                )
            x = flat.reshape(n, dim).astype(np.int64, copy=False)
            d2r = nc2[None, :] - 2 * (x @ cents.T)
            cell = cells_np[d2r.argmin(axis=1)]
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("cand_id")),
                    pa.array(cell, type=pa.int32()),
                    qcol,
                ],
                ["cand_id", "cell", "_q"],
            )

    return cn.mapInArrow(
        fn, f"cand_id {id_type}, cell int, _q array<bigint>"
    )


def ivf_rerank_topk_seeded(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
    n_probe: int = 4,
    k_top: int = 5,
) -> DataFrame:
    """IVF probe -> exact rerank, integer-exact and oracle-replayable.

    The coarse quantizer is DATA-DERIVED from the candidates instead of
    fit by a KMeans job, so an SQL oracle replays it: seed centroids are
    the m smallest-id candidates (KMeans iteration zero, the q123
    codebook trick) refined by ONE exact Lloyd step: assign every
    candidate to its nearest seed, then recompute each cell centroid
    component-wise as ``sum div count`` (integer truncating division,
    identical in Spark and DuckDB, so the "learned" centroids are
    bit-replayable by SQL). Candidates are then indexed by the refined
    cells, each query probes its p nearest cells and pays exact
    integer-L2 distance only inside those cells. The geometry scales
    with the candidate count n (see the comment on
    ``IVF_CELLS_SCALE_DIV``): m = min(IVF_CELLS_MAX, max(n_cells,
    isqrt(n div IVF_CELLS_SCALE_DIV))) and p = max(n_probe, m div
    IVF_PROBE_DIV), so ``n_cells`` and ``n_probe`` are floors.

    Eager like the iterative operators (connected_components,
    pagerank): the geometry count, the seed scan and the Lloyd centroid
    update are collected at build time — all dimension-sized (<=
    IVF_CELLS_MAX rows), recomputed from the inputs on every call,
    never a cross-run memo. The two corpus x cells argmin scans run in
    :func:`_assign_cells` (one int64 numpy matmul per Arrow
    batch); everything the oracle replays arithmetically (quantize, the
    sum-div-count update, the probe ranking, the exact rerank) stays in
    Catalyst. Against the pure-Catalyst fold it replaced, at identical
    rows: 2.07 vs 3.15 s on 2k vectors, 4.16 vs 29.0 s on 20k, 16.9 vs
    546.9 s on 200k (BENCH_NOTES.md, "IVF assignment: Arrow vs
    Catalyst").

    Scale shape: the search joins candidates to the BROADCAST probe
    frame (never shuffles candidates on the low-cardinality cell key),
    and only probed-cell rows pay a full-vector distance. An empty
    refined cell simply vanishes on both engines.

    Returns (query_id, cand_id, cell, exact_d2, rnk); ties on cand_id.
    """
    import math

    import numpy as np

    def checked_q(side: str) -> Column:
        # length guard inside the _q expression (pq.py convention): a
        # short embedding would silently truncate zip_with dots.
        # The coalesce is a nullability fence (r17 df67656 pattern):
        # _q feeds joins/explodes downstream, and a NULLABLE computed
        # column gets an inferred isnotnull(_q) pushed to the scan with
        # the whole quantize transform inlined per row (r18: both
        # before-plans showed the CASE evaluated twice per scan row).
        # The empty-array arm is unreachable: a wrong length raises, a
        # NULL embedding raises too (size(q) NULL -> otherwise branch).
        q = quantized(vec_col)
        checked = F.when(F.size(q) == dim, q).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"ivf_rerank: {side} embedding length != dim={dim} for id "),
                    F.col(id_col).cast("string"),
                )
            )
        )
        return F.coalesce(checked, F.expr("CAST(array() AS ARRAY<BIGINT>)"))

    qn = queries.select(F.col(id_col).alias("query_id"), checked_q("query").alias("_q"))
    cn = candidates.select(F.col(id_col).alias("cand_id"), checked_q("candidate").alias("_q"))
    spark = cn.sparkSession
    id_type = cn.schema["cand_id"].dataType.simpleString()

    # the geometry the oracle computes from the same count: LEAST(
    # CMAX, GREATEST(n_cells, FLOOR(SQRT(n DIV CSD)))). math.isqrt ==
    # FLOOR(SQRT(double)) for every count below 2^52 (IEEE sqrt is
    # correctly rounded and the nearest double to isqrt's integer
    # result never crosses an integer boundary at these magnitudes).
    n_cand = cn.count()
    n_cells = min(
        IVF_CELLS_MAX, max(n_cells, math.isqrt(n_cand // IVF_CELLS_SCALE_DIV))
    )
    n_probe = max(n_probe, n_cells // IVF_PROBE_DIV)

    # seeds: the n_cells smallest-id candidates, cell c = 0..m-1 in id
    # order (the oracle's row_number() - 1 over the same ordered scan)
    seed_rows = cn.orderBy("cand_id").limit(n_cells).collect()
    if not seed_rows:
        # no candidates: nothing to index, so no query has a neighbour
        q_type = qn.schema["query_id"].dataType.simpleString()
        return spark.createDataFrame(
            [],
            f"query_id {q_type}, cand_id {id_type}, cell int,"
            " exact_d2 bigint, rnk int",
        )
    seeds = np.asarray([r["_q"] for r in seed_rows], dtype=np.int64)
    assigned = _assign_cells(
        cn, np.arange(len(seed_rows), dtype=np.int32), seeds, dim, id_type
    )

    # the Lloyd step: centroid = component-wise sum div count (the
    # truncating division the oracle replays), ONE dimension-sized collect
    cent_rows = (
        assigned.select("cell", F.posexplode("_q").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(F.sum("val").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .select("cell", "pos", F.expr("_s div _n").alias("_cv"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "_cv"))).alias("_a"))
        .select("cell", F.transform(F.col("_a"), lambda s: s["_cv"]).alias("_cent"))
        .collect()
    )
    # empty refined cells vanish (both engines agree); rows sorted by
    # cell id keep the argmin tie order smallest-cell
    cent_rows.sort(key=lambda r: r["cell"])
    cells = np.asarray([r["cell"] for r in cent_rows], dtype=np.int32)
    cents = np.asarray([r["_cent"] for r in cent_rows], dtype=np.int64)
    indexed = _assign_cells(cn, cells, cents, dim, id_type)

    # probe ranking + exact rerank stay in Catalyst over a centroid
    # frame built from the collected values (re-deriving it lazily would
    # re-run the assignment pipeline). Cell RANKING uses the
    # norm-decomposed reduced distance |cent|^2 - 2<x, cent>: the
    # query's own |x|^2 is constant across the cells it is ranked
    # against, so dropping it cannot reorder the row_number the oracle
    # takes over the full d2.
    cent_df = spark.createDataFrame(
        [(int(c), [int(v) for v in vec]) for c, vec in zip(cells, cents)],
        schema="c int, _cent array<bigint>",
    ).withColumn("_cn2", dot_q(F.col("_cent"), F.col("_cent")))
    d2r = F.col("_cn2") - F.lit(2).cast("bigint") * dot_q(F.col("_q"), F.col("_cent"))
    wp = Window.partitionBy("query_id").orderBy("_d2", "c")
    probes = (
        qn.crossJoin(F.broadcast(cent_df))
        .select("query_id", "_q", d2r.alias("_d2"), "c")
        .withColumn("_r", F.row_number().over(wp))
        .filter(F.col("_r") <= F.lit(int(n_probe)))
        .select("query_id", F.col("_q").alias("_qq"), F.col("c").alias("cell"))
    )
    wk = Window.partitionBy("query_id").orderBy("exact_d2", "cand_id")
    return (
        indexed.join(F.broadcast(probes), "cell")
        .select(
            "query_id",
            "cand_id",
            "cell",
            _d2_int(F.col("_qq"), F.col("_q")).alias("exact_d2"),
        )
        .withColumn("rnk", F.row_number().over(wk).cast("int"))
        .filter(F.col("rnk") <= k_top)
    )


# Density-scaled banded hyperplane geometry, shared by the Spark plan and
# the SQL oracle (the pq.py shortlist-guard pattern applied to bucket
# cardinality — VERDICT r15 item 1). Depth r is the smallest plane count
# in [EMBED_BASE_PLANES, EMBED_R_MAX] with 2^r buckets >= n_old /
# EMBED_DENSITY_DIV (so per-band bucket population stays ~EMBED_DENSITY_DIV
# as the corpus grows), and the band count B = max(1, r - base) adds one
# independent hash table per extra plane of depth to pay back the recall
# each deeper band costs. At gate density (n_old <= 640) this reduces to
# exactly one band of EMBED_BASE_PLANES planes — the pre-r16 geometry,
# bit-for-bit. Past EMBED_R_MAX (65536 buckets/band) buckets stop scaling:
# that cap bounds the plan-literal plane pool; raise it with the bit
# budget if a deployment's daily corpus exceeds DIV * 2^R_MAX rows.
EMBED_BASE_PLANES = 4
EMBED_DENSITY_DIV = 40
EMBED_R_MAX = 16


def embed_r_sql(n_old_expr: str, base: int = EMBED_BASE_PLANES) -> str:
    """The depth ladder as an ANSI-SQL CASE over an old-corpus count
    expression — integer-exact (no float log2), so DuckDB and Spark can
    never disagree on the geometry for the same count."""
    arms = " ".join(
        f"WHEN ({n_old_expr}) <= {EMBED_DENSITY_DIV * (1 << r)} THEN {r}"
        for r in range(base, EMBED_R_MAX)
    )
    return f"CASE {arms} ELSE {EMBED_R_MAX} END"


def embed_r_col(n_old: Column, base: int = EMBED_BASE_PLANES) -> Column:
    """embed_r_sql's ladder as a Catalyst Column (same thresholds)."""
    expr = None
    for r in range(base, EMBED_R_MAX):
        cond = n_old <= F.lit(EMBED_DENSITY_DIV * (1 << r))
        expr = F.when(cond, F.lit(r)) if expr is None else expr.when(cond, F.lit(r))
    return expr.otherwise(F.lit(EMBED_R_MAX)).cast("int")


def embed_band_params(df: DataFrame, base_planes: int = EMBED_BASE_PLANES) -> DataFrame:
    """One-row (_r, _b) geometry frame from a lazy count of ``df`` —
    the density driver every banded operator broadcasts (no driver
    probe; the count folds into the plan)."""
    return (
        df.agg(F.count(F.lit(1)).alias("_n"))
        .select(embed_r_col(F.col("_n"), base_planes).alias("_r"))
        .select(
            "_r",
            F.greatest(F.lit(1), F.col("_r") - F.lit(base_planes)).alias("_b"),
        )
    )


def banded_hyperplane_buckets(
    df: DataFrame,
    params: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
    dim: int | None = None,
    base_planes: int = EMBED_BASE_PLANES,
    keep_cols: Sequence[str] = (),
    out_id: str | None = None,
) -> DataFrame:
    """(id, *keep_cols, _band, _bucket) under the density-scaled banded
    geometry: one row per (vector, band), bucket = the band's _r sign
    bits encoded LSB-first (bucket = SUM(bit_s * 2^s) — the same weight
    rule as :func:`embed_banded_sql`'s ``pow(2, s)`` fold and
    :func:`hyperplane_lsh_buckets`, so raw bucket VALUES, not just the
    partition, are engine-identical; a persisted (id, band, bucket)
    stored index written by either engine replays on the other — r16
    ADVICE). Plane identities are fixed per (band, slot) global index
    g = band * EMBED_R_MAX + slot with the legacy ``plane:{seed}:{g}:{d}``
    sha256 derivation, so band 0's first ``base_planes`` slots ARE the
    pre-r16 single-band planes — at gate density (params picks r=base,
    B=1) the bucket partition is bit-identical to the old scheme."""
    import hashlib

    def sign(g: int, d: int) -> int:
        h = hashlib.sha256(f"plane:{seed}:{g}:{d}".encode()).hexdigest()
        return 1 if int(h[:2], 16) % 2 == 0 else -1

    lit_dim = dim if dim is not None else MAX_PLANE_DIM
    b_max = max(1, EMBED_R_MAX - base_planes)
    # One F.expr over a rendered array(...) string, NOT F.lit over the
    # nested python list: py4j converts nested lists element-by-element
    # (~5 s per call for the 192x64 pool, 4x that for the lazy-dim 256
    # build — measured r16); the SQL string is one py4j call and a
    # sub-ms Catalyst parse.
    pool = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{sign(g, d)}L" for d in range(lit_dim)) + ")"
            for g in range(b_max * EMBED_R_MAX)
        )
        + ")"
    )

    def plane(g: Column) -> Column:
        full = F.element_at(pool, (g + 1).cast("int"))
        if dim is not None:
            return full
        return F.slice(full, 1, F.size(F.col("_q")))

    def bit(g: Column) -> Column:
        dot = F.aggregate(
            F.zip_with(F.col("_q"), plane(g), lambda x, c: x * c),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
        return F.when(dot > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")

    # Descending fold => LSB-first weights: folding s = _r-1 .. 0 with
    # acc*2 + bit_s yields SUM(bit_s * 2^s) in pure bigint arithmetic —
    # exactly embed_banded_sql's pow(2, s) encoding, no float pow.
    # The coalesce is a nullability fence, not a value change (the fold
    # is never null: non-null init over a non-null sequence): consumers
    # join on _bucket, and for a NULLABLE computed key
    # InferFiltersFromConstraints adds isnotnull(_bucket), which
    # predicate pushdown substitutes below this projection — the whole
    # r-bit fold (r plane dots of the full vector) re-evaluated once
    # more per (vector, band) row, measured ~2x the banding leg's cost
    # at sf10 (r17). coalesce with a literal makes the key provably
    # non-null, so the filter is never inferred. Caveat (r17 ADVICE):
    # the -1 sentinel is only reachable for a NULL input vector (every
    # plane dot NULL -> the fold NULL), and it maps ALL such rows to the
    # shared bucket -1 — they become LSH candidates of each other where
    # a NULL key would have dropped them from the join. Safe today
    # because downstream cosine is NULL for those rows (filtered) and
    # the generators emit no NULL embeddings; pre-filter null vectors
    # before banding if a dirty source ever feeds this.
    bucket = F.coalesce(
        F.aggregate(
            F.sequence(F.col("_r") - 1, F.lit(0), F.lit(-1)),
            F.lit(0).cast("bigint"),
            lambda acc, s: acc * F.lit(2).cast("bigint")
            + bit(F.col("_band") * F.lit(EMBED_R_MAX) + s),
        ),
        F.lit(-1).cast("bigint"),
    )
    out = out_id or id_col
    q = quantized(vec_col)
    if dim is None:
        q = F.slice(q, 1, F.least(F.size(q), F.lit(MAX_PLANE_DIM)))
    return (
        df.select(F.col(id_col).alias(out), *keep_cols, q.alias("_q"))
        .crossJoin(F.broadcast(params))  # one-row geometry frame
        .select(
            out,
            *keep_cols,
            "_q",
            "_r",
            F.explode(F.sequence(F.lit(0), F.col("_b") - 1)).alias("_band"),
        )
        .select(out, *keep_cols, "_band", bucket.alias("_bucket"))
    )


def embed_banded_sql(
    src_cte: str,
    n_expr: str,
    seed: int = 13,
    base: int = EMBED_BASE_PLANES,
    dim: int = 64,
) -> str:
    """The SQL mirror of :func:`banded_hyperplane_buckets`: CTE chain
    ``params, comp, planes, dots, b`` computing b(vec_id, band, bucket)
    from a preceding CTE ``src_cte(vec_id, q, ...)``. Splice inside a
    WITH after ``src_cte``; ``n_expr`` is the corpus-count SQL the
    ladder reads (e.g. a scalar subquery)."""
    r_sql = embed_r_sql(n_expr, base=base)
    rmax = EMBED_R_MAX
    pool = (rmax - base) * rmax
    return f"""
    params AS (
      SELECT r, GREATEST(1, r - {base}) AS nb
      FROM (SELECT ({r_sql}) AS r)
    ),
    comp AS (
      SELECT vec_id, unnest(q) AS x, generate_subscripts(q, 1) AS d FROM {src_cte}
    ),
    planes AS (
      SELECT gg.g, dd.d,
             CASE WHEN CAST(('0x' || substr(sha256('plane:{seed}:' || CAST(gg.g AS VARCHAR) || ':' || CAST(dd.d AS VARCHAR)), 1, 2)) AS INT) % 2 = 0
                  THEN 1 ELSE -1 END AS c
      FROM (SELECT unnest(range({pool})) AS g) gg
      CROSS JOIN (SELECT unnest(range({dim})) AS d) dd
      WHERE (gg.g % {rmax}) < (SELECT r FROM params)
        AND (gg.g // {rmax}) < (SELECT nb FROM params)
    ),
    dots AS (
      SELECT comp.vec_id, planes.g // {rmax} AS band,
             planes.g % {rmax} AS s, SUM(comp.x * planes.c) AS dot
      FROM comp JOIN planes ON comp.d - 1 = planes.d
      GROUP BY comp.vec_id, band, s
    ),
    b AS (
      SELECT vec_id, band,
             CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, s) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      FROM dots GROUP BY vec_id, band
    )"""


def incremental_embed_neardup(
    df: DataFrame,
    new_pred: Column,
    threshold: float = 0.2,
    base_planes: int = EMBED_BASE_PLANES,
    seed: int = 13,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Daily-ingest embedding near-dup: today's batch checked against the
    existing corpus only — the vector-modality twin of
    dedup.incremental_neardup (q126).

    Candidate pairs come from hyperplane-LSH bucket collisions strictly
    ACROSS the new/old boundary; only colliding pairs pay the exact
    quantized-cosine verify. The geometry is DENSITY-SCALED inside the
    plan (no driver probe): one lazy one-row count of the old corpus
    picks the plane depth r via embed_r_col's integer ladder and the
    band count B = max(1, r - base_planes), so per-band bucket
    population holds ~EMBED_DENSITY_DIV rows at any corpus size —
    candidate volume stays batch x DIV x B instead of growing linearly
    with the corpus as a fixed 2^base bucket table would (the r15
    density defect), while the extra bands keep planted-pair recall at
    or above the fixed-geometry scheme. Plane identities are fixed per
    (band, slot) global index, so growing r only extends each band's
    slot range; at gate density the scheme IS the one band of
    ``base_planes`` legacy planes, bit-for-bit. At 100 TB the corpus
    side's (id, band, bucket) frame is a stored index appended per
    batch — recomputing it here from one frame keeps the registered
    query oracle-replayable (same trade q126 documents).

    Returns (vec_new, vec_old, cos_sim) for verified pairs >= threshold.
    """
    old = df.filter(~new_pred)
    params = embed_band_params(old, base_planes)
    new_b = banded_hyperplane_buckets(
        df.filter(new_pred), params, id_col, vec_col, seed, dim,
        base_planes, out_id="vec_new",
    )
    old_b = banded_hyperplane_buckets(
        old, params, id_col, vec_col, seed, dim, base_planes, out_id="vec_old"
    )
    cand = (
        new_b.join(old_b, ["_band", "_bucket"])
        .select("vec_new", "vec_old")
        .distinct()
    )

    n = with_quantized_norm(df, vec_col)
    a = n.select(
        F.col(id_col).alias("vec_new"), F.col("_q").alias("_qa"), F.col("_nn").alias("_na")
    )
    b = n.select(
        F.col(id_col).alias("vec_old"), F.col("_q").alias("_qb"), F.col("_nn").alias("_nb")
    )
    cos = cosine_q(F.col("_qa"), F.col("_qb"), F.col("_na"), F.col("_nb"))
    return (
        cand.join(a, "vec_new")
        .join(b, "vec_old")
        .select("vec_new", "vec_old", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
