"""Similarity-search query inventory [EXT] over `embeddings`
(array<float>, 64-dim): brute-force cosine top-k, label centroids,
cosine near-duplicate pairs. Cosine runs over integer-quantized vectors
(operators/similarity.py) so both engines produce bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity as S
from ..sources import tables
from .registry import query

_SQL_Q = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "embeddings")


@query(
    "q48_knn_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_Q} AS q FROM embeddings),
    n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM e),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
             list_dot_product(a.q, b.q) / (sqrt(a.nn) * sqrt(b.nn)) AS cos_sim
      FROM n a JOIN n b ON a.vec_id < 5 AND b.vec_id >= 5
    )
    SELECT query_id, cand_id, cos_sim, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
      FROM pairs
    ) t WHERE rnk <= 5
    """,
    doc="Brute-force cosine top-5 per query vector (queries broadcast, candidates stream).",
    tags=("similarity", "knn", "ext"),
    bench=True,
)
def q48_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return S.brute_force_topk(
        e.filter(F.col("vec_id") < 5), e.filter(F.col("vec_id") >= 5), k=5
    )


@query(
    "q49_label_centroids",
    oracle=f"""
    SELECT label, CAST(i - 1 AS INT) AS dim,
           CAST(SUM(qx) AS DOUBLE) / COUNT(*) AS centroid
    FROM (
      SELECT label, unnest({_SQL_Q}) AS qx, generate_subscripts({_SQL_Q}, 1) AS i
      FROM embeddings
    ) t
    GROUP BY label, i - 1
    """,
    doc="Per-label centroid of quantized embeddings (posexplode + exact integer sums).",
    tags=("similarity", "agg", "ext"),
)
def q49_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return (
        e.select("label", F.posexplode(S.quantized("embedding")).alias("dim", "qx"))
        .groupBy("label", F.col("dim").cast("int").alias("dim"))
        .agg((F.sum("qx").cast("double") / F.count(F.lit(1))).alias("centroid"))
    )


@query(
    "q50_cosine_neardup_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {_SQL_Q} AS q FROM embeddings),
    n AS (SELECT vec_id, label, q, list_dot_product(q, q) AS nn FROM e)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_dot_product(a.q, b.q) / (sqrt(a.nn) * sqrt(b.nn)) AS cos_sim
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.q, b.q) / (sqrt(a.nn) * sqrt(b.nn)) >= 0.2
    """,
    doc="Embedding-cosine near-dup pairs, label-blocked. Within-label "
    "all-pairs is n^2/L — fine when labels are many; when they are few, "
    "use q50b (banded LSH bucket AND label), which shrinks per-block "
    "work at tunable recall. This exact "
    "form stays as the correctness baseline the blocked variants are "
    "tested against.",
    tags=("similarity", "dedup", "ext", "baseline"),
    scale_twin="q50b_neardup_lsh_blocked",
)
def q50_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = S.with_quantized_norm(_emb(spark, sf_dir))
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("label"),
        F.col("_q").alias("_qa"), F.col("_nn").alias("_na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("label"),
        F.col("_q").alias("_qb"), F.col("_nn").alias("_nb"),
    )
    cos = S.cosine_q(F.col("_qa"), F.col("_qb"), F.col("_na"), F.col("_nb"))
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.2)
    )


@query(
    "q50b_neardup_lsh_blocked",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {_SQL_Q} AS q FROM embeddings),
    {S.embed_banded_sql("e", "SELECT COUNT(*) FROM e")},
    cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM b x
      JOIN b y ON x.band = y.band AND x.bucket = y.bucket
               AND x.vec_id < y.vec_id
      JOIN e ea ON ea.vec_id = x.vec_id
      JOIN e eb ON eb.vec_id = y.vec_id AND ea.label = eb.label
    ),
    n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM e)
    SELECT c.vec_a, c.vec_b,
           list_dot_product(x.q, y.q) / (sqrt(x.nn) * sqrt(y.nn)) AS cos_sim
    FROM cand c
    JOIN n x ON x.vec_id = c.vec_a
    JOIN n y ON y.vec_id = c.vec_b
    WHERE list_dot_product(x.q, y.q) / (sqrt(x.nn) * sqrt(y.nn)) >= 0.2
    """,
    doc="q50's 100 TB form: near-dup pairs blocked on (LSH bucket AND "
    "label), with the bucket table DENSITY-SCALED (r16): plane depth r "
    "follows similarity.embed_r_sql's integer ladder over the corpus "
    "count and B = max(1, r-4) bands pay the recall back, so per-block "
    "pair volume stays ~constant per row instead of n^2/16 (the same "
    "fixed-geometry defect class q130/q123 carried). At gate density "
    "the geometry IS the legacy single 4-plane band, bit-for-bit. "
    "Output is a subset of q50 (precision 1), recall tunable via "
    "base planes/bands.",
    tags=("similarity", "dedup", "lsh", "ext"),
)
def q50b_neardup_lsh_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.lsh_blocked_neardup_pairs(
        _emb(spark, sf_dir), label_col="label", threshold=0.2, n_planes=4, seed=13,
        dim=64,  # matches the oracle's hardcoded range(64); lazy-slice
        # fallback costs ~2x in codegen width when dim is known
    )


@query(
    "q51_ann_lsh_buckets",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_Q} AS q FROM embeddings),
    comp AS (
      SELECT vec_id, unnest(q) AS x, generate_subscripts(q, 1) AS d FROM e
    ),
    planes AS (
      SELECT pp.p, dd.d,
             CASE WHEN CAST(('0x' || substr(sha256('plane:13:' || CAST(pp.p AS VARCHAR) || ':' || CAST(dd.d AS VARCHAR)), 1, 2)) AS INT) % 2 = 0
                  THEN 1 ELSE -1 END AS c
      FROM (SELECT unnest(range(8)) AS p) pp CROSS JOIN (SELECT unnest(range(64)) AS d) dd
    ),
    dots AS (
      SELECT comp.vec_id, planes.p, SUM(comp.x * planes.c) AS dot
      FROM comp JOIN planes ON comp.d - 1 = planes.d
      GROUP BY comp.vec_id, planes.p
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
    FROM dots GROUP BY vec_id
    """,
    doc="Random-hyperplane LSH bucket assignment — the ANN scale path: bucket "
    "ids are per-row transforms (no shuffle); candidate joins shuffle on "
    "bucket only. Exact integer dots over quantized vectors keep both "
    "engines bit-identical.",
    tags=("similarity", "lsh", "ann", "ext"),
)
def q51_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.hyperplane_lsh_buckets(_emb(spark, sf_dir), n_planes=8, seed=13, dim=64)


@query(
    "q72_array_functions",
    oracle=f"""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           list_contains({_SQL_Q}, 0) AS has_zero_q,
           {_SQL_Q}[1] AS first_q,
           {_SQL_Q}[64] AS last_q,
           list_max({_SQL_Q}) AS max_q,
           list_min({_SQL_Q}) AS min_q,
           CAST(len(list_filter({_SQL_Q}, x -> x > 0)) AS INT) AS n_positive
    FROM embeddings
    WHERE vec_id % 20 = 0
    """,
    doc="Array-function battery over the embedding column: size, element "
    "access, contains, min/max, lambda filter — the ArrayType surface the "
    "reference never needed but array<float> workloads do.",
    tags=("array", "scalar", "ext"),
)
def q72_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).filter(F.col("vec_id") % 20 == 0)
    q = S.quantized("embedding")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_contains(q, 0).alias("has_zero_q"),
        q[0].alias("first_q"),
        q[63].alias("last_q"),
        F.array_max(q).alias("max_q"),
        F.array_min(q).alias("min_q"),
        F.size(F.filter(q, lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "q87_multisignal_neardup",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(text, ' +') AS ws FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      FROM words
    ),
    capped AS (
      SELECT doc_id, shingle FROM shingled
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 5
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    text_pairs AS (
      SELECT i.doc_a, i.doc_b,
             CAST(i.n_common AS DOUBLE) / (x.n + y.n - i.n_common) AS jaccard
      FROM inter i JOIN sizes x ON i.doc_a = x.doc_id JOIN sizes y ON i.doc_b = y.doc_id
      WHERE CAST(i.n_common AS DOUBLE) / (x.n + y.n - i.n_common) >= 0.5
    ),
    e AS (SELECT vec_id, label, {_SQL_Q} AS q FROM embeddings),
    {S.embed_banded_sql("e", "SELECT COUNT(*) FROM e")},
    ecand AS (
      SELECT DISTINCT x.vec_id AS doc_a, y.vec_id AS doc_b
      FROM b x
      JOIN b y ON x.band = y.band AND x.bucket = y.bucket
               AND x.vec_id < y.vec_id
      JOIN e ea ON ea.vec_id = x.vec_id
      JOIN e eb ON eb.vec_id = y.vec_id AND ea.label = eb.label
    ),
    n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM e),
    emb_pairs AS (
      SELECT c.doc_a, c.doc_b,
             list_dot_product(x.q, y.q) / (sqrt(x.nn) * sqrt(y.nn)) AS cos_sim
      FROM ecand c
      JOIN n x ON x.vec_id = c.doc_a
      JOIN n y ON y.vec_id = c.doc_b
      WHERE list_dot_product(x.q, y.q) / (sqrt(x.nn) * sqrt(y.nn)) >= 0.2
    )
    SELECT COALESCE(t.doc_a, v.doc_a) AS doc_a,
           COALESCE(t.doc_b, v.doc_b) AS doc_b,
           t.jaccard, v.cos_sim,
           CAST((t.doc_a IS NOT NULL) AS INT) + CAST((v.doc_a IS NOT NULL) AS INT) AS n_signals
    FROM text_pairs t
    FULL OUTER JOIN emb_pairs v ON t.doc_a = v.doc_a AND t.doc_b = v.doc_b
    """,
    doc="Multi-signal near-dup verdict: text Jaccard pairs (>= 0.5, q42b's "
    "doc-freq-5 posting-list cap) FULL OUTER JOINed with (LSH bucket AND "
    "label)-blocked embedding-cosine pairs (>= 0.2, q50b's density-"
    "scaled banded blocking, r16) on the shared doc/vec id space — the "
    "realistic LLM-pipeline dedup decision that scores a pair by how "
    "many independent signals fire. r11: both legs now run their "
    "production (capped/blocked) forms — the uncapped text leg and "
    "label-only (n_planes=0) embedding leg were each all-pairs on this "
    "corpus and timed out the sf10 execution smoke. Each signal's pair "
    "set shuffles on its own blocking key; the final join touches only "
    "emitted pairs.",
    tags=("dedup", "similarity", "multisignal", "ext"),
)
def q87_multisignal_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    docs = tables.load(spark, sf_dir, "documents")
    text_pairs = D.ngram_jaccard_pairs(
        D.exploded_shingles(docs), threshold=0.5, max_doc_freq=5
    ).select("doc_a", "doc_b", "jaccard")
    emb_pairs = S.lsh_blocked_neardup_pairs(
        _emb(spark, sf_dir), label_col="label", threshold=0.2,
        n_planes=4, seed=13,
    ).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"), "cos_sim"
    )
    t, v = text_pairs.alias("t"), emb_pairs.alias("v")
    joined = t.join(
        v,
        (F.col("t.doc_a") == F.col("v.doc_a")) & (F.col("t.doc_b") == F.col("v.doc_b")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("t.doc_a"), F.col("v.doc_a")).alias("doc_a"),
        F.coalesce(F.col("t.doc_b"), F.col("v.doc_b")).alias("doc_b"),
        F.col("t.jaccard").alias("jaccard"),
        F.col("v.cos_sim").alias("cos_sim"),
        (
            F.col("t.doc_a").isNotNull().cast("int")
            + F.col("v.doc_a").isNotNull().cast("int")
        ).alias("n_signals"),
    )
