"""Dedup query inventory [EXT] over the `documents` table: exact
(hash-groupBy), MinHash-LSH candidates, n-gram Jaccard, SimHash.
Every hash is the portable sha256-prefix hash so DuckDB reproduces the
values exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..sources import tables
from .registry import query

# Shared SQL fragments for the oracle side --------------------------------

_SQL_WORDS = "regexp_split_to_array(text, ' +')"

# Split ONCE in a CTE, then index the array. Referencing the regex split
# inside the list_transform lambda re-evaluates it per element access —
# measured 70x slower on the sf0.1 corpus (the q58 oracle went 18s->0.25s
# when hoisted); DuckDB does not CSE through lambda boundaries.
_SQL_SHINGLES = f"""
  wsplit AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
  shingled AS (
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      FROM wsplit
    ) t
  )
"""


def _sql_seeded_hash(expr: str, seed_expr: str) -> str:
    return (
        f"CAST(('0x' || substr(sha256('s' || CAST({seed_expr} AS VARCHAR) || ':' || {expr}), 1, 15)) AS BIGINT)"
    )


# The v2 MinHash band index (r15 cutover), as oracle SQL: 12-seed Weyl
# family folded into 6 bands of 2 rows — the exact mirror of
# operators/dedup.minhash_bands, built from the SAME constants
# (UNIVERSAL_HASH_V2_SQL / LSH_NUM_HASHES / LSH_ROWS_PER_BAND) so the
# two engines cannot drift. Expects a preceding CTE
# ``hashed(doc_id, h)`` (28-bit sha256-prefix base hash per shingle).
_SQL_V2_HASH = D.UNIVERSAL_HASH_V2_SQL.format(seed="seed", base="h")

# The fragment below hardcodes TWO row slots (s0/s1 via `seed % 2`); a
# change to LSH_ROWS_PER_BAND must regenerate it or the oracle silently
# desyncs from band_signatures until a gate run fails (ADVICE r15).
assert D.LSH_ROWS_PER_BAND == 2, (
    "SQL_V2_BANDS is written for 2 rows per band; regenerate its slot "
    f"columns for LSH_ROWS_PER_BAND={D.LSH_ROWS_PER_BAND}"
)

SQL_V2_BANDS = f"""
    seeds AS (SELECT unnest(range({D.LSH_NUM_HASHES})) AS seed),
    sigs AS (
      SELECT doc_id, seed, MIN({_SQL_V2_HASH}) AS sig
      FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, seed // {D.LSH_ROWS_PER_BAND} AS band,
             MAX(CASE WHEN seed % 2 = 0 THEN sig END) AS s0,
             MAX(CASE WHEN seed % 2 = 1 THEN sig END) AS s1
      FROM sigs GROUP BY doc_id, seed // {D.LSH_ROWS_PER_BAND}
    )
"""

# The same-band equi-join predicate every banding oracle shares.
SQL_BAND_JOIN = "a.band = b.band AND a.s0 = b.s0 AND a.s1 = b.s1"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "documents")


@query(
    "q40_exact_dedup",
    oracle="""
    SELECT doc_id,
           sha256(text) AS text_hash,
           MIN(doc_id) OVER (PARTITION BY sha256(text)) AS canonical_id,
           COUNT(*) OVER (PARTITION BY sha256(text)) AS n_copies
    FROM documents
    """,
    doc="Exact dedup: content-hash grouping with canonical (min) id per duplicate set.",
    tags=("dedup", "hash", "ext"),
)
def q40_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    h = F.sha2(F.col("text"), 256)
    w = Window.partitionBy(h)
    return d.select(
        "doc_id",
        h.alias("text_hash"),
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )


@query(
    "q41_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    hashed AS (
      SELECT doc_id, CAST(('0x' || substr(sha256(shingle), 1, 7)) AS BIGINT) AS h
      FROM shingled
    ),
    {SQL_V2_BANDS}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON {SQL_BAND_JOIN} AND a.doc_id < b.doc_id
    """,
    doc="MinHash-LSH near-dup candidates: one sha256 base hash per shingle, "
    "12-member v2 (Weyl) universal-hash family folded into 6 bands of 2 "
    "rows, bucket join (shuffle on (band, s0, s1) only). Pair recall "
    "1-(1-J^2)^6; 2-row bands keep bucket sizes sub-linear in corpus "
    "density (the r14 finding that retired single-row bands).",
    tags=("dedup", "minhash", "lsh", "ext"),
    bench=True,
)
def q41_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distinct=False: MIN is multiset-invariant, so the dedup shuffle is pure cost
    sh = D.exploded_shingles(_docs(spark, sf_dir), distinct=False)
    return D.lsh_candidate_pairs(D.minhash_bands(sh))


@query(
    "q42_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.05
    """,
    doc="Exact 3-gram Jaccard similarity for pairs sharing shingles "
    "(threshold 0.05). Uncapped self-join: a shingle appearing in d docs "
    "feeds d^2/2 pairs to one reducer, so this is the correctness "
    "baseline only — q42b (posting-list cap) is the production path.",
    tags=("dedup", "jaccard", "ext", "baseline"),
    scale_twin="q42b_ngram_jaccard_capped",
)
def q42_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = D.exploded_shingles(_docs(spark, sf_dir))
    return D.ngram_jaccard_pairs(sh, threshold=0.05)


@query(
    "q42b_ngram_jaccard_capped",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    df AS (SELECT shingle, COUNT(*) AS c FROM shingled GROUP BY shingle),
    capped AS (
      SELECT s.doc_id, s.shingle FROM shingled s JOIN df ON s.shingle = df.shingle
      WHERE df.c <= 5
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.05
    """,
    doc="Jaccard with the hot-shingle posting-list cap (doc-freq <= 5): the "
    "100 TB skew guard — a shingle in d docs feeds d^2/2 pairs to one "
    "reducer, so viral shingles are dropped from the representation before "
    "the self-join, bounding per-key work at K^2 independent of corpus size.",
    tags=("dedup", "jaccard", "skew", "ext"),
)
def q42b_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = D.exploded_shingles(_docs(spark, sf_dir))
    return D.ngram_jaccard_pairs(sh, threshold=0.05, max_doc_freq=5)


@query(
    "q43_simhash",
    oracle=f"""
    WITH wds AS (
      SELECT DISTINCT doc_id, word FROM (
        SELECT doc_id, unnest({_SQL_WORDS}) AS word FROM documents
      ) t
    ),
    hashed AS (SELECT doc_id, {_sql_seeded_hash("word", "7")} AS h FROM wds),
    bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed CROSS JOIN (SELECT unnest(range(16)) AS b) bb
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash16
    FROM bits GROUP BY doc_id
    """,
    doc="16-bit SimHash fingerprint per document (sign-aggregated word hashes).",
    tags=("dedup", "simhash", "ext"),
)
def q43_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash16(_docs(spark, sf_dir), seed=7)


@query(
    "q44b_winnowing_fingerprints",
    oracle="""
    WITH grams AS (
      SELECT doc_id, i AS pos,
             CAST(('0x' || substr(sha256(substr(text, CAST(i AS INT), 5)), 1, 15)) AS BIGINT) AS h
      FROM documents, unnest(range(1, greatest(length(text) - 3, 1))) AS t(i)
    ),
    winmin AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS wmin,
             pos
      FROM grams
    )
    SELECT doc_id, wmin AS fingerprint, COUNT(*) AS n_windows
    FROM winmin
    WHERE pos >= 8
    GROUP BY doc_id, wmin
    """,
    doc="Winnowing fingerprints (the MOSS local dedup algorithm): min hash "
    "of char 5-grams in each sliding window of 8 — guarantees shared "
    "fingerprints for any sufficiently long shared substring; per-doc "
    "window ops only (no shuffle beyond the doc key).",
    tags=("dedup", "winnowing", "fingerprint", "ext"),
)
def q44b_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 (guide §2.4 "remove shuffles outright"): the old shape
    # posexploded ~600M (doc, pos, h) gram rows at sf10 and ran the
    # 8-window min as a Window — a full hash exchange + sort of the
    # exploded set just to compare each hash with its 7 predecessors,
    # which never leave the document. The sliding min now happens in
    # array land INSIDE the row (hash array hoisted once per doc, then
    # one 8-element fold per window position), so the ONLY exchange
    # left is the final (doc, fingerprint) aggregate, already collapsed
    # map-side (consecutive windows share their min — winnowing's whole
    # point). Window semantics preserved exactly: positions are
    # 1-based, only full windows (pos >= 8) emit, min over
    # [pos-7, pos]. sf10: 13.6 -> 10.8 s here; at scale the removed
    # data-sized exchange+sort is the dominant term (§2.2).
    d = _docs(spark, sf_dir)
    hs = d.select(
        "doc_id",
        F.expr(
            "CASE WHEN length(text) >= 5 THEN "
            "transform(sequence(1, length(text) - 4), i -> "
            "CAST(conv(substring(sha2(substring(text, i, 5), 256), 1, 15), 16, 10) AS BIGINT)) "
            "ELSE CAST(array() AS ARRAY<BIGINT>) END"
        ).alias("hs"),
    )
    wmins = hs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(hs) >= 8 THEN "
                "transform(sequence(8, size(hs)), p -> "
                "aggregate(sequence(p - 7, p), CAST(9223372036854775807 AS BIGINT), "
                "(acc, j) -> least(acc, element_at(hs, j)))) "
                "ELSE CAST(array() AS ARRAY<BIGINT>) END"
            )
        ).alias("wmin"),
    )
    return wmins.groupBy("doc_id", F.col("wmin").alias("fingerprint")).agg(
        F.count(F.lit(1)).alias("n_windows")
    )


@query(
    "q86_neardup_pipeline",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    hashed AS (
      SELECT doc_id, CAST(('0x' || substr(sha256(shingle), 1, 7)) AS BIGINT) AS h
      FROM shingled
    ),
    {SQL_V2_BANDS},
    ok_buckets AS (
      SELECT band, s0, s1 FROM bands GROUP BY band, s0, s1 HAVING COUNT(*) <= 100
    ),
    cbands AS (
      SELECT b.* FROM bands b JOIN ok_buckets ob
        ON b.band = ob.band AND b.s0 = ob.s0 AND b.s1 = ob.s1
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM cbands a JOIN cbands b ON {SQL_BAND_JOIN} AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN shingled sa ON sa.doc_id = c.doc_a
      JOIN shingled sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE) / (x.n + y.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes x ON i.doc_a = x.doc_id
    JOIN sizes y ON i.doc_b = y.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (x.n + y.n - i.n_common) >= 0.5
    """,
    doc="THE production near-dup decision as one plan: MinHash-LSH proposes "
    "candidates (recall stage: 12-seed v2 family, 6 bands x 2 rows — "
    "measured sf10 planted recall 99.0% vs the retired v1 scheme's "
    "45.2%), exact Jaccard verifies ONLY those candidates at 0.5 "
    "(precision stage). Unlike q42's all-co-shingle verification, the "
    "verify join here fans out from the candidate list, so its cost "
    "scales with |candidates| — the property that makes the two-stage "
    "pipeline viable at 100 TB. Hot band buckets (>100 members = "
    "near-degenerate signatures) are dropped before banding, mirrored "
    "in the oracle; under 2-row bands the cap is a never-binding "
    "safety valve at every measured density (r14 rehearsal: zero "
    "planted pairs lost to it at sf10).",
    tags=("dedup", "minhash", "lsh", "jaccard", "pipeline", "ext"),
)
def q86_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bands = D.minhash_bands(D.exploded_shingles(docs, distinct=False))
    cands = D.lsh_candidate_pairs(D.filter_hot_buckets(bands, max_bucket=100))
    # Exact-Jaccard verify in ARRAY land (r17, guide §2.4): the pair
    # list joins the one-row-per-doc distinct shingle-set frame and
    # intersects in-row. The old shape (cands ⋈ shingled ⋈ shingled on
    # (doc, shingle) + regroup + two size joins) shuffled the exploded
    # frame twice through merge-hinted SMJs — the r16 broadcast-flake
    # fix made it safe, this makes it cheap: elements that never leave
    # their document are no longer exchanged at all. n_common / sizes
    # are bijection-free set counts, identical by construction.
    ver = D.jaccard_verify_arrays(cands, D.shingle_sets(docs))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return ver.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= 0.5
    )
