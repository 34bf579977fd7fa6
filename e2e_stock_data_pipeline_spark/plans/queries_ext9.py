"""Round-8 session-3 [EXT] additions — retrieval and curation shapes
rounding out the training-data tier:

* q148 reciprocal-rank-fusion hybrid search (BM25 + embedding cosine —
  the RAG hybrid-retrieval operator);
* q149 per-group OLS trend slope (exact integer moments, the
  ``regr_slope`` surface);
* q150 weighted priority sampling per stratum (deterministic
  bottom-k/w, the weighted counterpart of q59's uniform split);
* q151 Jaccard CONTAINMENT pairs (quote/excerpt detection — the
  asymmetric signal symmetric Jaccard misses);
* q152 bigram PMI collocations (fixed-point pointwise mutual
  information).

Cross-engine numeric rules as everywhere else (plans/registry.py):
exact integer/decimal arithmetic wherever possible, fixed-point
floor(x * 1e6) of IDENTICAL double expression trees where a logarithm
is unavoidable, explicit total-order tiebreaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..operators import dedup as D
from ..operators import ranking as R
from ..operators import similarity as S
from ..sources import tables
from .queries_dedup import _SQL_SHINGLES, SQL_BAND_JOIN, SQL_V2_BANDS
from .queries_similarity import _SQL_Q
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, sf_dir, name)


def _words():
    return F.split(F.trim(F.col("text")), " +")


# --------------------------------------------------------------------------
# q148: hybrid retrieval with reciprocal-rank fusion — the standard RAG
# serving shape: a lexical ranking (BM25) and a semantic ranking
# (embedding cosine vs a query vector) fused by RRF
# score = sum 1/(60 + rank). Both ranked lists are global top-50s
# produced with TakeOrderedAndProject (distributed partial top-k — no
# data-sized single-partition sort); the fusion join touches <= 100
# rows. 1/(60+rank) is kept exact as the integer 1000000 DIV (60+rank).
# --------------------------------------------------------------------------

_RRF_TERMS = ("join", "hash", "scan")
_RRF_K1, _RRF_B = 1.2, 0.75
_RRF_TOPN, _RRF_KC = 50, 60


@query(
    "q148_rrf_hybrid_search",
    oracle=f"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws FROM documents),
    dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w),
    corpus AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(CAST(len(ws) AS BIGINT)) AS BIGINT) AS total_len
      FROM w
    ),
    tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
    tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
      WHERE word IN {_RRF_TERMS!r}
      GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY word),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln((CAST(c.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * {_RRF_K1 + 1})
               / (CAST(tf.tf AS DOUBLE) + {_RRF_K1} * (1 - {_RRF_B} + {_RRF_B} * (CAST(dl.dl AS DOUBLE) / (CAST(c.total_len AS DOUBLE) / CAST(c.n_docs AS DOUBLE)))))
               * 1000000
             ) AS BIGINT) AS term_fp
      FROM tf
      JOIN dfreq d ON tf.word = d.word
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN corpus c
    ),
    bm25 AS (
      SELECT doc_id, CAST(SUM(term_fp) AS BIGINT) AS bm25_fp
      FROM scored GROUP BY doc_id
    ),
    lex AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25_fp DESC, doc_id) AS INT) AS rank_lex
      FROM bm25 QUALIFY rank_lex <= {_RRF_TOPN}
    ),
    e AS (SELECT vec_id, {_SQL_Q} AS q FROM embeddings),
    n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM e),
    qv AS (SELECT q, nn FROM n WHERE vec_id = 0),
    cand AS (
      SELECT n.vec_id AS doc_id,
             list_dot_product(n.q, qv.q) / (sqrt(n.nn) * sqrt(qv.nn)) AS cos_sim
      FROM n CROSS JOIN qv WHERE n.vec_id <> 0
    ),
    sem AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT) AS rank_sem
      FROM cand QUALIFY rank_sem <= {_RRF_TOPN}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.rank_lex, s.rank_sem,
             CAST(COALESCE(1000000 // ({_RRF_KC} + l.rank_lex), 0)
                + COALESCE(1000000 // ({_RRF_KC} + s.rank_sem), 0) AS BIGINT) AS rrf_fp
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, rank_lex, rank_sem, rrf_fp
    FROM fused ORDER BY rrf_fp DESC, doc_id LIMIT 20
    """,
    doc="Hybrid retrieval with reciprocal-rank fusion: BM25 top-50 (terms "
    f"{_RRF_TERMS}) and embedding-cosine top-50 (query vector = vec_id 0, "
    "shared doc/vec id space as q87) fused by RRF with k=60, the "
    "1/(60+rank) weights kept exact as integer micro-units "
    "(1000000 DIV (60+rank)). Both lists come from distributed partial "
    "top-k (TakeOrderedAndProject) — never a data-sized global window; "
    "rank assignment happens on the constant-50-row survivors. The "
    "fusion FULL OUTER JOIN touches <= 100 rows.",
    tags=("text", "search", "similarity", "rrf", "hybrid", "rag", "ext"),
)
def q148_rrf_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # --- lexical arm: q106's BM25 expression, then distributed top-50 ----
    d = _t(spark, sf_dir, "documents").withColumn("_ws", _words())
    dl = d.select("doc_id", F.size("_ws").cast("bigint").alias("dl"))
    corpus = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("_ws").cast("bigint")).cast("bigint").alias("total_len"),
    )
    tok = d.select("doc_id", F.explode("_ws").alias("word"))
    tf = (
        tok.filter(F.col("word").isin(*_RRF_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    score = (
        idf
        * (F.col("tf").cast("double") * F.lit(_RRF_K1 + 1))
        / (
            F.col("tf").cast("double")
            + F.lit(_RRF_K1)
            * (F.lit(1) - F.lit(_RRF_B) + F.lit(_RRF_B) * (F.col("dl").cast("double") / avgdl))
        )
    )
    bm25 = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", F.floor(score * 1000000).cast("bigint").alias("term_fp"))
        .groupBy("doc_id")
        .agg(F.sum("term_fp").cast("bigint").alias("bm25_fp"))
    )
    # top-50 via TakeOrderedAndProject; rank the constant-size survivors
    lex = (
        bm25.orderBy(F.col("bm25_fp").desc(), "doc_id")
        .limit(_RRF_TOPN)
        .withColumn(
            "rank_lex",
            F.row_number()
            .over(Window.orderBy(F.col("bm25_fp").desc(), "doc_id"))
            .cast("int"),
        )
        .select("doc_id", "rank_lex")
    )

    # --- semantic arm: cosine vs the broadcast query vector --------------
    e = S.with_quantized_norm(_t(spark, sf_dir, "embeddings"))
    qv = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(
            F.col("_q").alias("_qq"), F.col("_nn").alias("_qn")
        )
    )
    cos = S.cosine_q(F.col("_q"), F.col("_qq"), F.col("_nn"), F.col("_qn"))
    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(qv)
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos_sim"))
    )
    sem = (
        cand.orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(_RRF_TOPN)
        .withColumn(
            "rank_sem",
            F.row_number()
            .over(Window.orderBy(F.col("cos_sim").desc(), "doc_id"))
            .cast("int"),
        )
        .select("doc_id", "rank_sem")
    )

    # --- fusion: integer-exact RRF over <= 100 rows ----------------------
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "rank_lex",
        "rank_sem",
        (
            F.coalesce(F.expr(f"1000000 DIV ({_RRF_KC} + rank_lex)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000 DIV ({_RRF_KC} + rank_sem)"), F.lit(0))
        )
        .cast("bigint")
        .alias("rrf_fp"),
    )
    return fused.orderBy(F.col("rrf_fp").desc(), "doc_id").limit(20)


# --------------------------------------------------------------------------
# q149: per-nation revenue trend — grouped OLS slope over the daily
# revenue series, the regr_slope surface computed from exact integer
# moments: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2). Moments are
# DECIMAL(38,0) Spark-side / HUGEINT oracle-side (the q88 lesson:
# bigint moments overflow by sf1), and the final micro-unit division is
# sign-decomposed so both engines truncate identically.
# --------------------------------------------------------------------------

_TREND_EPOCH = "1995-01-01"


@query(
    "q149_nation_revenue_trend",
    oracle=f"""
    WITH daily AS (
      SELECT n.n_name,
             date_diff('day', DATE '{_TREND_EPOCH}', CAST(o.o_orderdate AS DATE)) AS x,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, x
    ),
    m AS (
      SELECT n_name,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy
      FROM daily GROUP BY n_name
    ),
    nd AS (
      SELECT n_name, CAST(n AS BIGINT) AS n_days,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS den
      FROM m
    )
    SELECT n_name, n_days,
           CAST(CASE WHEN num < 0 THEN -((-num) * 1000000 // den)
                     ELSE (num * 1000000 // den) END AS BIGINT) AS slope_fp
    FROM nd WHERE n_days >= 2 AND den > 0
    """,
    doc="Per-nation OLS trend slope of daily revenue (micro-cents/day): "
    "the regr_slope(y, x) surface via exact integer moments — x = days "
    f"since {_TREND_EPOCH}, y = daily revenue in int64 cents, moments "
    "accumulated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so n*Sxy "
    "stays exact far past int64 (q88's overflow lesson). The closed "
    "form slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) emits fixed-point "
    "micro-units through a sign-decomposed truncating division — "
    "identical in both engines regardless of their native integer-"
    "division rounding. Two hash aggregates + two broadcast dim joins; "
    "no window, no shuffle beyond the group keys.",
    tags=("agg", "regression", "trend", "gold"),
)
def q149_nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    daily = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit(_TREND_EPOCH).cast("date")
            ).alias("x"),
        )
        .agg(F.sum(cents).cast("bigint").alias("y"))
    )
    d38 = "decimal(38,0)"
    xd, yd = F.col("x").cast(d38), F.col("y").cast(d38)
    m = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(xd).cast(d38).alias("sx"),
        F.sum(yd).cast(d38).alias("sy"),
        F.sum(xd * xd).cast(d38).alias("sxx"),
        F.sum(xd * yd).cast(d38).alias("sxy"),
    )
    nd = m.select(
        "n_name",
        F.col("n").cast("bigint").alias("n_days"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    slope = F.when(
        F.col("num") < 0, -F.expr("((-num) * 1000000) DIV den")
    ).otherwise(F.expr("(num * 1000000) DIV den"))
    return nd.filter((F.col("n_days") >= 2) & (F.col("den") > 0)).select(
        "n_name", "n_days", slope.cast("bigint").alias("slope_fp")
    )


# --------------------------------------------------------------------------
# q150: weighted priority sampling per stratum — deterministic bottom-k
# with key hash/weight (Cohen-Kaplan bottom-k / priority sampling with
# the uniform replaced by a portable hash): heavier docs get smaller
# keys in expectation, so each source's 10-doc sample is weighted by
# n_chars yet fully reproducible. The per-group top-k runs SALTED
# (operators/ranking.salted_group_topk): an arbitrarily skewed source
# never sorts in one task.
# --------------------------------------------------------------------------

_WS_SEED = 150
_WS_SCALE = 1048576  # 2^20: h32 * SCALE stays < 2^52 — exact in both engines
_WS_K = 10


@query(
    "q150_weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT source, doc_id, n_chars,
             {portable_hash64_sql("doc_id", seed=_WS_SEED)} % 4294967296 AS h32,
             greatest(n_chars, 1) AS w
      FROM documents
    ),
    k AS (
      SELECT source, doc_id, n_chars,
             CAST((h32 * {_WS_SCALE}) // w AS BIGINT) AS key_fp
      FROM d
    )
    SELECT source, doc_id, n_chars, key_fp, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY key_fp, doc_id) AS INT) AS rnk
      FROM k
    ) t WHERE rnk <= {_WS_K}
    """,
    doc="Weighted priority sample, 10 docs per source: key = "
    "(h32 * 2^20) DIV weight with weight = n_chars — the deterministic "
    "bottom-k/w sketch (heavier docs sample proportionally more often), "
    "the weighted counterpart of q59's uniform stratified split. All "
    "arithmetic is integer (h32 < 2^32, key < 2^52 — exact everywhere); "
    "the per-source top-k uses the salted two-phase pattern so a head "
    "source holding 90% of the corpus still never sorts in one task.",
    tags=("ext", "curation", "sampling", "weighted"),
)
def q150_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h32 = F.pmod(portable_hash64(F.col("doc_id"), seed=_WS_SEED), F.lit(4294967296))
    keyed = docs.select(
        "source",
        "doc_id",
        "n_chars",
        h32.alias("h32"),
        F.greatest(F.col("n_chars"), F.lit(1)).alias("w"),
    ).select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(f"CAST((h32 * {_WS_SCALE}) DIV w AS BIGINT)").alias("key_fp"),
    )
    return R.salted_group_topk(
        keyed, ["source"], [F.col("key_fp"), F.col("doc_id")], k=_WS_K
    )


# --------------------------------------------------------------------------
# q151: containment pairs — asymmetric Jaccard |A∩B|/|A| over 3-gram
# shingles with the viral-shingle cap: the quote/excerpt/subset signal.
# --------------------------------------------------------------------------

_CONT_CAP = 5
_CONT_THRESHOLD = 0.6


@query(
    "q151_containment_pairs",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    capped AS (
      SELECT doc_id, shingle FROM shingled
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {_CONT_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b, s.n AS n_a, i.n_common,
           CAST(i.n_common AS DOUBLE) / CAST(s.n AS DOUBLE) AS containment
    FROM inter i JOIN sizes s ON i.doc_a = s.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / CAST(s.n AS DOUBLE) >= {_CONT_THRESHOLD}
    """,
    doc="Jaccard CONTAINMENT |A∩B|/|A| >= 0.6 over distinct 3-gram "
    "shingles (capped at doc-freq 5, the q42b viral-shingle guard): "
    "ordered pairs (contained, container) — a short doc pasted inside a "
    "long one scores ~1.0 here while its symmetric Jaccard stays tiny. "
    "Same posting-list join shape as q42b: per-shingle work bounded by "
    "cap^2 regardless of corpus size; containment is an exact small-int "
    "division (identical double in both engines).",
    tags=("dedup", "containment", "jaccard", "ext"),
)
def q151_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sh = D.exploded_shingles(docs, distinct=True)
    return D.containment_pairs(
        sh, threshold=_CONT_THRESHOLD, max_doc_freq=_CONT_CAP
    )


# --------------------------------------------------------------------------
# q152: bigram PMI collocations — pointwise mutual information
# ln(P(ab) / (P(a)P(b))) in fixed-point micro-nats, the collocation /
# multi-word-expression detector (tokenizer-vocab and stopword-phrase
# curation both start here). Pure count aggregates + two joins keyed on
# word; corpus totals broadcast; top-25 via distributed partial top-k.
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 10


@query(
    "q152_bigram_pmi",
    oracle=f"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws FROM documents),
    tok AS (SELECT unnest(ws) AS word FROM w),
    uni AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY word),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_uni FROM tok),
    bg AS (
      SELECT unnest(list_transform(range(1, greatest(len(ws), 1)),
                    i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM w
    ),
    bgc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bg GROUP BY bigram),
    btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bi FROM bg),
    scored AS (
      SELECT b.bigram, b.c_ab,
             CAST(floor(ln((CAST(b.c_ab AS DOUBLE) * CAST(t.n_uni AS DOUBLE) * CAST(t.n_uni AS DOUBLE))
                            / (CAST(bt.n_bi AS DOUBLE) * CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))) * 1000000) AS BIGINT) AS pmi_fp
      FROM bgc b
      JOIN uni u1 ON split_part(b.bigram, ' ', 1) = u1.word
      JOIN uni u2 ON split_part(b.bigram, ' ', 2) = u2.word
      CROSS JOIN tot t CROSS JOIN btot bt
      WHERE b.c_ab >= {_PMI_MIN_COUNT}
    )
    SELECT bigram, c_ab, pmi_fp FROM scored ORDER BY pmi_fp DESC, bigram LIMIT 25
    """,
    doc="Top-25 bigram collocations by PMI = ln(c_ab * N_uni^2 / "
    "(N_bi * c_a * c_b)) in fixed-point micro-nats (identical double "
    "tree both engines, q98's bigram construction), min pair count "
    f"{_PMI_MIN_COUNT}. Count aggregates keyed on word/bigram, corpus "
    "totals broadcast, unigram join-backs on the word key — no "
    "all-pairs anywhere; final top-k is TakeOrderedAndProject.",
    tags=("text", "pmi", "collocation", "ngram", "ext"),
)
def q152_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_pmi_plan(_t(spark, sf_dir, "documents"))


def bigram_pmi_plan(docs: DataFrame, min_count: int = _PMI_MIN_COUNT) -> DataFrame:
    """The q152 plan over any (text,) frame — ONE definition shared by
    the registered query and the scale smoke (the ext5 convention), so
    the smoke can never drift to timing a stale copy of the shape."""
    d = docs.withColumn("_ws", _words())
    tok = d.select(F.explode("_ws").alias("word"))
    uni = tok.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = tok.agg(F.count(F.lit(1)).cast("bigint").alias("n_uni"))
    bg = d.select(
        F.explode(
            F.expr(
                "CASE WHEN size(_ws) >= 2 THEN transform(sequence(1, size(_ws) - 1), "
                "i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1))) "
                "ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("bigram")
    )
    bgc = bg.groupBy("bigram").agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    btot = bg.agg(F.count(F.lit(1)).cast("bigint").alias("n_bi"))
    u1 = uni.select(F.col("word").alias("_w1"), F.col("c").alias("_c1"))
    u2 = uni.select(F.col("word").alias("_w2"), F.col("c").alias("_c2"))
    pmi = F.floor(
        F.log(
            (
                F.col("c_ab").cast("double")
                * F.col("n_uni").cast("double")
                * F.col("n_uni").cast("double")
            )
            / (
                F.col("n_bi").cast("double")
                * F.col("_c1").cast("double")
                * F.col("_c2").cast("double")
            )
        )
        * 1000000
    ).cast("bigint")
    return (
        bgc.filter(F.col("c_ab") >= min_count)
        .join(u1, F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)) == F.col("_w1"))
        .join(u2, F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)) == F.col("_w2"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .select("bigram", "c_ab", pmi.alias("pmi_fp"))
        .orderBy(F.col("pmi_fp").desc(), "bigram")
        .limit(25)
    )


# --------------------------------------------------------------------------
# q153: dedup-aware (leakage-free) train/val/test split — q113's hash
# split assigned to near-dup CLUSTERS instead of documents, so no two
# near-duplicates ever land in different splits. The audit columns
# prove it: candidate edges crossing splits = 0 under the cluster
# split, > 0 under the naive doc-level split on the same corpus.
# --------------------------------------------------------------------------

from .queries_text2 import SQL_CLUSTER_LABELS  # noqa: E402

_SPLIT_CASE_SQL = (
    "CASE WHEN {h} % 100 < 90 THEN 'train' "
    "WHEN {h} % 100 < 95 THEN 'val' ELSE 'test' END"
)


def _split_col(col: str, seed: int = 42):
    bucket = portable_hash64(col, seed=seed) % 100
    return F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")


@query(
    "q153_cluster_split",
    oracle=f"""
    {SQL_CLUSTER_LABELS}
    , csplit AS (
      SELECT doc_id, cluster_id,
             {_SPLIT_CASE_SQL.format(h=portable_hash64_sql("cluster_id", seed=42))} AS split
      FROM assigned
    ),
    per_split AS (
      SELECT split, COUNT(*) AS n_docs,
             CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
      FROM csplit GROUP BY split
    ),
    uedges AS (SELECT src AS doc_a, dst AS doc_b FROM edges WHERE src < dst),
    leak_c AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN x.split <> y.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS leak_edges_cluster
      FROM uedges e JOIN csplit x ON e.doc_a = x.doc_id JOIN csplit y ON e.doc_b = y.doc_id
    ),
    nsplit AS (
      SELECT doc_id,
             {_SPLIT_CASE_SQL.format(h=portable_hash64_sql("doc_id", seed=42))} AS split
      FROM documents
    ),
    leak_n AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN x.split <> y.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS leak_edges_naive
      FROM uedges e JOIN nsplit x ON e.doc_a = x.doc_id JOIN nsplit y ON e.doc_b = y.doc_id
    )
    SELECT p.split, p.n_docs, p.n_clusters, lc.leak_edges_cluster, ln2.leak_edges_naive
    FROM per_split p CROSS JOIN leak_c lc CROSS JOIN leak_n ln2
    """,
    doc="Leakage-free split: q113's 90/5/5 hash split keyed on the "
    "near-dup CLUSTER id (q56's connected components over MinHash-LSH "
    "candidates) instead of the doc id — a near-duplicate of a training "
    "doc can never leak into test. Output: per-split doc/cluster counts "
    "plus the audit scalars — LSH candidate edges crossing splits under "
    "the cluster split (0 by construction: an edge's endpoints share a "
    "component) vs under the naive doc-level split (> 0 on this "
    "corpus). The iterative fixpoint is q56's large-star/small-star "
    "contraction; everything downstream is dimension-sized.",
    tags=("ext", "curation", "split", "dedup", "clustering"),
)
def q153_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # The pair set has THREE consumers here (the CC fixpoint + both leak
    # audits) and the fixpoint a FOURTH query family — both now come
    # from the session memo (operators/dedup.cluster_labels_plan, r17),
    # which checkpoints each ONCE per session; the pre-memo shape
    # re-executed the whole banding pipeline per consumer (r12: 3 x
    # ~60 s at sf10).
    pairs, labels = D.cluster_labels_plan(docs)
    csplit = labels.select(
        "doc_id", "cluster_id", _split_col("cluster_id").alias("split")
    )
    per_split = csplit.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
    )
    # Both leak counts in ONE probe pass: each doc's cluster-keyed and
    # doc-keyed split labels travel together in a broadcast map (labels
    # covers every doc, so both are derivable from the one frame), and
    # the 336M-pair probe is two broadcast hash joins + one aggregate —
    # the old per-audit sort-merge legs each re-shuffled the pair set.
    both = labels.select(
        "doc_id",
        _split_col("cluster_id").alias("s_c"),
        _split_col("doc_id").alias("s_n"),
    )
    # The broadcast hint is gated on the same node bound the CC operator
    # uses (_BCAST_NODE_LIMIT): the label frame is one row per DOC, so
    # past ~4M docs a forced broadcast would OOM driver/executors —
    # above the bound the probe joins fall back to AQE's shuffle choice.
    hint = D.node_gated_broadcast_hint(docs)
    a = hint(
        both.select(
            F.col("doc_id").alias("doc_a"),
            F.col("s_c").alias("_sac"),
            F.col("s_n").alias("_san"),
        )
    )
    b = hint(
        both.select(
            F.col("doc_id").alias("doc_b"),
            F.col("s_c").alias("_sbc"),
            F.col("s_n").alias("_sbn"),
        )
    )
    leaks = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_sac") != F.col("_sbc"), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("leak_edges_cluster"),
            F.coalesce(
                F.sum(F.when(F.col("_san") != F.col("_sbn"), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("leak_edges_naive"),
        )
    )
    return per_split.crossJoin(F.broadcast(leaks))


# --------------------------------------------------------------------------
# q154: cross-split contamination audit — how many distinct 3-gram
# shingles the naive doc-level split shares between train and test (the
# number a decontamination pass would have to scrub; q153 is the fix,
# q99 the per-pair view). One shuffle keyed on shingle.
# --------------------------------------------------------------------------


@query(
    "q154_split_contamination",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    split_docs AS (
      SELECT doc_id,
             {_SPLIT_CASE_SQL.format(h=portable_hash64_sql("doc_id", seed=42))} AS split
      FROM documents
    ),
    flags AS (
      SELECT s.shingle,
             MAX(CASE WHEN sd.split = 'train' THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN sd.split = 'test' THEN 1 ELSE 0 END) AS in_test
      FROM shingled s JOIN split_docs sd ON s.doc_id = sd.doc_id
      GROUP BY s.shingle
    )
    SELECT CAST(SUM(in_train) AS BIGINT) AS n_train_shingles,
           CAST(SUM(in_test) AS BIGINT) AS n_test_shingles,
           CAST(SUM(in_train * in_test) AS BIGINT) AS n_shared,
           CAST((CAST(SUM(in_train * in_test) AS BIGINT) * 1000000)
                // NULLIF(CAST(SUM(in_test) AS BIGINT), 0) AS BIGINT) AS shared_ppm_of_test
    FROM flags
    """,
    doc="Contamination audit of the naive doc-level 90/5/5 split: count "
    "of distinct 3-gram shingles appearing in BOTH train and test "
    "(plus the test-side ppm) — the headline number an eval-integrity "
    "report carries. Per-shingle split flags via conditional MAX in one "
    "shingle-keyed aggregation; final fold is a single row; the ppm is "
    "integer micro-units (truncating DIV, NULLIF-guarded identically "
    "in both engines).",
    tags=("ext", "curation", "contamination", "audit"),
)
def q154_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    sh = D.exploded_shingles(docs, distinct=True)
    split_docs = docs.select("doc_id", _split_col("doc_id").alias("split"))
    flags = (
        sh.join(split_docs, "doc_id")
        .groupBy("shingle")
        .agg(
            F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias("in_train"),
            F.max(F.when(F.col("split") == "test", 1).otherwise(0)).alias("in_test"),
        )
    )
    return flags.agg(
        F.sum("in_train").cast("bigint").alias("n_train_shingles"),
        F.sum("in_test").cast("bigint").alias("n_test_shingles"),
        F.sum(F.col("in_train") * F.col("in_test")).cast("bigint").alias("n_shared"),
    ).select(
        "n_train_shingles",
        "n_test_shingles",
        "n_shared",
        F.expr(
            "CAST((n_shared * 1000000) DIV NULLIF(n_test_shingles, 0) AS BIGINT)"
        ).alias("shared_ppm_of_test"),
    )


# --------------------------------------------------------------------------
# q155: MinHash estimator calibration — for every LSH candidate pair,
# the sketch's Jaccard estimate (matching signatures / 12) against the
# exact Jaccard, bucketed by match count: the empirical accuracy table
# that justifies the sketch's banding thresholds. Candidates come from
# the registered v2 band index (6 bands x 2 rows, capped); the match
# count then fans out from the candidate list over the 12-seed
# signature table — so does exact-verify (the q86 property). Per-pair
# fixed-point jaccard floors BEFORE the integer sum (q114 convention).
# --------------------------------------------------------------------------


@query(
    "q155_minhash_calibration",
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
    match AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_match_sigs
      FROM cands c
      JOIN sigs a ON a.doc_id = c.doc_a
      JOIN sigs b ON b.doc_id = c.doc_b AND b.seed = a.seed AND b.sig = a.sig
      GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT m.doc_a, m.doc_b, COUNT(*) AS n_common
      FROM match m
      JOIN shingled sa ON sa.doc_id = m.doc_a
      JOIN shingled sb ON sb.doc_id = m.doc_b AND sb.shingle = sa.shingle
      GROUP BY m.doc_a, m.doc_b
    ),
    jfp AS (
      SELECT m.n_match_sigs,
             CAST(floor((CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                         / (x.n + y.n - COALESCE(i.n_common, 0))) * 1000000) AS BIGINT) AS jaccard_fp
      FROM match m
      LEFT JOIN inter i ON m.doc_a = i.doc_a AND m.doc_b = i.doc_b
      JOIN sizes x ON m.doc_a = x.doc_id
      JOIN sizes y ON m.doc_b = y.doc_id
    )
    SELECT n_match_sigs, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(jaccard_fp) AS BIGINT) AS sum_jaccard_fp
    FROM jfp GROUP BY n_match_sigs
    """,
    doc="MinHash sketch calibration: v2-band LSH candidate pairs bucketed "
    "by how many of the 12 signatures matched, with pair count and the "
    "exact-Jaccard mass (fixed-point, floored per pair before the "
    "integer sum) per bucket — expected jaccard ~ n_match/12, and this "
    "table IS that empirical check. Candidacy is the registered "
    "operating point (6 bands x 2 rows, hot band buckets over 100 "
    "members dropped — the never-binding safety valve under 2-row "
    "bands); both the signature-match count and the exact verification "
    "fan out from the candidate list only (q86's scale property). "
    "Collision-only candidates with zero shared shingles stay in the "
    "table at jaccard 0 via the LEFT join.",
    tags=("dedup", "minhash", "sketch", "calibration", "ext"),
)
def q155_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # distinct=False: min over a multiset equals min over its set, and
    # the verify leg no longer consumes the exploded frame (r17) — the
    # corpus-sized DISTINCT shuffle bought nothing.
    wide = D.minhash_wide(D.exploded_shingles(docs, distinct=False))
    sigs = D.minhash_signatures_from_wide(wide)
    bands = D.filter_hot_buckets(D.band_signatures(sigs), 100)
    cands = D.lsh_candidate_pairs(bands)
    # Signature-match count as 12 equality terms over two WIDE sketch
    # rows (r17): the old shape exploded 12 (seed, sig) rows per doc
    # through a 3-key join and re-aggregated per pair; a sketch compare
    # is a per-pair operation on two k-slot rows, so join the candidate
    # list to minhash_wide twice and sum the slot equalities — same
    # count (one join row per matching seed ⟺ one equality term true),
    # no explode, no regroup. AQE stage reuse shares the wide aggregate
    # with the banding leg.
    # merge hints: the wide sketch frame is corpus-sized (one 12-slot
    # row per doc) and the static planner's estimate would broadcast it
    # (the r16 data-sized-broadcast hazard class); SMJ spills.
    k = D.LSH_NUM_HASHES
    wa = wide.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"_s{s}").alias(f"_a{s}") for s in range(k)]
    ).hint("merge")
    wb = wide.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"_s{s}").alias(f"_b{s}") for s in range(k)]
    ).hint("merge")
    n_match = sum(
        (F.col(f"_a{s}") == F.col(f"_b{s}")).cast("bigint") for s in range(k)
    )
    match = (
        cands.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", n_match.alias("n_match_sigs"))
    )
    # Exact-Jaccard verify in ARRAY land (the q86 r17 shape): in-row
    # array_intersect over per-doc distinct shingle sets replaces the
    # shuffle_hash-hinted exploded-shingle joins + sizes aggregate. The
    # old LEFT join kept collision-only pairs at jaccard 0; here
    # n_common = 0 yields jfp = 0 on the same inner-joined row — no
    # outer join needed (every candidate doc has shingles).
    ver = D.jaccard_verify_arrays(match, D.shingle_sets(docs))
    jfp = F.floor(
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        * 1000000
    ).cast("bigint")
    return (
        ver.select("n_match_sigs", jfp.alias("jaccard_fp"))
        .groupBy("n_match_sigs")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("jaccard_fp").cast("bigint").alias("sum_jaccard_fp"),
        )
    )


# --------------------------------------------------------------------------
# q156: trailing 7-day distinct users per active day — sliding-window
# COUNT DISTINCT via the bounded fan-out trick: each (user, day) pair
# contributes to exactly 7 window-end days, so the explode is 7x the
# DEDUPED (user, day) set (never 7x raw events) and the distinct count
# is one shuffle keyed on window day. No window function at all — the
# shape that scales where a RANGE-frame distinct (unsupported anyway)
# or per-day self-joins would not.
# --------------------------------------------------------------------------


@query(
    "q156_rolling_distinct_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS w FROM events),
    contrib AS (
      SELECT ud.user_id, ud.d + CAST(i.i AS INTEGER) AS w
      FROM ud CROSS JOIN (SELECT unnest(range(7)) AS i) i
    )
    SELECT c.w AS day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS users_7d
    FROM contrib c JOIN days dd ON c.w = dd.w
    GROUP BY c.w
    """,
    doc="Trailing 7-day distinct active users, reported for every "
    "observed day: dedup to (user, day), fan each pair out to the 7 "
    "window-end days it covers, inner-join to observed days, count "
    "distinct per day. Fan-out is bounded by the window length over "
    "the DEDUPED pairs — the sliding-distinct shape with no window "
    "function and no self-join.",
    tags=("agg", "distinct", "window", "retention", "gold"),
)
def q156_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    days = e.select(F.col("ts").cast("date").alias("w")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("i")).alias("w"))
    return (
        contrib.join(days, "w")
        .groupBy(F.col("w").alias("day"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("users_7d"))
    )


# --------------------------------------------------------------------------
# q157: seasonal-baseline anomaly report — each (day, hour) event
# count ranked against the average of its (day-of-week, hour) bucket;
# top-20 by the integer fixed-point ratio (no float mean, no
# sf-dependent threshold), day-of-week portable as (epoch_days+4)%7.
# --------------------------------------------------------------------------


@query(
    "q157_seasonal_anomalies",
    oracle="""
    WITH hourly AS (
      SELECT CAST(ts AS DATE) AS d,
             (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7 AS dow,
             CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT dow, hr, CAST(SUM(c) AS BIGINT) AS bucket_total,
             CAST(COUNT(*) AS BIGINT) AS bucket_days
      FROM hourly GROUP BY dow, hr
    )
    SELECT h.d AS day, h.hr, h.c AS n_events, b.bucket_total, b.bucket_days,
           CAST((h.c * b.bucket_days * 1000000) // b.bucket_total AS BIGINT) AS ratio_fp
    FROM hourly h JOIN base b ON h.dow = b.dow AND h.hr = b.hr
    ORDER BY ratio_fp DESC, day, h.hr LIMIT 20
    """,
    doc="Seasonal anomaly report: the 20 hourly counts most above their "
    "(day-of-week, hour) bucket average, ranked by the integer "
    "micro-unit ratio (c * n_days * 1e6) DIV total — no float mean "
    "ever materializes, so rank order is exact at any sf (a fixed "
    "multiplicative threshold goes empty as Poisson noise concentrates "
    "with volume). Day-of-week is (epoch_days + 4) % 7 in both engines "
    "because dayofweek() builtins index Sunday differently. Two hash "
    "aggregates, one broadcast join on the 168-row bucket key, "
    "distributed partial top-k.",
    tags=("agg", "anomaly", "seasonal", "monitoring", "gold"),
)
def q157_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    hourly = (
        e.groupBy(
            d.alias("d"),
            F.pmod(
                F.datediff(d, F.lit("1970-01-01").cast("date")) + 4, F.lit(7)
            ).alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    base = hourly.groupBy("dow", "hr").agg(
        F.sum("c").cast("bigint").alias("bucket_total"),
        F.count(F.lit(1)).cast("bigint").alias("bucket_days"),
    )
    return (
        hourly.join(F.broadcast(base), ["dow", "hr"])
        .select(
            F.col("d").alias("day"),
            "hr",
            F.col("c").alias("n_events"),
            "bucket_total",
            "bucket_days",
            F.expr("CAST((c * bucket_days * 1000000) DIV bucket_total AS BIGINT)").alias(
                "ratio_fp"
            ),
        )
        .orderBy(F.col("ratio_fp").desc(), "day", "hr")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q158: canonical-document selection per near-dup cluster — the KEEP
# decision dedup actually ships: one representative per cluster chosen
# by quality (longest doc, smallest-id tie-break) via max_by/arg_max
# over a UNIQUE integer ordinal. Completes the dedup story:
# q41 candidates -> q56 clusters -> q158 survivors.
# --------------------------------------------------------------------------

_REP_B = 10**12  # ord = n_chars * B - doc_id: unique, int64-safe


@query(
    "q158_cluster_canonicals",
    oracle=f"""
    {SQL_CLUSTER_LABELS}
    SELECT a.cluster_id,
           arg_max(a.doc_id, d.n_chars * {_REP_B} - a.doc_id) AS rep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MAX(d.n_chars) AS BIGINT) AS rep_n_chars
    FROM assigned a JOIN documents d ON a.doc_id = d.doc_id
    GROUP BY a.cluster_id
    """,
    doc="Canonical doc per near-dup cluster: arg_max/max_by over the "
    f"unique ordinal n_chars * {_REP_B} - doc_id (longest doc wins, "
    "ties to the smallest id — the ordinal's uniqueness is what makes "
    "max_by deterministic in BOTH engines). Reuses q56's cluster "
    "fixpoint; selection is one hash aggregate keyed on cluster — no "
    "per-cluster sort, no window.",
    tags=("dedup", "clustering", "canonical", "maxby", "ext"),
)
def q158_cluster_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # r17: session-memoized cluster fixpoint shared with q56/q105/q153
    _pairs, labels = D.cluster_labels_plan(docs)
    joined = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    return joined.groupBy("cluster_id").agg(
        F.expr(f"max_by(doc_id, n_chars * {_REP_B} - doc_id)").alias("rep_doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("cluster_size"),
        F.max("n_chars").cast("bigint").alias("rep_n_chars"),
    )
