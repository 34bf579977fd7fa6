"""Round-3 [EXT] additions: the data-curation operators a large-scale
training pipeline runs between raw crawl and tokenizer — a perplexity
proxy (corpus bigram LM), eval-set decontamination, vocabulary stats,
embedding centroid-outlier pruning, BM25 search — plus the remaining
TPC-H shapes (Q15 top supplier, Q19 disjunctive predicate), CUBE, and
a cluster-size histogram over the near-dup graph.

Every numeric output is either exact integer arithmetic or a
fixed-point floor(x * 1e6) of an expression written with the IDENTICAL
tree in Spark and DuckDB, so the driver's value-hash comparison is
bit-stable (see cross-engine rules in plans/registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..sources import tables
from .queries_dedup import _SQL_SHINGLES
from .queries_similarity import _SQL_Q
from .queries_text2 import SQL_CLUSTER_LABELS
from .registry import query

DEC = "decimal(18,4)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, sf_dir, name)


def _dec(c: str):
    return F.col(c).cast(DEC)


def _words():
    return F.split(F.trim(F.col("text")), " +")


# --------------------------------------------------------------------------
# q98: corpus bigram-LM negative log-likelihood — the perplexity-proxy
# quality signal (documents scoring far above corpus-typical NLL are
# boilerplate/garbled candidates for pruning).
# --------------------------------------------------------------------------


@query(
    "q98_bigram_logprob",
    oracle="""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(ws), 1)),
                    i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM w
    ),
    pair_c AS (SELECT bigram, COUNT(*) AS c_pair FROM bg GROUP BY bigram),
    head_c AS (
      SELECT split_part(bigram, ' ', 1) AS w1, COUNT(*) AS c_head FROM bg GROUP BY 1
    ),
    scored AS (
      SELECT bg.doc_id,
             CAST(floor(-ln(CAST(p.c_pair AS DOUBLE) / CAST(h.c_head AS DOUBLE)) * 1000000) AS BIGINT) AS nll_fp
      FROM bg
      JOIN pair_c p ON bg.bigram = p.bigram
      JOIN head_c h ON split_part(bg.bigram, ' ', 1) = h.w1
    )
    SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(nll_fp) AS BIGINT) AS nll_fp_total
    FROM scored GROUP BY doc_id
    """,
    doc="Perplexity proxy: a word-bigram LM fit on the corpus itself "
    "(MLE counts), per-doc total negative log-likelihood in fixed-point "
    "micro-nats. Two count aggregations + one join back — all shuffles "
    "keyed on bigram/doc, no all-pairs anywhere; the classic cheap "
    "quality filter before expensive model-based scoring.",
    tags=("text", "quality", "lm", "ext"),
)
def q98_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").withColumn("_ws", _words())
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(_ws) >= 2 THEN transform(sequence(1, size(_ws) - 1), "
                "i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1))) "
                "ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("bigram"),
    )
    pair_c = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_pair"))
    head_c = (
        bg.select(F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c_head"))
    )
    nll = F.floor(
        -F.log(F.col("c_pair").cast("double") / F.col("c_head").cast("double")) * 1000000
    ).cast("bigint")
    return (
        bg.join(pair_c, "bigram")
        .join(head_c, F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)) == F.col("w1"))
        .select("doc_id", nll.alias("nll_fp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("nll_fp").cast("bigint").alias("nll_fp_total"),
        )
    )


# --------------------------------------------------------------------------
# q99: eval-set decontamination — training docs sharing >= 2 distinct
# 3-word shingles with any held-out doc. Hot-shingle capped like q42b.
# --------------------------------------------------------------------------


@query(
    "q99_contamination_check",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    df AS (SELECT shingle, COUNT(*) AS c FROM shingled GROUP BY shingle),
    capped AS (
      SELECT s.doc_id, s.shingle FROM shingled s JOIN df ON s.shingle = df.shingle
      WHERE df.c <= 50
    ),
    ev AS (SELECT doc_id, shingle FROM capped WHERE doc_id % 97 = 0),
    tr AS (SELECT doc_id, shingle FROM capped WHERE doc_id % 97 <> 0)
    SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc, COUNT(*) AS n_shared
    FROM tr JOIN ev ON tr.shingle = ev.shingle
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
    doc="Benchmark decontamination: flag (train, eval) doc pairs sharing "
    ">= 2 distinct 3-gram shingles, with the q42b posting-list cap "
    "(doc-freq <= 50) bounding per-shingle fan-out — the join cost "
    "scales with |eval| x cap, not corpus^2. Held-out set here is the "
    "deterministic doc_id % 97 slice.",
    tags=("dedup", "contamination", "ext"),
)
def q99_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r18 (guide §2.3/§2.4): posting-list form instead of the exploded
    # double-join. The old shape ran the shingle pipeline THREE times
    # (df-count leg + both join sides), shuffled the exploded frame for
    # the per-doc DISTINCT, again for the df join, and a third time for
    # the tr x ev posting join. Here per-doc dedup happens in-row
    # (shingle_sets — no distinct shuffle), the doc-frequency cut is one
    # distinct-count aggregate whose single exchange carries (shingle,
    # doc_id) rows only, and surviving shingles' postings group ONCE per shingle
    # into (eval-list, train-list) arrays whose in-row cross expansion
    # emits exactly the rows the posting join emitted. Equivalence:
    # each capped shingle contributes one row per (train, eval) in
    # tr_docs(s) x ev_docs(s) in both forms, so the per-pair counts are
    # identical. The rows are distinct per ROW, not per doc_id, so two
    # rows with one doc_id would count twice: the cap counts DISTINCT
    # doc ids and the postings are sets, which keeps the old per-
    # (doc_id, shingle) semantics (and the oracle's) on such input.
    # The count pass runs BEFORE any collect_set, so a hot shingle
    # (df > 50) is dropped without ever building its posting array —
    # the unbounded-array-cell hazard the naive one-pass collect form
    # would have (the q187 precondition class).
    # exploded_shingle_sets explodes the distinct-set EXPRESSION (not a
    # projected attribute): exploding the attribute trips
    # InferFiltersFromGenerate + pushdown, which inlines the whole
    # shingle build into both scan filters (measured: sf10 20 -> 81 s)
    sh = D.exploded_shingle_sets(_t(spark, sf_dir, "documents"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("c"))
        .filter(F.col("c") <= 50)
        .select("shingle")
    )
    posting = (
        sh.join(rare.hint("merge"), "shingle")
        .groupBy("shingle")
        .agg(
            F.collect_set(
                F.when(F.col("doc_id") % 97 == 0, F.col("doc_id"))
            ).alias("_ev"),
            F.collect_set(
                F.when(F.col("doc_id") % 97 != 0, F.col("doc_id"))
            ).alias("_tr"),
        )
    )
    pairs = posting.select(
        F.explode(
            F.expr(
                "flatten(transform(_tr, t ->"
                " transform(_ev, e -> struct(t AS train_doc, e AS eval_doc))))"
            )
        ).alias("_p")
    ).select("_p.train_doc", "_p.eval_doc")
    return (
        pairs.groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


# --------------------------------------------------------------------------
# q100: vocabulary stats — type-token ratio and hapax fraction per doc,
# exact integer fixed-point (parts-per-million via integer division).
# --------------------------------------------------------------------------


@query(
    "q100_ttr_hapax",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS word FROM documents
    ),
    wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM tok GROUP BY doc_id, word)
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           COUNT(*) * 1000000 // CAST(SUM(cnt) AS BIGINT) AS ttr_ppm,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // COUNT(*) AS hapax_ppm
    FROM wc GROUP BY doc_id
    """,
    doc="Per-doc vocabulary richness: token count, type count, hapax "
    "(once-only) count, and type-token / hapax ratios in exact integer "
    "parts-per-million — low TTR flags template/boilerplate docs. One "
    "shuffle on (doc, word), one on doc.",
    tags=("text", "vocab", "ext"),
)
def q100_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_words()).alias("word")
    )
    wc = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    hapax = F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("bigint")
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            hapax.alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("n_types * 1000000 DIV n_tokens").alias("ttr_ppm"),
            F.expr("n_hapax * 1000000 DIV n_types").alias("hapax_ppm"),
        )
    )


# --------------------------------------------------------------------------
# q101: embedding centroid outliers — SemDeDup-style curation signal:
# distance of each vector to its label centroid, exact integers.
# --------------------------------------------------------------------------


@query(
    "q101_centroid_outliers",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {_SQL_Q} AS q FROM embeddings),
    comp AS (
      SELECT vec_id, label, unnest(q) AS x, generate_subscripts(q, 1) AS d FROM e
    ),
    cent AS (
      SELECT label, d, CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS n
      FROM comp GROUP BY label, d
    )
    SELECT c.vec_id, c.label,
           CAST(MAX(ct.n) AS BIGINT) AS n_members,
           CAST(SUM((c.x * ct.n - ct.s) * (c.x * ct.n - ct.s)) AS BIGINT) AS dist2n2
    FROM comp c JOIN cent ct ON c.label = ct.label AND c.d = ct.d
    GROUP BY c.vec_id, c.label
    """,
    doc="Per-vector squared distance to its label centroid, scaled by "
    "n^2 so everything stays exact integer (quantized components; "
    "dist2n2 = sum_d (x_d*n - sum_d)^2). The pruning signal SemDeDup-"
    "style curation ranks clusters by; shuffles on (label, dim) then "
    "vec_id only. At petabyte n the n^2 scaling overflows int64 — the "
    "scale variant divides by n per-dim first at the cost of exactness.",
    tags=("similarity", "curation", "ext"),
)
def q101_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantized

    e = _t(spark, sf_dir, "embeddings")
    comp = e.select(
        "vec_id", "label", F.posexplode(quantized("embedding")).alias("d0", "x")
    ).select("vec_id", "label", (F.col("d0") + 1).alias("d"), "x")
    cent = comp.groupBy("label", "d").agg(
        F.sum("x").cast("bigint").alias("s"), F.count(F.lit(1)).alias("n")
    )
    term = F.col("x") * F.col("n") - F.col("s")
    return (
        comp.join(cent, ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(
            F.max("n").cast("bigint").alias("n_members"),
            F.sum(term * term).cast("bigint").alias("dist2n2"),
        )
        .select("vec_id", "label", "n_members", "dist2n2")
    )


# --------------------------------------------------------------------------
# q102: TPC-H Q15 shape — supplier(s) with the maximum quarterly revenue.
# --------------------------------------------------------------------------


@query(
    "q102_top_supplier_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    doc="TPC-H Q15 shape: quarterly revenue per supplier, keep the max "
    "(all ties — equality over doubles derived from identical exact "
    "decimal sums is deterministic). The max is a scalar agg joined "
    "back, not a sort.",
    tags=("join", "agg", "tpch"),
)
def q102_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    rev = l.groupBy("l_suppkey").agg(F.sum(revenue).cast("double").alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("_mx"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# q103: TPC-H Q19 shape — disjunctive bracket predicate over a join.
# --------------------------------------------------------------------------


@query(
    "q103_disjunctive_revenue",
    oracle="""
    SELECT
      COUNT(*) AS n_lines,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides. "
    "Catalyst pushes the per-side residuals (brand/size to the part "
    "scan via constraint propagation of the common disjuncts) and "
    "evaluates the cross-side disjunction post-join; part is broadcast.",
    tags=("join", "filter", "tpch"),
)
def q103_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(_t(spark, sf_dir, "part"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# q104: CUBE — completes the grouping-family (q33 ROLLUP, q66 GROUPING SETS).
# --------------------------------------------------------------------------


@query(
    "q104_cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over (status, priority): all 2^2 grouping sets in one "
    "pass (Spark expands to a union of grouping sets before the hash "
    "agg — one shuffle, grouping-id keyed).",
    tags=("agg", "cube"),
)
def q104_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# q105: cluster-size histogram over the near-dup graph (q56's fixpoint).
# --------------------------------------------------------------------------


@query(
    "q105_cluster_size_histogram",
    oracle=f"""
    {SQL_CLUSTER_LABELS}
    , sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM assigned GROUP BY cluster_id)
    SELECT cluster_size, COUNT(*) AS n_clusters
    FROM sizes GROUP BY cluster_size
    """,
    doc="Size distribution of near-dup clusters (connected components "
    "over the MinHash-LSH graph): the dedup-rate report a curation run "
    "publishes. Reuses q56's recursive-CTE oracle; Spark side is the "
    "iterative fixpoint + two tiny aggs.",
    tags=("dedup", "clustering", "ext"),
)
def q105_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # r17: session-memoized cluster fixpoint shared with q56/q153/q158
    _pairs, labels = D.cluster_labels_plan(docs)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))


# --------------------------------------------------------------------------
# q106: BM25 ranked search — inverted-index scoring for a fixed query.
# --------------------------------------------------------------------------

_BM25_TERMS = ("join", "hash", "scan")
_K1, _B = 1.2, 0.75


@query(
    "q106_bm25_search",
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
      WHERE word IN {_BM25_TERMS!r}
      GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY word),
    scored AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln((CAST(c.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * {_K1 + 1})
               / (CAST(tf.tf AS DOUBLE) + {_K1} * (1 - {_B} + {_B} * (CAST(dl.dl AS DOUBLE) / (CAST(c.total_len AS DOUBLE) / CAST(c.n_docs AS DOUBLE)))))
               * 1000000
             ) AS BIGINT) AS term_fp
      FROM tf
      JOIN dfreq d ON tf.word = d.word
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN corpus c
    )
    SELECT doc_id, COUNT(*) AS n_terms_hit, CAST(SUM(term_fp) AS BIGINT) AS bm25_fp
    FROM scored GROUP BY doc_id
    """,
    doc="BM25 (k1=1.2, b=0.75) ranking of documents for a fixed query "
    "term set: tf / df / avgdl from two aggregations, score assembled "
    "with the identical FP expression tree in both engines and floored "
    "to micro-units. Candidate set = docs hitting any term (inverted-"
    "index shape: per-term postings, shuffles keyed on word then doc).",
    tags=("text", "search", "bm25", "ext"),
)
def q106_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").withColumn("_ws", _words())
    dl = d.select("doc_id", F.size("_ws").cast("bigint").alias("dl"))
    corpus = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("_ws").cast("bigint")).cast("bigint").alias("total_len"),
    )
    tok = d.select("doc_id", F.explode("_ws").alias("word"))
    tf = (
        tok.filter(F.col("word").isin(*_BM25_TERMS))
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
        * (F.col("tf").cast("double") * F.lit(_K1 + 1))
        / (
            F.col("tf").cast("double")
            + F.lit(_K1) * (F.lit(1) - F.lit(_B) + F.lit(_B) * (F.col("dl").cast("double") / avgdl))
        )
    )
    term_fp = F.floor(score * 1000000).cast("bigint")
    return (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", term_fp.alias("term_fp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum("term_fp").cast("bigint").alias("bm25_fp"),
        )
    )


# --------------------------------------------------------------------------
# q107: context packing — assign docs to fixed-token training packs via a
# windowed running sum (the "sequence packing" step before tokenized
# shards are written). Sharded so the window never becomes one global
# partition: each shard packs independently, exactly how a 1000-executor
# job would run one packer per shard.
# --------------------------------------------------------------------------


@query(
    "q107_context_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, shard, n_tokens, cum_tokens,
           (cum_tokens - n_tokens) // 512 AS pack_id
    FROM c
    """,
    doc="Sequence packing for LLM training shards: per-shard running token "
    "sum assigns each doc a 512-token pack id (first-fit in doc order). "
    "The shard key keeps the window partitioned — no global sort; one "
    "shuffle on shard.",
    tags=("text", "packing", "window", "ext"),
)
def q107_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(_words()).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return d.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint")).withColumn(
        "pack_id", F.expr("(cum_tokens - n_tokens) DIV 512")
    )


# --------------------------------------------------------------------------
# q108: correlated-subquery decorrelation — customers above their
# nation's average balance (classic Catalyst rewrite: the correlated
# scalar subquery becomes an aggregate + equi-join).
# --------------------------------------------------------------------------


@query(
    "q108_above_nation_avg",
    oracle="""
    WITH na AS (
      SELECT c_nationkey,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS nation_avg
      FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal, na.nation_avg
    FROM customer c JOIN na ON c.c_nationkey = na.c_nationkey
    WHERE c.c_acctbal > na.nation_avg
    """,
    doc="Customers with balance above their nation's mean — the "
    "decorrelated form of a correlated scalar subquery (one agg + one "
    "equi-join, agg side broadcast). Mean = exact decimal sum cast to "
    "double over count, the engine's cross-engine AVG recipe.",
    tags=("join", "agg", "subquery"),
)
def q108_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    na = c.groupBy(F.col("c_nationkey").alias("_nk")).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "nation_avg"
        )
    )
    return (
        c.join(F.broadcast(na), c.c_nationkey == F.col("_nk"))
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg")
    )


# --------------------------------------------------------------------------
# q109: exact distributed median per group — no percentile_approx, no
# engine-specific interpolation: row_number + count pick the middle
# element(s) deterministically in both engines.
# --------------------------------------------------------------------------


@query(
    "q109_exact_group_median",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(MAX(cnt) AS BIGINT) AS n_rows,
           SUM(l_quantity) / CAST(COUNT(*) AS DOUBLE) AS median_qty
    FROM r
    WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
    GROUP BY l_returnflag
    """,
    doc="Exact median per group without percentile_approx: rank rows with "
    "a fully-deterministic tiebreak, keep the middle one (odd) or two "
    "(even), average them. The 1-2 row sum per group is FP-deterministic; "
    "identical construction in both engines, so values hash-match — the "
    "pattern to reach exact quantiles at any scale (one shuffle + window).",
    tags=("window", "agg", "median"),
)
def q109_exact_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 rewrite (guide §2.5): the original formulation ranked every
    # row with row_number() PARTITION BY l_returnflag — a 3-value key,
    # so the whole fact table hash-shuffled into 3 partitions and each
    # sorted single-threaded (sf10: 20M rows/partition, 39.9 s; at
    # 100 TB a non-starter). But the median VALUE only depends on the
    # cumulative distribution of l_quantity, and l_quantity is a
    # bounded domain (TPC-H: integers 1..50 at every SF) — knowledge
    # the optimizer cannot use (§8). So: value histogram per group
    # (partial map-side agg collapses the fact table to
    # |flags|x|quantities| rows before the exchange), cumulative
    # counts over the ~150-row histogram, pick the value(s) covering
    # the two middle positions. Bit-equal to the old plan: the rank-k
    # l_quantity under ANY tiebreak is the histogram value whose
    # cumulative range covers k, and (v_lo + v_hi) / 2.0 reproduces
    # SUM(middle rows)/COUNT exactly in IEEE arithmetic for all three
    # cases (odd: (v+v)/2 == v == v/1.0; even-tied: (v+v)/2 == v;
    # even-distinct: same sum, same divide). For UNBOUNDED value
    # domains use the q162/q168 bucket-histogram machinery instead
    # (exact_group_quantiles_plan) — this shape relies on the bounded
    # quantity domain to keep the histogram dimension-sized.
    l = _t(spark, sf_dir, "lineitem")
    hist = l.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    r = hist.select(
        "l_returnflag",
        "l_quantity",
        F.col("c"),
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("cnt"),
    ).select(
        "l_returnflag",
        "l_quantity",
        "cnt",
        (F.col("cum") - F.col("c")).alias("prev"),
        "cum",
        F.expr("(cnt + 1) DIV 2").alias("p1"),
        F.expr("(cnt + 2) DIV 2").alias("p2"),
    )
    covers1 = (F.col("prev") < F.col("p1")) & (F.col("p1") <= F.col("cum"))
    covers2 = (F.col("prev") < F.col("p2")) & (F.col("p2") <= F.col("cum"))
    return r.groupBy("l_returnflag").agg(
        F.max("cnt").cast("bigint").alias("n_rows"),
        (
            (
                F.max(F.when(covers1, F.col("l_quantity")))
                + F.max(F.when(covers2, F.col("l_quantity")))
            )
            / F.lit(2.0)
        ).alias("median_qty"),
    )
