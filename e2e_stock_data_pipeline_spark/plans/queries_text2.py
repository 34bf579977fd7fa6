"""Second text batch [EXT]: normalization pipeline, corpus-level n-gram
statistics, TF-IDF keyword extraction, and near-dup cluster assignment
(connected components over the LSH candidate graph).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..sources import tables
from .queries_dedup import _SQL_SHINGLES, SQL_BAND_JOIN, SQL_V2_BANDS
from .registry import query

_SQL_WORDS = "regexp_split_to_array(trim(text), ' +')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "documents")


@query(
    "q53_text_normalize",
    oracle="""
    SELECT doc_id,
           regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g') AS text_norm,
           CAST(length(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS INT) AS n_chars_norm
    FROM documents
    WHERE doc_id % 5 = 0
    """,
    doc="Text normalization pipeline: lowercase, strip non-alphanumerics, "
    "collapse whitespace — the canonical pre-dedup cleanup pass.",
    tags=("text", "normalize", "ext"),
)
def q53_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9 ]", ""), " +", " "
    )
    return d.select("doc_id", norm.alias("text_norm"), F.length(norm).alias("n_chars_norm"))


@query(
    "q54_top_bigrams",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(ws), 1)),
                    i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM w
    )
    SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM sh
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 25
    """,
    doc="Corpus-level n-gram statistics: top-25 word bigrams by occurrence "
    "(with document frequency) — deterministic tie-break on the bigram.",
    tags=("text", "ngram", "topk", "ext"),
)
def q54_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    joined = "concat_ws(' ', w[i + 0], w[i + 1])"
    with_words = d.select("doc_id", F.split(F.col("text"), " +").alias("w"))
    sh = F.expr(
        f"CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w) - 2), i -> {joined}) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    # NOT distinct per doc: n counts occurrences, n_docs counts documents
    exploded = with_words.select("doc_id", F.explode(sh).alias("bigram"))
    return (
        exploded.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(25)
    )


@query(
    "q55_tfidf_keywords",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, unnest({_SQL_WORDS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 1000000) AS BIGINT) AS tfidf_micro
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, tfidf_micro, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_micro DESC, term) AS rnk
      FROM scored
    ) t WHERE rnk <= 3
    """,
    doc="TF-IDF keyword extraction: top-3 terms per document, fixed-point "
    "micro scores (ln ULP differences cannot flip a floor except on "
    "measure-zero boundaries) and term tie-breaks.",
    tags=("text", "tfidf", "ext"),
)
def q55_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    terms = d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), " +")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # r17 note: deriving df FROM tf (count(*) per term over the tf
    # frame) was tried and measured NEUTRAL, then reverted — Catalyst
    # rewrites the count-over-group into a plain (doc, term) distinct,
    # which makes the two branches' exchanges canonically different, so
    # the hoped-for exchange reuse never fires and both shapes pay two
    # scans + one data-sized exchange per branch. The top-3 window is
    # already cheap: Spark 4 plans it as partial WindowGroupLimit
    # (top-3 per doc BEFORE the exchange). Priced in BENCH_NOTES r17.
    df = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size as a broadcast 1-row aggregate (exactly the oracle's
    # CROSS JOIN n) — no driver-side d.count() action in plan construction.
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.floor(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")) * 1000000
    ).cast("bigint")
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_micro").desc(), F.col("term"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", score.alias("tfidf_micro"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
    )


# Bounded-iteration connected components over the MinHash-LSH candidate
# graph: the DuckDB twin of operators/dedup.connected_components. Shared
# by q56 (per-doc labels) and q105 (cluster-size histogram, queries_ext3).
# edges is MATERIALIZED so each round joins a table instead of
# re-inlining the whole minhash pipeline per iteration.
#
# VERDICT r7 item 6: the old recursive-CTE closure enumerated every
# (node, reachable-label) pair — O(sum cluster_size^2) rows and 176 s of
# the 371 s sf0.1 capstone sweep. This version unrolls min-label
# propagation (lab <- min(lab, min over neighbors)) for _CC_ROUNDS
# rounds. Each round is two hash joins + one agg over the edge-touching
# nodes only.
#
# r12: the engine switched to large-star/small-star contraction
# (O(log^2 n) rounds, structurally verified at exit), so engine rounds
# and oracle rounds are DECOUPLED. The oracle's propagation budget must
# now cover the candidate graph's max (distance from each node to its
# component minimum) at gate scale on its own; _CC_ROUNDS = 20 is pinned
# by tests/test_plans.py::test_cc_oracle_propagation_budget, which
# computes that distance exactly (BFS from each component min over the
# collected sf0.01 candidate graph) and asserts it stays under budget.
_CC_ROUNDS = 20  # oracle-side propagation budget (see test above)


def _unrolled_min_label(rounds: int) -> str:
    parts = ["l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM edges)"]
    for k in range(rounds):
        parts.append(
            f"l{k + 1} AS MATERIALIZED ("
            f"SELECT e.src AS node, MIN(LEAST(l.lab, nl.lab)) AS lab "
            f"FROM edges e JOIN l{k} l ON l.node = e.src "
            f"JOIN l{k} nl ON nl.node = e.dst GROUP BY e.src)"
        )
    return ",\n    ".join(parts)


SQL_CLUSTER_LABELS = f"""
    WITH {_SQL_SHINGLES},
    hashed AS (
      SELECT doc_id, CAST(('0x' || substr(sha256(shingle), 1, 7)) AS BIGINT) AS h
      FROM shingled
    ),
    {SQL_V2_BANDS},
    edges AS MATERIALIZED (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b ON {SQL_BAND_JOIN} AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ),
    {_unrolled_min_label(_CC_ROUNDS)},
    labels AS (SELECT node, lab AS cluster_id FROM l{_CC_ROUNDS}),
    assigned AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
    )
"""


@query(
    "q56_dedup_clusters",
    oracle=f"{SQL_CLUSTER_LABELS} SELECT doc_id, cluster_id FROM assigned",
    doc="Near-dup cluster assignment: connected components over the "
    "MinHash-LSH candidate graph via alternating large-star/small-star "
    "contraction (each doc gets its cluster's minimum doc_id). The "
    "oracle computes the identical fixpoint by unrolled min-label "
    "propagation in DuckDB, so the iterative Spark loop is "
    "value-checked, not just rows-only.",
    tags=("dedup", "clustering", "iterative", "ext"),
)
def q56_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17: the (pairs, labels) build is session-memoized — FOUR
    # registered queries (q56/q105/q153/q158) consume the identical
    # cluster fixpoint (operators/dedup.cluster_labels_plan)
    docs = _docs(spark, sf_dir)
    _pairs, labels = D.cluster_labels_plan(docs)
    return labels


@query(
    "q58_boilerplate_ngrams",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(ws) - 3, 1)),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                           || ' ' || ws[i+3] || ' ' || ws[i+4])) AS shingle
        FROM w
      ) t
    )
    SELECT shingle, COUNT(*) AS n_docs
    FROM sh GROUP BY shingle
    HAVING COUNT(*) >= 3
    ORDER BY n_docs DESC, shingle
    """,
    doc="Boilerplate detection: 5-gram shingles recurring across >= 3 "
    "documents (the repeated-passage signal used to strip templates "
    "before training).",
    tags=("text", "dedup", "boilerplate", "ext"),
)
def q58_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = D.exploded_shingles(_docs(spark, sf_dir), n=5)
    return (
        sh.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.col("n_docs").desc(), F.col("shingle"))
    )


@query(
    "q59_stratified_sample",
    oracle="""
    WITH rated AS (
      SELECT *,
        CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50 WHEN 'src2' THEN 25 ELSE 10 END AS rate,
        CAST(('0x' || substr(sha256('sample:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept
    FROM rated WHERE bucket < rate
    GROUP BY source
    """,
    doc="Deterministic hash-based stratified sampling (per-source keep "
    "rates) — the reproducible training-mix sampler: same doc set on "
    "every run, any cluster size, no RNG state.",
    tags=("text", "sampling", "ext"),
)
def q59_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    rate = (
        F.when(F.col("source") == "src0", 100)
        .when(F.col("source") == "src1", 50)
        .when(F.col("source") == "src2", 25)
        .otherwise(10)
    )
    digest = F.sha2(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")), 256)
    bucket = F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint") % 100
    return (
        d.withColumn("rate", rate)
        .withColumn("bucket", bucket)
        .filter(F.col("bucket") < F.col("rate"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
        )
    )


@query(
    "q60_char_ngram_langid",
    oracle="""
    WITH tri AS (
      SELECT doc_id, lang, unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
             i -> substr(text, CAST(i AS INT), 3))) AS tg
      FROM documents
    ),
    -- "train": top-20 trigrams per labeled language (deterministic ties)
    profile AS (
      SELECT lang AS p_lang, tg FROM (
        SELECT lang, tg, COUNT(*) AS n,
               row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tg) AS rnk
        FROM tri GROUP BY lang, tg
      ) t WHERE rnk <= 20
    ),
    doc_tri AS (SELECT DISTINCT doc_id, lang, tg FROM tri),
    scores AS (
      SELECT d.doc_id, d.lang, p.p_lang, COUNT(*) AS hits
      FROM doc_tri d JOIN profile p ON d.tg = p.tg
      GROUP BY d.doc_id, d.lang, p.p_lang
    ),
    pred AS (
      SELECT doc_id, lang, p_lang AS lang_pred FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, p_lang) AS r
        FROM scores
      ) s WHERE r = 1
    )
    SELECT lang, lang_pred, COUNT(*) AS n
    FROM pred GROUP BY lang, lang_pred
    """,
    doc="Char-trigram language ID: per-language trigram profiles learned "
    "from the labeled corpus, documents classified by profile overlap "
    "(argmax with deterministic ties) — confusion-matrix output.",
    tags=("text", "langid", "ngram", "ext"),
)
def q60_char_ngram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 (guide §2.3/§2.4): the classification leg previously
    # materialized per-doc DISTINCT trigrams as ROWS — a full-explode
    # distinct (every (doc_id, lang, tg) row shuffled, ~200M at sf10),
    # a row join against the profile, and a per-(doc, p_lang) count —
    # three data-sized shuffles to compute what is per-doc-local
    # arithmetic. The profile frame is dimension-sized (top-20 per
    # language), so: nest it to ONE ROW PER LANGUAGE (collect_list),
    # broadcast-cross-join those |langs| rows, and score each doc with
    # size(array_intersect(distinct_doc_trigrams, profile_trigrams)) —
    # set identity is exactly the old DISTINCT-join-count. hits=0 rows
    # are filtered (the old inner join never produced them), and the
    # argmax keeps the (hits DESC, p_lang ASC) tiebreak as
    # min(struct(-hits, p_lang)). No data-sized exchange remains: the
    # per-doc argmax collapses map-side (a doc's |langs| score rows
    # are partition-local), as does the confusion-matrix aggregate.
    # The trigram transform still runs twice (once per pass), but
    # DISK_ONLY-materializing it was measured SLOWER (34.4 s vs 26.5
    # baseline at sf10) than recomputing — the r17 notes price both.
    d = _docs(spark, sf_dir)
    tg_arr = F.expr(
        "CASE WHEN length(text) >= 3 THEN "
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    tri = d.select("doc_id", "lang", F.explode(tg_arr).alias("tg"))
    wp = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tg"))
    profile = (
        tri.groupBy("lang", "tg")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rnk", F.row_number().over(wp))
        .filter(F.col("rnk") <= 20)
        .select(F.col("lang").alias("p_lang"), "tg")
    )
    profile_sets = profile.groupBy("p_lang").agg(F.collect_list("tg").alias("ptgs"))
    scored = (
        d.select("doc_id", "lang", F.array_distinct(tg_arr).alias("tgs"))
        .crossJoin(F.broadcast(profile_sets))
        .select(
            "doc_id",
            "lang",
            "p_lang",
            F.size(F.array_intersect("tgs", "ptgs")).alias("hits"),
        )
        .filter(F.col("hits") >= 1)
    )
    pred = scored.groupBy("doc_id", "lang").agg(
        F.min(F.struct((-F.col("hits")).alias("nh"), F.col("p_lang").alias("pl")))
        .getField("pl")
        .alias("lang_pred")
    )
    return pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q65_hashed_embedding",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), ' +')) AS tok
      FROM documents WHERE doc_id % 10 = 0
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(sha256(tok), 1, 8)) AS BIGINT) % 64 AS bucket,
             CASE WHEN CAST(('0x' || substr(sha256(tok), 9, 2)) AS INT) % 2 = 0
                  THEN 1 ELSE -1 END AS sign
      FROM toks
    ),
    sums AS (
      SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS s
      FROM hashed GROUP BY doc_id, bucket
    ),
    norms AS (
      SELECT doc_id, sqrt(CAST(SUM(s * s) AS DOUBLE)) AS nrm FROM sums GROUP BY doc_id
    )
    SELECT s.doc_id, CAST(s.bucket AS INT) AS bucket,
           CAST(s.s AS DOUBLE) / n.nrm AS weight
    FROM sums s JOIN norms n ON s.doc_id = n.doc_id
    WHERE s.s <> 0
    """,
    doc="Feature-hashing text embedding in PURE Catalyst (sparse rows form: "
    "doc_id, bucket, L2-normalized weight) — the engine's one text "
    "encoder: each token maps to one of 64 buckets by sha256 with a "
    "sign bit, and the per-doc sums are L2-normalized.",
    tags=("text", "embedding", "ext"),
)
def q65_hashed_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    toks = d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), " +")).alias("tok"))
    digest = F.sha2(F.col("tok"), 256)
    bucket = F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint") % 64
    sign = F.when(
        F.conv(F.substring(digest, 9, 2), 16, 10).cast("int") % 2 == 0, 1
    ).otherwise(-1)
    sums = (
        toks.select("doc_id", bucket.alias("bucket"), sign.alias("sign"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("bigint").alias("s"))
        .filter(F.col("s") != 0)
    )
    norms = sums.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("s") * F.col("s")).cast("double")).alias("nrm")
    )
    return sums.join(norms, "doc_id").select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        (F.col("s").cast("double") / F.col("nrm")).alias("weight"),
    )


@query(
    "q79_doclen_histogram",
    oracle="""
    WITH lens AS (
      SELECT CAST(length(text) AS BIGINT) AS n FROM documents
    )
    SELECT CAST(LEAST(FLOOR(n / 100), 9) AS BIGINT) AS bucket,
           COUNT(*) AS n_docs,
           MIN(n) AS min_len,
           MAX(n) AS max_len
    FROM lens
    GROUP BY 1
    """,
    doc="Corpus length histogram (fixed-width buckets of 100 chars, last "
    "bucket open-ended): the first diagnostic any training-data pipeline "
    "runs before filtering — a single map-side-combinable aggregate.",
    tags=("text", "histogram", "ext"),
)
def q79_doclen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n = F.length("text").cast("bigint")
    bucket = F.least(F.floor(n / 100), F.lit(9)).cast("bigint")
    return (
        d.select(n.alias("n"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n").alias("min_len"),
            F.max("n").alias("max_len"),
        )
    )


@query(
    "q80_scrub_numbers",
    oracle="""
    SELECT doc_id,
           regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS text_scrubbed,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digits
    FROM documents
    WHERE doc_id % 7 = 0
    """,
    doc="PII-style scrubbing pass: digit runs replaced by a sentinel token "
    "plus a per-doc digit count (the redact-and-measure shape used for "
    "phone/SSN masking; the character class is dialect-portable so both "
    "regex engines agree).",
    tags=("text", "scrub", "ext"),
)
def q80_scrub_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0)
    return d.select(
        "doc_id",
        F.regexp_replace(F.col("text"), "[0-9]+", "<NUM>").alias("text_scrubbed"),
        (
            F.length("text") - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
        ).cast("int").alias("n_digits"),
    )


@query(
    "q89_gopher_rules",
    oracle=f"""
    WITH stats AS (
      SELECT doc_id,
             CAST(len({_SQL_WORDS}) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_clean,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
      FROM documents
    )
    SELECT doc_id,
           n_words BETWEEN 5 AND 1000 AS rule_word_count,
           CAST(n_nonspace AS DOUBLE) / n_words BETWEEN 2.0 AND 12.0 AS rule_mean_word_len,
           CAST(n_chars - n_clean AS DOUBLE) / n_chars <= 0.1 AS rule_symbol_ratio,
           (n_words BETWEEN 5 AND 1000)
           AND (CAST(n_nonspace AS DOUBLE) / n_words BETWEEN 2.0 AND 12.0)
           AND (CAST(n_chars - n_clean AS DOUBLE) / n_chars <= 0.1) AS keep
    FROM stats
    """,
    doc="Gopher-style quality rule battery: word-count band, mean word "
    "length band, symbol-to-char ratio cap, and the conjunctive keep "
    "verdict — the standard pre-training document filter expressed as "
    "one projection over integer character statistics (every ratio is "
    "an int/int division, so both engines agree bitwise).",
    tags=("text", "quality", "filter", "ext"),
)
def q89_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n_words = F.size(F.split(F.trim(F.col("text")), " +")).cast("bigint")
    n_clean = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")).cast("bigint")
    n_chars = F.length("text").cast("bigint")
    n_nonspace = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("bigint")
    stats = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_clean.alias("n_clean"),
        n_chars.alias("n_chars"),
        n_nonspace.alias("n_nonspace"),
    )
    mean_wl = F.col("n_nonspace").cast("double") / F.col("n_words")
    sym_ratio = (F.col("n_chars") - F.col("n_clean")).cast("double") / F.col("n_chars")
    r_wc = F.col("n_words").between(5, 1000)
    r_mwl = mean_wl.between(2.0, 12.0)
    r_sym = sym_ratio <= 0.1
    return stats.select(
        "doc_id",
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_sym.alias("rule_symbol_ratio"),
        (r_wc & r_mwl & r_sym).alias("keep"),
    )


@query(
    "q90_repetition_stats",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
    ),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(ws), 1)),
                    i -> ws[i] || ' ' || ws[i+1])) AS bg
      FROM words WHERE len(ws) >= 2
    ),
    counts AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
    ),
    agg AS (
      SELECT doc_id,
             CAST(MAX(c) AS BIGINT) AS top_bigram_n,
             CAST(SUM(c) AS BIGINT) AS total_bigrams,
             CAST(COUNT(*) AS BIGINT) AS distinct_bigrams
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, top_bigram_n, total_bigrams,
           CAST(top_bigram_n AS DOUBLE) / total_bigrams AS top_bigram_frac,
           1.0 - CAST(distinct_bigrams AS DOUBLE) / total_bigrams AS dup_bigram_frac,
           CAST(top_bigram_n AS DOUBLE) / total_bigrams > 0.18 AS flag_repetitive
    FROM agg
    """,
    doc="Repetition detection (the Gopher repetition filters): top-bigram "
    "fraction and duplicate-bigram fraction per document with a "
    "repetitiveness flag — catches looping/boilerplate generations. "
    "Integer counts, two int/int divisions; one shuffle on (doc, bigram) "
    "then (doc).",
    tags=("text", "quality", "repetition", "ext"),
)
def q90_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # r17 (the q184/q175 interpreted-lambda lesson): hoist the split
    # into its own projection — higher-order-function lambdas get no
    # common-subexpression elimination, so the inline form re-ran
    # split(trim(text)) per ARRAY ELEMENT (twice per bigram: ws[i] and
    # ws[i+1]). Identical bigrams, one split per document.
    ws = d.select("doc_id", F.split(F.trim(F.col("text")), " +").alias("ws"))
    bigram = F.expr(
        "CASE WHEN size(ws) >= 2 THEN "
        "transform(sequence(0, size(ws) - 2), i -> ws[i] || ' ' || ws[i+1]) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    bigrams = ws.select("doc_id", F.explode(bigram).alias("bg"))
    counts = bigrams.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    agg = counts.groupBy("doc_id").agg(
        F.max("c").cast("bigint").alias("top_bigram_n"),
        F.sum("c").cast("bigint").alias("total_bigrams"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_bigrams"),
    )
    top_frac = F.col("top_bigram_n").cast("double") / F.col("total_bigrams")
    dup_frac = F.lit(1.0) - F.col("distinct_bigrams").cast("double") / F.col("total_bigrams")
    return agg.select(
        "doc_id", "top_bigram_n", "total_bigrams",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_bigram_frac"),
        (top_frac > 0.18).alias("flag_repetitive"),
    )


@query(
    "q93_heavy_hitter_users",
    oracle="""
    WITH total AS (SELECT COUNT(*) AS n_total FROM events)
    SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n
    FROM events e, total
    GROUP BY e.user_id, total.n_total
    HAVING COUNT(*) > 0.004 * total.n_total
    """,
    doc="Heavy hitters over events.user_id (frequency > 0.4% of the "
    "stream) via the two-pass Misra-Gries sketch: bounded-memory "
    "per-partition summaries propose candidates, one exact pass over "
    "the broadcast candidate set verifies — output is EXACT (the oracle "
    "is the plain groupBy+HAVING), but the state is O(partitions/theta) "
    "instead of O(cardinality), which is what survives a 100 TB column "
    "with billions of distinct keys.",
    tags=("sketch", "heavyhitters", "agg", "ext"),
)
def q93_heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.heavyhitters import heavy_hitters

    e = tables.load(spark, sf_dir, "events")
    return heavy_hitters(e, "user_id", theta=0.004).select(
        "user_id", F.col("n").cast("bigint").alias("n")
    )


@query(
    "q96_doc_chunking",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents
    )
    SELECT doc_id,
           CAST(s AS INT) AS chunk_id,
           array_to_string(ws[(s * 30 + 1):(s * 30 + 40)], ' ') AS chunk_text,
           CAST(least(40, len(ws) - s * 30) AS INT) AS n_words
    FROM words, unnest(range(0, CAST(ceil(greatest(len(ws) - 10, 1) / 30.0) AS BIGINT))) AS t(s)
    """,
    doc="Sliding-window document chunking (40-word windows, stride 30, "
    "10-word overlap) — the preprocessing step every embedding/RAG "
    "pipeline runs before encoding. Pure per-row array arithmetic: "
    "chunk starts from a sequence, slices stay inside the row, no "
    "shuffle at all; chunk ids are deterministic so downstream "
    "embedding joins are stable across reruns.",
    tags=("text", "chunking", "rag", "ext"),
)
def q96_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    ws = "split(trim(text), ' +')"
    n_chunks = f"CAST(ceil(greatest(size({ws}) - 10, 1) / 30.0) AS BIGINT)"
    chunks = F.expr(
        f"transform(sequence(0, {n_chunks} - 1), "
        f"s -> struct(CAST(s AS INT) AS chunk_id, "
        f"array_join(slice({ws}, s * 30 + 1, 40), ' ') AS chunk_text, "
        f"CAST(least(40, size({ws}) - s * 30) AS INT) AS n_words))"
    )
    return d.select("doc_id", F.explode(chunks).alias("_c")).select(
        "doc_id", "_c.chunk_id", "_c.chunk_text", "_c.n_words"
    )


@query(
    "q97_chunk_embeddings",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, {_SQL_WORDS} AS ws FROM documents WHERE doc_id % 10 = 0
    ),
    chunks AS (
      SELECT doc_id, CAST(s AS INT) AS chunk_id,
             ws[(s * 30 + 1):(s * 30 + 40)] AS toks
      FROM words, unnest(range(0, CAST(ceil(greatest(len(ws) - 10, 1) / 30.0) AS BIGINT))) AS t(s)
    ),
    toks AS (
      SELECT doc_id, chunk_id, unnest(toks) AS tok FROM chunks
    ),
    hashed AS (
      SELECT doc_id, chunk_id,
             CAST(('0x' || substr(sha256(tok), 1, 8)) AS BIGINT) % 64 AS bucket,
             CASE WHEN CAST(('0x' || substr(sha256(tok), 9, 2)) AS INT) % 2 = 0
                  THEN 1 ELSE -1 END AS sign
      FROM toks
    ),
    sums AS (
      SELECT doc_id, chunk_id, bucket, CAST(SUM(sign) AS BIGINT) AS s
      FROM hashed GROUP BY doc_id, chunk_id, bucket
      HAVING SUM(sign) <> 0
    ),
    norms AS (
      SELECT doc_id, chunk_id, sqrt(CAST(SUM(s * s) AS DOUBLE)) AS nrm
      FROM sums GROUP BY doc_id, chunk_id
    )
    SELECT s.doc_id, s.chunk_id, CAST(s.bucket AS INT) AS bucket,
           CAST(s.s AS DOUBLE) / n.nrm AS weight
    FROM sums s
    JOIN norms n ON s.doc_id = n.doc_id AND s.chunk_id = n.chunk_id
    """,
    doc="Chunk-level embeddings: q96's sliding windows composed with "
    "q65's feature-hashing encoder — per-chunk L2-normalized sparse "
    "vectors keyed (doc_id, chunk_id, bucket), exactly what a RAG index "
    "ingests. The chunking is per-row, the encode shuffles once on "
    "(doc, chunk, bucket); both stay Catalyst-only.",
    tags=("text", "embedding", "chunking", "rag", "ext"),
)
def q97_chunk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    ws = "split(trim(text), ' +')"
    n_chunks = f"CAST(ceil(greatest(size({ws}) - 10, 1) / 30.0) AS BIGINT)"
    chunks = F.expr(
        f"transform(sequence(0, {n_chunks} - 1), "
        f"s -> struct(CAST(s AS INT) AS chunk_id, slice({ws}, s * 30 + 1, 40) AS toks))"
    )
    toks = (
        d.select("doc_id", F.explode(chunks).alias("_c"))
        .select("doc_id", "_c.chunk_id", F.explode("_c.toks").alias("tok"))
    )
    digest = F.sha2(F.col("tok"), 256)
    bucket = F.conv(F.substring(digest, 1, 8), 16, 10).cast("bigint") % 64
    sign = F.when(
        F.conv(F.substring(digest, 9, 2), 16, 10).cast("int") % 2 == 0, 1
    ).otherwise(-1)
    sums = (
        toks.select("doc_id", "chunk_id", bucket.alias("bucket"), sign.alias("sign"))
        .groupBy("doc_id", "chunk_id", "bucket")
        .agg(F.sum("sign").cast("bigint").alias("s"))
        .filter(F.col("s") != 0)
    )
    norms = sums.groupBy("doc_id", "chunk_id").agg(
        F.sqrt(F.sum(F.col("s") * F.col("s")).cast("double")).alias("nrm")
    )
    return sums.join(norms, ["doc_id", "chunk_id"]).select(
        "doc_id",
        "chunk_id",
        F.col("bucket").cast("int").alias("bucket"),
        (F.col("s").cast("double") / F.col("nrm")).alias("weight"),
    )
