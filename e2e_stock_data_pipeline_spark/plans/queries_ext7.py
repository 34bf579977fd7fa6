"""Round-8 query additions [EXT]:

* q128 — oracle-gated IVF ANN (VERDICT r7 item 2). A KMeans-fit
  inverted-file index cannot be replayed by SQL, so q128 applies the
  q123 trick to the coarse quantizer instead: seed centroids are the
  n_cells smallest-id candidates (KMeans iteration zero) refined by
  ONE exact Lloyd step whose centroid update is component-wise integer
  `sum div count` — truncation-toward-zero division matches DuckDB's `//` exactly (both
  yield -3 for -7/2), so the learned index, the probe choice, and the
  in-cell exact rerank all replay bit-for-bit in SQL over the same
  integer-quantized vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64_sql
from ..operators import similarity as similarity_ops
from ..operators.similarity import ivf_rerank_topk_seeded
from ..sources import tables
from .queries_dedup import _SQL_SHINGLES
from .queries_ext6 import _D2, _SQL_Q
from .registry import query

# IVF geometry shared by the Spark plan and the SQL oracle: 64-dim
# vectors, top-5; the cell and probe counts are DENSITY-SCALED from the
# candidate count (r16, VERDICT r15 item 2): cells = clamp(floor(sqrt(
# n_cand DIV similarity.IVF_CELLS_SCALE_DIV)), 16, IVF_CELLS_MAX) and
# probes = max(4, cells DIV IVF_PROBE_DIV) — the probed-cell FRACTION
# stays 1/IVF_PROBE_DIV (1/2 since r17 — the sf10 knob sweep in
# operators/similarity.py put the 81.6% r16 recall on probe pruning
# alone: div=2 measured 92% at +2.4 s) while the cells get finer as
# the corpus grows. At gate density (n_cand <= 1024) cells clamp to 16
# and probes to max(4, 16 DIV 2) = 8 — the bucket geometry matches the
# pre-r16 16-cell table with a wider probe ring.
_DIM, _N_CELLS, _N_PROBE, _K = 64, 16, 4, 5
_CSD = similarity_ops.IVF_CELLS_SCALE_DIV
_PDIV = similarity_ops.IVF_PROBE_DIV
_CMAX = similarity_ops.IVF_CELLS_MAX


@query(
    "q128_ivf_rerank",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_Q} AS q FROM embeddings),
    qs AS (SELECT vec_id, q FROM e WHERE vec_id < 5),
    cand AS (SELECT vec_id, q FROM e WHERE vec_id >= 5),
    params AS (
      SELECT ncells, GREATEST({_N_PROBE}, ncells // {_PDIV}) AS nprobe
      FROM (
        SELECT LEAST({_CMAX}, GREATEST({_N_CELLS},
                 CAST(FLOOR(SQRT((SELECT COUNT(*) FROM cand) // {_CSD})) AS BIGINT)
               )) AS ncells
      )
    ),
    seeds AS (
      SELECT q AS cent, rn - 1 AS c
      FROM (
        SELECT q, row_number() OVER (ORDER BY vec_id) AS rn
        FROM (SELECT vec_id, q FROM cand ORDER BY vec_id LIMIT {_CMAX})
      ) WHERE rn <= (SELECT ncells FROM params)
    ),
    a0 AS (
      SELECT cand_id, cell FROM (
        SELECT cd.vec_id AS cand_id, s.c AS cell,
               row_number() OVER (PARTITION BY cd.vec_id
                                  ORDER BY {_D2.format(a="cd.q", b="s.cent")}, s.c) AS r
        FROM cand cd CROSS JOIN seeds s
      ) WHERE r = 1
    ),
    pos AS (SELECT unnest(range(1, {_DIM} + 1)) AS pos),
    cent AS (
      SELECT cell AS c, list(cv ORDER BY pos) AS cent FROM (
        SELECT a0.cell, p.pos,
               CAST(SUM(cd.q[p.pos]) // COUNT(*) AS BIGINT) AS cv
        FROM a0 JOIN cand cd ON a0.cand_id = cd.vec_id CROSS JOIN pos p
        GROUP BY a0.cell, p.pos
      ) GROUP BY cell
    ),
    a1 AS (
      SELECT cand_id, cell FROM (
        SELECT cd.vec_id AS cand_id, ct.c AS cell,
               row_number() OVER (PARTITION BY cd.vec_id
                                  ORDER BY {_D2.format(a="cd.q", b="ct.cent")}, ct.c) AS r
        FROM cand cd CROSS JOIN cent ct
      ) WHERE r = 1
    ),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT qq.vec_id AS query_id, ct.c AS cell,
               row_number() OVER (PARTITION BY qq.vec_id
                                  ORDER BY {_D2.format(a="qq.q", b="ct.cent")}, ct.c) AS r
        FROM qs qq CROSS JOIN cent ct
      ) WHERE r <= (SELECT nprobe FROM params)
    )
    SELECT query_id, cand_id, CAST(cell AS INT) AS cell, exact_d2,
           CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY exact_d2, cand_id) AS rnk
      FROM (
        SELECT p.query_id, a1.cand_id, a1.cell,
               {_D2.format(a="qv.q", b="cv.q")} AS exact_d2
        FROM probes p
        JOIN a1 ON p.cell = a1.cell
        JOIN qs qv ON p.query_id = qv.vec_id
        JOIN cand cv ON a1.cand_id = cv.vec_id
      )
    ) WHERE rnk <= {_K}
    """,
    doc="IVF ANN with an oracle-replayable learned index: seed "
    "centroids (smallest-id candidates) + one exact Lloyd step "
    "(centroid = component-wise sum div count, truncating division "
    "identical in Spark and DuckDB), candidates indexed by refined "
    "cell, each query probes its nearest cells and exact-reranks "
    "only in-cell candidates to top-5. The cell/probe counts are "
    "DENSITY-SCALED from the candidate count, taken at build time (cells ~ "
    "sqrt(n_cand DIV 4) clamped to [16, 1024], probes = cells DIV 2 "
    "floored at 4 since r17 — constant probed fraction over ever-finer "
    "cells; the r16 1/4 fraction left recall@5 at 81.6%, the family's "
    "low bar, and the sf10 knob sweep showed the probe ring, not "
    "centroid quality, was the binding constraint: 1/2 measures 92% "
    "at +2.4 s because only probed-cell rows pay exact distance). "
    "The seeds and the Lloyd centroids are collected at build time "
    "(the corpus x cells argmin runs per Arrow batch in numpy) and the "
    "search joins candidates to the BROADCAST probe frame — candidates "
    "are never shuffled on the low-cardinality cell key. The engine's "
    "one IVF path.",
    tags=("similarity", "ann", "ivf", "ext"),
)
def q128_ivf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tables.load(spark, sf_dir, "embeddings")
    return ivf_rerank_topk_seeded(
        e.filter(F.col("vec_id") < 5),
        e.filter(F.col("vec_id") >= 5),
        dim=_DIM,
        n_cells=_N_CELLS,
        n_probe=_N_PROBE,
        k_top=_K,
    )


# Per-(source, lang) document cap — the C4/RefinedWeb domain-quota
# primitive: no single origin may contribute more than _CAP docs per
# language to the training mix. Output is dimension-bounded (at most
# n_groups * _CAP rows at ANY scale factor), and the keep decision is
# the same deterministic hash rank as q127/q113, so the kept SET is
# reproducible on any engine and layout.
_CAP, _CAP_SEED = 8, 13


@query(
    "q129_source_lang_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, lang,
             row_number() OVER (
               PARTITION BY source, lang
               ORDER BY {portable_hash64_sql("doc_id", seed=_CAP_SEED)}, doc_id
             ) AS rnk
      FROM documents
    )
    SELECT doc_id, source, lang FROM ranked WHERE rnk <= {_CAP}
    """,
    doc=f"Per-(source, lang) cap at {_CAP} docs (the C4/RefinedWeb "
    "domain-quota rule): groups over the cap are clipped to their "
    f"{_CAP} smallest seeded-hash ranks, groups under it keep whole. "
    "Runs on the generic skew-safe keep "
    "(operators/ranking.bucketed_group_keep — q127's bucketed "
    "distributed rank with a composite group key): no data-sized sort "
    "on the group key, buckets wholly above the cap pruned broadcast-"
    "side before any window. Output is dimension-bounded "
    "(groups x cap rows) at every scale factor.",
    tags=("ext", "curation", "sampling", "cap"),
)
def q129_source_lang_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import bucketed_group_keep

    docs = tables.load(spark, sf_dir, "documents")
    targets = (
        docs.select("source", "lang")
        .distinct()
        .withColumn("n_target", F.lit(_CAP).cast("bigint"))
    )
    return bucketed_group_keep(
        docs.select("doc_id", "source", "lang"),
        ["source", "lang"],
        targets,
        id_col="doc_id",
        seed=_CAP_SEED,
    )


# Embedding-modality incremental near-dup (q126's daily-ingest pattern on
# vectors): DENSITY-SCALED banded hyperplane LSH — depth r from
# similarity.embed_r_sql's integer ladder over the old-corpus count,
# B = max(1, r - base) bands, candidates strictly new x old, exact
# quantized cosine verify at 0.2 (q50 conventions). At gate density
# (n_old <= 640) this is exactly the pre-r16 single band of 4 planes.
_IBASE, _ISEED, _ITHRESH = similarity_ops.EMBED_BASE_PLANES, 13, 0.2


@query(
    "q130_incremental_embed_neardup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, {_SQL_Q} AS q, vec_id % 5 = 0 AS is_new FROM embeddings
    ),
    nold AS (SELECT COUNT(*) AS n_old FROM e WHERE NOT is_new),
    {similarity_ops.embed_banded_sql("e", "SELECT n_old FROM nold", seed=_ISEED, base=_IBASE)},
    cand AS (
      SELECT DISTINCT bn.vec_id AS vec_new, bo.vec_id AS vec_old
      FROM b bn
      JOIN e en ON en.vec_id = bn.vec_id AND en.is_new
      JOIN b bo ON bo.band = bn.band AND bo.bucket = bn.bucket
      JOIN e eo ON eo.vec_id = bo.vec_id AND NOT eo.is_new
    ),
    n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM e)
    SELECT c.vec_new, c.vec_old,
           list_dot_product(x.q, y.q) / (sqrt(x.nn) * sqrt(y.nn)) AS cos_sim
    FROM cand c
    JOIN n x ON x.vec_id = c.vec_new
    JOIN n y ON y.vec_id = c.vec_old
    WHERE list_dot_product(x.q, y.q) / (sqrt(x.nn) * sqrt(y.nn)) >= {_ITHRESH}
    """,
    doc="Incremental EMBEDDING near-dup: today's batch (vec_id % 5 = 0) "
    "against the existing corpus only — the vector-modality twin of "
    "q126's MinHash composition. Candidates come from DENSITY-SCALED "
    "banded hyperplane-LSH collisions strictly across the new/old "
    "boundary: plane depth r grows one step per doubling of the old "
    "corpus past 640 rows (similarity.embed_r_sql's integer ladder, "
    "computed lazily from a one-row count — no driver probe) and "
    "B = max(1, r-4) independent bands pay back the recall each extra "
    "plane costs, so per-band bucket population and therefore candidate "
    "volume per batch row stay ~constant at any corpus size (the r15 "
    "fixed-16-bucket geometry was linear in corpus). Only colliding "
    "pairs pay the exact quantized-cosine verify at 0.2. Same "
    "integer-exact plane/cosine conventions as q50b/q51, so DuckDB "
    "replays the count, the ladder, the bucket assignment, and the "
    "verdict bit-for-bit.",
    tags=("similarity", "dedup", "incremental", "lsh", "ext"),
)
def q130_incremental_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import incremental_embed_neardup

    e = tables.load(spark, sf_dir, "embeddings")
    return incremental_embed_neardup(
        e,
        F.col("vec_id") % 5 == 0,
        threshold=_ITHRESH,
        base_planes=_IBASE,
        seed=_ISEED,
        dim=64,
    )


# Curation funnel stages, all integer-exact (no float boundary rows):
# S1 language allowlist; S2 length floor in words; S3 repetition cap as
# the cross-multiplied rational max_word_count * 100 <= 15 * n_words.
_FUNNEL_LANGS = ("en", "es", "de", "fr")
_MIN_WORDS, _REP_PCT = 15, 15


@query(
    "q131_curation_funnel",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(text), ' +') AS ws
      FROM documents
    ),
    rep AS (
      SELECT doc_id, MAX(c) AS max_c FROM (
        SELECT doc_id, word, COUNT(*) AS c FROM (
          SELECT doc_id, unnest(ws) AS word FROM w
        ) GROUP BY doc_id, word
      ) GROUP BY doc_id
    ),
    flags AS (
      SELECT w.doc_id,
             w.lang IN {_FUNNEL_LANGS} AS p1,
             len(w.ws) >= {_MIN_WORDS} AS p2,
             rep.max_c * 100 <= {_REP_PCT} * len(w.ws) AS p3
      FROM w JOIN rep ON rep.doc_id = w.doc_id
    ),
    agg AS (
      SELECT COUNT(*) AS n0,
             CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
      FROM flags
    )
    SELECT stage, n_in, n_pass, n_in - n_pass AS n_drop FROM (
      SELECT 'S1_lang_allowlist' AS stage, n0 AS n_in, n1 AS n_pass FROM agg
      UNION ALL
      SELECT 'S2_min_words', n1, n2 FROM agg
      UNION ALL
      SELECT 'S3_repetition_cap', n2, n3 FROM agg
    )
    """,
    doc="Curation funnel audit: the per-stage drop report every "
    "filtering pipeline publishes (language allowlist -> length floor "
    "-> repetition cap), computed in ONE corpus pass — per-doc flags "
    "from a keyed word-count agg, then a single global fold; output is "
    "3 dimension-sized rows. Every predicate is integer-exact (the "
    "repetition cap compares max_word_count * 100 <= 15 * n_words, a "
    "cross-multiplied rational) so no float boundary can flip a count. "
    "Stages compose sequentially: n_in of stage k is n_pass of k-1.",
    tags=("ext", "curation", "quality", "audit"),
)
def q131_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", "lang", F.split(F.trim(F.col("text")), " +").alias("ws")
    )
    rep = (
        w.select("doc_id", F.explode("ws").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_c"))
    )
    flags = w.join(rep, "doc_id").select(
        F.col("lang").isin(*_FUNNEL_LANGS).alias("p1"),
        (F.size("ws") >= _MIN_WORDS).alias("p2"),
        (F.col("max_c") * 100 <= _REP_PCT * F.size("ws")).alias("p3"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(F.col("p1"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("p1") & F.col("p2"), 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("p1") & F.col("p2") & F.col("p3"), 1).otherwise(0)).alias("n3"),
    )
    s = agg.select(
        F.array(
            F.struct(
                F.lit("S1_lang_allowlist").alias("stage"),
                F.col("n0").alias("n_in"),
                F.col("n1").alias("n_pass"),
            ),
            F.struct(
                F.lit("S2_min_words").alias("stage"),
                F.col("n1").alias("n_in"),
                F.col("n2").alias("n_pass"),
            ),
            F.struct(
                F.lit("S3_repetition_cap").alias("stage"),
                F.col("n2").alias("n_in"),
                F.col("n3").alias("n_pass"),
            ),
        ).alias("rows")
    ).select(F.explode("rows").alias("r"))
    return s.select(
        F.col("r.stage").alias("stage"),
        F.col("r.n_in").alias("n_in"),
        F.col("r.n_pass").alias("n_pass"),
        (F.col("r.n_in") - F.col("r.n_pass")).alias("n_drop"),
    )


# Bloom-filter decontamination: the memory-bound scale twin of q99's
# exact join. m=65536 bits as 2048 32-bit words, k=3 portable hashes
# with the seed spliced into the hashed string ('s{seed}:' || shingle —
# identical bytes in both engines), flag train docs carrying >= 2
# maybe-present shingles.
_BM, _BK, _BLOOM_FLAG_MIN = 65536, 3, 2
_B_HASH = (
    "CAST(('0x' || substr(sha256('s' || CAST(s AS VARCHAR) || ':' || shingle), 1, 15)) AS BIGINT)"
    f" % {_BM}"
)


@query(
    "q132_bloom_decontamination",
    oracle=f"""
    WITH {_SQL_SHINGLES},
    seeds AS (SELECT unnest(range({_BK})) AS s),
    ev AS (SELECT DISTINCT shingle FROM shingled WHERE doc_id % 97 = 0),
    bloom AS (
      SELECT pos // 32 AS word_idx,
             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
      FROM (SELECT {_B_HASH} AS pos FROM ev CROSS JOIN seeds)
      GROUP BY pos // 32
    ),
    tr AS (SELECT doc_id, shingle FROM shingled WHERE doc_id % 97 <> 0),
    probes AS (
      SELECT doc_id, shingle, pos // 32 AS word_idx,
             1::BIGINT << CAST(pos % 32 AS INT) AS bit
      FROM (SELECT doc_id, shingle, {_B_HASH} AS pos FROM tr CROSS JOIN seeds)
    ),
    hits AS (
      SELECT p.doc_id, p.shingle, COUNT(*) AS h
      FROM probes p JOIN bloom b ON p.word_idx = b.word_idx
      WHERE (b.word & p.bit) <> 0
      GROUP BY p.doc_id, p.shingle
    ),
    flagged AS (
      SELECT doc_id, COUNT(*) AS n_flagged FROM hits
      WHERE h = {_BK} GROUP BY doc_id
    )
    SELECT doc_id AS train_doc, CAST(n_flagged AS BIGINT) AS n_flagged
    FROM flagged WHERE n_flagged >= {_BLOOM_FLAG_MIN}
    """,
    doc="Eval-set decontamination through a deterministic Bloom filter "
    "(operators/bloom.py): eval shingles build a 65536-bit filter ONCE "
    "(2048 broadcast rows of 32-bit words, k=3 portable-hash probes); "
    "each train shingle then pays 3 constant-time bit tests instead of "
    "joining the full eval shingle set — probe cost independent of "
    "|eval|, no posting-list cap needed (q99's cap exists to bound its "
    "join fan-out). Deterministic false positives only (rate ~(1-e^"
    "(-kn/m))^k, here <1e-3); no false negatives (property-tested "
    "superset of the exact join). DuckDB replays filter build and "
    "probe verdicts bit-for-bit.",
    tags=("dedup", "contamination", "sketch", "bloom", "ext"),
)
def q132_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_build, bloom_probe
    from ..operators.dedup import exploded_shingles

    sh = exploded_shingles(tables.load(spark, sf_dir, "documents"), distinct=True)
    ev = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    tr = sh.filter(F.col("doc_id") % 97 != 0).select("doc_id", "shingle")
    bloom = bloom_build(ev, "shingle", m_bits=_BM, k=_BK)
    flagged = bloom_probe(tr, "shingle", bloom, m_bits=_BM, k=_BK)
    return (
        flagged.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
        .filter(F.col("n_flagged") >= _BLOOM_FLAG_MIN)
        .select(F.col("doc_id").alias("train_doc"), "n_flagged")
    )


# Count-Min frequency sketch: k=3 rows x m=4096 counters over word
# occurrences; report the exact top-20 words with their CM estimates.
_CM_M, _CM_K, _CM_TOP = 4096, 3, 20
_CM_HASH = (
    "CAST(('0x' || substr(sha256('s' || CAST(s AS VARCHAR) || ':' || word), 1, 15)) AS BIGINT)"
    f" % {_CM_M}"
)


@query(
    "q133_countmin_wordfreq",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), ' +')) AS word FROM documents
    ),
    seeds AS (SELECT unnest(range({_CM_K})) AS s),
    sk AS (
      SELECT s, pos, COUNT(*) AS counter FROM (
        SELECT s, {_CM_HASH} AS pos FROM tok CROSS JOIN seeds
      ) GROUP BY s, pos
    ),
    exact AS (SELECT word, COUNT(*) AS exact_c FROM tok GROUP BY word),
    top AS (SELECT word, exact_c FROM exact ORDER BY exact_c DESC, word LIMIT {_CM_TOP}),
    probes AS (
      SELECT word, s, {_CM_HASH} AS pos FROM top CROSS JOIN seeds
    )
    SELECT t.word, t.exact_c,
           (SELECT MIN(COALESCE(sk.counter, 0))
            FROM probes p LEFT JOIN sk ON sk.s = p.s AND sk.pos = p.pos
            WHERE p.word = t.word) AS cm_est
    FROM top t
    """,
    doc="Count-Min frequency sketch (operators/countmin.py): k=3 rows x "
    "m=4096 integer counters over word occurrences — the counter-"
    "valued sibling of q132's Bloom filter in the sketch tier (HLL "
    "q37, Misra-Gries q93). Reports the exact top-20 words with their "
    "CM estimates; collisions only ADD, so est >= exact always (the "
    "one-sided contract, property-tested corpus-wide with a measured "
    "error ceiling). Sketch is a <=k*m-row broadcast frame; build is "
    "one map-side-combinable groupBy — at 100 TB the sketch answers "
    "frequency queries without re-scanning the corpus.",
    tags=("sketch", "countmin", "frequency", "ext"),
)
def q133_countmin_wordfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.countmin import countmin_build, countmin_estimate

    tok = tables.load(spark, sf_dir, "documents").select(
        F.explode(F.split(F.trim(F.col("text")), " +")).alias("word")
    )
    sketch = countmin_build(tok, "word", m=_CM_M, k=_CM_K)
    top = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_c"))
        .orderBy(F.col("exact_c").desc(), "word")
        .limit(_CM_TOP)
    )
    return countmin_estimate(top, "word", sketch, m=_CM_M, k=_CM_K).select(
        "word", "exact_c", "cm_est"
    )


# Token-budget temperature mixture (q127's recipe with the budget in
# TOKENS, the unit real data mixes actually allocate): per-lang token
# budget = total_tokens * w_fp / sum(w_fp) with w_fp =
# floor(sqrt(lang_tokens) * 1e6); keep each lang's hash-ordered doc
# prefix whose cumulative tokens fit the budget.
_TB_SEED = 17
_TB_W_FP = "CAST(floor(sqrt(CAST(tok_c AS DOUBLE)) * 1000000) AS BIGINT)"


@query(
    "q134_token_budget_mixture",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tok
      FROM documents
    ),
    counts AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tok_c FROM d GROUP BY lang),
    weighted AS (SELECT lang, tok_c, {_TB_W_FP} AS w_fp FROM counts),
    budgets AS (
      SELECT lang, tok_c,
             CAST((SUM(tok_c) OVER () * w_fp) // SUM(w_fp) OVER () AS BIGINT) AS budget
      FROM weighted
    ),
    ranked AS (
      SELECT d.doc_id, d.lang, d.n_tok,
             SUM(d.n_tok) OVER (
               PARTITION BY d.lang
               ORDER BY {portable_hash64_sql("d.doc_id", seed=_TB_SEED)}, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM d
    ),
    kept AS (
      SELECT r.lang, COUNT(*) AS n_kept,
             CAST(SUM(r.n_tok) AS BIGINT) AS tokens_kept
      FROM ranked r JOIN budgets b ON r.lang = b.lang
      WHERE r.cum <= b.budget
      GROUP BY r.lang
    )
    SELECT b.lang, b.tok_c AS tokens_total, b.budget AS budget_tokens,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.tokens_kept, 0) AS tokens_kept
    FROM budgets b LEFT JOIN kept k ON b.lang = k.lang
    """,
    doc="Temperature mixture with the budget in TOKENS (the unit real "
    "mixes allocate): per-lang budget = total_tokens * sqrt-weight "
    "share in exact fixed-point integers (q127's arithmetic on token "
    "sums), keep each lang's hash-ordered doc prefix while cumulative "
    "tokens fit. The keep stage is the WEIGHTED bucketed distributed "
    "rank (operators/ranking.bucketed_budget_keep): the bucket "
    "histogram sums token weights, whole budget-fitting buckets skip "
    "the window, and the single running-sum window partitions on "
    "(lang, bucket) — the head language never sorts in one task.",
    tags=("ext", "curation", "mixing", "sampling", "budget"),
)
def q134_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import bucketed_budget_keep

    d = tables.load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("CAST(size(split(trim(text), ' +')) AS BIGINT)").alias("n_tok"),
    )
    from pyspark.sql import Window

    counts = d.groupBy("lang").agg(F.sum("n_tok").cast("bigint").alias("tok_c"))
    wall = Window.partitionBy()
    budgets = (
        counts.select("lang", "tok_c", F.expr(_TB_W_FP).alias("w_fp"))
        .select(
            "lang",
            "tok_c",
            (F.sum("tok_c").over(wall) * F.col("w_fp")).alias("_num"),
            F.sum("w_fp").over(wall).alias("_den"),
        )
        .select("lang", "tok_c", F.expr("_num div _den").alias("budget"))
    )
    kept = bucketed_budget_keep(
        d, ["lang"], budgets.select("lang", "budget"), "n_tok",
        id_col="doc_id", seed=_TB_SEED,
    )
    kept_agg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tok").cast("bigint").alias("tokens_kept"),
    )
    return (
        budgets.withColumnRenamed("tok_c", "tokens_total")
        .withColumnRenamed("budget", "budget_tokens")
        .join(kept_agg, "lang", "left")
        .select(
            "lang",
            "tokens_total",
            "budget_tokens",
            F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
            F.coalesce("tokens_kept", F.lit(0).cast("bigint")).alias("tokens_kept"),
        )
    )
