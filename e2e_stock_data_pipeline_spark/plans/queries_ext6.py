"""Round-7 query additions [EXT]:

* q123 — the PQ shortlist -> exact-rerank ANN composition. Product
  quantization is the memory-bound scale path for embedding search
  (operators/pq.py); the deployment shape a 100 TB user actually runs
  is two-stage — scan compressed codes to shortlist a small fraction
  of the corpus per query, then exact-rerank only the survivors. The
  codebook is data-derived inside the plan (subvectors of the n_seeds
  smallest-id candidates — a sample codebook ~ KMeans iteration zero)
  and all distances are exact integers over quantized vectors
  (floor(x * 10000), same convention as queries_similarity.py), so a
  DuckDB oracle replays the whole chain bit-for-bit.

* q124 — the late-data quarantine audit as a batch query: the exact
  horizon rule route_late_events applies in streaming (streaming/
  late.py — late iff event time < prior-batches max - delay), replayed
  over a deterministic simulated arrival order (event time + portable-
  hash jitter, hourly arrival batches). The engine's late-data policy
  (SURVEY §7 T8) thereby carries an oracle-gated row, not only
  streaming tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..operators import pq
from ..operators.grouped import per_key_ema
from ..sources import tables
from ..streaming.late import late_audit_plan
from .queries_dedup import SQL_BAND_JOIN, SQL_V2_BANDS
from .registry import query

_SQL_Q = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))"

# PQ geometry shared by the Spark plan and the SQL oracle below: 64-dim
# vectors, m=8 subspaces of 8 components, 16 seed centroids, shortlist 32.
## _N_SEEDS 16 -> 32 in r17: the sf10 knob sweep (BENCH_NOTES.md, "Round
## 17 — q123 PQ codebook"; planted protocol, 2 reps x 25 slots) read div=16/seeds=16
## 96%, div=8/seeds=16 98%, div=16/seeds=32 100%, div=8/seeds=32 100% —
## at IDENTICAL wall time (10.0 vs 10.2 s; the doubled encode argmin is
## noise next to the ADC scan), so the finer codebook attacks the actual
## distortion source (the full-audit misses were all "ADC shortlist
## pruned it") while the shortlist FRACTION (scale story) stays 1/16.
## Definitive number: r17 planted ANN recall re-run in BENCH_NOTES
## (today `scripts/recall_audit.py ann`).
_M, _DSUB, _N_SEEDS, _SHORTLIST, _K = 8, 8, 32, 32, 5

_D2 = (
    "CAST(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b}) AS BIGINT)"
)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "embeddings")


@query(
    "q123_pq_rerank",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_SQL_Q} AS q FROM embeddings),
    qs AS (SELECT vec_id, q FROM e WHERE vec_id < 5),
    cand AS (SELECT vec_id, q FROM e WHERE vec_id >= 5),
    seeds AS (
      SELECT q, row_number() OVER (ORDER BY vec_id) - 1 AS c
      FROM (SELECT vec_id, q FROM cand ORDER BY vec_id LIMIT {_N_SEEDS})
    ),
    sub_j AS (SELECT unnest(range({_M})) AS j),
    seed_sub AS (
      SELECT s.c, sj.j,
             list_slice(s.q, sj.j * {_DSUB} + 1, sj.j * {_DSUB} + {_DSUB}) AS cent
      FROM seeds s CROSS JOIN sub_j sj
    ),
    cand_sub AS (
      SELECT cd.vec_id AS cand_id, sj.j,
             list_slice(cd.q, sj.j * {_DSUB} + 1, sj.j * {_DSUB} + {_DSUB}) AS sub
      FROM cand cd CROSS JOIN sub_j sj
    ),
    enc_d AS (
      SELECT cs.cand_id, cs.j, ss.c,
             {_D2.format(a="cs.sub", b="ss.cent")} AS d2
      FROM cand_sub cs JOIN seed_sub ss ON cs.j = ss.j
    ),
    codes AS (
      SELECT cand_id, j, c FROM (
        SELECT *, row_number() OVER (PARTITION BY cand_id, j ORDER BY d2, c) AS r
        FROM enc_d
      ) WHERE r = 1
    ),
    q_sub AS (
      SELECT qq.vec_id AS query_id, sj.j,
             list_slice(qq.q, sj.j * {_DSUB} + 1, sj.j * {_DSUB} + {_DSUB}) AS sub
      FROM qs qq CROSS JOIN sub_j sj
    ),
    lut AS (
      SELECT qsx.query_id, qsx.j, ss.c,
             {_D2.format(a="qsx.sub", b="ss.cent")} AS d2
      FROM q_sub qsx JOIN seed_sub ss ON qsx.j = ss.j
    ),
    adc AS (
      SELECT l.query_id, cz.cand_id, CAST(SUM(l.d2) AS BIGINT) AS adc_dist2
      FROM codes cz JOIN lut l ON cz.j = l.j AND cz.c = l.c
      GROUP BY l.query_id, cz.cand_id
    ),
    short AS (
      SELECT query_id, cand_id, adc_dist2 FROM (
        SELECT *,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist2, cand_id) AS r,
               COUNT(*) OVER (PARTITION BY query_id) AS nc
        FROM adc
      ) WHERE r <= greatest({_SHORTLIST}, nc // {pq.SHORTLIST_SCALE_DIV})
    )
    SELECT query_id, cand_id, adc_dist2, exact_d2, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY exact_d2, cand_id) AS rnk
      FROM (
        SELECT s.query_id, s.cand_id, s.adc_dist2,
               {_D2.format(a="qv.q", b="cv.q")} AS exact_d2
        FROM short s
        JOIN qs qv ON s.query_id = qv.vec_id
        JOIN cand cv ON s.cand_id = cv.vec_id
      )
    ) WHERE rnk <= {_K}
    """,
    doc="Two-stage PQ ANN: ADC over 8-byte codes shortlists "
    "max(32, n_cand/16) candidates per query, exact integer L2 reranks "
    "survivors to top-5. The codebook is derived lazily inside the plan "
    "(seed subvectors of the 16 smallest-id candidates) so the whole "
    "chain — encode, LUT, ADC scan, shortlist, rerank — is one Catalyst "
    "plan the oracle replays exactly. The density-scaled shortlist is "
    "the r15 planted-audit fix: a fixed 32 was 6.5% of the gate corpus "
    "but 0.016% of sf10's 200k candidates (measured recall@5 22.8%); "
    "a fixed fraction keeps recall scale-stable under the sampled "
    "codebook's constant distortion, costs one COUNT window on the "
    "partition the top-k already shuffles, and is bit-unchanged below "
    "512 candidates. The scale path: the code index stores m bytes per "
    "vector, the scan never touches floats, and only shortlist rows pay "
    "a full-vector distance.",
    tags=("similarity", "ann", "pq", "ext"),
)
def q123_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return pq.pq_rerank_topk_seeded(
        e.filter(F.col("vec_id") < 5),
        e.filter(F.col("vec_id") >= 5),
        m=_M,
        dim=_M * _DSUB,
        n_seeds=_N_SEEDS,
        shortlist=_SHORTLIST,
        k_top=_K,
        shortlist_scale_div=pq.SHORTLIST_SCALE_DIV,
    )


# Late-quarantine audit geometry: simulated arrival = event time plus a
# seeded portable-hash jitter of up to 1 hour; arrival batches are hourly;
# the quarantine horizon is prior-batch max event time minus 10 minutes.
_JITTER_S, _BATCH_US, _DELAY_US = 3600, 3_600_000_000, 600_000_000


@query(
    "q124_late_quarantine_audit",
    oracle=f"""
    WITH ev AS (
      SELECT epoch_us(ts) AS ev_us,
             epoch_us(ts)
               + ({portable_hash64_sql("event_id", seed=7)} % {_JITTER_S}) * 1000000
               AS arr_us
      FROM events
    ),
    b AS (SELECT ev_us, arr_us // {_BATCH_US} AS batch FROM ev),
    bm AS (SELECT batch, MAX(ev_us) AS bmax FROM b GROUP BY batch),
    h AS (
      SELECT batch,
             MAX(bmax) OVER (ORDER BY batch
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - {_DELAY_US} AS horizon
      FROM bm
    )
    SELECT b.batch,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN b.ev_us < h.horizon THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           MAX(CASE WHEN b.ev_us < h.horizon THEN h.horizon - b.ev_us END)
             AS max_late_by_us
    FROM b JOIN h ON b.batch = h.batch
    GROUP BY b.batch
    """,
    doc="Late-data quarantine accounting as a batch query: replays the "
    "streaming splitter's exact horizon rule (streaming/late.py "
    "route_late_events — late iff event time < prior-batches max event "
    "time - delay; first batch all on-time) over a deterministic "
    "simulated arrival order (event ts + hash jitter <= 1 h, hourly "
    "arrival batches, 10 min delay). All-micros bigint arithmetic, two "
    "keyed aggs + a running max over the dimension-sized batch frame "
    "only (q116 pattern) — no data-sized window.",
    tags=("ext", "streaming", "late", "audit"),
)
def q124_late_quarantine_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts is TIMESTAMP_NTZ; the session timezone is pinned UTC (session.py),
    # so the cast reads the wall-clock as UTC — same epoch DuckDB's
    # epoch_us() assigns the naive timestamp.
    ev_us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = tables.load(spark, sf_dir, "events").select(
        ev_us.alias("ev_us"),
        (
            ev_us + (portable_hash64("event_id", seed=7) % _JITTER_S) * F.lit(1_000_000)
        ).alias("arr_us"),
    )
    # coalesce = nullability fence (the r17 df67656 pattern): batch is
    # the audit's join key, and a NULLABLE computed key gets an inferred
    # isnotnull(batch) pushed to the scan with the whole
    # unix_micros+hash-jitter chain inlined per row. -1 is unreachable
    # (ts and event_id are non-null) and never a real batch.
    batched = ev.select(
        "ev_us",
        F.coalesce(F.expr(f"arr_us div {_BATCH_US}"), F.lit(-1)).alias("batch"),
    )
    return late_audit_plan(batched, _DELAY_US)


@query(
    "q125_ema_unbounded_twin",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_obs,
           list_reduce(list(value ORDER BY ts, event_id, value),
                       (acc, x) -> 0.25::DOUBLE * x + 0.75::DOUBLE * acc)
             AS ema
    FROM events GROUP BY user_id
    """,
    doc="q118's EMA computed on the engine's OTHER sanctioned path: an "
    "Arrow grouped-map kernel (operators/grouped.per_key_ema, pandas "
    "ewm adjust=False) instead of the Catalyst collect_list+aggregate "
    "fold. Same oracle as q118 because the two paths are bit-identical "
    "(property-tested) — this row makes the applyInPandas surface "
    "itself oracle-gated, evidence that the Python/Arrow boundary "
    "preserves IEEE doubles exactly. Memory per key is Arrow-batch "
    "governed (unbounded-key safe). Speed depends on rows per key: at "
    "10k rows per key (100M obs, 32 cores) it ran 12.6 s against the "
    "fold's 23.9 s (BENCH_NOTES r7); on 4 cores with 10k keys it ran "
    "34.7-38.2 s against 0.51 s at ~2 rows per key and 12.2-15.3 s "
    "against 1.2-2.2 s at ~200 rows per key (ROADMAP direction 15).",
    tags=("ext", "window", "fold", "pandas"),
)
def q125_ema_unbounded_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return per_key_ema(tables.load(spark, sf_dir, "events"))


@query(
    "q126_incremental_dedup",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(text, ' +') AS ws,
             doc_id % 5 = 0 AS is_new
      FROM documents
    ),
    shingled AS (
      SELECT DISTINCT doc_id, is_new,
             unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      FROM words
    ),
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
      SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_old
      FROM cbands a JOIN cbands b ON {SQL_BAND_JOIN}
      JOIN words wa ON wa.doc_id = a.doc_id AND wa.is_new
      JOIN words wb ON wb.doc_id = b.doc_id AND NOT wb.is_new
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT c.doc_new, c.doc_old, COUNT(*) AS n_common
      FROM cands c
      JOIN shingled sa ON sa.doc_id = c.doc_new
      JOIN shingled sb ON sb.doc_id = c.doc_old AND sb.shingle = sa.shingle
      GROUP BY c.doc_new, c.doc_old
    )
    SELECT i.doc_new, i.doc_old,
           CAST(i.n_common AS DOUBLE) / (x.n + y.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes x ON i.doc_new = x.doc_id
    JOIN sizes y ON i.doc_old = y.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (x.n + y.n - i.n_common) >= 0.5
    """,
    doc="Incremental near-dup: today's batch (doc_id % 5 = 0 here) "
    "checked against the existing corpus only — candidates pair "
    "strictly across the boundary (v2 MinHash banding, 6 bands x 2 "
    "rows, one shuffle on (band, s0, s1)), then exact Jaccard verifies "
    "just those candidates at 0.5. The daily-ingest composition at "
    "100 TB: work scales with the batch, never corpus x corpus, and "
    "the corpus band index is a stored table appended per batch "
    "(operators/dedup.py incremental_neardup). Band buckets over 100 "
    "members are dropped (filter_hot_buckets, the q42b density "
    "guard): a bucket that hot is a degenerate signature, and uncapped "
    "it pairs the batch against the corpus quadratically — under "
    "2-row bands the cap is a never-binding safety valve at every "
    "measured density (r14: zero planted pairs lost to it at sf10).",
    tags=("dedup", "minhash", "lsh", "incremental", "ext"),
)
def q126_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_neardup

    docs = tables.load(spark, sf_dir, "documents")
    return incremental_neardup(
        docs, F.col("doc_id") % 5 == 0, threshold=0.5, max_bucket=100
    )


# Fixed-point weight: floor to micro-units BEFORE the integer arithmetic
# (q98 convention) — the expression text is shared verbatim with the oracle.
_W_FP = "CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)"


@query(
    "q127_temperature_mixture",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
    weighted AS (SELECT lang, c, {_W_FP} AS w_fp FROM counts),
    targets AS (
      SELECT lang, c,
             CAST((SUM(c) OVER () * w_fp) // SUM(w_fp) OVER () AS BIGINT) AS n_target
      FROM weighted
    ),
    ranked AS (
      SELECT d.doc_id, d.lang,
             row_number() OVER (
               PARTITION BY d.lang
               ORDER BY {portable_hash64_sql("d.doc_id", seed=11)}, d.doc_id
             ) AS rnk
      FROM documents d
    ),
    kept AS (
      SELECT r.doc_id, r.lang FROM ranked r
      JOIN targets t ON r.lang = t.lang
      WHERE r.rnk <= t.n_target
    ),
    sampled AS (
      SELECT k.lang, COUNT(*) AS n_sampled,
             CAST(SUM(len(regexp_split_to_array(trim(d.text), ' +'))) AS BIGINT)
               AS tokens_sampled
      FROM kept k JOIN documents d ON d.doc_id = k.doc_id
      GROUP BY k.lang
    )
    SELECT t.lang, t.c AS n_docs, t.n_target,
           COALESCE(s.n_sampled, 0) AS n_sampled,
           COALESCE(s.tokens_sampled, 0) AS tokens_sampled
    FROM targets t LEFT JOIN sampled s ON t.lang = s.lang
    """,
    doc="Temperature-weighted mixture sampling (alpha=0.5, the Gopher/"
    "Pile data-mixing recipe): per-lang targets n_target = N * "
    "sqrt(c)/sum(sqrt(c)) computed in exact integer arithmetic on a "
    "fixed-point weight, then a DETERMINISTIC per-doc keep decision "
    "(rank by seeded portable hash within lang <= target) — "
    "reproducible on any engine/partitioning, no RNG. Head langs "
    "downsample (en 218 -> 152 at sf0.01); tail langs cap at their "
    "full count (n_target may exceed c — the needs-more-epochs "
    "signal). The keep stage is the BUCKETED distributed rank (below): "
    "no data-sized sort on the skewed lang key.",
    tags=("ext", "curation", "mixing", "sampling"),
)
def q127_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return temperature_mixture_plan(tables.load(spark, sf_dir, "documents"))


# Order-preserving hash-range bucketing for the keep stage: the
# portable rank hash is a POSITIVE 60-bit value (functions/hashing.py),
# so arithmetic shiftright(h, 50) floors it into 1024 contiguous
# ranges; bucket id is monotone in the rank's order key and the
# per-lang rank of any row equals (rows of that lang in earlier
# buckets) + (rank within its own bucket).
_BUCKET_SHIFT = 50


def temperature_mixture_plan(docs: DataFrame) -> DataFrame:
    """The q127 plan over any (doc_id, lang, text) frame — ONE definition
    shared by the registered query and the partitioning-invariance
    property test (same contract as ema_plan/token_entropy_plan).

    Keep stage (skew-safe, VERDICT r7 item 1): ``lang`` is exactly the
    key the query proves is skewed, so ranking docs with a
    ``Window.partitionBy("lang")`` would sort the entire head language
    in one task at 100x. Instead: bucket every doc by an
    order-preserving hash range (shiftright of the seeded rank hash),
    build the dimension-sized (lang x <=1024 buckets) histogram,
    prefix-sum it, keep WHOLE buckets that fit under the per-lang
    target with no sort at all, and run the row_number window only
    over the single boundary bucket per lang — each such partition is
    ~1/1024 of the lang, so the head lang never lands in one reducer.
    Bit-identical to the per-lang rank (property-tested against the
    naive twin) because bucketing is monotone in (hash, doc_id) and
    doc_id makes the ordering total.
    """
    from pyspark.sql import Window

    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    wall = Window.partitionBy()
    targets = (
        counts.select("lang", "c", F.expr(_W_FP).alias("w_fp"))
        .select(
            "lang",
            "c",
            (F.sum("c").over(wall) * F.col("w_fp")).alias("_num"),
            F.sum("w_fp").over(wall).alias("_den"),
        )
        .select("lang", "c", F.expr("_num div _den").alias("n_target"))
    )
    kept = _bucketed_keep(docs, targets.select("lang", "n_target"))
    toks = docs.select(
        "doc_id", F.expr("size(split(trim(text), ' +'))").alias("_nw")
    )
    sampled = (
        kept.join(toks, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("_nw").cast("bigint").alias("tokens_sampled"),
        )
    )
    return (
        targets.withColumnRenamed("c", "n_docs")
        .join(sampled, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "n_target",
            F.coalesce("n_sampled", F.lit(0).cast("bigint")).alias("n_sampled"),
            F.coalesce("tokens_sampled", F.lit(0).cast("bigint")).alias("tokens_sampled"),
        )
    )


def _bucketed_keep(docs: DataFrame, targets: DataFrame) -> DataFrame:
    """Keep the per-lang top-``n_target`` docs ordered by
    (portable_hash64(doc_id, seed=11), doc_id) WITHOUT a per-lang
    data-sized sort — delegates to the generic skew-safe keep
    (operators/ranking.bucketed_group_keep; q129 reuses it with a
    composite (source, lang) key). Returns (doc_id, lang) of kept
    docs — the same set a per-lang ``row_number() <= n_target`` window
    selects (see naive_window_keep, the property-test twin).
    """
    from ..operators.ranking import bucketed_group_keep

    return bucketed_group_keep(
        docs, ["lang"], targets, id_col="doc_id", seed=11,
        n_bucket_shift=_BUCKET_SHIFT,
    )


def naive_window_keep(docs: DataFrame, targets: DataFrame) -> DataFrame:
    """The single-window per-lang keep — q127's ORIGINAL shape, retained
    solely as the property-test twin for _bucketed_keep (it sorts each
    whole lang in one task, which is exactly the skew hazard the
    bucketed version removes)."""
    from pyspark.sql import Window

    wr = Window.partitionBy("lang").orderBy(
        portable_hash64("doc_id", seed=11), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(wr).alias("rnk"))
        .join(F.broadcast(targets), "lang")
        .filter(F.col("rnk") <= F.col("n_target"))
        .select("doc_id", "lang")
    )
