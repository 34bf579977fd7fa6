"""Round-9 [EXT] tier, part 4: per-key regression and embedding
outliers.

* q182 — per-user OLS trend slope over (days-since-first-event,
  value): the closed-form n*Sxy - Sx*Sy over n*Sxx - Sx^2 entirely in
  int64 (scaled by 1000, sign-decomposed truncating division), one
  aggregate per user after a broadcast of per-user epoch days — the
  per-key feature extraction ("is this user's spend trending up")
  that a fleet of per-key sklearn fits cannot do at 100 TB.
* q183 — embedding outliers per label: distance to the label centroid
  where the centroid coordinate is the sign-decomposed integer
  DIV-mean of QUANT-quantized coordinates — all arithmetic lands in
  int64 (|q| <= 1e4, diff^2 <= 4e8, x64 dims <= 2.6e10), no float
  summation-order hazard. Top-25 by (distance desc, vec_id): the
  mislabeled/at-odds sample surfacing step of embedding-space QA.

House rules: identical aliases both engines, every division
sign-decomposed or guarded, explode fan-out bounded by the fixed
64-dim width, windows only on dimension-sized frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.materialize import materialize
from ..operators.similarity import QUANT
from ..sources import tables
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, sf_dir, name)


# --------------------------------------------------------------------------
# q182: per-user OLS trend slope (closed form, int64)
# --------------------------------------------------------------------------

_S = 1000  # slope scale: fixed-point value units per day, in thousandths


def _sdiv(num: str, den: str) -> str:
    """Sign-decomposed truncating integer division (both engines)."""
    return (
        f"CASE WHEN {den} = 0 THEN NULL"
        f" WHEN {num} < 0 THEN -((-({num})) DIV ({den}))"
        f" ELSE ({num}) DIV ({den}) END"
    )


def _sdiv_duck(num: str, den: str) -> str:
    return (
        f"CASE WHEN {den} = 0 THEN NULL"
        f" WHEN {num} < 0 THEN -((-({num})) // ({den}))"
        f" ELSE ({num}) // ({den}) END"
    )


@query(
    "q182_per_key_trend",
    oracle=f"""
    WITH x AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y
      FROM events
    ),
    f AS (SELECT user_id, MIN(day) AS d0 FROM x GROUP BY user_id),
    p AS (
      SELECT x.user_id,
             CAST(date_diff('day', f.d0, x.day) AS BIGINT) AS xd, x.y
      FROM x JOIN f ON x.user_id = f.user_id
    ),
    s AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xd) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(xd * y) AS BIGINT) AS sxy,
             CAST(SUM(xd * xd) AS BIGINT) AS sxx
      FROM p GROUP BY user_id
    )
    SELECT user_id, n,
           CAST({_sdiv_duck(f"{_S} * (n * sxy - sx * sy)", "n * sxx - sx * sx")}
                AS BIGINT) AS slope_fp
    FROM s
    """,
    doc="Per-user OLS trend slope of event value over days since the "
    "user's first event, in closed form: (n*Sxy - Sx*Sy) / "
    f"(n*Sxx - Sx^2), scaled by {_S} and sign-decomposed so the "
    "truncating division agrees across engines; users active on a "
    "single day get NULL (zero variance guard — NULL in both engines, "
    "never a divide error). One aggregate per user plus a first-day "
    "join, everything keyed on the high-cardinality user — the "
    "per-key trend feature a 100 TB pipeline extracts without a "
    "per-key model fit.",
    tags=("agg", "regression", "window", "ext"),
)
def q182_per_key_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    x = e.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        (F.col("value").cast("decimal(18,4)") * 10000).cast("bigint").alias("y"),
    )
    f = x.groupBy("user_id").agg(F.min("day").alias("d0"))
    p = x.join(f, "user_id").select(
        "user_id",
        F.expr("CAST(datediff(day, d0) AS BIGINT)").alias("xd"),
        "y",
    )
    s = p.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xd").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("xd") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("xd") * F.col("xd")).cast("bigint").alias("sxx"),
    )
    return s.select(
        "user_id",
        "n",
        F.expr(_sdiv(f"{_S} * (n * sxy - sx * sy)", "n * sxx - sx * sx"))
        .cast("bigint")
        .alias("slope_fp"),
    )


# --------------------------------------------------------------------------
# q183: embedding outliers vs the label centroid (all-int64)
# --------------------------------------------------------------------------


@query(
    "q183_embedding_outliers",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, d,
             CAST(floor(CAST(v AS DOUBLE) * {QUANT}) AS BIGINT) AS qv
      FROM (
        SELECT vec_id, label,
               unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS d
        FROM embeddings
      )
    ),
    c AS (
      SELECT label, d,
             CAST(SUM(qv) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM q GROUP BY label, d
    ),
    cd AS (
      SELECT label, d,
             CAST({_sdiv_duck("s", "n")} AS BIGINT) AS cv
      FROM c
    )
    SELECT q.vec_id, q.label,
           CAST(SUM((q.qv - cd.cv) * (q.qv - cd.cv)) AS BIGINT) AS dist2
    FROM q JOIN cd ON q.label = cd.label AND q.d = cd.d
    GROUP BY q.vec_id, q.label
    ORDER BY dist2 DESC, vec_id
    LIMIT 25
    """,
    doc="Embedding-space outliers: top-25 vectors by squared distance "
    "to their LABEL's centroid, where the centroid coordinate is the "
    "sign-decomposed integer DIV-mean of QUANT-quantized coordinates "
    "— float summation order never enters, so both engines agree to "
    "the unit (|q| <= 1e4 keeps every term in int64: diff^2 <= 4e8, "
    "x 64 dims <= 2.6e10). Plan: posexplode to (vec, dim) rows, one "
    "(label, dim) aggregate for centroids (dimension-sized: "
    "labels x 64), broadcast back, one (vec) aggregate for distances "
    "— the mislabeled-sample surfacing step of embedding QA, with "
    "explode fan-out bounded by the fixed vector width.",
    tags=("embedding", "similarity", "agg", "topk", "ext"),
)
def q183_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("d0", "v"),
    ).select(
        "vec_id",
        "label",
        (F.col("d0") + 1).alias("d"),
        F.floor(F.col("v").cast("double") * QUANT).cast("bigint").alias("qv"),
    )
    c = q.groupBy("label", "d").agg(
        F.sum("qv").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cd = c.select(
        "label", "d", F.expr(_sdiv("s", "n")).cast("bigint").alias("cv")
    )
    return (
        q.join(F.broadcast(cd), ["label", "d"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("qv") - F.col("cv")) * (F.col("qv") - F.col("cv")))
            .cast("bigint")
            .alias("dist2")
        )
        .orderBy(F.col("dist2").desc(), "vec_id")
        .limit(25)
    )


# --------------------------------------------------------------------------
# q184: EXACT set-similarity self-join via prefix filtering (AllPairs/
# PPJoin family) over 3-gram shingle sets — every doc pair with
# shingle Jaccard >= 0.8, ZERO false negatives, no LSH, no posting
# cap. Shingles (not words) are the token unit: this corpus has a
# 31-word vocabulary, so word prefixes cannot discriminate, but its
# 3-gram shingle space is ~16k-strong and near-dup pairs are rare —
# the same reason the MinHash tier (q41/q56) shingles first.
# --------------------------------------------------------------------------

_PP_T_NUM, _PP_T_DEN = 4, 5  # Jaccard threshold 0.8 as an exact rational


def q184_ordered_plan(d: DataFrame) -> DataFrame:
    """Phase 1 of q184: (doc_id, toks, l) where ``toks`` is the doc's
    distinct 3-gram shingle set as ascending integer RARITY RANKS —
    rank = dense row_number of the distinct shingle under the global
    (dfreq, shingle) order — DISK_ONLY materialized. Module-level so
    scripts/profile_q184.py phase-times the EXACT frame the registered
    query checkpoints (the graph.triangle_census_plan pattern).

    r17 redesign (phase-profiled at sf10: this phase was 87.5 s of the
    110.8 s total; now ~35 s):

    * the word split is HOISTED into its own projection (computed once
      per row) instead of being written inline 5x in the shingle
      expression: lambdas under ``transform`` run interpreted with no
      common-subexpression elimination, so the inline form re-ran the
      regex split ~3x per shingle (sf10: scan+parse 14.1 -> 4.1 s,
      sample-verified byte-identical output);
    * the (doc_id, shingle) explode is checkpointed ONCE and feeds both
      the dfreq aggregate and the rank-attach join — previously the
      whole parse+explode pipeline executed twice (~25 s/pass);
    * downstream identity is the integer rank, not the shingle string:
      the rank bijection preserves the exact (dfreq, shingle) global
      order (rarity order becomes natural int order, so the struct
      sort collapses to sort_array) and set identity (n_common /
      jaccard_fp are bijection-invariant), so the registered output —
      and therefore the unchanged STRING-based oracle — is identical,
      while the regroup shuffle, the prefix-pair join keys, and the
      verify intersections all move from ~25-byte strings to 8-byte
      ints. Exactness is preserved (dense ranks collide never), unlike
      a hash-encoded identity.

    Scale notes: the rank window runs without partitionBy over the
    DISTINCT-shingle frame — dimension-sized here (27k; bounded by the
    31-word vocabulary cubed, not the corpus). An open-vocabulary
    100 TB corpus needs the standard two-phase global rank (per-
    partition ranks + broadcast partition offsets) and an SMJ instead
    of the broadcast rank attach; the phase boundary is this function,
    so that swap is local. Rank fits 32 bits while distinct shingles
    < 2^31 — asserted by the packed pair key in q184_cand_plan."""
    ws = d.select("doc_id", F.split(F.trim("text"), " +").alias("ws"))
    w = ws.select(
        "doc_id",
        F.expr(
            "array_distinct(CASE WHEN size(ws) >= 3"
            " THEN transform(sequence(0, size(ws) - 3),"
            " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
            " ELSE CAST(array() AS ARRAY<STRING>) END)"
        ).alias("sset"),
    )
    # Checkpoint at the PRE-explode (doc, sset) level, not the exploded
    # token level (r17 third pass). Two reasons, both measured at sf10:
    # (a) the frame is 500k array rows instead of 16.5M token rows —
    # a ~30x smaller write for the same double-consumption guarantee;
    # (b) exploding the in-pipeline array build trips Spark's
    # InferFiltersFromGenerate: the inferred `size(g) > 0 AND
    # isnotnull(g)` filter sits BELOW the projections, so its condition
    # inlines the whole array_distinct(transform(...)) build — the
    # shingle array is constructed ~3x per doc and the word split
    # re-runs inside the interpreted lambda, which made the fused
    # explode pipeline cost 30-34 s where its parts cost ~9 s. Against
    # checkpointed blocks the inferred filter tests a stored column.
    wm, _ = materialize(w)
    tok = wm.select("doc_id", F.explode("sset").alias("shingle"))
    df = tok.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("dfreq")
    )
    rank = df.select(
        "shingle",
        F.row_number()
        .over(Window.orderBy("dfreq", "shingle"))
        .cast("bigint")
        .alias("r"),
    )
    # both consumers (dfreq agg, rank attach) re-explode the cheap
    # checkpointed arrays — the sset blocks are dead weight after this
    ordered, _ = materialize(
        tok.join(F.broadcast(rank), "shingle")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("r")).alias("toks"),
            F.count(F.lit(1)).cast("bigint").alias("l"),
        ),
        "doc_id",
        release=[wm],
    )
    return ordered


def q184_cand_plan(ordered: DataFrame) -> DataFrame:
    """Phase 2 of q184: the lossless candidate pair set (doc_a, doc_b)
    from the ℓ=2 prefix-pair join plus the small-set 1-prefix branch."""
    # l-prefix scheme, l=2 (AdaptJoin): one-token-longer prefix, join
    # keyed on ordered token PAIRS. Lossless: |A^B| >= alpha implies the
    # 2nd-smallest common token's position in A is <= la - alpha + 2 <=
    # la - ceil(t*la) + 2 (alpha >= ceil(t*la) whenever lb >= t*la,
    # which the length filter requires anyway), so both of the two
    # smallest common tokens sit inside both extended prefixes.
    plen2 = F.expr(
        f"CAST(l - ((({_PP_T_NUM} * l) + {_PP_T_DEN} - 1)"
        f" DIV {_PP_T_DEN}) + 2 AS INT)"
    )
    # per-doc ordered prefix-token pairs, all Catalyst: C(|pref|, 2)
    # rows per doc (|pref| ~ 0.2*l + 2, bounded), no per-doc skew.
    # toks are integer rarity ranks (r17), so the ordered (x, y) pair
    # packs into ONE bigint join key x*2^32 + y — a single 8-byte hash
    # key instead of a two-string composite. Lossless while ranks stay
    # below 2^31: x < y <= rank_max, and the assert rides the plan (a
    # corpus past 2^31 distinct shingles would raise, not corrupt).
    pairs = (
        ordered.select("doc_id", "l", F.slice("toks", 1, plen2).alias("pref"))
        .select(
            "doc_id",
            "l",
            F.explode(
                F.expr(
                    "flatten(transform(pref, (x, i) ->"
                    " transform(slice(pref, i + 2, size(pref)),"
                    " y -> CASE WHEN y < 2147483648 THEN x * 4294967296 + y"
                    " ELSE raise_error('q184: shingle rank overflows packed"
                    " pair key') END)))"
                )
            ).alias("sp"),
        )
    )
    pa = pairs.select(
        F.col("doc_id").alias("doc_a"), F.col("l").alias("la"), "sp"
    )
    pb = pairs.select(
        F.col("doc_id").alias("doc_b"), F.col("l").alias("lb"), "sp"
    )
    cand = (
        pa.join(pb, "sp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # exact-integer LENGTH filter, implied by J >= t
        .filter(
            _PP_T_DEN * F.least("la", "lb") >= _PP_T_NUM * F.greatest("la", "lb")
        )
        .select("doc_a", "doc_b")
    )
    # sets too small for the 2-prefix lemma (ceil(t*l) < 2 <=> l < 2 at
    # t = 4/5): fall back to the 1-prefix join among themselves (a valid
    # partner of an l=1 set is itself a singleton)
    small = ordered.filter(
        F.expr(f"(({_PP_T_NUM} * l) + {_PP_T_DEN} - 1) DIV {_PP_T_DEN} < 2")
    ).select("doc_id", F.explode("toks").alias("rk"))
    cand_small = (
        small.select(F.col("doc_id").alias("doc_a"), "rk")
        .join(small.select(F.col("doc_id").alias("doc_b"), "rk"), "rk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    return cand.unionByName(cand_small).distinct()


def q184_verify_plan(ordered: DataFrame, cand: DataFrame) -> DataFrame:
    """Phase 3 of q184: exact-integer Jaccard verify of the candidate
    pairs against the full shingle arrays."""
    wa = ordered.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("sa"))
    wb = ordered.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("sb"))
    verified = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("bigint").alias("n_common"),
            F.size("sa").cast("bigint").alias("la"),
            F.size("sb").cast("bigint").alias("lb"),
        )
    )
    return (
        verified.filter(
            _PP_T_DEN * F.col("n_common")
            >= _PP_T_NUM * (F.col("la") + F.col("lb") - F.col("n_common"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.expr(
                "CAST((1000000 * n_common) DIV (la + lb - n_common) AS BIGINT)"
            ).alias("jaccard_fp"),
        )
        .orderBy(F.col("jaccard_fp").desc(), "doc_a", "doc_b")
    )


@query(
    "q184_set_similarity_join",
    oracle=f"""
    WITH wsplit AS (
      SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS ws
      FROM documents
    ),
    w AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(ws) - 1, 1)),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sset
      FROM wsplit
    ),
    tok AS (SELECT doc_id, unnest(sset) AS shingle FROM w),
    df AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS dfreq
           FROM tok GROUP BY shingle),
    ordered AS (
      SELECT t.doc_id,
             list(t.shingle ORDER BY d.dfreq, t.shingle) AS toks,
             CAST(COUNT(*) AS BIGINT) AS l
      FROM tok t JOIN df d ON t.shingle = d.shingle
      GROUP BY t.doc_id
    ),
    pre AS (
      SELECT doc_id,
             unnest(toks[1:CAST(l - ((({_PP_T_NUM} * l) + {_PP_T_DEN} - 1)
                                     // {_PP_T_DEN}) + 1 AS INT)]) AS shingle
      FROM ordered
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pre a JOIN pre b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(wa.sset, wb.sset)) AS BIGINT) AS n_common,
           CAST((1000000 * len(list_intersect(wa.sset, wb.sset)))
                // (len(wa.sset) + len(wb.sset)
                    - len(list_intersect(wa.sset, wb.sset))) AS BIGINT)
             AS jaccard_fp
    FROM cand c
    JOIN w wa ON wa.doc_id = c.doc_a
    JOIN w wb ON wb.doc_id = c.doc_b
    WHERE {_PP_T_DEN} * len(list_intersect(wa.sset, wb.sset))
          >= {_PP_T_NUM} * (len(wa.sset) + len(wb.sset)
                            - len(list_intersect(wa.sset, wb.sset)))
    ORDER BY jaccard_fp DESC, doc_a, doc_b
    """,
    doc="EXACT 3-gram-shingle Jaccard self-join at threshold 0.8 via "
    "prefix filtering (the AllPairs/PPJoin family): shingles order "
    "globally by (document frequency, shingle) — realized since r17 as "
    "dense integer rarity ranks assigned on the DISTINCT-shingle frame "
    "(a dimension-sized window; the rank bijection keeps the output "
    "exactly the string form's, see q184_ordered_plan) — and only each "
    "doc's first l - ceil(0.8*l) + 1 rarest shingles are indexed. The "
    "filter is LOSSLESS: for any pair with J >= t, the first "
    "globally-ordered shared shingle sits inside BOTH prefixes, so "
    "unlike the LSH tier (q41) this join has zero false negatives, "
    "while candidate fan-out stays at prefix-posting scale (rare "
    "shingles carry the postings; boilerplate shingles rarely make a "
    "prefix). r14 upgraded the candidate join from PPJoin's 1-prefix "
    "to the l-prefix scheme with l=2 (AdaptJoin, Wang/Li/Feng, VLDB "
    "2012): extend each prefix by one token (len - ceil(t*len) + 2) "
    "and key the join on ORDERED TOKEN PAIRS from the prefix — any "
    "pair with J >= t shares >= 2 prefix tokens (pigeonhole on the "
    "global order: the 2nd-smallest common token sits within both "
    "extended prefixes), so the filter stays lossless while the "
    "posting lists move from single-token space (this corpus: ~16k "
    "shingles, mean posting 227, 842M streamed join rows at sf10) to "
    "token-pair space (max posting 39, 10M streamed — measured 85x "
    "candidate collapse). The exact-integer LENGTH filter (5*min(la, "
    "lb) >= 4*max) still prunes pre-distinct. Sets too small for the "
    "2-prefix lemma (ceil(t*len) < 2, i.e. len < 2 at t=0.8) take a "
    "1-prefix side branch. Verification compares 5*common >= 4*union "
    "in exact integers — never the truncated fp value. The exact "
    "membership decision for dedup when 'probably deduplicated' is "
    "not enough.",
    tags=("dedup", "jaccard", "join", "text", "ext"),
)
def q184_set_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ordered = q184_ordered_plan(_t(spark, sf_dir, "documents"))
    return q184_verify_plan(ordered, q184_cand_plan(ordered))


# --------------------------------------------------------------------------
# q185: EXACT Gini concentration per segment, no per-group sort — the
# pairwise-absolute-difference sum decomposed over value buckets:
# sum_{i<j} |x_i - x_j| = sum_v c_v * (v * N_below(v) - S_below(v)),
# and N/S_below split into an EXCLUSIVE bucket prefix (dimension-sized
# window over ~55 buckets per segment) plus a within-bucket exclusive
# prefix (window partitioned on (segment, bucket) — 1/55th of a
# segment per task). The q162/q168 two-pass trick applied to an
# inequality statistic.
# --------------------------------------------------------------------------

_G_BUCKET = 1_000_000  # cents per bucket (10k dollars)


@query(
    "q185_gini_concentration",
    oracle=f"""
    WITH x AS (
      SELECT c.c_mktsegment AS segment,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT segment, v, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(v // {_G_BUCKET} AS BIGINT) AS b
      FROM x GROUP BY segment, v
    ),
    ba AS (
      SELECT segment, b, CAST(SUM(c) AS BIGINT) AS bc,
             CAST(SUM(c * v) AS BIGINT) AS bs
      FROM g GROUP BY segment, b
    ),
    bp AS (
      SELECT segment, b,
             CAST(COALESCE(SUM(bc) OVER (PARTITION BY segment ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nbb,
             CAST(COALESCE(SUM(bs) OVER (PARTITION BY segment ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS sbb
      FROM ba
    ),
    w AS (
      SELECT g.segment, g.v, g.c,
             bp.nbb + CAST(COALESCE(SUM(g.c) OVER (PARTITION BY g.segment, g.b
               ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS nb,
             bp.sbb + CAST(COALESCE(SUM(g.c * g.v) OVER (PARTITION BY g.segment, g.b
               ORDER BY g.v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS sb
      FROM g JOIN bp ON g.segment = bp.segment AND g.b = bp.b
    ),
    agg AS (
      SELECT segment,
             CAST(SUM(c) AS BIGINT) AS n_orders,
             CAST(SUM(c * v) AS BIGINT) AS total_cents,
             CAST(SUM(CAST(c * (v * nb - sb) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS pairsum
      FROM w GROUP BY segment
    )
    SELECT segment, n_orders, total_cents,
           CAST(pairsum AS VARCHAR) AS pairsum,
           CAST((CAST(pairsum AS HUGEINT) * 1000000)
                // NULLIF(CAST(n_orders AS HUGEINT) * total_cents, 0)
                AS BIGINT) AS gini_ppm
    FROM agg
    """,
    doc="EXACT Gini coefficient of order value per market segment with "
    "NO per-group sort: the pairwise |x_i - x_j| sum decomposes as "
    "sum_v c_v*(v*N_below - S_below), with below-counts split into an "
    "exclusive BUCKET prefix (a ~55-row window per segment) plus a "
    "within-bucket exclusive prefix (windows partitioned on (segment, "
    "bucket) — each task sees 1/55th of a segment, where the naive "
    "rank formulation would sort 20% of the table in one task). "
    "Validated against the brute-force pairwise sum in tests. "
    "Gini = sum_{i<j}|x_i-x_j| / (n * total): the mean absolute "
    "difference over ordered pairs is 2*pairsum/n^2 and G = MAD/(2*mean), "
    "so the 2s cancel. pairsum grows ~n^2*MAD/2 and crossed 2^63 at sf10 "
    "(smoke-caught overflow), so the SUM runs in DECIMAL(38,0) on both "
    "engines (each TERM stays int64 to ~sf300) and gini_ppm = "
    "pairsum*1e6 DIV (n*total) runs 128-bit exact (decimal here, "
    "HUGEINT in DuckDB), NULLIF-guarded. The pairsum OUTPUT column is "
    "a string (r14): 128-bit decimals are represented divergently by "
    "result-fetch clients (decimal128 vs float64), the q189/q192 drift "
    "class; arithmetic is unchanged.",
    tags=("agg", "inequality", "twopass", "robust", "ext"),
)
def q185_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    cst = _t(spark, sf_dir, "customer")
    x = o.join(cst, o.o_custkey == cst.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    g = x.groupBy("segment", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).withColumn("b", F.expr(f"CAST(v DIV {_G_BUCKET} AS BIGINT)"))
    ba = g.groupBy("segment", "b").agg(
        F.sum("c").cast("bigint").alias("bc"),
        F.sum(F.col("c") * F.col("v")).cast("bigint").alias("bs"),
    )
    wb = Window.partitionBy("segment").orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bp = ba.select(
        "segment",
        "b",
        F.coalesce(F.sum("bc").over(wb), F.lit(0)).cast("bigint").alias("nbb"),
        F.coalesce(F.sum("bs").over(wb), F.lit(0)).cast("bigint").alias("sbb"),
    )
    ww = Window.partitionBy("segment", "b").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w = (
        g.join(bp, ["segment", "b"])
        .select(
            "segment",
            "v",
            "c",
            (
                F.col("nbb")
                + F.coalesce(F.sum("c").over(ww), F.lit(0)).cast("bigint")
            ).alias("nb"),
            (
                F.col("sbb")
                + F.coalesce(
                    F.sum(F.col("c") * F.col("v")).over(ww), F.lit(0)
                ).cast("bigint")
            ).alias("sb"),
        )
    )
    agg = w.groupBy("segment").agg(
        F.sum("c").cast("bigint").alias("n_orders"),
        F.sum(F.col("c") * F.col("v")).cast("bigint").alias("total_cents"),
        # pairsum ~ n^2 * mean|diff| / 2 crosses 2^63 near sf3 (the sf10
        # smoke hit ARITHMETIC_OVERFLOW) — per-TERM int64 is safe to
        # ~sf300, so widen only the SUM to DECIMAL(38,0) (DuckDB twin:
        # SUM(CAST(... AS DECIMAL(38,0)))); the final ratio runs in
        # 128-bit on both engines (decimal DIV here, HUGEINT there).
        F.sum(
            (F.col("c") * (F.col("v") * F.col("nb") - F.col("sb"))).cast(
                "decimal(38,0)"
            )
        )
        .cast("decimal(38,0)")
        .alias("pairsum"),
    )
    return agg.select(
        "segment",
        "n_orders",
        "total_cents",
        # r14: pairsum leaves the query as a STRING — a DECIMAL(38,0)
        # output column is represented divergently by the driver's two
        # fetch paths (DuckDB HUGEINT/decimal128 -> float64 down one
        # client path), the same drift class as the q189/q192 BIGINT
        # casts. Values were verified identical; only the wire type
        # changed. The 128-bit arithmetic below still runs on decimal.
        F.col("pairsum").cast("string").alias("pairsum"),
        F.expr(
            "CAST((pairsum * 1000000) DIV NULLIF(CAST(n_orders AS DECIMAL(38,0))"
            " * CAST(total_cents AS DECIMAL(38,0)), 0) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# --------------------------------------------------------------------------
# q186: band self-join via bucket decomposition — all supplier pairs
# with account balances within $10, found WITHOUT a quadratic
# comparison: bucket width == band width, so a qualifying pair's
# buckets differ by at most 1, and two bounded joins (same-bucket +
# adjacent-bucket) cover every pair exactly once under the
# (value, key) ordering rule. The oracle is the textbook quadratic
# theta join — correct, and exactly what cannot run at 100 TB.
# --------------------------------------------------------------------------

_BAND_CENTS = 1000  # $10 band == bucket width
_BAL_SHIFT = 100_000  # cents; lifts TPC-H's [-999.99, 9999.99] to >= 0


@query(
    "q186_balance_band_pairs",
    oracle=f"""
    WITH s AS (
      SELECT s_suppkey AS k, s_nationkey AS nat,
             CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
               + {_BAL_SHIFT} AS v
      FROM supplier
    ),
    pairs AS (
      SELECT a.k AS ka, b.k AS kb, a.nat AS na, b.nat AS nb,
             CAST(abs(a.v - b.v) AS BIGINT) AS gap
      FROM s a JOIN s b ON a.k < b.k
      WHERE abs(a.v - b.v) <= {_BAND_CENTS}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN na = nb THEN 1 END), 0) AS BIGINT)
             AS n_same_nation,
           CAST(COALESCE(SUM(CASE WHEN gap = 0 THEN 1 END), 0) AS BIGINT)
             AS n_exact_ties,
           CAST(COALESCE(SUM(gap), 0) AS BIGINT) AS sum_gap_cents,
           CAST(MAX(gap) AS BIGINT) AS max_gap_cents
    FROM pairs
    """,
    doc="Band self-join: every supplier pair whose account balances "
    "sit within $10 of each other, via bucket decomposition — bucket "
    "width equals the band, so qualifying pairs land in the SAME or "
    "ADJACENT buckets and two bounded joins (same-bucket with a "
    "(value, key) ordering rule; next-bucket with the band filter) "
    "enumerate each pair exactly once. Work scales with "
    "sum(bucket_size * band_density), never suppliers^2 — the oracle "
    "IS the quadratic theta join, correct here and impossible at "
    "100 TB. Balances shift by $1000 into non-negative cents so the "
    "bucket index is a plain truncating DIV in both engines "
    "(negative-operand DIV vs // would diverge). Output: pair count, "
    "same-nation and exact-tie counts, gap sum/max.",
    tags=("join", "band", "theta", "ext"),
)
def q186_balance_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    s = sup.select(
        F.col("s_suppkey").alias("k"),
        F.col("s_nationkey").alias("nat"),
        (
            (F.col("s_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
            + _BAL_SHIFT
        ).alias("v"),
    ).withColumn("b", F.expr(f"v DIV {_BAND_CENTS}"))
    lo = s.select(
        F.col("k").alias("ka"), F.col("nat").alias("na"),
        F.col("v").alias("va"), F.col("b").alias("ba"),
    )
    hi = s.select(
        F.col("k").alias("kb"), F.col("nat").alias("nb"),
        F.col("v").alias("vb"), F.col("b").alias("bb"),
    )
    same = lo.join(hi, F.col("ba") == F.col("bb")).filter(
        (F.col("va") < F.col("vb"))
        | ((F.col("va") == F.col("vb")) & (F.col("ka") < F.col("kb")))
    )
    adj = lo.join(hi, F.col("bb") == F.col("ba") + 1).filter(
        F.col("vb") - F.col("va") <= _BAND_CENTS
    )
    pairs = same.unionByName(adj).select(
        "na", "nb", (F.col("vb") - F.col("va")).cast("bigint").alias("gap")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum(F.when(F.col("na") == F.col("nb"), 1)), F.lit(0))
        .cast("bigint")
        .alias("n_same_nation"),
        F.coalesce(F.sum(F.when(F.col("gap") == 0, 1)), F.lit(0))
        .cast("bigint")
        .alias("n_exact_ties"),
        F.coalesce(F.sum("gap"), F.lit(0)).cast("bigint").alias("sum_gap_cents"),
        F.max("gap").cast("bigint").alias("max_gap_cents"),
    )
