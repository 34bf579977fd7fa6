"""Document deduplication operators [EXT]: exact, MinHash-LSH, SimHash,
n-gram Jaccard — the training-data-pipeline surface beyond the
reference (whose only dedup is keyed keep-last / dropDuplicates,
SURVEY.md §2.8).

Everything here is pure Catalyst expressions — no Python UDFs — so the
hot path stays in whole-stage codegen, and every hash is the engine's
portable 60-bit sha256-prefix hash (functions/hashing.py) so the DuckDB
oracle can reproduce results bit-for-bit.

Scale design (100 TB):
* shingling + min-hash signatures are per-row `transform`s — no shuffle;
* LSH banding is ONE shuffle keyed on (band, s0, s1) — b=6 bands of
  r=2 hashes each (12-seed v2 MinHash, see minhash_bands): bucket
  membership requires TWO simultaneous min-hash matches, so bucket
  sizes fall quadratically with corpus density and the hot-bucket cap
  is a never-binding safety valve (the r14 finding: single-hash
  buckets grow linearly with corpus size, so any cap eventually eats
  true pairs — measured 45.2% planted recall at sf10, 99.0% under
  this scheme). The bucket join never materializes the full pair
  matrix;
* the exact-Jaccard verifier joins only on shared shingles; production
  deployments should cap posting-list length per shingle (drop
  ultra-frequent shingles) to bound skew — noted inline;
* connected components finishes a small edge set on the driver with a
  numpy union-find (no UDF, no Python worker) — see _min_labels.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import materialize as _mat
from .materialize import MAX_ROWS_PER_TASK, materialize, session_memo

WORD_SPLIT = " +"


def words_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, WORD_SPLIT)


def _seeded_hash(col: Column, seed_col: Column) -> Column:
    """Portable 60-bit hash with a *column* seed (see functions/hashing.py)."""
    digest = F.sha2(F.concat(F.lit("s"), seed_col.cast("string"), F.lit(":"), col), 256)
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint")


def _shingle_array(
    docs: DataFrame, id_col: str, n: int, distinct: bool
) -> tuple[DataFrame, Column]:
    """(id, w) words frame plus the expression over ``w`` that builds a
    doc's n-word shingle array (docs with < n words get an empty array;
    ``distinct`` wraps the array in ``array_distinct``). Callers explode
    or project the EXPRESSION itself, never a projected column of it."""
    joined = "concat_ws(' ', " + ", ".join(f"w[i + {j}]" for j in range(n)) + ")"
    arr = f"transform(sequence(0, size(w) - {n}), i -> {joined})"
    if distinct:
        arr = f"array_distinct({arr})"
    with_words = docs.select(F.col(id_col), words_col("text").alias("w"))
    sh = F.expr(
        f"CASE WHEN size(w) >= {n} THEN {arr} ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return with_words, sh


def exploded_shingles(
    docs: DataFrame, id_col: str = "doc_id", n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) pairs; docs with < n words drop out.

    distinct=True dedups per doc (required for Jaccard set semantics —
    one shuffle); MIN-based consumers (minhash, fingerprints) pass
    distinct=False since min over a multiset equals min over its set,
    saving that shuffle entirely.
    """
    with_words, sh = _shingle_array(docs, id_col, n, distinct=False)
    out = with_words.select(F.col(id_col), F.explode(sh).alias("shingle"))
    return out.distinct() if distinct else out


def shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sset): each doc's DISTINCT shingle set as ONE array cell —
    the array-land twin of ``exploded_shingles(distinct=True)``.

    Same set membership (``array_distinct`` over the same ``transform``
    the exploded form flattens), but the set never leaves its row: no
    explode, and crucially no corpus-sized DISTINCT shuffle. Docs with
    < n words carry an empty array; such docs have no shingles, hence
    no MinHash signature, hence never appear in an LSH candidate list,
    so verify joins keyed from a candidate frame see identical rows
    either way (r17, guide §2.4 "remove shuffles outright").

    Scale bound: one doc's distinct shingle set must fit an array cell
    (the q187 covered-set precondition) — shingle counts are bounded by
    doc length, which a 100 TB text corpus bounds at ingest anyway."""
    with_words, sh = _shingle_array(docs, id_col, n, distinct=True)
    return with_words.select(F.col(id_col), sh.alias("sset"))


def exploded_shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) pairs, DISTINCT PER DOC, with the dedup done in-row
    — ``exploded_shingles(distinct=True)`` without the corpus-sized
    DISTINCT shuffle.

    Deliberately explodes the ``array_distinct(transform(...))``
    EXPRESSION, not a projected attribute: ``InferFiltersFromGenerate``
    (SPARK-36715) only infers ``size(g) > 0 AND isnotnull(g)`` when the
    generator input is a plain attribute, and predicate pushdown then
    substitutes that filter through the projection so the whole shingle
    build lands INLINE in the scan filter — the q184 r17 trap, measured
    again on q99's r18 rewrite (sf10 20 -> 81 s before this form).
    Exploding the expression keeps the rule silent and the plan lazy."""
    with_words, sh = _shingle_array(docs, id_col, n, distinct=True)
    return with_words.select(F.col(id_col), F.explode(sh).alias("shingle"))


def jaccard_verify_arrays(
    cands: DataFrame,
    ssets: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, n_common, n_a, n_b) for each candidate pair, with the
    exact set intersection computed INSIDE the row.

    Replaces the exploded-shingle verify shape (cands ⋈ shingled ⋈
    shingled on (id, shingle) + re-aggregate + two size joins): that
    form shuffles the corpus-sized exploded frame twice and the
    |cands| × |shingles-per-doc| intermediate once, all to compare
    elements that never needed to leave their documents. Here the two
    joins are keyed on the candidate's doc ids over the one-row-per-doc
    array frame, ``array_intersect`` intersects in-row, and sizes are
    ``size()`` on the same arrays (no separate counts aggregate).
    n_common = |set(a) ∩ set(b)| exactly as the exploded COUNT(*) — the
    arrays are distinct by construction (:func:`shingle_sets`). Any
    extra columns riding on ``cands`` (e.g. q155's n_match_sigs) pass
    through unchanged.

    The merge hints block the static planner from broadcasting the
    array frame: its size estimate is the documents RELATION's bytes,
    blind to the fan-out of the built arrays, so it ships a corpus-
    sized HashedRelation (the r16 q86/q126 heap-edge flake class —
    observed again here on the first r17 array-land plan). SMJ spills
    gracefully and shuffles each side once; the candidate side is
    pair-list-sized."""
    wa = ssets.select(
        F.col(id_col).alias(a_col), F.col("sset").alias("_sa")
    ).hint("merge")
    wb = ssets.select(
        F.col(id_col).alias(b_col), F.col("sset").alias("_sb")
    ).hint("merge")
    return (
        cands.join(wa, a_col)
        .join(wb, b_col)
        .select(
            *[F.col(c) for c in cands.columns],
            F.size(F.array_intersect("_sa", "_sb"))
            .cast("bigint")
            .alias("n_common"),
            F.size("_sa").cast("bigint").alias("n_a"),
            F.size("_sb").cast("bigint").alias("n_b"),
        )
    )


# Universal-hash family for MinHash: ONE sha256 per shingle produces a
# 28-bit base hash; the k family members are (a_s*h + b_s) mod P derived
# arithmetically (standard k-wise hashing). 28 bits keeps a_s*h inside
# int64 in both engines; sha256 work drops k-fold vs hashing per seed.
MINHASH_P = 268435399  # largest prime < 2^28


def base_hash28(col: Column) -> Column:
    digest = F.sha2(col, 256)
    return F.conv(F.substring(digest, 1, 7), 16, 10).cast("bigint")


BASE_HASH28_SQL = "CAST(('0x' || substr(sha256({expr}), 1, 7)) AS BIGINT)"


# The family (v2, since r15). The retired v1 family, (2s+1)*h +
# (7919s+13) mod P, had SMALL multipliers and constant shifts, so
# whenever (2s+1)*h_min < P (typical: h_min ~ P/#shingles) the seed's
# argmin is seed 0's argmin — measured 6.5x excess agreement at
# sf0.001, which silently collapses "k independent bands" toward one
# band and caps banding recall below 1-(1-J)^k on every corpus. v2
# draws the multiplier from a golden-ratio Weyl sequence over the FULL
# multiplicative range [1, P-1] (P prime, so every a is a bijection and
# large a values scramble the order relation wraparound-style), keeping
# the closed-form-in-seed shape so the DuckDB oracles can mirror it as
# one SQL expression. a*h still fits int64: a < 2^28, h < 2^28.
_V2_A, _V2_B = 2654435769, 2246822519  # 0x9E3779B9, 0x85EBCA77


def universal_hash_v2(base: Column, seed_col: Column) -> Column:
    a = (F.lit(_V2_A) * (seed_col + 1)) % (MINHASH_P - 1) + 1
    b = (F.lit(_V2_B) * (seed_col + 1)) % MINHASH_P
    return (a * base + b) % MINHASH_P


UNIVERSAL_HASH_V2_SQL = (
    f"((((%d * ({{seed}} + 1)) %% {MINHASH_P - 1}) + 1) * {{base}}"
    f" + ((%d * ({{seed}} + 1)) %% {MINHASH_P})) %% {MINHASH_P}"
) % (_V2_A, _V2_B)

# The registered LSH operating point since r15 (the v1 -> v2 cutover):
# 12-seed v2 MinHash folded into b=6 bands x r=2 rows. Every registered
# query and every oracle mirror derives from these three constants.
LSH_NUM_HASHES = 12
LSH_ROWS_PER_BAND = 2
LSH_BAND_KEYS = ("band", "s0", "s1")
# A family size not divisible by r would leave the trailing band with
# NULL sig slots, and NULL join keys never match: the band's hashes
# would be computed but contribute zero recall, silently degrading the
# 1-(1-J^r)^b guarantee.
if LSH_NUM_HASHES % LSH_ROWS_PER_BAND:
    raise ValueError(
        f"LSH_NUM_HASHES={LSH_NUM_HASHES} is not divisible by "
        f"LSH_ROWS_PER_BAND={LSH_ROWS_PER_BAND}: dead hashes, silent recall loss"
    )


def minhash_wide(shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, _s0.._s{k-1}): the per-doc v2 MinHash signature as ONE wide
    row, k = ``LSH_NUM_HASHES``. All k family members aggregate in ONE
    groupBy(id) as k min columns — the k-fold seed cross-join a naive
    formulation would shuffle is pure waste (k x the rows through the
    exchange). Signature-match counting (q155) compares two docs'
    sketches as k equality terms on two wide rows;
    :func:`minhash_signatures_from_wide` unpivots the same frame to the
    (id, seed, sig) banding layout, and both consumers share this
    aggregate's exchange via AQE stage reuse when they appear in one
    plan."""
    hashed = shingled.select(id_col, base_hash28(F.col("shingle")).alias("h"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min(universal_hash_v2(F.col("h"), F.lit(s).cast("bigint"))).alias(f"_s{s}")
            for s in range(LSH_NUM_HASHES)
        ]
    )


def minhash_signatures_from_wide(wide: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Unpivot a :func:`minhash_wide` frame to the (id, seed, sig)
    layout :func:`band_signatures` folds — free (one explode of a
    k-element struct array per row, no shuffle), so a caller that needs
    BOTH layouts (q155: bands for candidacy, wide rows for per-pair
    match counts) builds the aggregate once."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(s).cast("bigint").alias("seed"), F.col(f"_s{s}").alias("sig")
            )
            for s in range(LSH_NUM_HASHES)
        ]
    )
    return wide.select(id_col, F.explode(pairs).alias("_p")).select(
        id_col, "_p.seed", "_p.sig"
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_a, doc_b) sharing any complete LSH band — ONE
    shuffle on ``LSH_BAND_KEYS``; no full pair matrix. ``sigs`` is the
    band layout :func:`minhash_bands` / :func:`band_signatures` build.

    The merge hint matters: both join inputs are the SAME signature
    pipeline (shingle explode + sha256 + min-agg), and under the default
    broadcast strategy the build side recomputes that whole subtree —
    every sha256 runs twice. Forcing a sort-merge join puts identical
    shuffle exchanges on both sides, which AQE stage-reuse materializes
    ONCE (measured sf1: 2.7 s -> 1.55 s for the q41 candidate set)."""
    a = sigs.select(F.col(id_col).alias("doc_a"), *LSH_BAND_KEYS)
    b = sigs.select(F.col(id_col).alias("doc_b"), *LSH_BAND_KEYS)
    return (
        a.hint("merge")
        .join(b, list(LSH_BAND_KEYS))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def band_signatures(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fold an (id, seed, sig) signature table into multi-row LSH bands:
    (id, band, s0..s{r-1}) with band = seed DIV r, r =
    ``LSH_ROWS_PER_BAND``. Bucket membership then requires r
    simultaneous min-hash matches, so bucket sizes fall roughly as the
    r-th power of the single-hash density — the fix for the r14 finding
    that single-hash buckets ("docs sharing ONE min-shingle") grow
    linearly with corpus size and force the hot-bucket cap to eat true
    pairs at sf10. Pair collision prob per band is J^r; recall with b
    bands is 1-(1-J^r)^b. One groupBy on (id, band); the r sig columns
    come out of the same aggregate."""
    r = LSH_ROWS_PER_BAND
    g = sigs.withColumn("band", F.expr(f"seed DIV {r}"))
    return g.groupBy(id_col, "band").agg(
        *[
            F.max(F.when(F.col("seed") % r == i, F.col("sig"))).alias(f"s{i}")
            for i in range(r)
        ]
    )


def minhash_bands(shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The one-call LSH index build: v2 MinHash signatures folded into
    multi-row bands — (id, band, s0..s{r-1}), ready for
    :func:`lsh_candidate_pairs`. Composes :func:`minhash_wide`, its
    unpivot and :func:`band_signatures`, as q155 does by hand. Two
    groupBys on the id key (signatures, band fold) — no extra shuffle,
    since the band fold groups on (id, band) and id already
    co-partitions it."""
    sigs = minhash_signatures_from_wide(minhash_wide(shingled, id_col), id_col)
    return band_signatures(sigs, id_col)


def filter_hot_buckets(bands: DataFrame, max_bucket: int) -> DataFrame:
    """Drop LSH buckets with more than ``max_bucket`` members — the
    banding-side twin of :func:`ngram_jaccard_pairs`'s posting-list cap.

    A (band, s0, s1) bucket holding d docs feeds d*(d-1)/2 candidate
    pairs to ONE reducer; a bucket in the hundreds means a
    near-degenerate signature (empty/boilerplate text), which is
    collision noise, not near-duplication. Under r=2 bands the cap never
    binds at any measured density; it stays as the safety valve. Bucket
    counts are one extra groupBy on the SAME key the banding join
    shuffles on; the qualifying-bucket list is tiny (#distinct buckets)
    so the join back is broadcast-sized at any corpus scale."""
    counts = bands.groupBy(*LSH_BAND_KEYS).agg(F.count(F.lit(1)).alias("_bc"))
    ok = counts.filter(F.col("_bc") <= max_bucket).drop("_bc")
    return bands.join(ok, list(LSH_BAND_KEYS))


def _shared_shingle_counts(
    shingled: DataFrame, id_col: str, max_doc_freq: int | None, keep: Column
) -> tuple[DataFrame, DataFrame]:
    """(inter, sizes) over the distinct (id, shingle) frame: ``inter`` is
    (doc_a, doc_b, n_common) for the pairs sharing >= 1 shingle that
    ``keep`` retains, ``sizes`` is (id, n) shingles per doc.

    ``max_doc_freq`` is the 100 TB skew guard: shingles appearing in more
    than K documents are dropped from the representation BEFORE the
    self-join (both the intersection AND the set sizes use the capped
    set). A shingle in d docs contributes d*(d-1)/2 candidate pairs to
    one reducer; one boilerplate shingle shared by 1e6 docs would
    otherwise pin 5e11 pairs on a single key. With the cap, per-shingle
    work is bounded by K^2 regardless of corpus size. None = uncapped."""
    if max_doc_freq is not None:
        doc_freq = shingled.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        shingled = (
            shingled.join(doc_freq, "shingle")
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = shingled.select(F.col(id_col).alias("doc_a"), "shingle")
    b = shingled.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(keep)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return inter, sizes


def ngram_jaccard_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.05,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct shingles for pairs sharing >= 1 shingle.

    ``max_doc_freq`` caps viral shingles (:func:`_shared_shingle_counts`):
    the result is then exactly Jaccard over non-viral shingles. None =
    uncapped (exact classic Jaccard; fine at bench scale).
    """
    inter, sizes = _shared_shingle_counts(
        shingled, id_col, max_doc_freq, F.col("doc_a") < F.col("doc_b")
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric Jaccard CONTAINMENT |A ∩ B| / |A| over distinct
    shingles — the signal symmetric Jaccard misses: a short document
    pasted inside a much longer one scores near 1.0 here while its
    symmetric Jaccard stays tiny (|A|/|B|). The quote/excerpt/subset
    detector a curation pipeline runs alongside near-dup.

    Ordered pairs: (doc_a contained-in doc_b); each direction is emitted
    independently when its containment clears ``threshold`` (the common
    case — a snippet inside a long doc — survives in exactly one
    direction). ``max_doc_freq`` is the same viral-shingle posting-list
    cap as :func:`ngram_jaccard_pairs` (containment is then exact over
    the capped shingle sets — the intersection AND |A| both use the
    capped representation).
    """
    inter, sizes = _shared_shingle_counts(
        shingled, id_col, max_doc_freq, F.col("doc_a") != F.col("doc_b")
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    containment = F.col("n_common").cast("double") / F.col("n_a").cast("double")
    return (
        inter.join(sa, "doc_a")
        .select("doc_a", "doc_b", "n_a", "n_common", containment.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def incremental_neardup(
    docs: DataFrame,
    is_new,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup check of a NEW batch against the EXISTING corpus — the
    daily-ingest composition: candidates pair only across the
    new/corpus boundary, never corpus x corpus, so incremental work
    scales with the batch, not the archive.

    ``is_new`` is a boolean Column over ``docs`` marking today's batch.
    Stages mirror q86's recall->precision pipeline: v2 MinHash banding
    (b bands of r=2 rows, see :func:`minhash_bands`) proposes
    cross-boundary candidates (one shuffle on (band, s0, s1)); exact
    Jaccard verifies only those candidates at ``threshold``.

    At 100 TB the corpus side's band index is a stored table (computed
    once, appended per batch) — here both sides derive from one frame
    for oracle replayability, which changes cost, not semantics.
    ``max_bucket`` applies :func:`filter_hot_buckets` to the combined
    band set before the cross-boundary banding join (the density
    guard that keeps a degenerate-signature bucket from pairing the
    whole batch against the whole corpus — never-binding under r=2
    bands at every measured density, kept as the safety valve). Returns
    (doc_new, doc_old, jaccard).
    """
    flagged = docs.select(F.col(id_col), is_new.alias("_new"), F.col("text"))
    bands = minhash_bands(
        exploded_shingles(flagged, id_col, distinct=False), id_col
    ).join(flagged.select(id_col, "_new"), id_col)
    if max_bucket is not None:
        bands = filter_hot_buckets(bands, max_bucket)
    new_side = bands.filter(F.col("_new")).select(
        F.col(id_col).alias("doc_new"), *LSH_BAND_KEYS
    )
    old_side = bands.filter(~F.col("_new")).select(
        F.col(id_col).alias("doc_old"), *LSH_BAND_KEYS
    )
    cands = (
        new_side.join(old_side, list(LSH_BAND_KEYS))
        .select("doc_new", "doc_old")
        .distinct()
    )

    # Exact-Jaccard verify in ARRAY land (r17): the candidate pair list
    # joins the one-row-per-doc distinct shingle-set frame and
    # intersects in-row — replacing the exploded-shingle 3-frame join
    # whose 50M-row merge-hinted SMJ legs (the r16 broadcast-flake fix)
    # were this query's dominant cost. Set semantics identical; sizes
    # read off the same arrays.
    ver = jaccard_verify_arrays(
        cands, shingle_sets(flagged, id_col), "doc_new", "doc_old", id_col
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return ver.select("doc_new", "doc_old", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def simhash16(docs: DataFrame, id_col: str = "doc_id", seed: int = 7) -> DataFrame:
    """16-bit SimHash over each doc's distinct words.

    bit b of the fingerprint is 1 iff sum over words of
    (+1 if bit b of hash(word) else -1) is positive. Bit extraction uses
    integer shiftright — the 60-bit hashes exceed double precision, so
    float paths would corrupt bits.
    """
    wds = (
        docs.select(F.col(id_col), F.explode(words_col("text")).alias("word"))
        .distinct()
        .select(id_col, _seeded_hash(F.col("word"), F.lit(seed)).alias("h"))
    )
    # r17 (guide §2.3 "aggregate before you shuffle", the
    # minhash_wide k-min lesson applied to sign counts): all 16
    # per-bit sums ride ONE groupBy(id) as 16 agg columns. The old shape
    # cross-joined every distinct word with a 16-row bit frame — 16x the
    # rows through the (id, b) exchange — then needed a SECOND exchange
    # to fold bits per doc; this one collapses map-side to one row per
    # doc and removes the bit fold's exchange outright. Values are
    # identical: per (doc, b), s = sum(+/-1 over distinct words), bit b
    # set iff s > 0, fingerprint = sum of 2^b over set bits.
    wide = wds.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"_b{b}")
            for b in range(16)
        ]
    )
    fp: Column = F.lit(0).cast("bigint")
    for b in range(16):
        fp = fp + F.when(F.col(f"_b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return wide.select(id_col, fp.cast("bigint").alias("simhash16"))


# Broadcast the per-node star-round min tables when the graph has at
# most this many nodes: (long, long) rows at ~16 B + overhead keep the
# broadcast under ~100 MB — one copy per executor on a cluster. Above
# it, star rounds fall back to shuffle joins.
_BCAST_NODE_LIMIT = 4_000_000


def node_gated_broadcast_hint(nodes: DataFrame):
    """Broadcast-hint factory gated on the CC node bound: returns
    ``F.broadcast`` when ``nodes`` has at most ``_BCAST_NODE_LIMIT``
    rows (one driver-sized count — the same probe connected_components
    runs once per call), else the identity, so callers joining a per-node
    frame against a pair set fall back to AQE's shuffle choice instead
    of force-broadcasting an unbounded build side. Lives here (not in a
    plan module) because the count is an action by design — the plan
    modules stay action-free under the plan-purity lint."""
    if nodes.count() <= _BCAST_NODE_LIMIT:
        return F.broadcast
    return lambda frame: frame


def _edge_hash() -> Column:
    """The hash half of an edge set's signature (count, hash): xor is
    order-independent over a SET and cannot overflow under ANSI mode."""
    return F.expr("bit_xor(xxhash64(u, v))").alias("h")


def _min_labels(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, labels) for the undirected edges (u[i], v[i]): every node
    that touches an edge, labeled with its component's minimum node id —
    the star fixpoint's label. Union-find over sorted node indices, so
    index order is id order: each round hooks every edge's two roots to
    the smaller one (``np.minimum.at``), then pointer jumping compresses
    every node straight to its root. A parent is never larger than its
    child, so a component's root is its minimum."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u) :]
    root = np.arange(len(nodes))
    while True:
        ra, rb = root[a], root[b]
        if np.array_equal(ra, rb):
            return nodes, nodes[root]
        m = np.minimum(ra, rb)
        np.minimum.at(root, ra, m)
        np.minimum.at(root, rb, m)
        while True:
            jumped = root[root]
            if np.array_equal(jumped, root):
                break
            root = jumped


def _driver_labels(e: DataFrame) -> DataFrame:
    """(u, label) for a small checkpointed edge set, labeled exactly on
    the driver by :func:`_min_labels`: one collect, no further round."""
    t = e.toArrow()
    nodes, labels = _min_labels(t["u"].to_numpy(), t["v"].to_numpy())
    typ = t.schema.field("u").type
    return e.sparkSession.createDataFrame(
        pa.table({"u": pa.array(nodes, typ), "label": pa.array(labels, typ)})
    )


# Star-round budget of connected_components, read at call time. The
# rounds are O(log^2 n), so running out means a pathological input:
# the call raises instead of returning partial labels.
CC_MAX_ROUNDS = 20


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster ids for an undirected pair graph: each node labeled with the
    minimum node id reachable from it.

    Algorithm: alternating large-star / small-star contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    the published O(log^2 n)-round algorithm, in practice a handful of
    rounds on real graphs REGARDLESS of diameter. This replaced r1-r11's
    min-label propagation, whose O(diameter) rounds made the sf10
    near-dup closure (336M candidate pairs) take 598 s; each star round
    here both shrinks the edge set (edges contract toward component
    minima) and runs in a constant number of shuffles.

    ``edges`` is (doc_a, doc_b) and may be a multiset: duplicate,
    reversed and self-loop pairs are allowed, since the first round's
    output is deduped and loop-free. Round 0 reads ``edges`` twice (the
    per-node min build and the reconnect probe) through a plain
    projection, so a large edge set should arrive as a checkpoint
    (operators/materialize.py): a lazy input re-runs its whole upstream
    plan per read (measured at sf10, r12: >1200 s lazy vs 284 s
    checkpointed).

    One round over the current edge set E (oriented child > parent, no
    self-loops; deduped from round 0's output on):

    * large-star — over the symmetric neighbor view, each node u computes
      m(u) = min(N(u) + {u}) and reconnects every STRICTLY LARGER
      neighbor v to m(u): emit (v, m(u)). Every output edge is oriented
      (child > parent), so the output needs no re-orientation.
    * small-star — over the now-oriented edges grouped by the larger
      endpoint u, m(u) = min of the smaller neighbors; every smaller
      neighbor v != m(u) and u itself reconnect to m(u).

    The edge set is a fixed point of the round map iff it is a union of
    min-rooted stars (the paper's termination theorem), at which point
    the edges ARE the (node -> cluster-min) labels. Convergence is
    detected by an order-independent signature (count + xor hash) of the
    edge set, observed on the round's own checkpoint job — no extra
    scan, no join.

    The dedup use: LSH candidate pairs form the edges; each cluster keeps
    one canonical doc. Scale/latency design:

    * only nodes that touch an edge enter the iteration — in a near-dup
      graph the overwhelming majority of docs are singletons and are
      attached by one final left join, so per-round data is O(|E|), not
      O(|corpus|);
    * each round's output is materialized with spill-safe DISK_ONLY
      storage + sized re-widening (operators/materialize.py) so lineage
      stays flat; at cluster scale swap in checkpoint() on durable
      storage;
    * when the node universe is small enough (_BCAST_NODE_LIMIT), the
      per-node min tables broadcast, making a round broadcast joins +
      ONE shuffle (the output dedup); otherwise shuffle joins, with the
      round's exchange width sized from the live edge count;
    * each round's checkpoint releases the frames it supersedes, and
      the returned labels are a checkpoint that releases the final edge
      set, so a long session does not accumulate block-manager residue
      (VERDICT r11 item 3);
    * once a round's checkpoint observes an unconverged edge set of at
      most ``materialize.LOCAL_FINISH_ROWS`` edges, later rounds would
      cost only fixed per-job overhead: the edge set is collected and
      labeled exactly by a numpy union-find on the driver
      (:func:`_min_labels`), with no exit star check and no
      ``CC_MAX_ROUNDS`` budget left to exhaust. Round 0 always runs
      distributed.

    Raises RuntimeError when ``CC_MAX_ROUNDS`` rounds end short of the
    fixpoint: partial labels may split a component.
    """
    import os
    import time as _time

    spark = edges.sparkSession
    max_rounds = CC_MAX_ROUNDS
    e = edges.select(
        F.greatest("doc_a", "doc_b").alias("u"),
        F.least("doc_a", "doc_b").alias("v"),
    ).where(F.col("u") != F.col("v"))
    # Duplicates in ``edges`` only make this first signature differ from
    # round 0's deduped output (one more round at worst): the exit star
    # check, not the signature, proves the fixpoint. Being a projection,
    # no round releases it.
    st = e.agg(F.count(F.lit(1)).alias("n"), _edge_hash()).collect()[0]
    prev_sig = (st["n"], st["h"])
    # Dense near-dup graphs have FAR fewer nodes than edges (sf10: 500k
    # docs, 336M candidate pairs): when the per-node min table fits a
    # broadcast, ship it to the map side so a star round is broadcast
    # joins + ONE shuffle (the output dedup) instead of sort-merge joins
    # whose per-task sort state starved the 8 GiB unified pool at 32
    # concurrent tasks (r12 first sf10 runs). Decided from the caller's
    # node universe — a cheap count-star upper bound on the graph's node
    # count (over-estimating only costs a skipped broadcast, never
    # correctness); _BCAST_NODE_LIMIT rows of (long, long) is ~a few
    # tens of MB — one copy per executor on a cluster.
    n_node_bound = nodes.count()
    use_broadcast = 0 < n_node_bound <= _BCAST_NODE_LIMIT
    verbose = bool(os.environ.get("SPARK_GRAFT_CC_VERBOSE"))
    if verbose:
        print(
            f"[cc] node_bound={n_node_bound} broadcast={use_broadcast}",
            flush=True,
        )
    converged = prev_sig[0] == 0  # empty graph: already a (trivial) fixpoint
    labels = None  # set by the driver finish
    # Size the round's shuffle width from the LIVE edge count: the star
    # joins/aggregates process ~2x the edge set (symmetric view), and at
    # the session's toy-scale default (32) an sf10 round would hand each
    # reducer 20M+ rows of concurrent hash-map state — the GCLocker heap
    # death the r12 first sf10 run hit. AQE coalesces whatever a round
    # doesn't need, so over-providing is one cheap config write per round.
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for _round in range(max_rounds):
            if converged:
                break
            _t0 = _time.perf_counter()
            width = max(
                int(old_width),
                min(2048, -(-2 * prev_sig[0] // MAX_ROWS_PER_TASK)),
            )
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
            # large-star: m(u) = min(N(u) + {u}) over BOTH directions;
            # every strictly larger neighbor reconnects to m(u).
            # m(u) <= u < v, so outputs are already (larger, smaller)-
            # oriented and loop-free.
            sym = e.unionByName(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            lmin = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mv"))
                .select("u", F.least("mv", F.col("u")).alias("m"))
            )
            if use_broadcast:
                lmin = F.broadcast(lmin)
            lg = (
                sym.join(lmin, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct()
            )
            if use_broadcast:
                # lg feeds BOTH small-star inputs; checkpoint it so the
                # broadcast build doesn't re-execute the large-star
                # subtree, and so each half-round is one simple
                # scan -> broadcast-join -> dedup pipeline (e's last)
                lg, _ = materialize(lg, "u", release=[e])
            # small-star: grouped by the larger endpoint u over its
            # smaller neighbors, m(u) = min; each smaller neighbor != m
            # and u itself reconnect to m. m < u always, and v > m is
            # filtered, so the output stays oriented and loop-free.
            smin = lg.groupBy("u").agg(F.min("v").alias("m"))
            if use_broadcast:
                smin = F.broadcast(smin)
            e, st = materialize(
                lg.join(smin, "u")
                .where(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .unionByName(smin.select("u", F.col("m").alias("v")))
                .distinct(),
                "u",
                observe=[_edge_hash()],
                release=[lg if use_broadcast else e],
            )
            sig = (st["n"], st["h"])
            if verbose:
                print(
                    f"[cc] round={_round} width={width} edges={sig[0]} "
                    f"sec={_time.perf_counter() - _t0:.1f}",
                    flush=True,
                )
            converged = sig[0] == 0 or sig == prev_sig
            prev_sig = sig
            if not converged and sig[0] <= _mat.LOCAL_FINISH_ROWS:
                # decided from a round's checkpoint, never at entry:
                # ARCHITECTURE.md, "Driver finish for small graph tails"
                _t0 = _time.perf_counter()
                labels = F.broadcast(_driver_labels(e))
                converged = True
                if verbose:
                    print(
                        f"[cc] finish=driver round={_round} edges={sig[0]} "
                        f"sec={_time.perf_counter() - _t0:.1f}",
                        flush=True,
                    )
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)
    if labels is None and prev_sig[0] > 0:
        # The signature is a heuristic trigger; soundness (both ways)
        # comes from this one structural check: E is a union of stars iff
        # every child appears exactly once AND no child is also a parent.
        # With the (child > parent) orientation invariant a star's root is
        # below all its children, i.e. the stars are min-rooted — exactly
        # the label set we return. Running it on loop exhaustion too means
        # a graph that lands on the fixpoint in its LAST round (sig
        # equality unobserved) is still accepted. One job at exit, not
        # per round.
        deg = (
            e.select(
                F.col("u").alias("node"),
                F.lit(1).alias("as_child"),
                F.lit(0).alias("as_parent"),
            )
            .unionByName(
                e.select(
                    F.col("v").alias("node"),
                    F.lit(0).alias("as_child"),
                    F.lit(1).alias("as_parent"),
                )
            )
            .groupBy("node")
            .agg(F.sum("as_child").alias("c"), F.sum("as_parent").alias("p"))
        )
        not_star = (
            deg.where((F.col("c") > 1) | ((F.col("c") > 0) & (F.col("p") > 0)))
            .limit(1)
            .count()
        )
        converged = not_star == 0
    if not converged:
        # partial labels are WRONG labels (an unconverged edge set may
        # still split one component) — surface it instead of returning
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} star "
            "rounds (pathological for this algorithm — rounds are "
            "O(log^2 n), not O(diameter)); raise dedup.CC_MAX_ROUNDS"
        )
    if labels is None:
        # at the fixpoint E is min-rooted stars: the exit check above
        # proved each non-root node appears exactly once as u, with
        # v = its component minimum, so E already is the label set
        labels = e.select("u", F.col("v").alias("label"))
    out = nodes.select(F.col(id_col)).join(
        labels.select(F.col("u").alias(id_col), "label"),
        id_col,
        "left",
    )
    # the labels are checkpointed (one ~|corpus|-row DISK_ONLY write) so
    # the final edge set, which nothing reads after this job, is released
    # here instead of staying persisted behind a lazy result
    out, _ = materialize(
        out.select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
        ),
        id_col,
        widen=False,
        release=[e],
    )
    return out


def cluster_labels_plan(
    docs: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(pairs, labels) for the registered near-dup cluster pipeline,
    materialized ONCE PER SESSION (a spared session memo, see
    ARCHITECTURE.md "Session memos") because four registered queries
    (q56/q105/q153/q158) derive from the identical frames.

    pairs  — distinct LSH candidate (doc_a, doc_b) under the registered
             operating point (minhash_bands over non-distinct shingles),
             DISK_ONLY-checkpointed because the CC fixpoint consumes it
             twice per round-0 and q153's leak audits probe it again;
    labels — connected_components over those pairs (each doc labeled
             with its component's minimum doc_id), checkpointed so memo
             consumers read ~|corpus| rows of blocks instead of
             re-running the fixpoint.

    Every frame is recomputed from the parquet inputs on the first call
    of each Spark application — the memo only amortizes WITHIN one
    session (the sweep/gate shape), never across runs."""
    key = (
        "cluster_labels",
        docs._jdf.queryExecution().analyzed().semanticHash(),
        id_col,
        LSH_NUM_HASHES,
        LSH_ROWS_PER_BAND,
    )
    return session_memo(
        docs.sparkSession, key, lambda: _cluster_labels(docs, id_col)
    )


def _cluster_labels(docs: DataFrame, id_col: str) -> tuple[DataFrame, DataFrame]:
    sh = exploded_shingles(docs, id_col=id_col, distinct=False)
    pairs, _ = materialize(
        lsh_candidate_pairs(minhash_bands(sh, id_col=id_col), id_col=id_col),
        "doc_a",
        widen=False,
    )
    # CC returns its labels checkpointed: memo hits read label blocks
    # directly instead of re-joining the final star edge set
    labels = connected_components(docs.select(id_col), pairs, id_col=id_col)
    return pairs, labels
