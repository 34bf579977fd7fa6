"""Scale smoke: run the engine's custom operators on ~10M generated rows
(100x the sf0.1 events table) on local[32] to demonstrate headroom —
the shapes that must survive a 1000-executor cluster, exercised at the
largest size this box holds comfortably.

    python scripts/scale_smoke.py [n_rows]

Not part of pytest (runtime ~minutes); results are recorded in
BENCH_NOTES.md.
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from e2e_stock_data_pipeline_spark.operators.asof import asof_join  # noqa: E402
from e2e_stock_data_pipeline_spark.operators.windows import keep_last, moving_avg  # noqa: E402
from e2e_stock_data_pipeline_spark.session import get_spark  # noqa: E402


def timed(label, fn):
    t0 = time.perf_counter()
    n = fn()
    print(f"{label}: {n:,} rows in {time.perf_counter() - t0:.1f}s")


def forced(df) -> int:
    """Materialize EVERY column via the noop sink (as bench.py does),
    counting rows with an observe() metric on the same single execution.
    A bare .count() lets Catalyst prune computed columns out of the
    plan — the smoke would time a cheaper shape than the one it claims."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get["n"]


def main(n_rows: int = 10_000_000) -> None:
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    # synthetic event stream: 10k keys, monotone-ish timestamps, 2-dec values
    ev = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("event_id"),
            # 9999 is coprime to the %5 event-type split below, so purchase
            # and view rows share user_ids (10000 would partition them apart)
            (F.col("id") % 9_999).alias("user_id"),
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000) + F.col("id") * 1_000 + (F.xxhash64("id") % 997)
            ).alias("ts"),
            (F.round(F.abs(F.xxhash64("id", F.lit(1)) % 100_000) / 100.0, 2)).alias("value"),
        )
    )

    timed(
        f"moving averages (2 frames, {n_rows/1e6:.0f}M rows, 10k keys)",
        lambda: forced(
            ev.select(
                "event_id", moving_avg("user_id", ["ts", "event_id"], "value", 20).alias("ma")
            )
        ),
    )

    timed(
        "keep-last dedup to 10k keys",
        lambda: keep_last(ev, ["user_id"], ["ts", "event_id"]).count(),
    )

    purchases = ev.filter(F.col("event_id") % 5 == 0)
    views = ev.filter(F.col("event_id") % 5 == 1).select("user_id", "ts", "value")
    timed(
        f"as-of join ({n_rows/5e6:.0f}M x {n_rows/5e6:.0f}M, 10k keys)",
        lambda: asof_join(
            purchases, views, on="user_id", left_time="ts", right_time="ts",
            value_cols=["value"],
        ).count(),
    )

    # --- dedup path at 100x: synthetic corpus with planted near-dups ----
    from e2e_stock_data_pipeline_spark.operators.dedup import (  # noqa: E402
        exploded_shingles,
        lsh_candidate_pairs,
        minhash_bands,
        ngram_jaccard_pairs,
    )

    n_docs = max(n_rows // 50, 1000)  # ~200k docs at the 10M default
    # every 100th doc repeats the PREVIOUS doc's words — sparse planted
    # near-dup pairs (1%), not identical 100-doc blocks (ADVICE r2: the
    # old id - id%100 seed made the corpus ~99% exact duplicates and the
    # measured candidate workload far heavier than the comment claimed)
    seed_id = F.col("id") - F.when(
        (F.col("id") % 100 == 0) & (F.col("id") > 0), F.lit(1)
    ).otherwise(F.lit(0))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        # 10-word docs from a 5k-word vocab
        F.concat_ws(
            " ",
            *[F.concat(F.lit("w"), (F.xxhash64(seed_id, F.lit(j)) % 5_000)) for j in range(10)],
        ).alias("text"),
    )
    sh = exploded_shingles(docs, distinct=False)
    timed(
        f"minhash-lsh candidates ({n_docs/1e3:.0f}k docs, ~{n_docs*8/1e6:.1f}M shingles)",
        lambda: lsh_candidate_pairs(minhash_bands(sh)).count(),
    )
    timed(
        f"capped jaccard pairs (max_doc_freq=200, {n_docs/1e3:.0f}k docs)",
        lambda: ngram_jaccard_pairs(
            exploded_shingles(docs), threshold=0.5, max_doc_freq=200
        ).count(),
    )

    # --- skew path: zipf-ish key, one key owns 30% of all rows ----------
    from e2e_stock_data_pipeline_spark.operators.skew import salted_join, two_phase_agg

    n_dim = 100_000
    skew = spark.range(n_rows).select(
        F.when(F.col("id") % 10 < 3, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_dim)))
        .alias("k"),
        (F.col("id") % 1000).cast("double").alias("value"),
    )
    dim = spark.range(n_dim).select(
        F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id") % 7).alias("grp")
    )

    # isolate the explicit salting effect: AQE's skew-join splitting is the
    # first-line fix and would mask it; broadcast would dodge the shuffle
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    n_salts = 32
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def hot_share(df, cols):
        """Share of rows landing on the hottest hash-shuffle partition."""
        return (
            df.groupBy(F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(parts)).alias("p"))
            .count()
            .agg((F.max("count") / F.sum("count")).alias("s"))
            .first()
            .s
        )

    row_salt = F.pmod(F.hash("k", "value"), F.lit(n_salts)).cast("int")
    print(
        f"hot reducer share, {parts} partitions: "
        f"plain={hot_share(skew, ['k']):.3f}  "
        f"salted={hot_share(skew.withColumn('_salt', row_salt), ['k', '_salt']):.3f}"
    )
    timed(
        f"plain shuffle join (hot key 30% of {n_rows/1e6:.0f}M)",
        lambda: skew.join(dim, "k").count(),
    )
    timed(
        f"salted join ({n_salts} salts)",
        lambda: salted_join(skew, dim, "k", num_salts=n_salts).count(),
    )
    # NOTE: for ALGEBRAIC aggs (sum/count/min/max) Spark's map-side partial
    # aggregation already collapses a hot key to one row per map task, so
    # plain and two-phase should time alike — measured to document exactly
    # when the explicit scatter is needed (holistic aggs, huge partial state)
    timed(
        "plain groupBy sum (hot key 30%)",
        lambda: skew.groupBy("k").agg(F.sum("value").alias("total")).count(),
    )
    timed(
        f"two_phase_agg sum ({n_salts} salts)",
        lambda: two_phase_agg(skew, "k", {"total": "sum:value"}, num_salts=n_salts).count(),
    )
    spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)

    # --- curation tier at 100x: bigram-LM NLL + packing over 200k docs --
    bg = docs.select(
        F.col("doc_id"),
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text, ' ')) - 1), "
                "i -> concat(element_at(split(text, ' '), i), ' ', "
                "element_at(split(text, ' '), i + 1)))"
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
    timed(
        f"bigram-LM NLL scoring ({n_docs/1e3:.0f}k docs)",
        lambda: forced(
            bg.join(pair_c, "bigram")
            .join(head_c, F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)) == F.col("w1"))
            .select("doc_id", nll.alias("nll_fp"))
            .groupBy("doc_id")
            .agg(F.sum("nll_fp").alias("t"))
        ),
    )

    from pyspark.sql import Window  # noqa: E402

    wpack = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        docs.select(
            "doc_id",
            (F.col("doc_id") % 256).alias("shard"),
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        )
        .withColumn("cum", F.sum("n_tokens").over(wpack))
        .withColumn("pack_id", F.expr("(cum - n_tokens) DIV 512"))
    )
    timed(
        f"context packing ({n_docs/1e3:.0f}k docs, 256 shards)",
        lambda: forced(packed),
    )

    # --- ANN path at 100x: hyperplane buckets over 1M vectors -----------
    from e2e_stock_data_pipeline_spark.operators.similarity import (  # noqa: E402
        hyperplane_lsh_buckets,
    )

    n_vecs = max(n_rows // 10, 10_000)
    vecs = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 15), d -> CAST(xxhash64(id, d) % 1000 AS DOUBLE) / 1000.0)"
        ).alias("embedding"),
    )
    timed(
        f"lsh bucket assignment ({n_vecs/1e6:.1f}M vectors, 16-dim, 8 planes)",
        lambda: forced(hyperplane_lsh_buckets(vecs, dim=16)),
    )

    # --- round-6 distribution tier at 100x: entropy + KL over the word
    # explode path. The plans are the PRODUCTION plan constructors
    # imported from queries_ext5 (token_entropy_plan/source_kl_plan —
    # the exact code the registered queries run, so the smoke cannot
    # drift to timing a stale copy), noop-forced so Catalyst cannot
    # prune the floored-log term math out of the timing ----------------
    from e2e_stock_data_pipeline_spark.plans.queries_ext5 import (  # noqa: E402
        ema_plan,
        source_kl_plan,
        token_entropy_plan,
    )

    corpus = docs.withColumn("source", (F.col("doc_id") % 20).cast("string"))
    timed(
        f"token entropy ({n_docs/1e3:.0f}k docs)",
        lambda: forced(token_entropy_plan(corpus)),
    )
    timed(
        f"source KL divergence ({n_docs/1e3:.0f}k docs, 20 sources)",
        lambda: forced(source_kl_plan(corpus)),
    )

    # --- round-6 EMA fold at 100x: 10k keys, full series per key --------
    timed(
        f"EMA fold ({n_rows/1e6:.0f}M obs, 10k keys)",
        lambda: forced(ema_plan(ev)),
    )

    # --- round-8 skew-safe temperature mixture: adversarial 90%-head
    # mixture over 10M docs (VERDICT r7 item 1). The old per-lang
    # row_number window would sort 9M head-lang rows in ONE task; the
    # bucketed keep's largest window partition is head/1024 (~9k rows).
    # Production plan constructor, noop-forced -----------------------
    from e2e_stock_data_pipeline_spark.plans.queries_ext6 import (  # noqa: E402
        temperature_mixture_plan,
    )

    mix_docs = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit("head"))
        .otherwise(F.concat(F.lit("t"), F.pmod(F.xxhash64("id"), F.lit(40))))
        .alias("lang"),
        F.concat_ws(
            " ", *[F.concat(F.lit("w"), (F.xxhash64("id", F.lit(j)) % 5_000)) for j in range(8)]
        ).alias("text"),
    )
    timed(
        f"temperature mixture, 90%-head skew ({n_rows/1e6:.0f}M docs, 41 langs)",
        lambda: forced(temperature_mixture_plan(mix_docs)),
    )

    # --- round-8 sketch tier at 100x: Bloom build+probe and Count-Min
    # over the 200k-doc corpus' ~1.6M shingle occurrences; both are one
    # map-side-combinable groupBy plus a broadcast bit/counter join ----
    from e2e_stock_data_pipeline_spark.operators.bloom import (  # noqa: E402
        bloom_build,
        bloom_probe,
    )
    from e2e_stock_data_pipeline_spark.operators.countmin import (  # noqa: E402
        countmin_build,
        countmin_estimate,
    )

    sh_all = exploded_shingles(docs, distinct=True)
    ev_sh = sh_all.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    tr_sh = sh_all.filter(F.col("doc_id") % 97 != 0)
    timed(
        f"bloom build+probe ({n_docs/1e3:.0f}k docs, 65536 bits)",
        lambda: bloom_probe(tr_sh, "shingle", bloom_build(ev_sh, "shingle")).count(),
    )
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
    timed(
        f"count-min build+estimate ({n_docs*10/1e6:.0f}M word occurrences)",
        lambda: forced(
            countmin_estimate(words.distinct(), "word", countmin_build(words, "word"))
        ),
    )

    # --- round-8 weighted budget keep at 100x: token-budget prefix over
    # the 90%-head mixture corpus (bucketed_budget_keep) ---------------
    from e2e_stock_data_pipeline_spark.operators.ranking import (  # noqa: E402
        bucketed_budget_keep,
    )

    weighted = mix_docs.select(
        "doc_id", "lang", F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tok")
    )
    wbudgets = weighted.groupBy("lang").agg(
        (F.sum("n_tok") / 3).cast("bigint").alias("budget")
    )
    timed(
        f"token-budget keep, 90%-head skew ({n_rows/1e6:.0f}M docs)",
        lambda: bucketed_budget_keep(weighted, ["lang"], wbudgets, "n_tok").count(),
    )

    # --- round-7 unbounded-series EMA twin: the applyInPandas escape
    # hatch (operators/grouped.per_key_ema, bit-equal to ema_plan by
    # property test) — times the Arrow grouped-map path at the same
    # volume so the bounded/unbounded trade is measured, not asserted --
    from e2e_stock_data_pipeline_spark.operators.grouped import per_key_ema  # noqa: E402

    timed(
        f"EMA applyInPandas twin ({n_rows/1e6:.0f}M obs, 10k keys)",
        lambda: forced(per_key_ema(ev)),
    )

    # --- round-8 session-2 time-series tier at 100x: the production
    # plan constructors from queries_ext8 ------------------------------
    from e2e_stock_data_pipeline_spark.plans.queries_ext8 import (  # noqa: E402
        copurchase_plan,
        drawdown_plan,
        gap_fill_plan,
        mad_outliers_plan,
        pagerank_plan,
        streaks_plan,
        twap_plan,
    )

    # gap-fill: 100k keys, observations scattered over a 365-day span so
    # the sequence/explode densification has real holes to fill. The
    # explode fan-out is bounded by the span (<=365/key), never by rows.
    sparse = spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 100_000).alias("user_id"),
        F.to_timestamp(
            F.date_add(F.lit("2024-01-01").cast("date"), F.pmod(F.xxhash64("id"), F.lit(365)).cast("int"))
        ).alias("ts"),
        (F.round(F.abs(F.xxhash64("id", F.lit(2)) % 100_000) / 100.0, 2)).alias("value"),
    )
    timed(
        f"gap-fill + ffill ({n_rows/1e6:.0f}M obs, 100k keys, 365-day span)",
        lambda: forced(gap_fill_plan(sparse)),
    )

    timed(
        f"max drawdown ({n_rows/1e6:.0f}M obs, 10k keys)",
        lambda: forced(drawdown_plan(ev)),
    )

    timed(
        f"MAD outlier audit ({n_rows/1e6:.0f}M obs, 10k keys, two median passes)",
        lambda: forced(mad_outliers_plan(ev)),
    )

    timed(
        f"longest streak, gaps-and-islands ({n_rows/1e6:.0f}M obs, 100k keys)",
        lambda: forced(streaks_plan(sparse)),
    )

    timed(
        f"TWAP, integer-unit arithmetic ({n_rows/1e6:.0f}M obs, 10k keys)",
        lambda: forced(twap_plan(ev)),
    )

    # co-occurrence pairs: 2.5M baskets x 4 items from a 100k vocabulary
    # — the same-basket self-join emits 6 pairs/basket (~15M), bounded by
    # basket size; the apriori cut broadcast-prunes infrequent items.
    baskets = spark.range(n_rows).select(
        (F.col("id") / 4).cast("bigint").alias("l_orderkey"),
        F.pmod(F.xxhash64("id", F.lit(3)), F.lit(100_000)).alias("l_partkey"),
    )
    timed(
        f"co-occurrence pairs ({n_rows/4e6:.1f}M baskets x4, 100k vocab)",
        lambda: forced(copurchase_plan(baskets)),
    )

    timed(
        f"integer PageRank, lazy 3-round unroll ({n_rows/4e6:.1f}M baskets, 100k nodes)",
        lambda: forced(pagerank_plan(baskets)),
    )

    # the production form: edge list materialized once, lineage truncated
    # per round (operators/graph.pagerank) — 10 rounds for the price the
    # lazy unroll pays for 3
    from e2e_stock_data_pipeline_spark.operators.graph import pagerank  # noqa: E402

    bd = baskets.distinct()
    ba = bd.select("l_orderkey", F.col("l_partkey").alias("u"))
    bb = bd.select(F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("v"))
    bhalf = (
        ba.join(bb, (ba.l_orderkey == bb._ok) & (F.col("u") < F.col("v")))
        .select("u", "v")
        .distinct()
    )
    bedges = bhalf.unionByName(bhalf.select(F.col("v").alias("u"), F.col("u").alias("v")))
    timed(
        f"integer PageRank, materialized 10 rounds ({n_rows/4e6:.1f}M baskets)",
        lambda: forced(pagerank(bedges, n_iters=10)),
    )

    # --- round-8 session-3: retrieval/curation tier at 100x ------------
    # salted per-group top-k (q150's weighted priority sample): the
    # 90%-head lang never sorts in one task — every window partition is
    # (lang, salt), 1/32 of a group; final rank runs on <=k*32 rows.
    from e2e_stock_data_pipeline_spark.functions.hashing import (  # noqa: E402
        portable_hash64,
    )
    from e2e_stock_data_pipeline_spark.operators.dedup import (  # noqa: E402
        containment_pairs,
    )
    from e2e_stock_data_pipeline_spark.operators.ranking import (  # noqa: E402
        salted_group_topk,
    )
    from e2e_stock_data_pipeline_spark.plans.queries_ext9 import (  # noqa: E402
        bigram_pmi_plan,
    )

    h32 = F.pmod(portable_hash64(F.col("doc_id"), seed=150), F.lit(4294967296))
    keyed = mix_docs.select(
        "doc_id",
        "lang",
        h32.alias("h32"),
        F.greatest(F.length("text"), F.lit(1)).alias("w"),
    ).select(
        "doc_id",
        "lang",
        F.expr("CAST((h32 * 1048576) DIV w AS BIGINT)").alias("key_fp"),
    )
    timed(
        f"salted weighted top-10/group, 90%-head skew ({n_rows/1e6:.0f}M docs, 41 langs)",
        lambda: forced(
            salted_group_topk(keyed, ["lang"], [F.col("key_fp"), F.col("doc_id")], k=10)
        ),
    )

    # containment pairs under the viral-shingle cap: per-shingle join
    # work bounded by cap^2 — corpus size only scales the number of
    # postings, never a single reducer's pair fan-out.
    timed(
        f"containment pairs, capped postings ({n_docs/1e3:.0f}k docs, cap 5)",
        lambda: forced(containment_pairs(sh_all, threshold=0.6, max_doc_freq=5)),
    )

    # bigram PMI: count aggregates keyed on word/bigram + broadcast
    # totals — the whole corpus passes one exchange per aggregate.
    # min_count=2 here: the synthetic 10k-word vocab spreads 2M bigram
    # occurrences over 100M possible pairs, so the production cut of 10
    # matches nothing — the smoke wants the join-backs to carry rows.
    timed(
        f"bigram PMI collocations ({n_docs*10/1e6:.0f}M word occurrences)",
        lambda: forced(bigram_pmi_plan(docs, min_count=2)),
    )

    # --- round-8 session-4: sweep-line + robust-statistic tier at 100x --
    # peak interval concurrency (q159): the classic formulation is ONE
    # global ordered running sum; the production plan decomposes it into
    # an hour-bucket histogram prefix (dimension-sized) + windows
    # partitioned by (type, hour). Boundaries spread over ~30 days so
    # the largest window partition is ~an hour of one type's events.
    from e2e_stock_data_pipeline_spark.plans.queries_ext10 import (  # noqa: E402
        peak_concurrency_plan,
        weighted_median_plan,
    )

    conc_ev = spark.range(n_rows).select(
        F.concat(F.lit("t"), (F.col("id") % 5)).alias("event_type"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + F.col("id") * 259_000
            + (F.xxhash64("id") % 997)
        ).alias("ts"),
    )
    timed(
        f"peak session concurrency, sweep-line ({n_rows/1e6:.0f}M events, 5 types, ~30 days)",
        lambda: forced(peak_concurrency_plan(conc_ev)),
    )

    # weighted median (q162) on a THREE-value group key — the shape
    # where Window.partitionBy(group) would sort a third of the table
    # in one task; the two-pass bucket histogram's only row-level
    # window is (group, bucket), ~1/100th of a group.
    wm = spark.range(n_rows).select(
        F.concat(F.lit("g"), (F.col("id") % 3)).alias("g"),
        F.pmod(F.xxhash64("id"), F.lit(10_000_000)).alias("pc"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(50)) + 1).alias("w"),
    )
    timed(
        f"two-pass weighted median, 3 groups ({n_rows/1e6:.0f}M rows, 100 buckets/group)",
        lambda: forced(weighted_median_plan(wm, "g")),
    )

    # generalized exact quantiles (q168's plan): SIX percentiles from
    # ONE histogram pass — the boundary buckets differ per p but the
    # row-level windows still only touch boundary-bucket rows.
    from e2e_stock_data_pipeline_spark.plans.queries_ext11 import (  # noqa: E402
        exact_group_quantiles_plan,
    )

    timed(
        f"exact p1/p37/p50/p90/p99/p100, 3 groups ({n_rows/1e6:.0f}M rows)",
        lambda: forced(
            exact_group_quantiles_plan(
                wm, "g", (1, 37, 50, 90, 99, 100), bucket=100_000
            )
        ),
    )

    # --- round-9 session-5: graph census + changepoint tier at 100x ----
    # triangle census (q170): pair generation is ONE shuffle building
    # per-basket part arrays (bounded fan-out), and the compact-forward
    # wedge join runs on the degree-ORIENTED edge list — the worst
    # vertex contributes O(out-degree^2) wedges with out-degree bounded
    # by sqrt(m)-ish under orientation, not its raw (possibly huge)
    # degree. The synthetic catalog gives ~7 parts/basket over a 50k
    # part vocabulary with a popularity head, so the pair aggregate and
    # the survivor edge list stay graph-sized, never basket^2.
    from e2e_stock_data_pipeline_spark.operators.graph import (  # noqa: E402
        triangle_census_plan,
    )
    from e2e_stock_data_pipeline_spark.plans.queries_ext12 import (  # noqa: E402
        cusum_alarms_plan,
    )

    tri_li = spark.range(n_rows).select(
        (F.col("id") % (n_rows // 7)).alias("l_orderkey"),
        # popularity-skewed part pick: ~square-ish distribution so the
        # co-purchase graph has a dense head — the case orientation
        # exists for
        F.pmod(
            F.xxhash64("id") % 224 * (F.xxhash64("id", F.lit(3)) % 224),
            F.lit(50_000),
        ).alias("l_partkey"),
    )
    timed(
        f"triangle census, degree-oriented ({n_rows/7e6:.1f}M baskets, 50k parts)",
        lambda: forced(triangle_census_plan(tri_li)),
    )

    # CUSUM alarms (q174): the sequential recursion as stacked windows
    # over ONE user-keyed exchange — per-user partitions are ~1k rows
    # even at 10M, and nothing global is ever ordered.
    cusum_ev = spark.range(n_rows).select(
        (F.col("id") % 10_000).alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 997
        ).alias("ts"),
        F.col("id").alias("event_id"),
        (
            F.pmod(F.xxhash64("id"), F.lit(1000)) / 100.0
            + F.when((F.col("id") % 10_000 < 100) & (F.col("id") > n_rows // 2), 500.0)
            .otherwise(0.0)
        ).alias("value"),
    )
    timed(
        f"CUSUM changepoint alarms ({n_rows/1e6:.0f}M events, 10k users, 1%% shifted)",
        lambda: forced(cusum_alarms_plan(cusum_ev)),
    )

    # --- round-9 session-5b/5c: itemset + attribution tier at 100x -----
    # frequent triples (q175): the C(L,3) expansion is in-array (one
    # fact shuffle); ~7 parts/basket -> 35 triples/basket -> 50M triple
    # rows through one count aggregate. The textbook 3-way self-join is
    # infeasible at this size (146s in DuckDB at 1/100th the rows).
    from e2e_stock_data_pipeline_spark.plans.queries_ext13 import (  # noqa: E402
        frequent_triples_plan,
    )
    from e2e_stock_data_pipeline_spark.plans.queries_ext14 import (  # noqa: E402
        linear_attribution_plan,
    )

    timed(
        f"frequent triples, in-array apriori ({n_rows/7e6:.1f}M baskets)",
        lambda: forced(frequent_triples_plan(tri_li)),
    )

    # linear attribution (q179): the interval join's fan-out is capped
    # by the 1-hour band — each user's clicks land within minutes of
    # their purchases here, so per-purchase credit lists stay small no
    # matter how long the stream runs.
    # block-keyed users: 200 consecutive ids per user, ~1s apart, so a
    # purchase sees its user's recent clicks inside the hour band
    attr_ev = spark.range(n_rows).select(
        F.col("id").alias("event_id"),
        F.expr("id DIV 200").alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 997_000
        ).alias("ts"),
        F.when(F.col("id") % 10 == 9, "purchase").otherwise("click").alias(
            "event_type"
        ),
        (F.pmod(F.xxhash64("id"), F.lit(100_000)) / 100.0 + 0.01).alias("value"),
        F.lit("{}").alias("props"),
    )
    timed(
        f"linear attribution, 1h band ({n_rows/1e6:.0f}M events, 50k users)",
        lambda: forced(linear_attribution_plan(attr_ev)),
    )

    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000)
