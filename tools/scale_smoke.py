"""Scale smoke: run the scale-critical operators on synthetic data 1-2
orders of magnitude beyond the bench SF, and print wall times.

The sf0.1 bench proves correctness-at-speed on ~600k-row tables; this
script is the "would it survive 100×?" evidence — each workload is
shaped to stress the exact mechanism the operator docstring claims
(hash-agg fan-in, single-shuffle as-of, bucket-pruned range join,
log-round connected components, heap top-k under skew).

Usage: python tools/scale_smoke.py [rows_millions]   (default 20)
Prints one line per workload: name, input rows, seconds.

If SPARK_GRAFT_SMOKE_OUT names a path, a JSON artifact with the same
per-workload rows/seconds/verdict tuples (plus git head, host and
timestamp provenance) is written there — round-13 VERDICT item 6:
"at scale" claims must carry committed numbers, since the sf0.1
bench is overhead-bound (every 8-vs-32-core ratio ≈ 1) and provably
cannot show scaling.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.session import (
        get_spark,
    )

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import (  # noqa: E501
        release_checkpoints,
    )

    m = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    n = m * 1_000_000
    spark = get_spark("scale-smoke")
    spark.range(1).count()  # JVM warm

    results = []

    def run(name, rows, fn):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        results.append((name, rows, round(dt, 2), out))
        print(f"{name:<28} rows={rows:>12,}  {dt:7.2f}s  ({out})", flush=True)

    def section_break():
        """Free localCheckpoint blocks left by the previous section —
        the same between-queries hygiene bench.py applies.  Without it
        the round-6 store lanes (1M-doc checkpointed signature frames)
        leave pinned, non-evictable blocks whose heap pressure taxes
        every LATER lane: back-to-back full runs measured repeated
        spans at 13.9 s then 38.1 s and containment at 52.4 s then
        36.6 s — noise this large makes lane numbers meaningless.
        Only call between sections: a released localCheckpoint cannot
        be recomputed, so it must never run while a section still
        holds a checkpointed frame (e.g. the shared ANN codebook)."""
        release_checkpoints(spark)
        spark.sparkContext._jvm.System.gc()

    # 1) Wide hash aggregation with a high-cardinality key (~n/10 groups).
    fact = spark.range(0, n).select(
        (F.col("id") % (n // 10)).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    run(
        "hash_agg_highcard",
        n,
        lambda: fact.groupBy("k")
        .agg(F.sum("v"), F.max("v"))
        .write.format("noop").mode("overwrite").save()
        or "n/10 groups",
    )

    # 2) Keyed keep-last dedup (2 rows/key on average).
    dup = spark.range(0, n).select(
        (F.col("id") % (n // 2)).alias("k"),
        F.col("id").alias("seq"),
        (F.col("id") % 1009).cast("double").alias("v"),
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.dedup import (
        dedup_keep_last,
    )

    run(
        "dedup_keep_last",
        n,
        lambda: dedup_keep_last(dup, ["k"], [F.col("seq").desc()])
        .write.format("noop").mode("overwrite").save()
        or "2 rows/key",
    )

    # 3) As-of join: n/4 left rows against n/4 right rows, 1k keys.
    nl = n // 4
    left = spark.range(0, nl).select(
        (F.col("id") % 1000).alias("k"),
        F.timestamp_seconds(F.col("id") % 10_000_000).alias("lts"),
    )
    right = spark.range(0, nl).select(
        (F.col("id") % 1000).alias("k"),
        F.timestamp_seconds((F.col("id") * 2 + 1) % 10_000_000).alias("rts"),
        (F.col("id") % 13).cast("double").alias("v"),
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.joins import (
        asof_join,
        interval_join,
        salted_join,
    )

    run(
        "asof_join",
        nl * 2,
        lambda: asof_join(left, right, ["k"], "lts", "rts", ["v"])
        .write.format("noop").mode("overwrite").save()
        or "1k keys",
    )

    # 4) Keyless interval join: n/40 points vs n/4000 intervals.
    pts = spark.range(0, n // 40).select(
        F.col("id").alias("pid"),
        F.timestamp_seconds(F.col("id") % 2_000_000).alias("pts"),
    )
    ivals = spark.range(0, n // 4000).select(
        F.col("id").alias("iid"),
        F.timestamp_seconds((F.col("id") * 379) % 2_000_000).alias("s"),
    ).withColumn("e", F.col("s") + F.expr("INTERVAL 10 MINUTES"))
    run(
        "interval_join_keyless",
        n // 40,
        lambda: str(
            interval_join(pts, ivals, "pts", "s", "e", bucket="10 minutes").count()
        )
        + " matches",
    )

    # 5) Salted join under 90% single-key skew.
    skew_fact = spark.range(0, n // 2).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 10_000).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    run(
        "salted_join_90pct_skew",
        n // 2,
        lambda: salted_join(skew_fact, dim, "k", salt_buckets=32)
        .write.format("noop").mode("overwrite").save()
        or "hot key split 32x",
    )

    # 6) Connected components on a 2M-edge graph (100k chains of 20).
    edges = spark.range(0, 2_000_000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).filter((F.col("id_a") % 20) != 19)
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.graph import (
        connected_components,
    )

    run(
        "connected_components_2M",
        2_000_000,
        lambda: str(
            connected_components(edges)
            .agg(F.countDistinct("component")).first()[0]
        )
        + " components",
    )

    # 7) Global top-k under the same skew (heap, no global sort).
    run(
        "global_topk",
        n,
        lambda: str(
            spark.range(0, n)
            .select((F.xxhash64("id") % 1_000_003).alias("v"))
            .orderBy(F.desc("v")).limit(100).count()
        )
        + " rows",
    )

    # 8) Exact percentiles by distributed selection: 3 fact-sized groups
    # (the shape that OOMs percentile agg buffers and serializes
    # group-partitioned window sorts).
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        exact_percentiles,
        global_cumsum,
    )

    skewed = spark.range(0, n).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.xxhash64("id") % 1_000_003).cast("double").alias("v"),
    )
    run(
        "exact_percentiles_3groups",
        n,
        lambda: str(
            exact_percentiles(
                skewed, ["g"], "v", [0.25, 0.5, 0.99]
            ).count()
        )
        + " groups",
    )

    # 8b) Fused median + MAD: two selection passes sharing one scan.
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        mad_spread,
    )

    run(
        "mad_spread_3groups",
        n,
        lambda: str(mad_spread(skewed, ["g"], "v").count()) + " groups",
    )

    # 8c) Exact weighted median: the histogram prune must keep every
    # group off the single-task path even when 3 groups hold n rows.
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        weighted_median,
    )

    weighted = skewed.withColumn("w", (F.col("v") % 7 + 1).cast("long"))
    run(
        "weighted_median_3groups",
        n,
        lambda: str(
            weighted_median(weighted, ["g"], "v", "w", 10.0).count()
        )
        + " groups",
    )

    # 8d) Two-phase skyline: local prune must shrink n distinct points
    # to a survivor union orders of magnitude smaller before the final
    # single-task scan (anti-correlated dims = worst-case-ish frontier).
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.frontier import (
        skyline_2d,
    )

    pts = spark.range(0, n).select(
        (F.col("id") % 1_000_003).cast("double").alias("x"),
        ((F.col("id") * 2_654_435_761) % 1_000_033).cast("double").alias("y"),
    )
    run(
        "skyline_2d_points",
        n,
        lambda: str(skyline_2d(pts, "x", "y").count()) + " frontier pts",
    )

    # 8e) Iterative PageRank: n/2 synthetic edges, 5 rounds — the
    # per-round cost must be one edge-keyed shuffle + combine-sized
    # aggregate (neighbor relation materialized once, never rebuilt).
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.graph import (
        pagerank,
    )

    n_nodes = max(n // 20, 1000)
    pedges = spark.range(0, n // 2).select(
        (F.col("id") % n_nodes).alias("src"),
        ((F.col("id") * 2_654_435_761 + 1) % n_nodes).alias("dst"),
    )
    run(
        "pagerank_5rounds",
        n // 2,
        lambda: str(pagerank(pedges, n_iter=5).count()) + " nodes",
    )

    # 9) Globally-ordered cumulative sum without a single-partition
    # window (Pareto/ABC shape at customer-table volume).
    run(
        "global_cumsum",
        n // 10,
        lambda: str(
            global_cumsum(
                spark.range(0, n // 10).select(
                    F.col("id").alias("k"),
                    (F.xxhash64("id") % 997).cast("double").alias("v"),
                ),
                [F.desc("v"), F.asc("k")],
                "v",
            )
            .groupBy()
            .agg(F.max("cum_sum"))
            .count()
        )
        + " row",
    )

    # 9b) Sweep-line peak concurrency at fact scale: n/2 synthetic
    # sessions emit n boundary points (+1/-1); the round-5 migration
    # runs the ordered running sum through global_cumsum, so the sweep
    # must clear fact-sized inputs with no single-partition window —
    # exactly the 100× case the old global-window shape could not.
    n_sess = n // 2
    sess = spark.range(0, n_sess).select(
        (F.col("id") % 86_400_000).alias("start_us"),
        (F.col("id") % 86_400_000
         + 1 + F.pmod(F.xxhash64("id"), 3_600_000)).alias("end_us"),
    )
    sweep_pts = sess.select(
        F.col("start_us").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        sess.select(F.col("end_us").alias("t"), F.lit(-1).alias("delta"))
    )
    run(
        "sweep_peak_concurrency",
        n_sess * 2,
        lambda: str(
            global_cumsum(
                sweep_pts, [F.asc("t"), F.asc("delta")], "delta",
                out_col="live",
            )
            .agg(F.max("live"))
            .first()[0]
        )
        + " peak",
    )

    # 10) Blocked all-pairs cosine self-join at 20k vectors (4×10^8 pair
    # space, intrinsically quadratic — the point is that it distributes:
    # 136 independent block-pair matmuls, no driver state).  Planted
    # duplicate clusters of 4 make the expected output checkable.
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.similarity import (
        cosine_pairs_blocked,
    )

    vecs = spark.range(0, 20_000).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (
                F.xxhash64(F.floor(F.col("id") / 4), i) % 1000
            ).cast("float"),
        ).alias("embedding"),
    )
    run(
        "cosine_pairs_blocked_20k",
        20_000,
        lambda: str(
            cosine_pairs_blocked(
                vecs, threshold=0.999999, n_blocks=16
            ).count()
        )
        + " pairs",
    )

    section_break()

    # 12/13) Text-pipeline ops on a synthetic corpus: n/20 docs of ~50
    # words from a 30-word vocabulary (JVM-generated, no Python).
    # repetition_stats explodes ~49 bigrams/doc into a hash aggregate;
    # benchmark_overlap joins ~43 8-grams/doc against a broadcast
    # eval-suite shingle set (docs ending in 999 are "eval" docs).
    nd = n // 20
    vocab = F.array(*[F.lit(f"w{i}") for i in range(30)])
    corpus = spark.range(0, nd).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(50)),
                lambda i: F.element_at(
                    vocab,
                    F.pmod(F.xxhash64(F.col("id") * 50 + i), 30).cast("int")
                    + 1,
                ),
            ),
        ).alias("text"),
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        benchmark_overlap,
        repetition_stats,
    )

    run(
        "repetition_stats",
        nd,
        lambda: repetition_stats(corpus)
        .write.format("noop").mode("overwrite").save()
        or "~49 bigrams/doc",
    )
    bench_docs = corpus.filter(F.col("doc_id") % 1000 == 999)
    run(
        "benchmark_decontamination",
        nd,
        lambda: str(
            benchmark_overlap(corpus, bench_docs, n=8).count()
        )
        + " contaminated",
    )

    section_break()

    # 14-17) Round-2 text/retrieval ops on the same synthetic corpus.
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.retrieval import (
        bm25_scores,
        inverted_index_topk,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        boilerplate_ngram_stats,
        feature_hash_counts,
        passage_dedup_stats,
    )

    run(
        "boilerplate_ngram_stats",
        nd,
        lambda: boilerplate_ngram_stats(corpus, n=3, min_docs=50)
        .write.format("noop").mode("overwrite").save()
        or "gram-keyed agg+join",
    )
    run(
        "passage_dedup_stats",
        nd,
        lambda: passage_dedup_stats(corpus, width=20)
        .write.format("noop").mode("overwrite").save()
        or "~3 passages/doc",
    )
    run(
        "feature_hash_counts",
        nd,
        lambda: feature_hash_counts(corpus, dims=64)
        .write.format("noop").mode("overwrite").save()
        or "<=64 dims/doc",
    )
    run(
        "bm25_scores",
        nd,
        lambda: str(bm25_scores(corpus, ["w1", "w7", "w13"]).count())
        + " ranked",
    )
    # Deliberate worst-case skew for the per-term rank window: a 30-term
    # vocabulary means every posting list is ~|corpus| long.  Documented
    # hazard of inverted_index_topk — run at nd/10 so each of the 30
    # term-sorts still handles ~100k postings in one task.
    run(
        "inverted_index_topk_skew",
        nd // 10,
        lambda: inverted_index_topk(
            corpus.filter(F.col("doc_id") % 10 == 0), k=5
        )
        .write.format("noop").mode("overwrite").save()
        or "30 megaterms",
    )

    section_break()

    # 18) Z-order clustered write: 10M rows, 2 decorrelated dimensions,
    # 64 output files — one min/max aggregate + range shuffle + local
    # sort, the same cost profile as a plain sorted write.
    import shutil
    import tempfile

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_zorder_lake,
    )

    zn = n // 2
    zdf = spark.range(0, zn).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(zn)).alias("x"),
        F.pmod(F.xxhash64((F.col("id") + 7).cast("string")), F.lit(zn)).alias("y"),
    )
    zdir = tempfile.mkdtemp(prefix="zorder_smoke_")
    try:
        run(
            "zorder_write_2d",
            zn,
            lambda: write_zorder_lake(zdf, zdir, ["x", "y"], n_files=64)
            or "64 files",
        )
    finally:
        shutil.rmtree(zdir, ignore_errors=True)

    section_break()

    # 19) LSH singleton-bucket prune, quantified at 1M docs: a realistic
    # near-dup layout (1% of docs in clusters of 4, one 2,000-doc
    # boilerplate blob dropped by max_bucket, the rest unique — so
    # singleton buckets dominate, as on any real corpus).  Signatures
    # are synthesized JVM-side from each doc's content key (identical
    # key → identical signature), isolating the candidate-join stage
    # the prune targets from shingling/minhash cost.
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        lsh_banded,
        lsh_candidate_pairs,
    )

    nd_lsh = max(n // 20, 1_000_000)
    lsh_bands = 16
    content_key = (
        F.when(F.col("id") < 2000, F.lit(0))
        .when(F.col("id") % 400 < 4, F.col("id") - F.col("id") % 4)
        .otherwise(F.col("id"))
    )
    lsh_sigs = spark.range(0, nd_lsh).select(
        F.col("id").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.xxhash64(content_key, i),
        ).alias("signature"),
    )
    # join-input sizes: all banded rows vs only colliding rows — the
    # SAME banded frame the operator self-joins (lsh_banded is the
    # exact helper lsh_candidate_pairs executes, so this measurement
    # can never desynchronize from the real bucketing)
    banded_all = nd_lsh * lsh_bands
    banded = lsh_banded(lsh_sigs, bands=lsh_bands)
    colliding = (
        banded.groupBy("band", "bucket")
        .agg(F.count("*").alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= 1000))
        .agg(F.sum("_n"))
        .first()[0]
        or 0
    )
    run(
        "lsh_prune_join_input",
        nd_lsh,
        lambda: f"{banded_all:,} banded rows -> {colliding:,} colliding "
        f"({banded_all / max(colliding, 1):,.0f}x fewer join-input rows)",
    )
    run(
        "lsh_candidates_pruned",
        nd_lsh,
        lambda: str(
            lsh_candidate_pairs(lsh_sigs, bands=lsh_bands).count()
        )
        + " pairs",
    )
    run(
        "lsh_candidates_noprune",
        nd_lsh,
        lambda: str(
            lsh_candidate_pairs(
                lsh_sigs, bands=lsh_bands, prune_singletons=False
            ).count()
        )
        + " pairs (same output, full-width join)",
    )

    # 19b) Incremental LSH: a 10k batch against the 1M corpus — the
    # new_col mode of lsh_candidate_pairs (the candidate stage of
    # minhash_near_duplicates_against).  10% of batch docs are planted
    # near-dups of DISTINCT corpus docs (keys k*400+2007 — outside the
    # corpus's own group structure), so exactly 1,000 cross pairs
    # exist; the corpus's 14,970 internal pairs must never be
    # generated.  The counterfactual lane runs the plain self-join
    # over the same union — the per-batch cost a naive re-run pays.
    n_batch = 10_000
    batch_key = F.when(
        (F.col("id") - nd_lsh) % 10 == 0,
        (((F.col("id") - nd_lsh) / 10).cast("long") * 400 + 2007),
    ).otherwise(F.col("id"))
    batch_sigs = spark.range(nd_lsh, nd_lsh + n_batch).select(
        F.col("id").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.xxhash64(batch_key, i),
        ).alias("signature"),
    )
    tagged = lsh_sigs.withColumn("_new", F.lit(False)).unionByName(
        batch_sigs.withColumn("_new", F.lit(True))
    )
    run(
        "lsh_incremental_batch10k",
        nd_lsh + n_batch,
        lambda: str(
            lsh_candidate_pairs(
                tagged, bands=lsh_bands, new_col="_new"
            ).count()
        )
        + " batch-involving pairs (expect 1,000; corpus-internal "
        "pairs never generated)",
    )
    run(
        "lsh_incremental_fulljoin",
        nd_lsh + n_batch,
        lambda: str(
            lsh_candidate_pairs(tagged.drop("_new"), bands=lsh_bands).count()
        )
        + " pairs (the naive per-batch re-run the incremental mode "
        "replaces)",
    )

    section_break()

    # 19c) PERSISTED signature store, end-to-end on TEXT at 1M+10k:
    # the round-6 fast path.  The plain incremental path re-shingles
    # and re-signs the full 1M-doc corpus every batch (its documented
    # corpus-linear term); the store path signs only the 10k batch,
    # probes the persisted bucket table via a broadcast of the batch's
    # bands, and re-shingles only pair-named corpus docs for the
    # verify.  1,000 planted cross dups (identical text -> jaccard 1)
    # make recall checkable; both paths must report the same count.
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        minhash_near_duplicates_against,
        read_lsh_signature_store,
        write_lsh_signature_store,
    )

    def _dtok(seed, pos):
        return F.concat(
            F.lit("d"), F.pmod(F.xxhash64(seed, pos), F.lit(10**15))
        )

    def _doc_text(seed):
        return F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)), lambda p: _dtok(seed, p)
            ),
        )

    corpus_docs = spark.range(0, nd_lsh).select(
        F.col("id").alias("doc_id"), _doc_text(F.col("id")).alias("text")
    )
    planted = (F.col("id") - nd_lsh) % 10 == 0
    batch_seed = F.when(
        planted, ((F.col("id") - nd_lsh) / 10).cast("long") * 719 + 13
    ).otherwise(F.col("id") + nd_lsh)
    batch_docs = spark.range(nd_lsh, nd_lsh + n_batch).select(
        F.col("id").alias("doc_id"),
        _doc_text(batch_seed).alias("text"),
    )
    store_dir = tempfile.mkdtemp(prefix="lsh_store_smoke_")
    try:
        run(
            "lsh_store_build_1m",
            nd_lsh,
            lambda: write_lsh_signature_store(corpus_docs, store_dir)
            or "one-time: signatures + buckets + meta parquet",
        )
        lsh_store = read_lsh_signature_store(spark, store_dir)
        run(
            "lsh_incr_store_1m_10k",
            nd_lsh + n_batch,
            lambda: str(
                minhash_near_duplicates_against(
                    corpus_docs, batch_docs, threshold=0.7,
                    corpus_signatures=lsh_store["signatures"],
                    corpus_buckets=lsh_store["buckets"],
                ).count()
            )
            + " pairs (expect 1,000; corpus never re-shingled/signed)",
        )
        run(
            "lsh_incr_plain_1m_10k",
            nd_lsh + n_batch,
            lambda: str(
                minhash_near_duplicates_against(
                    corpus_docs, batch_docs, threshold=0.7
                ).count()
            )
            + " pairs (same answer; the corpus-linear re-sign the "
            "store eliminates)",
        )

        # 19c') id-clustered LAKE + pushed verify filter (round-7):
        # the one corpus-linear term left in the ingest loop was the
        # verify stage's text fetch — a semi-join that scanned the
        # whole lake text column whenever ANY pair survived.  Write
        # the corpus as a real on-disk lake, id-range-partitioned and
        # sorted (append_log_idempotent sort_col=), and dedup a
        # mostly-clean batch (20 planted dups in 10k docs — the
        # production shape) through the store: the verify now pushes
        # the 20 pair-named ids as a literal In filter, and parquet
        # row-group stats bound the text actually read.  The matched
        # row-group fraction is computed from the footers; at corpus
        # scale it decays as ids/row_groups (1000 dirty ids against
        # ~800k row groups of a 100 TB lake reads ~0.1%).
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators import (  # noqa: E501
            text_dedup as _td,
        )
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (  # noqa: E501
            append_log_idempotent,
        )

        lake_dir = tempfile.mkdtemp(prefix="lsh_lake_smoke_")
        nd2 = nd_lsh + n_batch
        planted2 = (F.col("id") - nd2) % 500 == 0
        dirty_seed = F.when(
            planted2,
            ((F.col("id") - nd2) / 500).cast("long") * 50_021 + 7,
        ).otherwise(F.col("id") + nd2)
        dirty_batch = spark.range(nd2, nd2 + n_batch).select(
            F.col("id").alias("doc_id"),
            _doc_text(dirty_seed).alias("text"),
        )
        try:
            run(
                "lake_write_sorted_1m",
                nd_lsh,
                lambda: str(
                    append_log_idempotent(
                        spark, corpus_docs, lake_dir, "b0",
                        sort_col="doc_id", sort_files=128,
                    )
                )
                + " (128 id-range files, sorted within)",
            )
            lake_docs = spark.read.parquet(lake_dir).select(
                "doc_id", "text"
            )

            def _verify_pruned():
                cnt = minhash_near_duplicates_against(
                    lake_docs, dirty_batch, threshold=0.7,
                    corpus_signatures=lsh_store["signatures"],
                    corpus_buckets=lsh_store["buckets"],
                ).count()
                # matched row groups from the footers (what the pushed
                # In filter lets the scan skip)
                import bisect
                import glob as _glob

                import pyarrow.parquet as _pq

                ids = sorted(
                    k * 50_021 + 7 for k in range(n_batch // 500)
                )
                total = hit = 0
                for fp in _glob.glob(
                    f"{lake_dir}/ingest_batch=b0/*.parquet"
                ):
                    md = _pq.ParquetFile(fp).metadata
                    for rg in range(md.num_row_groups):
                        col = next(
                            md.row_group(rg).column(i)
                            for i in range(md.num_columns)
                            if md.row_group(rg).column(i).path_in_schema
                            == "doc_id"
                        )
                        lo = col.statistics.min
                        hi = col.statistics.max
                        total += 1
                        j = bisect.bisect_left(ids, lo)
                        if j < len(ids) and ids[j] <= hi:
                            hit += 1
                return (
                    f"{cnt} pairs (expect 20); verify text read "
                    f"bounded to {hit}/{total} row groups"
                )

            run("lsh_verify_pruned_lake", nd_lsh + n_batch, _verify_pruned)

            def _verify_semijoin():
                saved = _td.MAX_VERIFY_ID_PUSHDOWN
                _td.MAX_VERIFY_ID_PUSHDOWN = 0
                try:
                    cnt = minhash_near_duplicates_against(
                        lake_docs, dirty_batch, threshold=0.7,
                        corpus_signatures=lsh_store["signatures"],
                        corpus_buckets=lsh_store["buckets"],
                    ).count()
                finally:
                    _td.MAX_VERIFY_ID_PUSHDOWN = saved
                return (
                    f"{cnt} pairs (same answer; full-lake text "
                    "semi-join — the round-6 behavior)"
                )

            run(
                "lsh_verify_semijoin_lake",
                nd_lsh + n_batch,
                _verify_semijoin,
            )
        finally:
            shutil.rmtree(lake_dir, ignore_errors=True)

        # 19d) the COMPOSED daily-ingest step (dedup + drop rule +
        # idempotent signature append) — everything a production batch
        # pays on top of the raw store dedup above: two id-only store
        # scans, the drop-rule anti-join, and appending the ~9k
        # admitted docs' signatures.  Mutates the store, so it runs
        # last in this section.
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
            append_batch_signatures,
            ingest_dedup_batch,
        )

        def _composed_ingest():
            clean, _pairs = ingest_dedup_batch(
                corpus_docs, batch_docs, store_dir, threshold=0.7
            )
            appended = append_batch_signatures(clean, store_dir)
            return (
                f"{appended} admitted+appended (expect 9,000; "
                "1,000 planted dups dropped)"
            )

        run(
            "lsh_ingest_composed_1m_10k",
            nd_lsh + n_batch,
            _composed_ingest,
        )

        # 19e) store small-file maintenance (round-7): 20 simulated
        # daily appends land one file set each; compaction rewrites
        # signatures+buckets to 8 files with row parity, so the
        # store's scan cost stays flat over a year of batches instead
        # of degrading into per-file listing/footer overhead.
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
            compact_lsh_signature_store,
        )

        def _store_maintenance():
            import glob as _glob

            for i in range(20):
                b = spark.range(
                    9_000_000 + i, 9_000_001 + i
                ).select(
                    F.col("id").alias("doc_id"),
                    _doc_text(F.col("id") * 31 + 5_000_000).alias(
                        "text"
                    ),
                )
                append_batch_signatures(b, store_dir)
            files_before = len(
                _glob.glob(f"{store_dir}/signatures/*.parquet")
            )
            st = read_lsh_signature_store(spark, store_dir)
            rows_before = st["signatures"].count()
            t0 = time.perf_counter()
            st["signatures"].select("doc_id").count()
            scan_before = time.perf_counter() - t0
            compact_lsh_signature_store(
                spark, store_dir, target_files=8, min_files=8
            )
            files_after = len(
                _glob.glob(f"{store_dir}/signatures/*.parquet")
            )
            st2 = read_lsh_signature_store(spark, store_dir)
            assert st2["signatures"].count() == rows_before
            t0 = time.perf_counter()
            st2["signatures"].select("doc_id").count()
            scan_after = time.perf_counter() - t0
            return (
                f"{files_before}->{files_after} sig files, row parity "
                f"held; id scan {scan_before:.2f}s->{scan_after:.2f}s"
            )

        run(
            "lsh_store_compaction_20appends",
            nd_lsh + n_batch,
            _store_maintenance,
        )
    finally:
        shutil.rmtree(store_dir, ignore_errors=True)

    section_break()

    # 20) SRP-LSH ANN top-k at 1M vectors, recall measured against the
    # exact brute force on the same frame: 10k clusters of 100 (cluster
    # mates are genuine near neighbors; cross-cluster vectors are
    # hash-noise), dim 32, all synthesized JVM-side.  This is the
    # at-scale ANN path: bucketize is one corpus scan, candidates flow
    # through the (table, bucket) equi-join, and only re-ranked
    # survivors reach the top-k window — no all-pairs stage anywhere.
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.similarity import (  # noqa: E501
        cosine_topk,
        ivf_topk,
        lsh_topk,
        train_ivf_centroids,
    )

    nv = max(n // 20, 1_000_000)
    dim_ann = 32

    def _vec_expr(seed):
        """Clustered synthetic vector keyed on ``seed``: 10k tight
        centers + 10% per-id noise — equal seeds give byte-equal
        vectors (the planted-copy mechanism of the ingest lane)."""
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim_ann - 1)),
            lambda d: (
                (F.pmod(F.xxhash64(seed % 10_000, d), F.lit(1000))
                 .cast("double") / 1000.0 - 0.5)
                + 0.1 * (F.pmod(F.xxhash64(seed, d + 1_000_000),
                                F.lit(1000)).cast("double") / 1000.0 - 0.5)
            ).cast("float"),
        )

    vecs = spark.range(0, nv).select(
        F.col("id").alias("vec_id"),
        _vec_expr(F.col("id")).alias("embedding"),
    )
    ann_q = vecs.filter(F.col("vec_id") % 50_000 == 0)  # 20 queries
    exact_pairs: set = set()

    def _ann_exact():
        exact_pairs.update(
            (r["qid"], r["vec_id"])
            for r in cosine_topk(vecs, ann_q, k=5).collect()
        )
        return f"{len(exact_pairs)} truth pairs"

    run("ann_bruteforce_truth_1m", nv, _ann_exact)

    def _ann_lsh():
        # planes must grow with log(corpus): 12 planes → 4,096 buckets
        # per table (~250 vectors each at 1M).  The gate-scale default
        # of 4 planes means 16 buckets per TABLE — 62k vectors per
        # bucket at 1M, a candidate explosion that costs more than the
        # exact brute force it is supposed to beat.
        got = {
            (r["qid"], r["vec_id"])
            for r in lsh_topk(vecs, ann_q, k=5, tables=8, planes=12).collect()
        }
        recall = len(got & exact_pairs) / max(len(exact_pairs), 1)
        return f"recall {recall:.2f} vs exact (8 tables x 12 planes)"

    run("ann_lsh_topk_1m", nv, _ann_lsh)

    # IVF is the ANN path that actually beats the BLAS brute force:
    # probes scan ~n_probe/n_lists of the corpus via per-list grouped
    # matmuls.  Measured at 1000 queries where the crossover is
    # unambiguous (brute force is linear in |Q|; IVF's scan cost is
    # |Q|-independent): brute 21 s, IVF ~5 s including assignment.
    ivf_cent = train_ivf_centroids(vecs, 64)

    def _ann_ivf():
        got = {
            (r["qid"], r["vec_id"])
            for r in ivf_topk(
                vecs, ann_q, k=5, n_lists=64, n_probe=8, centroids=ivf_cent
            ).collect()
        }
        recall = len(got & exact_pairs) / max(len(exact_pairs), 1)
        return f"recall {recall:.2f} vs exact (64 lists, 8 probes)"

    run("ann_ivf_topk_1m", nv, _ann_ivf)

    ann_q1k = vecs.filter(F.col("vec_id") % 1_000 == 0)  # 1000 queries
    run(
        "ann_bruteforce_1000q_1m",
        nv,
        lambda: f"{cosine_topk(vecs, ann_q1k, k=5).count()} rows "
        "(linear in |Q|)",
    )
    run(
        "ann_ivf_1000q_1m",
        nv,
        lambda: str(
            ivf_topk(
                vecs, ann_q1k, k=5, n_lists=64, n_probe=8,
                centroids=ivf_cent,
            ).count()
        )
        + " rows (scan cost |Q|-independent)",
    )

    # 22b) PERSISTED IVF index: assignments land partitioned by list_id
    # once; after that a query batch skips the corpus-linear assignment
    # pass entirely and its probed-list filter prunes parquet
    # partitions at the scan (20 queries x 8 probes touch <= 160 of 64
    # lists' partitions — here all 64 may be probed, but the ASSIGN
    # pass, the expensive part, is gone).  Same recall contract as the
    # inline lane above.
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.similarity import (  # noqa: E501
        read_ivf_index,
        write_ivf_index,
    )

    ivf_dir = tempfile.mkdtemp(prefix="ivf_index_smoke_")
    try:
        run(
            "ivf_index_build_1m",
            nv,
            lambda: write_ivf_index(vecs, ivf_dir, centroids=ivf_cent)
            or "one-time: codebook + list_id-partitioned assignments",
        )
        ivf_idx = read_ivf_index(spark, ivf_dir)

        def _ann_ivf_stored():
            got = {
                (r["qid"], r["vec_id"])
                for r in ivf_topk(
                    None, ann_q, k=5, n_probe=8,
                    centroids=ivf_idx["centroids"],
                    assigned=ivf_idx["assignments"],
                ).collect()
            }
            recall = len(got & exact_pairs) / max(len(exact_pairs), 1)
            return (
                f"recall {recall:.2f} vs exact (no assign pass; "
                "partition-pruned scan)"
            )

        run("ann_ivf_stored_1m", nv, _ann_ivf_stored)

        # 22c) incremental SEMANTIC ingest against the index: a 10k
        # batch where every 10th vector is a byte-exact copy of a
        # corpus vector (equal seeds -> equal vectors) and the rest are
        # fresh seeds (same-center cluster mates sit at ~0.995 cosine,
        # below the exact-copy threshold).  The corpus side reads ONLY
        # the touched lists' partitions; expect exactly the 1,000
        # planted copies dropped and 9,000 admitted + appended.
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.similarity import (  # noqa: E501
            append_to_ivf_index,
            ingest_semantic_batch,
        )

        planted_v = (F.col("id") - nv) % 10 == 0
        vseed = F.when(
            planted_v, ((F.col("id") - nv) / 10).cast("long") * 719 + 13
        ).otherwise(F.col("id") + nv)
        batch_vecs = spark.range(nv, nv + 10_000).select(
            F.col("id").alias("vec_id"),
            _vec_expr(vseed).alias("embedding"),
        )

        def _semantic_ingest():
            clean, dropped = ingest_semantic_batch(
                batch_vecs, ivf_dir, threshold=0.999999
            )
            appended = append_to_ivf_index(clean, ivf_dir)
            return (
                f"{appended} admitted+appended, {dropped.count()} "
                "dropped (expect 9,000 / 1,000)"
            )

        run("semantic_ingest_1m_10k", nv + 10_000, _semantic_ingest)

        # 22d) codebook retrain under PLANTED drift (round-9, VERDICT
        # r08 item 5): the unit-scale recall-recovery proof
        # (tests/test_similarity.py::test_ivf_retrain_recovers_recall
        # _after_drift) re-run at 1M+.  60 drifted clusters (2k vectors
        # each) are planted at pairwise midpoints of the LIVE codebook's
        # normalized centroids — <a/|a|+b/|b|, a/|a|> = 1 + cos(a,b) =
        # <a/|a|+b/|b|, b/|b|>, so each midpoint is EXACTLY
        # cosine-equidistant from its two parents and per-vector noise
        # tips every cluster member to one side at random: under the
        # stale codebook each planted cluster straddles a cell boundary
        # by construction and probed recall at n_probe=1 decays.  The
        # retrain re-clusters the accumulated corpus (the dense planted
        # clusters earn interior cells), and recall recovers.  Only the
        # retrain itself is the timed heal; plant / truth / recall run
        # as their own lanes.
        import numpy as _np2

        from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.similarity import (  # noqa: E501
            ivf_occupancy_skew,
            retrain_ivf_index,
        )

        n_drift_clusters, drift_per_cluster = 60, 2_000
        n_drift = n_drift_clusters * drift_per_cluster
        cent_live = read_ivf_index(spark, ivf_dir)["centroids"]
        cn = cent_live / _np2.maximum(
            _np2.linalg.norm(cent_live, axis=1, keepdims=True), 1e-12
        )
        mids = [
            cn[c % len(cn)] + cn[(c + 1) % len(cn)]
            for c in range(n_drift_clusters)
        ]
        mids_lit = F.array(*[
            F.array(*[F.lit(float(v)) for v in m]) for m in mids
        ])

        def _drift_vec(seed, noise_salt):
            ctr = F.element_at(
                mids_lit, (F.pmod(seed, F.lit(n_drift_clusters)) + 1)
                .cast("int"),
            )
            noise = F.transform(
                F.sequence(F.lit(0), F.lit(dim_ann - 1)),
                lambda d: 0.1 * (
                    F.pmod(F.xxhash64(seed, d + noise_salt), F.lit(1000))
                    .cast("double") / 1000.0 - 0.5
                ),
            )
            return F.zip_with(
                ctr, noise, lambda c, z: (c + z).cast("float")
            )

        drift_base = 2 * nv  # clear of corpus [0, nv) and batch ids
        drift = spark.range(drift_base, drift_base + n_drift).select(
            F.col("id").alias("vec_id"),
            _drift_vec(F.col("id"), 77).alias("embedding"),
        )
        run(
            "ivf_drift_plant_120k",
            n_drift,
            lambda: str(append_to_ivf_index(drift, ivf_dir))
            + f" drifted vectors appended (expect {n_drift:,}; "
            "assigned against the stale codebook)",
        )

        # 20 fresh queries, one per planted cluster, truth = exact
        # brute force over the ACCUMULATED corpus
        drift_q = spark.range(
            90_000_000, 90_000_000 + 20
        ).select(
            F.col("id").alias("vec_id"),
            _drift_vec(F.col("id"), 555_000).alias("embedding"),
        )
        drift_truth: set = set()
        n_total = nv + 9_000 + n_drift

        def _drift_truth():
            corpus_all = read_ivf_index(spark, ivf_dir)[
                "assignments"
            ].select("vec_id", "embedding")
            drift_truth.update(
                (r["qid"], r["vec_id"])
                for r in cosine_topk(corpus_all, drift_q, k=10).collect()
            )
            return f"{len(drift_truth)} truth pairs over the live index"

        run("ivf_drift_truth_20q", n_total, _drift_truth)

        def _drift_recall():
            idx = read_ivf_index(spark, ivf_dir)
            got = {
                (r["qid"], r["vec_id"])
                for r in ivf_topk(
                    None, drift_q, k=10, n_probe=1,
                    centroids=idx["centroids"],
                    assigned=idx["assignments"],
                ).collect()
            }
            return len(got & drift_truth) / max(len(drift_truth), 1)

        # the occupancy-skew probe (~2 s at round 8) runs OUTSIDE the
        # stale-recall clock — the lane measures recall cost only, and
        # the probe result is just formatted into the message
        # (round-9 ADVICE, tools/scale_smoke.py:1105)
        probe = ivf_occupancy_skew(spark, ivf_dir)

        def _recall_before():
            return (
                f"recall {_drift_recall():.2f} @ n_probe=1 under the "
                f"stale codebook (expect ~0.5-0.7: boundary-planted "
                f"clusters split ~50/50, and a query's top-10 tilts "
                f"toward its own side of the split; occupancy skew "
                f"{probe['skew']:.2f})"
            )

        run("ivf_drift_recall_stale", n_total, _recall_before)

        # the timed heal: occupancy probe excluded (measured above),
        # recall re-check excluded (below) — this is the wall of
        # k-means re-train on ALL accumulated vectors + full re-assign
        # + staged rebuild + two-rename swap + meta version bump
        def _retrain():
            out = retrain_ivf_index(spark, ivf_dir)
            return (
                f"v{out['version']}, {out['n_vectors']:,} vectors "
                "re-trained + re-assigned + swapped"
            )

        run("ivf_retrain_drift_1m", n_total, _retrain)
        run(
            "ivf_drift_recall_healed",
            n_total,
            lambda: (
                f"recall {_drift_recall():.2f} @ n_probe=1 after the "
                "retrain (expect ~1.0: planted clusters re-clustered "
                "into interior cells)"
            ),
        )
    finally:
        shutil.rmtree(ivf_dir, ignore_errors=True)

    section_break()

    # 23) Maximal repeated spans at 200k docs: 2% of docs carry one
    # planted 20-token verbatim run shared with a partner doc (the
    # rest of every doc is unique), so the expected flag count is
    # known exactly.  Stresses the gram explode (200k × 53 8-grams),
    # the gram-keyed min<max aggregate, and the doc-partitioned
    # island windows.
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        containment_join,
        duplicated_spans,
    )

    nd_sp = max(n // 100, 200_000)

    def _tok(seed, pos):
        return F.concat(
            F.lit("t"), F.pmod(F.xxhash64(seed, pos), F.lit(10**15))
        )

    paired = F.col("id") % 100 < 2
    pair_seed = F.col("id") - F.col("id") % 2 + F.lit(10**12)
    docs_sp = spark.range(0, nd_sp).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(59)),
                lambda p: F.when(
                    paired & (p >= 20) & (p <= 39), _tok(pair_seed, p)
                ).otherwise(_tok(F.col("id"), p)),
            ),
        ).alias("text"),
    )

    def _spans():
        flagged = (
            duplicated_spans(docs_sp, width=8)
            .filter(F.col("n_dup_spans") > 0)
            .count()
        )
        return f"{flagged:,} docs flagged (expect {nd_sp // 50:,})"

    run("repeated_spans_200k", nd_sp, _spans)

    section_break()

    # 24) Containment join at 200k docs over a Zipf(1) vocabulary —
    # the adversarial shape for posting joins (hot tokens dominate the
    # posting list; they miss the prefix build side and are discarded
    # at probe time with zero fan-out).  1% of docs are verbatim
    # 12-token subsets of their neighbor, so the planted pair count is
    # known exactly and total recall is checked, not assumed.
    import math as _math

    nd_ct = max(n // 100, 200_000)
    zipf_v = 200_000

    def _ztok(seed, pos):
        u = F.pmod(F.xxhash64(seed, pos), F.lit(10**9)) / F.lit(10**9)
        return F.concat(
            F.lit("w"),
            F.floor(F.exp(u * F.lit(_math.log(zipf_v)))).cast("long"),
        )

    is_sub = F.col("id") % 100 == 0
    src = F.when(is_sub, F.col("id") + 1).otherwise(F.col("id"))
    n_tok = F.when(is_sub, F.lit(11)).otherwise(F.lit(29))
    docs_ct = spark.range(0, nd_ct).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), n_tok), lambda p: _ztok(src, p)
            ),
        ).alias("text"),
    )

    def _containment():
        got = containment_join(docs_ct, threshold=0.9).count()
        return f"{got:,} pairs (expect {nd_ct // 100:,} planted)"

    run("containment_zipf_200k", nd_ct, _containment)

    section_break()

    # 25) Media fingerprint lane: 20k real WAV clips × 50k samples
    # (1 GB of PCM) through the full container decode + vectorized
    # energy fingerprint — the lane the round-6 numpy rewrite targets
    # (per-clip microbench: 4.57 ms -> 0.46 ms for the energy windows
    # on a 50k-sample clip; this measures the at-scale wall including
    # the RIFF walk and Arrow transfer).
    import struct as _struct

    import numpy as _np

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.multimodal import (  # noqa: E501
        MEDIA_SCHEMA,
        fingerprint_audio,
    )

    n_clips, clip_len = 20_000, 50_000

    def _wav_partition(batches):
        import pandas as pd

        hdr_fmt = b"fmt " + _struct.pack(
            "<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8
        )
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                pcm = (
                    (int(mid) + _np.arange(clip_len)) % 256
                ).astype(_np.uint8).tobytes()
                body = (
                    b"WAVE" + hdr_fmt
                    + b"data" + _struct.pack("<I", len(pcm)) + pcm
                )
                payload = b"RIFF" + _struct.pack("<I", len(body)) + body
                rows.append(
                    {
                        "media_id": int(mid),
                        "kind": "audio",
                        "payload": payload,
                        "meta": {
                            "mime": "x-media/audio",
                            "width": None,
                            "height": None,
                            "duration_ms": clip_len * 1000 // 8000,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    clips = (
        spark.range(0, n_clips)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_wav_partition, MEDIA_SCHEMA)
    )
    run(
        "audio_fingerprint_20k_50ks",
        n_clips,
        lambda: str(fingerprint_audio(clips).count())
        + " clips fingerprinted (1 GB PCM decoded)",
    )

    total = round(sum(r[2] for r in results), 2)
    print(f"TOTAL {total}s for {len(results)} workloads at base n={n:,}")
    out_path = os.environ.get("SPARK_GRAFT_SMOKE_OUT")
    if out_path:
        try:
            head = subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                capture_output=True, text=True, cwd=REPO_ROOT,
            ).stdout.strip() or "unknown"
        except Exception:  # noqa: BLE001 - provenance is best-effort
            head = "unknown"
        artifact = {
            "base_rows": n,
            "total_s": total,
            "workloads": [
                {"name": nm, "rows": rw, "seconds": dt, "verdict": vd}
                for nm, rw, dt, vd in results
            ],
            "git_head": head,
            "host": __import__("socket").gethostname(),
            "timestamp": time.strftime(
                "%Y-%m-%dT%H:%M:%S+00:00", time.gmtime()
            ),
        }
        with open(out_path, "w") as fh:
            json.dump(artifact, fh, indent=1)
            fh.write("\n")
        print(f"artifact -> {out_path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
