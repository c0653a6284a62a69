"""Benchmark harness: runs the headline queries at the configured scale
factor and prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all cores).

Each query is forced through the noop sink — full computation, no
driver-side collect bottleneck — after a warm-up of the session JVM.
Every lane follows one timing rule (``time_lane``): one untimed warm-up
run, then ``TIMED_RUNS`` timed runs; ``queries`` reports the minimum
and ``spread`` max−min of the timed runs.
"""

from __future__ import annotations

import json
import os
import socket
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from enterprise_sales_data_pipeline_using_aws_lambda_spark.session import (  # noqa: E402
    get_spark,
)


def _git_head() -> str:
    """Short commit id of the tree this run measured (provenance for
    BENCH_LAST.json — VERDICT r11 item 3); 'unknown' outside git."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except Exception:  # noqa: BLE001 - provenance is best-effort
        return "unknown"


def _default_runner() -> str:
    """Attributable fallback for the runner stamp (round-12 VERDICT
    item 4: the driver's archives all read 'unspecified' because only
    the builder/judge export SPARK_GRAFT_BENCH_RUNNER) — user@host:pid
    from public stdlib APIs, so every archive names SOME actor."""
    import getpass

    try:
        user = getpass.getuser()
    except Exception:  # noqa: BLE001 - no passwd entry / env
        user = "unknown"
    return f"{user}@{socket.gethostname()}:{os.getpid()}"


def _utc_now_iso() -> str:
    import datetime

    return datetime.datetime.now(datetime.timezone.utc).isoformat(
        timespec="seconds"
    )


#: Timed runs per lane, after one untimed warm-up run that pays plan
#: compilation and codegen JIT (~5-10 s on the MinHash lanes).  The
#: minimum is the steady-state cost a recurring production job sees;
#: max−min over the timed runs is the lane's measured noise.
TIMED_RUNS = 3


def time_lane(run: Callable[[], float]) -> tuple[float, float, int]:
    """(min, spread, timed runs) of one lane.  ``run`` executes the
    lane once and returns its measured seconds.

    A warm-up failure propagates, so the caller lists the lane as
    failed; so does a failure of the first timed run, which leaves no
    sample.  A failure on a LATER timed run keeps the samples already
    taken (fewer than ``TIMED_RUNS`` in the run count shows it)."""
    run()
    runs = [run()]
    try:
        for _ in range(TIMED_RUNS - 1):
            runs.append(run())
    except Exception:  # noqa: BLE001 - keep the good sample(s)
        pass
    return round(min(runs), 3), round(max(runs) - min(runs), 3), len(runs)


#: The queries that define this engine's headline cost profile: the
#: reference surface (summary, dedup, upsert, validation), the TPC-H-ish
#: analytics, and the LLM-pipeline extensions.
HEADLINE = [
    "ref_sales_summary",
    "ref_dedup_keep_last",
    "ref_upsert",
    "ref_validate_counts",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "window_top_orders_per_cust",
    "window_running_total",
    "agg_rollup_returns",
    "event_daily_agg",
    "text_quality",
    "text_tokens",
    "text_fingerprint",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    # relational-completeness + time-series surface
    "agg_cube_status_priority",
    "global_topk_orders",
    "window_rank_suite",
    "percentile_summary",
    "scalar_subquery_small_qty",
    "in_subquery_big_orders",
    "exists_late_orders",
    "asof_click_purchase",
    "range_join_error_burst",
    "json_props_stats",
    "embedding_vector_stats",
    "top_terms",
    "event_sessionize",
    "argmin_supplier_per_nation",
    "sliding_window_event_rate",
    "document_pipeline",
    "full_outer_nation_balance",
    "distinct_users_daily",
    "variant_props_banded",
    "scd2_customer_segments",
    "tfidf_top_terms",
    "histogram_order_values",
    "unpivot_status_totals",
    "profile_lineitem_stats",
    "pmi_bigrams",
    "nullsafe_join_segments",
    "funnel_stages",
    "disjunctive_promo_revenue",
    "daily_revenue_dense",
    "try_functions_safety",
    "regression_per_flag",
    "mad_robust_spread",
    "collect_order_arrays",
    "map_status_counts",
    "cube_with_grouping_id",
    "chunk_documents_fixed",
    "llm_data_pipeline",
    "shipping_delay_stats",
    "ratio_to_report_lang_share",
    "order_history_features",
    "embedding_preprocess",
    "chunk_documents_boundary",
    # round-2 additions: corpus curation, retrieval, sketch rollups
    "boilerplate_ngram_stats",
    "passage_dedup_stats",
    "feature_hash_vectors",
    "deterministic_split_docs",
    "bm25_retrieval",
    "inverted_index_topk",
    "hll_sketch_rollup",
    "topk_sketch_rollup",
    # round-3 additions: LM scoring, curation splits, decontamination,
    # sequence packing, quantile filtering, OOV profiling
    "lm_perplexity_scores",
    "doc_repetition_stats",
    "benchmark_decontamination",
    "pii_scrub_contacts",
    "mixture_resample_docs",
    "training_split_summary",
    "sequence_packing",
    "quality_percentile_filter",
    "oov_rate_by_source",
    "stratified_split_quotas",
    "dup_cluster_size_profile",
    "debounce_events",
    "bloom_incremental_dedup",
    "event_transition_matrix",
    "token_entropy_quality",
    "basket_part_pairs_lift",
    "dedup_edit_distance_blocked",
    "ewma_monthly_revenue",
    "weighted_median_price",
    "skyline_price_quantity",
    "dedup_token_sort_fingerprint",
    # round-4 queue (driver rows next round; benched now)
    "pagerank_part_graph",
    "record_linkage_scores",
    "score_quantile_normalize",
    "incremental_agg_maintenance",
    "triangle_count_parts",
    "dq_expectation_suite",
    "snapshot_diff",
    "daily_value_percentiles",
    "pattern_three_rising",
    "higher_order_array_ops",
    "winsorized_stats",
    "gap_fill_forward",
    "udtf_keyvalue_explode",
    "conversion_latency_percentiles",
    "vwap_monthly",
    # round-4 additions (cheap lanes only; the minhash-composed gates
    # near_dup_cluster_canonical / cross_split_contamination and the
    # quadratic-on-this-corpus exact_jaccard_prefix_join are gate-only)
    "sessionized_funnel_rates",
    "rolling_7d_user_value",
    "contingency_expected_cells",
    "rolling_distinct_users_7d",
    "user_retention_cohorts",
    "top_event_paths",
    "embedding_gram_matrix",
    # round-5 additions (cheap lanes; containment_prefix_join is
    # gate-only — like exact_jaccard_prefix_join it is quadratic on
    # this synthetic self-similar corpus [52 s at sf0.1], while the
    # 200k-doc Zipf scale smoke shows the realistic-corpus cost).
    # peak_concurrent_sessions starts the cost trend for the round-5
    # migrated global_cumsum sweep shape.
    "audio_energy_fingerprints",
    "video_frame_ahash",
    "dedup_repeated_spans",
    "peak_concurrent_sessions",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans.queries import (
        QUERIES,
    )

    # Warm up the JVM / codegen paths and the Python worker pool (Arrow +
    # pandas import cost lands on the first mapInPandas otherwise).
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    region.count()
    region.mapInPandas(lambda it: it, region.schema).count()

    def _minhash_engine_only(spark_, sf_dir_):
        # The dedup_minhash_lsh GATE folds an exact-Jaccard verify stage
        # (its oracle upgrade); benching the engine path separately
        # keeps the engine's own cost trend visible.
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
            minhash_near_duplicates,
        )
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (  # noqa: E501
            read_table,
        )

        return minhash_near_duplicates(
            read_table(spark_, sf_dir_, "documents"),
            threshold=0.5,
            verify=False,
        )

    # Composed daily-ingest lane (round-7, VERDICT r6 item 4): the
    # store-backed ingest_dedup_batch at the 100k-corpus + 2k-batch
    # class, against a REAL on-disk id-clustered lake + LSH store
    # built once outside the clock.  Each timed run pays what a
    # production batch pays: store meta read, batch hygiene, the
    # id-level exactly-once pre-filter, batch-linear sign/band, the
    # broadcast bucket probe, and the pushed-id-filter verify read —
    # so store-path regressions show up round-over-round like
    # dedup_minhash_lsh_engine does.  Read-only (no append), so
    # repeated runs are identical.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    _ingest_dirs = tempfile.mkdtemp(prefix="bench_ingest_")

    def _text(seed):
        return F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda p: F.concat(F.lit("w"), F.pmod(
                F.xxhash64(seed, p), F.lit(10**15))),
        ))

    def _ingest_setup(spark_):
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
            write_lsh_signature_store,
        )
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (  # noqa: E501
            append_log_idempotent,
        )

        nd, nb = 100_000, 2_000

        corpus = spark_.range(0, nd).select(
            F.col("id").alias("doc_id"), _text(F.col("id")).alias("text")
        )
        planted = (F.col("id") - nd) % 10 == 0  # 200 dups in 2k
        seed = F.when(
            planted, ((F.col("id") - nd) / 10).cast("long") * 499 + 3
        ).otherwise(F.col("id") + nd)
        batch = spark_.range(nd, nd + nb).select(
            F.col("id").alias("doc_id"), _text(seed).alias("text")
        )
        lake = f"{_ingest_dirs}/lake"
        store = f"{_ingest_dirs}/store"
        append_log_idempotent(
            spark_, corpus, lake, "b0", sort_col="doc_id", sort_files=16
        )
        write_lsh_signature_store(corpus, store)
        return batch, lake, store

    _ingest_state: dict = {}

    def _ingest_dedup_store(spark_, sf_dir_):
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
            ingest_dedup_batch,
        )

        # the one-time lake+store bootstrap runs OUTSIDE the clock (the
        # explicit pre-build below) — if it ever leaked into a timed
        # sample it would silently corrupt the lane's min/spread
        assert _ingest_state, "ingest lane timed before its pre-build"
        lake_docs = spark_.read.parquet(
            _ingest_state["lake"]
        ).select("doc_id", "text")
        clean, _pairs = ingest_dedup_batch(
            lake_docs, _ingest_state["batch"], _ingest_state["store"],
            threshold=0.7,
        )
        return clean

    # aux entries are measured identically but reported OUTSIDE
    # "queries" (and the headline total): they are not registry gate
    # queries, just cost-trend instrumentation.
    AUX = {
        "dedup_minhash_lsh_engine": _minhash_engine_only,
        "ingest_dedup_store_100k_2k": _ingest_dedup_store,
    }

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import (  # noqa: E501
        release_checkpoints,
    )

    def _lane(fn) -> Callable[[], float]:
        def run() -> float:
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                # stop the clock BEFORE the release so the measured
                # time stays comparable with earlier rounds
                return time.perf_counter() - t0
            finally:
                # localCheckpoint blocks otherwise accumulate across
                # the suite and the heap/GC pressure taxes later
                # queries — including after a FAILED lane, hence the
                # finally
                release_checkpoints(spark)

        return run

    # Per-query isolation: one broken lane must not cost the round its
    # entire bench line — failures are reported by name and excluded
    # from the total rather than crashing the run.
    timings, spreads, nruns, failed = {}, {}, {}, {}
    for name in HEADLINE:
        try:
            timings[name], spreads[name], nruns[name] = time_lane(
                _lane(QUERIES[name])
            )
        except Exception as e:  # noqa: BLE001 - report, don't die
            failed[name] = (str(e).splitlines() or ['<no message>'])[0][:200]
    aux = {}
    try:
        # one-time lake+store build OUTSIDE the clock — the lane
        # measures the per-batch ingest, not the bootstrap
        _ingest_state["batch"], _ingest_state["lake"], \
            _ingest_state["store"] = _ingest_setup(spark)
        release_checkpoints(spark)
    except Exception as e:  # noqa: BLE001
        failed["ingest_dedup_store_100k_2k"] = (
            str(e).splitlines() or ['<no message>']
        )[0][:200]
        AUX.pop("ingest_dedup_store_100k_2k", None)
    for name, fn in AUX.items():
        try:
            aux[name], spreads[name], nruns[name] = time_lane(_lane(fn))
        except Exception as e:  # noqa: BLE001
            failed[name] = (str(e).splitlines() or ['<no message>'])[0][:200]

    # Third AUX lane (round-8, VERDICT r7 item 5): store-compaction
    # maintenance cost at the 100k class.  Runs AFTER the read-only
    # ingest lane so it can mutate the same store: 20 per-batch
    # signature appends fragment it (one file per table per batch —
    # exactly what a daily loop accretes) OUTSIDE the clock, then ONE
    # timed compact_lsh_signature_store run rewrites both tables
    # id-clustered.  Single-sample by construction (compaction is
    # one-shot; a second run would time the no-op path), so the
    # reported spread is 0 and runs=1 — read its trend against that.
    if "ingest_dedup_store_100k_2k" not in failed:
        try:
            from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
                append_batch_signatures,
                compact_lsh_signature_store,
            )

            nd = 100_000
            for i in range(20):
                frag = spark.range(
                    nd + 10_000 + i * 500, nd + 10_000 + (i + 1) * 500
                ).select(
                    F.col("id").alias("doc_id"),
                    _text(F.col("id")).alias("text"),
                )
                append_batch_signatures(frag, _ingest_state["store"])
            release_checkpoints(spark)
            t0 = time.perf_counter()
            compact_lsh_signature_store(spark, _ingest_state["store"])
            aux["lsh_store_compaction_110k_20appends"] = round(
                time.perf_counter() - t0, 3
            )
            spreads["lsh_store_compaction_110k_20appends"] = 0.0
            nruns["lsh_store_compaction_110k_20appends"] = 1
        except Exception as e:  # noqa: BLE001
            failed["lsh_store_compaction_110k_20appends"] = (
                str(e).splitlines() or ['<no message>']
            )[0][:200]
    shutil.rmtree(_ingest_dirs, ignore_errors=True)

    # sf parse must NOT be able to lose the whole JSON line after the
    # suite already ran: a non-"sf<number>" basename (custom
    # SPARK_GRAFT_SF_DIR) falls back to the raw dir string
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base[2:]) if base.startswith("sf") else sf_dir
    except ValueError:
        sf = sf_dir
    # Key ORDER is load-bearing: the driver archives only the LAST
    # 2000 characters of stdout, so the bulk per-query maps go FIRST
    # and the graded summary (total, slowest lanes with spreads, sf)
    # goes LAST — the archived tail alone must answer "total + top
    # movers" (round-5 artifact gripe: the tail held only
    # runs_per_query and carried no usable numbers).
    slowest = {
        name: [timings[name], spreads.get(name, 0.0)]
        for name in sorted(timings, key=timings.get, reverse=True)[:15]
    }
    result = {
        "queries": timings,
        # max−min across a query's runs: the measured same-code noise
        # floor a regression claim must clear
        "spread": spreads,
        "runs_per_query": nruns,
        "aux": aux,
        "timing": (
            f"one untimed warm-up run, then min of {TIMED_RUNS} timed "
            "runs per lane; spread = max-min of the timed runs; "
            f"runs_per_query below {TIMED_RUNS} means a later timed "
            "run failed"
        ),
        "metric": "headline_queries_total_wall_seconds",
        "unit": "sec",
        "n_queries": len(timings),
        "slowest": slowest,
        # run provenance (VERDICT r11 item 3): stamped on every run so
        # the archive identifies which tree/box/actor produced it
        "git_head": _git_head(),
        "timestamp": _utc_now_iso(),
        "host": socket.gethostname(),
        "runner": (
            os.environ.get("SPARK_GRAFT_BENCH_RUNNER")
            or _default_runner()
        ),
        "value": round(sum(timings.values()), 3),
        "sf": sf,
    }
    if failed:
        result["failed"] = failed
    # Archive of the run (a stdout capture may keep only the line's
    # tail).  Written before the print so a broken pipe cannot lose it.
    try:
        with open(
            os.path.join(
                os.path.dirname(__file__), "BENCH_LAST.json"
            ),
            "w",
        ) as fh:
            json.dump(result, fh, indent=1)
            fh.write("\n")
    except Exception:  # noqa: BLE001 - archive is best-effort
        pass
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
