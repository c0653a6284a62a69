"""Physical-plan audits: the scale claims in the query docstrings are
asserted against ``explain``, not just stated.  Each test pins the plan
property that makes the query viable at 100 TB — parquet filter/column
pushdown, broadcast vs shuffle join selection, heap top-k instead of a
global sort, window-expression fusion, and partial aggregation before
the shuffle."""

from pyspark.sql import functions as F

from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans.queries import (
    QUERIES,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_and_column_pushdown(spark, sf_dir):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        read_table,
    )

    li = read_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice"
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    # Predicate reaches the scan...
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan
    # ...and only the 3 referenced columns are read, not all 11.
    assert "ReadSchema" in plan
    sch = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in sch and "l_extendedprice" in sch
    assert "l_quantity" not in sch and "l_shipdate" not in sch


def test_small_dim_join_is_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_global_topk_plans_as_heap_not_sort(spark, sf_dir):
    plan = plan_of(QUERIES["global_topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # No global Exchange-then-Sort for the limit.
    assert "rangepartitioning" not in plan.lower()


def test_window_suite_is_single_window_operator(spark, sf_dir):
    plan = plan_of(QUERIES["window_rank_suite"](spark, sf_dir))
    # 7 ordered window expressions + 1 unordered partition count must
    # fuse into exactly two Window operators (one per frame spec), i.e.
    # one shuffle+sort total — not one Window per expression.
    assert plan.count("Window") <= 2


def test_agg_has_partial_phase_before_shuffle(spark, sf_dir):
    plan = plan_of(QUERIES["ref_sales_summary"](spark, sf_dir))
    # partial_ aggregate functions upstream of the exchange = map-side
    # combine; only per-group partials cross the network.
    assert "partial_" in plan


def test_scalar_subquery_broadcasts_aggregate_side(spark, sf_dir):
    plan = plan_of(QUERIES["scalar_subquery_small_qty"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_semi_and_anti_joins_planned_as_joins(spark, sf_dir):
    semi = plan_of(QUERIES["semi_join_active_customers"](spark, sf_dir))
    anti = plan_of(QUERIES["anti_join_inactive_customers"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_intersect_plans_as_semi_join_not_cartesian(spark, sf_dir):
    plan = plan_of(QUERIES["intersect_repeat_customers"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_interval_join_is_hash_join_not_nested_loop(spark, sf_dir):
    plan = plan_of(QUERIES["range_join_error_burst"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_shuffle_no_join_node(spark):
    # The as-of union+window formulation contains NO join operator at
    # all and exactly one exchange (for the window sort) — cost is one
    # sort of |L|+|R| regardless of match fan-out.
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.joins import (
        asof_join,
    )

    left = spark.range(0, 100).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_seconds(F.col("id") * 60).alias("lts"),
    )
    right = spark.range(0, 40).select(
        (F.col("id") % 5).alias("k"),
        F.timestamp_seconds(F.col("id") * 150).alias("rts"),
        (F.col("id") * 1.0).alias("v"),
    )
    plan = plan_of(asof_join(left, right, ["k"], "lts", "rts", ["v"]))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_rotation_and_bench_integrity():
    """The driver checks exactly 50 queries() entries in dict order, so
    rotation bugs silently waste a round: assert the explicit priority
    block leads the dict, every name resolves, and every bench HEADLINE
    entry is a registered query."""
    import __spark_entry__ as entry
    import bench

    qs = entry.queries()
    names = list(qs)
    explicit = (
        entry.R13_RED + entry.CHANGED_THIS_ROUND + entry.NEW_THIS_ROUND
        + entry.OLDEST_R10 + entry.OLDEST_R11_FILLERS
    )
    assert len(explicit) == len(set(explicit)), "duplicate rotation entry"
    missing = [n for n in explicit if n not in qs]
    assert not missing, f"rotation names not registered: {missing}"
    assert names[: len(explicit)] == explicit, (
        "explicit rotation block must lead queries() exactly"
    )
    # Red/changed/new/r9-stale must fit the 50-slot budget; the r10
    # fillers then top the block up to exactly the driver's 50 slots.
    must_check = (
        entry.R13_RED + entry.CHANGED_THIS_ROUND + entry.NEW_THIS_ROUND
        + entry.OLDEST_R10
    )
    assert len(must_check) <= 50, "must-check block exceeds driver budget"
    assert len(explicit) == 50, "rotation block must fill all 50 slots"
    bad = [n for n in bench.HEADLINE if n not in qs]
    assert not bad, f"bench HEADLINE entries not registered: {bad}"
    oracles = entry.oracle_sql()
    assert set(oracles) == set(qs), "oracle/query key sets diverge"


def test_join_strategy_hints_are_honored(spark):
    """Planner-control surface: hints select the physical join, the
    manual override for the rare case AQE/statistics get it wrong
    (e.g. forcing shuffle-hash when one side is small-but-beyond the
    broadcast threshold, or merge for a pre-sorted pipeline)."""
    from pyspark.sql import functions as F

    a = spark.range(10_000).select(F.col("id").alias("k"), "id")
    b = spark.range(1_000).select(F.col("id").alias("k"))

    assert "BroadcastHashJoin" in plan_of(a.join(b.hint("broadcast"), "k"))
    assert "ShuffledHashJoin" in plan_of(
        a.join(b.hint("shuffle_hash"), "k")
    )
    assert "SortMergeJoin" in plan_of(a.join(b.hint("merge"), "k"))


def test_in_filter_boundary_executes_at_both_tiers(spark, tmp_path):
    """Parquet's exact-In pushdown recurses per value: a 1000-value In
    StackOverflowErrors an executor on default thread stacks (measured;
    999 was the ceiling on this box), which is why the session pins
    inFilterThreshold WELL below the 10k collect guards instead of
    matching them.  Pin the whole ladder by EXECUTION, not by reading
    the conf: an isin exactly AT the threshold (max-depth exact-In
    pushdown) and one at MAX_ID_PUSHDOWN (the range-degraded tier the
    guarded fast paths rely on past the threshold) must both scan
    correctly — if someone raises the threshold into the crash zone,
    the first scan dies here instead of inside a production verify."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.idfilter import (
        MAX_ID_PUSHDOWN,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        MAX_VERIFY_ID_PUSHDOWN,
    )

    thr = int(
        spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold")
    )
    assert thr <= 999  # the measured executor-stack ceiling
    assert MAX_VERIFY_ID_PUSHDOWN == MAX_ID_PUSHDOWN
    path = str(tmp_path / "t")
    spark.range(0, 50_000).select(
        F.col("id").alias("doc_id")
    ).write.parquet(path)
    t = spark.read.parquet(path)
    for k in (thr, MAX_ID_PUSHDOWN):
        ids = list(range(0, 2 * k, 2))
        assert t.filter(F.col("doc_id").isin(ids)).count() == len(
            [i for i in ids if i < 50_000]
        )


def test_no_inferred_filter_duplicates_shingling(spark, sf_dir):
    """InferFiltersFromGenerate is excluded in get_spark: the rule
    synthesizes `size(shingles) > 0` from the minhash explode, and
    PushDownPredicates then substitutes the WHOLE shingling expression
    into that filter and pushes it below ensure_min_parallelism's
    round-robin exchange — the full char-n-gram CPU runs serially in
    the 1-split parquet scan stage, then is recomputed in parallel
    above (measured 7.7-9.3 s -> 5.2-5.8 s on dedup_minhash_lsh at
    sf0.1 once excluded).  Pin that no Filter in the optimized plan
    carries the duplicated array_distinct shingle expression."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
        minhash_signatures,
        shingle_sets,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        read_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    plan = optimized_of(minhash_signatures(shingle_sets(docs, n=5)))
    for line in plan.splitlines():
        if line.lstrip().startswith(("Filter", "+- Filter")):
            assert "array_distinct" not in line, (
                "shingle expression duplicated into an inferred filter:\n"
                + line
            )


def test_plan_digest_baseline_tripwire(spark):
    """PLANS_DIGEST.txt is the committed per-query physical-plan
    digest baseline the rotation's plan-change detection diffs
    against (``tools/explain_audit.py --all``).  A representative
    cross-section — aggregation, broadcast dim joins, heap top-k,
    fused windows, JSON extraction, the single-shuffle as-of join, a
    subquery, and a documents-table hash dedup — is pinned here so an
    UNINTENTIONAL plan change fails the suite loudly.  On an
    intentional change: regenerate the baseline in the same commit
    and front the query in the driver rotation
    (``__spark_entry__.py``'s CHANGED_THIS_ROUND).  Digests are
    computed at the baseline's sf0.01 (plan shape at other SFs may
    legitimately differ) and are core-count-invariant (verified at
    8 and 32 cores)."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "explain_audit", os.path.join(root, "tools", "explain_audit.py")
    )
    ea = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ea)

    baseline = {}
    with open(os.path.join(root, "PLANS_DIGEST.txt")) as fh:
        for line in fh:
            if line.startswith("#") or "\t" not in line:
                continue
            name, dig = line.rstrip("\n").split("\t", 1)
            baseline[name] = dig

    # Set equality, not just count: a rename (one added, one removed)
    # keeps the count while leaving a stale line AND a missing line —
    # report the symmetric difference instead of surfacing later as a
    # raw KeyError (round-9 ADVICE, tests/test_plans.py:251).
    assert set(baseline) == set(QUERIES), (
        "PLANS_DIGEST.txt is stale (regenerate with "
        "tools/explain_audit.py --all): "
        f"missing={sorted(set(QUERIES) - set(baseline))} "
        f"extra={sorted(set(baseline) - set(QUERIES))}"
    )

    representative = [
        "q1_pricing_summary", "q5_local_supplier_volume",
        "global_topk_orders", "window_rank_suite", "json_props_stats",
        "asof_click_purchase", "in_subquery_big_orders",
        "dedup_exact_docs",
    ]
    moved = []
    for name in representative:
        # ea.BASELINE_SF_DIR, not a literal: the --all regeneration
        # path and this tripwire must digest at the SAME SF by
        # construction (round-9 ADVICE, tests/test_plans.py:263)
        got = ea.digest(plan_of(QUERIES[name](spark, ea.BASELINE_SF_DIR)))
        if got != baseline[name]:
            moved.append(f"{name}\n  baseline: {baseline[name]}\n  now:      {got}")
    assert not moved, (
        "physical-plan digest moved vs the committed baseline — if "
        "intentional, regenerate PLANS_DIGEST.txt in this commit and "
        "front the query in the rotation:\n" + "\n".join(moved)
    )


def test_bench_time_lane_warmup_and_failures():
    """bench.py's one timing rule, driven by a fake lane that reports
    canned seconds: one untimed warm-up, then exactly TIMED_RUNS timed
    runs (min + max-min spread over those only); a failure after the
    first timed run keeps the earlier samples; a warm-up failure
    propagates, which main() reports under 'failed'."""
    import pytest

    import bench

    k = bench.TIMED_RUNS
    assert k >= 2

    def fake_lane(samples):
        calls = []

        def run():
            calls.append(len(calls))
            s = samples[len(calls) - 1]
            if isinstance(s, Exception):
                raise s
            return s

        return run, calls

    # warm-up (100.0, slowest) is excluded from min and spread
    run, calls = fake_lane([100.0] + [2.0 + i for i in range(k)] + [0.5])
    assert bench.time_lane(run) == (2.0, float(k - 1), k)
    assert len(calls) == 1 + k  # the trailing 0.5 is never taken

    # a failure on the last timed run keeps the k-1 earlier samples
    good = [3.0 - 0.5 * i for i in range(k - 1)]
    run, calls = fake_lane([100.0, *good, RuntimeError("boom"), 0.1])
    assert bench.time_lane(run) == (min(good), max(good) - min(good), k - 1)
    assert len(calls) == 1 + k

    # a warm-up failure propagates (no sample taken)
    run, calls = fake_lane([RuntimeError("cold boom"), 1.0, 1.0, 1.0])
    with pytest.raises(RuntimeError, match="cold boom"):
        bench.time_lane(run)
    assert len(calls) == 1


def test_bench_runner_stamp_defaults_to_attributable_actor():
    """Round-12 VERDICT item 4: without SPARK_GRAFT_BENCH_RUNNER the
    archives stamped runner='unspecified', making the archive
    unattributable.  The fallback is user@host:pid from public
    stdlib APIs; the env var still wins when set."""
    import getpass
    import os
    import socket

    import bench

    stamp = bench._default_runner()
    assert stamp != "unspecified"
    assert stamp.endswith(f":{os.getpid()}")
    assert socket.gethostname() in stamp
    assert stamp.startswith(getpass.getuser() + "@")
