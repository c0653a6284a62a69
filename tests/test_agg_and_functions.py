"""Aggregate A1 against hand-computed values (SURVEY §5.2) + scalar
date functions + property invariants from the sample schema (§1.3)."""

import datetime

from pyspark.sql import functions as F

from enterprise_sales_data_pipeline_using_aws_lambda_spark.functions.dates import (
    format_date,
    parse_mdY,
)
from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
    sales_summary,
)


def test_sales_summary_hand_computed(spark, sales_df):
    out = {r["Country"]: r for r in sales_summary(sales_df).collect()}
    g = out["Germany"]
    # Germany rows: units 100/200 @ price 10 cost 6
    assert g["max_units_sold"] == 200
    assert g["average_total_revenue"] == (1000.0 + 2000.0) / 2
    assert g["average_total_cost"] == (600.0 + 1200.0) / 2
    assert g["average_total_profit"] == (400.0 + 800.0) / 2
    assert set(out) == {"Germany", "France", "Japan"}


def test_parse_and_format_roundtrip(spark):
    df = spark.createDataFrame([("3/8/2016",), ("12/31/2014",)], "d string")
    out = df.select(
        parse_mdY("d").alias("parsed"),
        format_date(parse_mdY("d")).alias("fmt"),
    ).collect()
    assert out[0]["parsed"] == datetime.date(2016, 3, 8)
    assert out[0]["fmt"] == "2016-03-08"
    assert out[1]["fmt"] == "2014-12-31"


def test_sales_invariants_hold_on_fixture(sales_df):
    """TotalRevenue = UnitsSold*UnitPrice etc. (SURVEY §1.3) — the
    property the reference sample data satisfies on all 500 rows."""
    bad = sales_df.filter(
        (F.abs(F.col("TotalRevenue") - F.col("UnitsSold") * F.col("UnitPrice"))
         > 1e-6)
        | (F.abs(F.col("TotalProfit")
                 - (F.col("TotalRevenue") - F.col("TotalCost"))) > 1e-6)
    )
    assert bad.count() == 0


def test_exact_percentiles_matches_builtin(spark, sf_dir):
    """Distributed-selection percentiles == F.percentile (exact
    percentile_cont) on real data, across interpolated and non-
    interpolated ranks."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        exact_percentiles,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r["l_returnflag"]: r
        for r in exact_percentiles(
            li,
            ["l_returnflag"],
            "l_extendedprice",
            [0.0, 0.25, 0.5, 0.9, 1.0],
            ["p0", "p25", "p50", "p90", "p100"],
        ).collect()
    }
    want = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            *[
                F.percentile("l_extendedprice", F.lit(p)).alias(n)
                for p, n in [(0.0, "p0"), (0.25, "p25"), (0.5, "p50"),
                             (0.9, "p90"), (1.0, "p100")]
            ]
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        for c in ["p0", "p25", "p50", "p90", "p100"]:
            assert abs(got[k][c] - want[k][c]) < 1e-6, (k, c)


def test_global_cumsum_matches_single_partition_window(spark, sf_dir):
    """Range-partitioned cumulative sum == the single-partition global
    window it replaces, even with ties and many partitions."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        global_cumsum,
    )
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    got = global_cumsum(
        o,
        [F.asc("o_orderpriority"), F.asc("o_orderkey")],
        "o_totalprice",
        out_col="cum",
        num_partitions=13,
    )
    w = Window.orderBy(F.asc("o_orderpriority"), F.asc("o_orderkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = o.withColumn("cum", F.sum("o_totalprice").over(w))
    diff = (
        got.select("o_orderkey", F.round("cum", 4).alias("cum"))
        .exceptAll(want.select("o_orderkey", F.round("cum", 4).alias("cum")))
        .count()
    )
    assert diff == 0


def test_exact_percentiles_ignores_nulls(spark):
    """percentile_cont parity: NULL values neither rank nor count."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        exact_percentiles,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("a", None), ("b", 10.0)],
        "g string, v double",
    )
    out = {
        r["g"]: r["p50"]
        for r in exact_percentiles(df, ["g"], "v", [0.5], ["p50"]).collect()
    }
    assert out == {"a": 2.0, "b": 10.0}


def test_exact_percentiles_property_random(spark):
    """Property check on adversarial-ish random data (ties, skewed
    groups, negative values): distributed selection == F.percentile for
    every group and every p."""
    import random

    rng = random.Random(7)
    rows = []
    for g in ["x", "y", "z"]:
        n = rng.choice([1, 2, 5, 97])
        vals = [round(rng.gauss(0, 100), 1) for _ in range(n)]
        if n > 3:
            vals[1] = vals[0]  # force ties
            vals[2] = vals[0]
        rows += [(g, v) for v in vals]
    df = spark.createDataFrame(rows, "g string, v double").repartition(11)

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        exact_percentiles,
    )

    ps = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]
    names = [f"q{i}" for i in range(len(ps))]
    got = {
        r["g"]: r
        for r in exact_percentiles(df, ["g"], "v", ps, names).collect()
    }
    want = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(*[F.percentile("v", F.lit(p)).alias(n) for p, n in zip(ps, names)])
        .collect()
    }
    assert set(got) == set(want)
    for g in want:
        for n in names:
            assert abs(got[g][n] - want[g][n]) < 1e-9, (g, n)


def test_materialize_mode_switch(spark, tmp_path):
    """materialize() honors spark.graft.checkpoint.mode: 'local' (the
    default) localCheckpoints; 'reliable' writes a real checkpoint to
    the configured directory (cluster-durable — survives executor
    loss); anything else fails fast."""
    import os

    import pytest as _pytest

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import (
        CHECKPOINT_MODE_KEY,
        materialize,
    )

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    local = materialize(df)
    assert local.count() == 100

    ckdir = str(tmp_path / "reliable_ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set(CHECKPOINT_MODE_KEY, "reliable")
    try:
        rel = materialize(df)
        assert rel.count() == 100
        # the reliable checkpoint actually landed on disk
        assert any(os.scandir(ckdir))
        spark.conf.set(CHECKPOINT_MODE_KEY, "bogus")
        with _pytest.raises(ValueError, match="local.*reliable|reliable.*local"):
            materialize(df)
    finally:
        spark.conf.set(CHECKPOINT_MODE_KEY, "local")


def test_reliable_mode_composed_pipelines_e2e(spark, tmp_path):
    """The cluster-durability switch exercised END-TO-END (round-7
    review item 4): a 1000-executor run would set
    spark.graft.checkpoint.mode=reliable so iteration lineage cuts
    survive executor loss — so the composed pipelines that lean on
    materialize() (the 10-round pagerank gate and the store-backed
    text-dedup ingest step) must produce IDENTICAL results under
    reliable mode, with real checkpoint files landing in the
    setCheckpointDir directory."""
    import os

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import (
        CHECKPOINT_MODE_KEY,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
        ingest_dedup_batch,
        write_lsh_signature_store,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans.queries import (
        QUERIES,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        read_table,
    )

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents")

    corpus = docs.filter("doc_id % 10 != 0")
    batch = docs.filter("doc_id % 10 = 0")

    def run_ingest(store):
        write_lsh_signature_store(corpus, store)
        clean, pairs = ingest_dedup_batch(corpus, batch, store)
        return (
            sorted(r["doc_id"] for r in clean.select("doc_id").collect()),
            sorted(map(tuple, pairs.collect())),
        )

    # baseline under the default local mode
    pr_local = sorted(map(tuple, QUERIES["pagerank_part_graph"](
        spark, sf
    ).collect()))
    admitted_l, pairs_l = run_ingest(str(tmp_path / "store_local"))

    ckdir = str(tmp_path / "reliable_ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set(CHECKPOINT_MODE_KEY, "reliable")
    try:
        pr_rel = sorted(map(tuple, QUERIES["pagerank_part_graph"](
            spark, sf
        ).collect()))
        assert pr_rel == pr_local and len(pr_rel) > 0
        admitted_r, pairs_r = run_ingest(str(tmp_path / "store_rel"))
        assert admitted_r == admitted_l and len(admitted_r) > 0
        assert pairs_r == pairs_l
        # the reliable checkpoints actually landed on disk
        assert any(os.scandir(ckdir))
    finally:
        spark.conf.set(CHECKPOINT_MODE_KEY, "local")


def test_mad_spread_matches_naive(spark):
    """mad_spread == median/MAD computed naively per group (percentile_
    cont semantics), including even-count interpolation."""
    import statistics

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        mad_spread,
    )

    rows = [("a", float(v)) for v in [1, 3, 5, 9]] + [
        ("b", float(v)) for v in [10, 20, 40]
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: (r["med"], r["mad"])
        for r in mad_spread(df, ["g"], "v").collect()
    }
    for g in ("a", "b"):
        vals = [v for gg, v in rows if gg == g]
        med = statistics.median(vals)
        mad = statistics.median(sorted(abs(v - med) for v in vals))
        assert got[g] == (med, mad), (g, got[g], (med, mad))


def _percentile_cont(vals, p):
    """Independent reference: ``percentile_cont`` over the sorted
    values, s[lo]*(1-f) + s[lo+1]*f with h = (n-1)*p (0-based lo)."""
    import math

    s = sorted(vals)
    h = (len(s) - 1) * p
    lo = math.floor(h)
    f = h - lo
    hi = s[lo + 1] * f if lo + 1 < len(s) else 0.0
    return s[lo] * (1.0 - f) + hi


def test_selection_bit_identical_to_reference(spark):
    """The histogram selection must return BIT-identical doubles to a
    pure-Python percentile_cont (≤2 nonzero interpolation terms per
    percentile, commutative adds) on adversarial data: mega-ties
    (single-valued buckets resolve from the histogram without
    rescan), all-equal groups (span 0 → one bucket), single-row
    groups, negatives, and skewed cardinalities.  mad_spread
    additionally exercises the derived-bounds pass-2 bucketing."""
    import random

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        exact_percentiles,
        mad_spread,
    )

    rng = random.Random(14)
    rows = []
    for g, n in [("big", 500), ("tie", 200), ("flat", 7), ("one", 1)]:
        if g == "flat":
            vals = [42.5] * n
        elif g == "tie":
            vals = [-3.0] * 150 + [rng.uniform(-1000, 1000) for _ in range(50)]
        else:
            vals = [round(rng.gauss(0, 1e6), 3) for _ in range(n)]
        rows += [(g, v) for v in vals]
    df = spark.createDataFrame(rows, "g string, v double").repartition(9)

    ps = [0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0]
    names = [f"q{i}" for i in range(len(ps))]
    pct = {
        r["g"]: tuple(r[n] for n in names)
        for r in exact_percentiles(df, ["g"], "v", ps, names).collect()
    }
    mad = {
        r["g"]: (r["med"], r["mad"])
        for r in mad_spread(df, ["g"], "v").collect()
    }

    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    assert set(pct) == set(mad) == set(groups)
    for g, vals in groups.items():
        want_pct = tuple(_percentile_cont(vals, p) for p in ps)
        med = _percentile_cont(vals, 0.5)
        want_mad = (med, _percentile_cont([abs(v - med) for v in vals], 0.5))
        # exact equality, not approx: the operators must emit the
        # reference's IEEE doubles or the oracle's grid rounding can flip
        assert pct[g] == want_pct, (g, pct[g], want_pct)
        assert mad[g] == want_mad, (g, mad[g], want_mad)


def test_sequence_packing_invariants(spark, sf_dir):
    """Packing conserves tokens, pack ids are contiguous from 0, and
    every pack except possibly the last holds ≥ budget - max_doc
    tokens (no pack is left needlessly short by the floor rule)."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans.queries import (
        QUERIES,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        read_table,
    )

    out = QUERIES["sequence_packing"](spark, sf_dir).collect()
    packs = {r["pack_id"]: (r["n_docs"], r["pack_tokens"]) for r in out}
    assert sorted(packs) == list(range(len(packs)))  # contiguous ids

    docs = read_table(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split("text", " "), lambda x: x != F.lit("")))
    agg = docs.agg(
        F.sum(toks).alias("total"), F.max(toks).alias("max_doc")
    ).first()
    assert sum(t for _, t in packs.values()) == agg["total"]  # conservation
    # a doc lands in pack floor(prefix/2048): a pack only closes once the
    # prefix crosses its boundary, so every non-final pack spans at
    # least (2048 - max_doc_tokens) tokens
    for pid in range(len(packs) - 1):
        assert packs[pid][1] > 2048 - agg["max_doc"] - 1


def test_weighted_median_matches_naive(spark):
    """weighted_median == the lower weighted median computed naively
    (expand each row weight times, take the element at ceil(n/2)),
    across random groups, weights, ties, and bucket boundaries."""
    import random

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        weighted_median,
    )

    rng = random.Random(7)
    rows = [
        (f"g{rng.randrange(3)}", float(rng.choice([0, 50, 100, 150, 199, 200, 250])),
         rng.randrange(1, 6))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, v double, w int")
    got = {
        r["g"]: r["wm"]
        for r in weighted_median(
            df, ["g"], "v", "w", bucket_width=100.0, med_alias="wm"
        ).collect()
    }
    by_g = {}
    for g, v, w in rows:
        by_g.setdefault(g, []).extend([v] * w)
    for g, vals in by_g.items():
        vals.sort()
        # lower weighted median: smallest v with cum weight >= half
        expect = vals[(len(vals) + 1) // 2 - 1]
        assert got[g] == expect, (g, got[g], expect)


def test_weighted_median_ignores_nulls_and_nonpositive_weights(spark):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        weighted_median,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", None, 9), ("a", 5.0, 0), ("a", 3.0, 1)],
        "g string, v double, w int",
    )
    [r] = weighted_median(df, ["g"], "v", "w", 10.0, "wm").collect()
    assert r["wm"] == 1.0  # only (1.0, w1) and (3.0, w1) rank


def test_weighted_median_rejects_fractional_weights(spark):
    """A double weight column fails loudly: casting 0.25 to long would
    silently zero the weight and DROP the row under the exact integer
    arithmetic — normalized-weight inputs must pre-scale instead."""
    import pytest as _pytest

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        weighted_median,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 0.25), ("a", 3.0, 0.75)],
        "g string, v double, w double",
    )
    with _pytest.raises(ValueError, match="integer weight"):
        weighted_median(df, ["g"], "v", "w", 10.0, "wm")


def test_weighted_median_decimal_weights(spark):
    """Scale-0 decimals (money-typed integral counts) cast to long
    exactly, so they are VALID weights; only fractional-capable
    decimals (scale > 0) are rejected (ADVICE r7: the blanket decimal
    rejection broke previously-valid integral-decimal callers)."""
    import pytest as _pytest
    from pyspark.sql import functions as _F

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        weighted_median,
    )

    base = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 3.0, 1), ("a", 9.0, 3)],
        "g string, v double, w int",
    )
    ok = base.withColumn("w", _F.col("w").cast("decimal(10,0)"))
    [r] = weighted_median(ok, ["g"], "v", "w", 10.0, "wm").collect()
    # cumulative weights 1,2,5 of total 5: first 2*cum >= 5 at v=9.0
    assert r["wm"] == 9.0
    bad = base.withColumn("w", _F.col("w").cast("decimal(10,2)"))
    with _pytest.raises(ValueError, match="integer weight"):
        weighted_median(bad, ["g"], "v", "w", 10.0, "wm")
    # precision past 18 can exceed the long range, where the cast
    # NULLs under non-ANSI semantics and silently drops the row —
    # rejected loudly like the fractional cases
    wide = base.withColumn("w", _F.col("w").cast("decimal(38,0)"))
    with _pytest.raises(ValueError, match="precision 18"):
        weighted_median(wide, ["g"], "v", "w", 10.0, "wm")


def test_skyline_2d_matches_bruteforce(spark):
    """Two-phase skyline == brute-force non-dominated set on random
    points with duplicates and axis ties."""
    import random

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.frontier import (
        skyline_2d,
    )

    rng = random.Random(11)
    pts = [
        (float(rng.randrange(20)), float(rng.randrange(20)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(pts, "x double, y double")
    got = {(r["x"], r["y"]) for r in skyline_2d(df, "x", "y", 8).collect()}
    dpts = set(pts)
    expect = {
        (x, y)
        for x, y in dpts
        if not any(
            (a >= x and b >= y and (a, b) != (x, y)) for a, b in dpts
        )
    }
    assert got == expect


def test_edit_distance_candidates_blocked(spark):
    """Pairs only form within a block; distance and threshold are
    exact; ids are ordered a < b."""
    from pyspark.sql import functions as F

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
        edit_distance_candidates,
    )

    df = spark.createDataFrame(
        [
            (1, "en", "the quick brown fox"),
            (2, "en", "the quick brown fix"),   # dist 1 from doc 1
            (3, "en", "zzzz completely other"),
            (4, "de", "the quick brown fox"),   # same text, other block
        ],
        "doc_id long, lang string, text string",
    )
    out = edit_distance_candidates(
        df, block_cols=[F.col("lang")], prefix_len=50, max_dist=5
    ).collect()
    assert [(r["id_a"], r["id_b"], r["dist"]) for r in out] == [(1, 2, 1)]


def test_release_checkpoints_frees_persisted_blocks(spark):
    from pyspark.sql import functions as F

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import (
        materialize,
        release_checkpoints,
    )

    df = materialize(spark.range(1000).select(F.col("id") * 2))
    assert df.count() == 1000
    assert spark.sparkContext._jsc.getPersistentRDDs().size() >= 1
    release_checkpoints(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_percentile_aliases_fractional_and_collisions(spark):
    """Default aliases must not truncate (0.29 -> p29, not p28) nor
    collide (0.99 vs 0.995 raises instead of duplicate columns)."""
    import pytest

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        exact_percentiles,
    )

    df = spark.range(101).selectExpr("'g' AS g", "CAST(id AS DOUBLE) AS v")
    out = exact_percentiles(df, ["g"], "v", [0.29, 0.995])
    assert set(out.columns) == {"g", "p29", "p99_5"}
    with pytest.raises(ValueError, match="duplicate"):
        exact_percentiles(df, ["g"], "v", [0.99, 0.99])


def test_selection_operators_keep_null_groups(spark):
    """A NULL-valued group column must produce an output row, exactly
    like percentile_cont via groupBy (review r8: the internal rejoins
    used plain equi-joins, so the NULL group silently vanished)."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        exact_percentiles,
        mad_spread,
        weighted_median,
    )

    rows = [("a", float(v), 1) for v in range(1, 6)] + [
        (None, float(v), 1) for v in (10, 20, 30)
    ]
    df = spark.createDataFrame(rows, "g string, v double, w int")

    pct = {
        r["g"]: r["p50"]
        for r in exact_percentiles(df, ["g"], "v", [0.5]).collect()
    }
    want = {
        r["g"]: r["p50"]
        for r in df.groupBy("g")
        .agg(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY v)")
             .alias("p50"))
        .collect()
    }
    assert pct == want and None in pct and pct[None] == 20.0

    mad = {
        r["g"]: (r["med"], r["mad"])
        for r in mad_spread(df, ["g"], "v").collect()
    }
    assert mad[None] == (20.0, 10.0) and mad["a"] == (3.0, 1.0)

    wm = {
        r["g"]: r["wm"]
        for r in weighted_median(df, ["g"], "v", "w", 10.0, "wm").collect()
    }
    assert wm[None] == 20.0 and wm["a"] == 3.0


def test_weighted_median_rejects_nonpositive_bucket_width(spark):
    import pytest as _pytest

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.agg import (
        weighted_median,
    )

    df = spark.createDataFrame([("a", 1.0, 1)], "g string, v double, w int")
    for bad in (0.0, -5.0):
        with _pytest.raises(ValueError, match="bucket_width"):
            weighted_median(df, ["g"], "v", "w", bad, "wm")
