"""Aggregation operators (reference A1, ``lambda.py:184-189``).

The reference's single aggregate: group the batch by ``Country`` and emit
``max(UnitsSold)``, ``mean(TotalRevenue)``, ``mean(TotalCost)``,
``mean(TotalProfit)`` under fixed output names.  Catalyst plans this as a
partial (map-side) + final hash aggregate automatically, so the shuffle
carries one row per (partition, country) — at 100 TB the network moves
megabytes, not the table.

The module also holds the scale-safe exact selection operators used
by the analytics queries: ``exact_percentiles`` and ``mad_spread`` share
one histogram selection path (no fact shuffle, no per-group task),
``weighted_median`` prunes with a fixed-width histogram, and
``global_cumsum`` keeps a global running sum off a single task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize

#: Histogram resolution.  Correctness never depends on it (bucket
#: assignment is a monotone function of the value, and rank extraction
#: is exact either way); it trades histogram size (|groups| × buckets
#: rows through one small shuffle) against rescan slice width
#: (~n/buckets rows per crossing bucket, sorted on one window task).
#: 4096 keeps the local histogram trivially small; at 100 TB size it
#: like shuffle.partitions: pick buckets so n/buckets fits one task
#: (e.g. 65536 puts a 1e12-row group's slice at ~15M rows).  Purely a
#: balance constant — both extremes stay exact.
HISTOGRAM_BUCKETS = 4096


def sales_summary(
    df: DataFrame,
    country_col: str = "Country",
    units_col: str = "UnitsSold",
    revenue_col: str = "TotalRevenue",
    cost_col: str = "TotalCost",
    profit_col: str = "TotalProfit",
) -> DataFrame:
    """Per-country summary, reference-exact output names
    (``lambda.py:184-189``): one max + three means."""
    return df.groupBy(country_col).agg(
        F.max(units_col).alias("max_units_sold"),
        F.avg(revenue_col).alias("average_total_revenue"),
        F.avg(cost_col).alias("average_total_cost"),
        F.avg(profit_col).alias("average_total_profit"),
    )


def group_aggregate(
    df: DataFrame, keys: list[str], aggs: dict[str, Column]
) -> DataFrame:
    """Generic named multi-aggregate: ``aggs`` maps output name → agg
    expression; every output is explicitly aliased (names are part of the
    operator contract — the driver's oracle hashes by column name)."""
    return df.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )


def exact_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    ps: list[float],
    aliases: list[str] | None = None,
) -> DataFrame:
    """Exact interpolated percentiles (``percentile_cont`` semantics)
    per group — the scale-safe formulation.

    ``F.percentile``/``F.median`` buffer every group value in the agg
    state, and a ``Window.partitionBy(group)`` sort puts each group on
    ONE task — both die when a few groups hold a fact table's rows.
    This operator instead runs a histogram selection:

    1. min/max/count per group (a map-side agg);
    2. a per-(group, bucket) count histogram — bucket = monotone
       linear index of the value inside the group's range — whose
       cumulative counts give each bucket its exclusive rank offset;
    3. each requested percentile p needs only ranks
       ``lo = floor((n-1)p)+1`` and ``lo+1``; ONLY the buckets where
       those ranks fall are rescanned and ranked, then a
       |groups|-row agg interpolates.

    Exactly matches ``percentile_cont``: v_lo*(1-frac) + v_hi*frac with
    h = (n-1)p.  Ties are safe — equal ranks carry equal values.  The
    fact is scanned (projected to 2 columns) but never shuffled: the
    largest exchange carries |groups| × buckets rows.  Single-valued
    buckets (all-tie mass, integer-valued columns) resolve straight
    from the histogram with NO rescan, so mega-ties get cheaper, not
    slower."""
    if aliases is None:
        # g-format, dot→underscore: 0.29→p29 (int() would truncate the
        # float error to p28), 0.995→p99_5 (int() would collide with
        # 0.99's p99 and emit a duplicate column name)
        aliases = [f"p{p * 100:g}".replace(".", "_") for p in ps]
    if len(set(aliases)) != len(aliases):
        raise ValueError(f"duplicate percentile aliases: {aliases}")
    w = df.select(*group_cols, value_col).filter(
        F.col(value_col).isNotNull()
    )
    return _histogram_percentiles(
        w, group_cols, value_col, ps, aliases,
        _selection_stats(w, group_cols, value_col),
    )


def _ns_broadcast_join(
    left: DataFrame, right: DataFrame, cols: list[str]
) -> DataFrame:
    """Inner broadcast join on ``cols`` with NULL-SAFE key equality,
    keeping one copy of the join columns (the left's).

    The selection operators group by caller columns that may be
    nullable, and every internal rejoin below rides this helper: a
    plain name-based equi-join never matches NULL keys, so a NULL
    group's rows silently VANISHED from the output — where the
    documented ``percentile_cont``-via-groupBy semantics return a row
    for the NULL group.  The right side's keys are renamed before the
    join (no self-join ambiguity: every right frame here derives from
    the left's plan), and null-safe equality is a valid hash-join key,
    so the plan stays a broadcast hash join."""
    from functools import reduce

    tags = {c: f"_ns_{c}" for c in cols}
    r = right.select(
        *[F.col(c).alias(tags[c]) for c in cols],
        *[c for c in right.columns if c not in cols],
    )
    cond = reduce(
        Column.__and__,
        [F.col(c).eqNullSafe(F.col(tags[c])) for c in cols],
    )
    return left.join(F.broadcast(r), cond).drop(*tags.values())


def _selection_stats(
    w: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group ``(_gmin, _gmax, _n)`` over a pre-filtered selection
    input — the bounds/count frame `_histogram_percentiles` buckets
    and targets ranks with.  Map-side combined; the shuffle carries
    one row per group."""
    v = F.col(value_col)
    return w.groupBy(*group_cols).agg(
        F.min(v).alias("_gmin"),
        F.max(v).alias("_gmax"),
        F.count("*").alias("_n"),
    )


def _histogram_percentiles(
    w: DataFrame,
    group_cols: list[str],
    value_col: str,
    ps: list[float],
    aliases: list[str],
    stats: DataFrame,
) -> DataFrame:
    """Histogram-pruned exact percentiles (the ``weighted_median``
    two-pass shape generalized to rank selection, guide §2.3/§2.4).

    ``w`` must be pre-projected to (group_cols, value_col) and
    NULL-filtered; ``stats`` must carry (group_cols, _gmin, _gmax,
    _n) with _gmin/_gmax bounding every value and _n the exact
    non-null row count per group.  LOOSE bounds stay correct — the
    bucket index clamps into [0, NB-1] — only balance degrades
    (mad_spread exploits this: pass 2's deviation bounds derive from
    pass 1's stats instead of a third scan).

    Correctness argument, piece by piece:

    - bucket = floor((v/span − gmin/span) · NB) clamped, computed in
      double: subtraction/division-by-positive/multiplication/floor
      are all weakly monotone under IEEE rounding, and casting any
      numeric to double is weakly monotone, so v1 ≤ v2 ⇒ bucket(v1)
      ≤ bucket(v2) and equal values share a bucket.  That is the ONLY
      property rank math needs; bucket-boundary placement is free to
      wobble with FP rounding.  NaN (orderable last in Spark) gets
      bucket NB, above every clamped finite bucket; a degenerate or
      overflowed span (gmax−gmin rounding to 0 or inf) collapses to
      one bucket — still exact, just unpruned.
    - per-(group, bucket) count/min/max + a cumulative window over
      the |G|·NB-row histogram gives each bucket its exclusive rank
      offset ``_coff``; target ranks are lo = floor((n−1)p)+1 and
      lo+1 (1-based, over the group's values in ascending order).
    - a crossing bucket with _bmin == _bmax (or NaN) holds one
      distinct value, so rank order inside it is irrelevant: its
      contribution is emitted straight from the histogram row.
    - other crossing buckets are rescanned: broadcast range-join on
      group + v BETWEEN _bmin AND _bmax (bucket value-ranges are
      disjoint per group, so this reproduces bucket membership
      exactly without re-deriving the bucket index), row_number
      within the (group, bucket) slice + _coff = global rank, then
      the v·((1−frac)|frac) interpolation terms.  Per (group,
      percentile) at most two nonzero terms exist across both frames,
      and IEEE addition of two terms is commutative, so the summed
      result is bit-identical to v_lo·(1−frac) + v_hi·frac computed
      over the sorted group.

    The hot expressions are built as SQL strings through one
    ``F.expr`` each (double literals carry the ``D`` suffix — an
    unsuffixed SQL ``0.5`` parses as DECIMAL and would change the
    interpolation arithmetic): profiled on the round-13 tree, the
    per-percentile Column-object loops cost ~2k extra py4j
    round-trips per build (guide §1 / VERDICT r13 item 2), a fixed
    driver-side tax the string form removes without touching the
    plan."""
    nb = HISTOGRAM_BUCKETS
    g = [f"`{c}`" for c in group_cols]
    gl = ", ".join(g)
    v = f"`{value_col}`"
    vd = f"CAST({v} AS DOUBLE)"
    span = "(CAST(_gmax AS DOUBLE) - CAST(_gmin AS DOUBLE))"
    # v/span − gmin/span (not (v−gmin)/span): if span overflows to
    # inf, each quotient is still finite-or-zero and every row lands
    # in bucket 0 (correct, unpruned) instead of floor(NaN) artifacts
    frac_pos = f"({vd} / {span} - CAST(_gmin AS DOUBLE) / {span})"
    bucket = (
        f"CASE WHEN isnan({vd}) THEN {nb}L "
        f"WHEN {span} > 0.0D THEN GREATEST(COALESCE(LEAST("
        f"FLOOR({frac_pos} * {float(nb)!r}D), {nb - 1}L), 0L), 0L) "
        f"ELSE 0L END"
    )
    hist = (
        _ns_broadcast_join(w, stats, group_cols)
        .groupBy(*group_cols, F.expr(bucket).alias("_b"))
        .agg(
            F.expr("COUNT(*)").alias("_bc"),
            F.expr(f"MIN({v})").alias("_bmin"),
            F.expr(f"MAX({v})").alias("_bmax"),
            # constant per group; riding the agg beats a second
            # broadcast join of the stats frame
            F.expr("MIN(_n)").alias("_n"),
        )
    )
    cum = hist.selectExpr(
        *g,
        "_b",
        "_bc",
        "_bmin",
        "_bmax",
        "_n",
        f"COALESCE(SUM(_bc) OVER (PARTITION BY {gl} ORDER BY _b "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L) "
        "AS _coff",
    )

    # rank targets: lo and lo+1
    # per requested p (lo+1 rides along even at frac==0, where its
    # weight is 0.0 — keeping the selected-row set identical).
    # repr(float(p)) round-trips the exact IEEE double into the SQL
    # literal.
    def _targets(p: float) -> tuple[str, str, str]:
        h = f"((_n - 1) * {float(p)!r}D)"
        lo = f"(FLOOR({h}) + 1)"
        frac = f"({h} - FLOOR({h}))"
        return lo, f"({lo} + 1)", frac

    def _in_bucket(r: str) -> str:
        return f"({r} > _coff AND {r} <= _coff + _bc)"

    hit = " OR ".join(
        f"{_in_bucket(lo)} OR {_in_bucket(hi)}"
        for lo, hi, _ in map(_targets, ps)
    )
    selb = cum.filter(F.expr(hit))

    # single-valued crossing buckets: resolved from the histogram row
    # (NaN buckets are single-valued by construction — bucket nb is
    # NaN-only, and NaN == NaN is false, so they ride the isnan arm)
    degen = "(isnan(CAST(_bmin AS DOUBLE)) OR _bmin = _bmax)"
    degen_aggs = []
    rescan_aggs = []
    for p, name in zip(ps, aliases):
        lo, hi, frac = _targets(p)
        degen_aggs.append(
            F.expr(
                f"SUM(CAST(_bmin AS DOUBLE) * (CASE WHEN "
                f"{_in_bucket(lo)} THEN (1.0D - {frac}) ELSE 0.0D END)"
                f" + CAST(_bmin AS DOUBLE) * (CASE WHEN "
                f"{_in_bucket(hi)} THEN {frac} ELSE 0.0D END))"
            ).alias(name)
        )
        rescan_aggs.append(
            F.expr(
                f"SUM({vd} * (CASE WHEN _rn = {lo} THEN "
                f"(1.0D - {frac}) WHEN _rn = {hi} THEN {frac} "
                f"ELSE 0.0D END))"
            ).alias(name)
        )
    degen_part = (
        selb.filter(F.expr(degen)).groupBy(*group_cols).agg(*degen_aggs)
    )

    # rescan: broadcast the crossing-bucket descriptors, range-join
    # them back onto the projected input (group equality null-safe +
    # v between the bucket's ACTUAL min/max), rank within the slice
    tags = [f"`_ns_{c}`" for c in group_cols]
    sel_t = selb.filter(F.expr(f"NOT {degen}")).selectExpr(
        *[f"{c} AS {t}" for c, t in zip(g, tags)],
        "_b",
        "_bmin",
        "_bmax",
        "_n",
        "_coff",
    )
    cond = " AND ".join(
        [f"{c} <=> {t}" for c, t in zip(g, tags)]
        + [f"{v} >= _bmin", f"{v} <= _bmax"]
    )
    ranked = (
        w.join(F.broadcast(sel_t), F.expr(cond))
        .selectExpr(
            *g,
            v,
            "_n",
            f"_coff + ROW_NUMBER() OVER (PARTITION BY {gl}, _b "
            f"ORDER BY {v}) AS _rn",
        )
    )
    needed = " OR ".join(
        f"(_rn = {lo} OR _rn = {hi})" for lo, hi, _ in map(_targets, ps)
    )
    rescan_part = (
        ranked.filter(F.expr(needed)).groupBy(*group_cols).agg(*rescan_aggs)
    )

    # a group's two target rows can straddle the frames (rank lo in a
    # single-valued bucket, lo+1 in a rescanned one); summing the
    # per-frame partials adds at most one zero term per percentile
    return (
        degen_part.unionByName(rescan_part)
        .groupBy(*group_cols)
        .agg(*[F.expr(f"SUM(`{a}`)").alias(a) for a in aliases])
    )


def mad_spread(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    med_alias: str = "med",
    mad_alias: str = "mad",
) -> DataFrame:
    """Fused median + median-absolute-deviation per group.

    MAD is inherently two selection passes (deviations need the median
    first), both the ``exact_percentiles`` histogram selection.  Pass 2
    buckets the deviations with bounds DERIVED from pass 1's stats +
    median (devs lie in [0, max(gmax−med, med−gmin)] — both sides
    weakly monotone under IEEE rounding, and the bucket index clamps,
    so even an ulp-loose bound stays exact), skipping the deviation
    min/max scan entirely.  No pass shuffles the fact.

    Output: one row per group with ``med_alias``/``mad_alias``."""
    w = df.select(*group_cols, value_col).filter(
        F.col(value_col).isNotNull()
    )
    stats = _selection_stats(w, group_cols, value_col)
    med = _histogram_percentiles(
        w, group_cols, value_col, [0.5], [med_alias], stats
    )
    dev = _ns_broadcast_join(w, med, group_cols).select(
        *group_cols,
        F.abs(F.col(value_col) - F.col(med_alias)).alias("_dev"),
    )
    dev_bounds = _ns_broadcast_join(stats, med, group_cols).select(
        *group_cols,
        F.lit(0.0).alias("_gmin"),
        F.greatest(
            F.col("_gmax").cast("double") - F.col(med_alias),
            F.col(med_alias) - F.col("_gmin").cast("double"),
        ).alias("_gmax"),
        "_n",
    )
    mad = _histogram_percentiles(
        dev, group_cols, "_dev", [0.5], [mad_alias], dev_bounds
    )
    return _ns_broadcast_join(med, mad, group_cols)


def global_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str = "cum_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Globally-ordered running sum WITHOUT a single-partition window.

    ``Window.orderBy(...)`` with no partitionBy collapses the whole
    frame onto one task; this operator keeps the sort distributed:
    range-partition on the ordering (parallel local sorts), running-sum
    within each partition, then add each partition's offset — the
    running total of per-partition sums, a P-row frame — via a
    broadcast join.  Output: input columns + ``out_col``.

    Range partition ids are ordered consistently with the sort, so
    offset(pid) = Σ partition sums with smaller pid."""
    spark = df.sparkSession
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    part = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    # the offset branch and the cumsum branch must agree on _pid, and
    # the range exchange samples its boundaries at run time, so the
    # frame is pinned by an eager checkpoint.  Round-13
    # counterfactual: leaving it lazy (two branches sharing one
    # exchange through exchange reuse) measured STRICTLY SLOWER on every
    # caller (peak_concurrent_sessions 1.8 s -> 2.1 s steady-state,
    # same-session A/B) — unlike the percentile operator, whose input
    # is a bare projected scan, global_cumsum's callers feed it
    # already-windowed/sessionized frames, and the range exchange's
    # boundary-sampling pass re-executes that whole upstream a second
    # time when the frame is left lazy.  The checkpoint pays one
    # write; the sampling pass then reads pinned blocks.
    part = materialize(part)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_off = (
        Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        part.groupBy("_pid")
        .agg(F.sum(value_col).alias("_ps"))
        .select(
            "_pid",
            F.coalesce(F.sum("_ps").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    return (
        part.withColumn("_lcum", F.sum(value_col).over(w_local))
        .join(F.broadcast(off), "_pid")
        .withColumn(out_col, F.col("_off") + F.col("_lcum"))
        .drop("_pid", "_lcum", "_off")
    )


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    bucket_width: float,
    med_alias: str = "wmedian",
) -> DataFrame:
    """Exact lower weighted median per group — the smallest value whose
    cumulative weight reaches half the group's total — without putting
    any group's rows on a single task.

    The naive formulation (cumulative-weight window per group ordered
    by value) sorts each group on ONE task, the same failure mode
    ``exact_percentiles`` exists to avoid.  This operator prunes with a
    histogram instead:

    1. bucket values by ``floor(value / bucket_width)`` and hash-agg
       per-(group, bucket) weight — map-side combined, the shuffle
       carries |groups| x |buckets| rows, not the fact;
    2. a running-sum window over that SMALL frame finds, per group, the
       single bucket where cumulative weight crosses half the total
       (entry offset ``_prev`` and total ``_tot`` ride along);
    3. only rows in that bucket are re-scanned (broadcast semi-join
       prunes the fact), and a per-group window over this
       1/|buckets|-sized slice finds the crossing value exactly.

    Weights are cast to long, so every comparison is integer-exact
    (identical across engines — no float cumulative-sum ulps).  That
    makes INTEGER weights the contract: a fractional-capable weight
    column (double/float, or decimal with scale > 0) is rejected
    loudly — casting 0.25 to long would silently zero the weight and
    EXCLUDE the row (the `_w > 0` filter), turning normalized-weight
    inputs into empty or wrong medians.  Scale-0 decimals (money-typed
    integral counts) cast to long exactly, so they pass — but only up
    to precision 18: decimal(19..38, 0) values can exceed the long
    range, where the cast overflows to NULL under non-ANSI semantics
    and the ``_w > 0`` filter silently drops the row — the same silent
    exclusion this guard exists to reject.  Pre-scale fractional
    weights to integers (e.g. basis points) upstream.  NULL values and
    non-positive weights are excluded, matching ``percentile_cont``'s
    null handling."""
    from pyspark.sql.types import DecimalType

    wdt = df.schema[weight_col].dataType
    wt = wdt.simpleString()
    if not (bucket_width > 0):
        # 0 divides every value to a NULL bucket (silently EMPTY
        # output: the bucket rejoin never matches), and a negative
        # width makes the cumulative-weight ordering DECREASING in
        # value (silently wrong median) — reject both as loudly as the
        # weight-type contract below.
        raise ValueError(
            f"weighted_median needs bucket_width > 0, got {bucket_width}"
        )
    bad_decimal = isinstance(wdt, DecimalType) and (
        wdt.scale > 0 or wdt.precision > 18
    )
    if wt.startswith(("double", "float")) or bad_decimal:
        raise ValueError(
            f"weighted_median needs an integer weight column that "
            f"fits a long; {weight_col!r} is {wt}.  Casting "
            f"fractional weights to long silently zeroes sub-1 "
            f"weights, and decimals past precision 18 can overflow "
            f"the cast to NULL — both silently DROP rows.  Pre-scale "
            f"to integers (e.g. round(w * 10000)) or cast to "
            f"decimal(18,0) upstream"
        )
    g = [F.col(c) for c in group_cols]
    v = F.col(value_col)
    w = df.select(
        *group_cols,
        v.alias("_v"),
        F.col(weight_col).cast("long").alias("_w"),
    ).filter(v.isNotNull() & (F.col("_w") > 0))
    b = w.groupBy(
        *group_cols, F.floor(F.col("_v") / F.lit(bucket_width)).alias("_b")
    ).agg(F.sum("_w").alias("_bw"))
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*group_cols)
    cum = b.select(
        *group_cols,
        "_b",
        (F.sum("_bw").over(w_cum) - F.col("_bw")).alias("_prev"),
        F.sum("_bw").over(w_cum).alias("_cum"),
        F.sum("_bw").over(w_tot).alias("_tot"),
    )
    # exactly one bucket per group: cumulative weight crosses _tot/2
    # inside it (2*_cum >= _tot first holds here)
    sel = cum.filter(
        (2 * F.col("_cum") >= F.col("_tot"))
        & (2 * F.col("_prev") < F.col("_tot"))
    ).select(*group_cols, "_b", "_prev", "_tot")
    w_in = (
        Window.partitionBy(*group_cols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hit = (
        _ns_broadcast_join(
            w.withColumn("_b", F.floor(F.col("_v") / F.lit(bucket_width))),
            sel,
            [*group_cols, "_b"],
        )
        .withColumn("_c", F.col("_prev") + F.sum("_w").over(w_in))
        .filter(2 * F.col("_c") >= F.col("_tot"))
    )
    return hit.groupBy(*group_cols).agg(F.min("_v").alias(med_alias))
