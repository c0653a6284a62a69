"""Scale A/B (1M synthetic docs, the scale_smoke corpus shape): fused
candidate+estimate vs current candidates->distinct->join-back estimate.
Only the stages the fusion changes are timed; sigs are the smoke's lazy
synthetic frame (pinning 1M x 64-long arrays OOMs the 8g driver heap;
the regeneration is the same cheap map on both A/B sides).
"""
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from pyspark.sql import functions as F

from enterprise_sales_data_pipeline_using_aws_lambda_spark.session import get_spark
from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
    estimate_jaccard_on_pairs,
    lsh_banded,
    lsh_candidate_pairs,
)

CUT = 0.5 - 0.15
ND = 1_000_000
BANDS = 16


def build_sigs(spark):
    content_key = (
        F.when(F.col("id") < 2000, F.lit(0))
        .when(F.col("id") % 400 < 4, F.col("id") - F.col("id") % 4)
        .otherwise(F.col("id"))
    )
    # Lazy (not materialized), exactly the scale-smoke shape: pinning
    # 1M x 64-long arrays (~700MB heap) OOMs the 8g driver-heap box;
    # the synthetic regeneration is a cheap map on both A/B sides.
    return spark.range(0, ND).select(
        F.col("id").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.xxhash64(content_key, i),
        ).alias("signature"),
    )


def base(sigs):
    cands = lsh_candidate_pairs(sigs, bands=BANDS)
    est = estimate_jaccard_on_pairs(cands, sigs)
    return est.filter(F.col("est_jaccard") >= CUT)


def fused(sigs, carry_through_banding):
    if carry_through_banding:
        banded = lsh_banded(sigs, "doc_id", BANDS, carry=("signature",))
    else:
        banded = lsh_banded(sigs, "doc_id", BANDS)
    counts = banded.groupBy("band", "bucket").agg(F.count("*").alias("_n"))
    keep = (F.col("_n") <= 1000) & (F.col("_n") >= 2)
    pruned = banded.join(
        counts.filter(keep).select("band", "bucket"), ["band", "bucket"]
    )
    if not carry_through_banding:
        pruned = pruned.join(sigs, "doc_id")
    a = pruned.select(
        "band", "bucket",
        F.col("doc_id").alias("id_a"), F.col("signature").alias("sig_a"),
    )
    b = pruned.select(
        "band", "bucket",
        F.col("doc_id").alias("id_b"), F.col("signature").alias("sig_b"),
    )
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"), F.col("sig_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (matches / F.size("sig_a")).alias("est_jaccard"),
        )
        .distinct()
    )
    return est.filter(F.col("est_jaccard") >= CUT)


def main():
    spark = get_spark("ab_minhash_fuse_scale")
    spark.sparkContext.setLogLevel("WARN")
    sigs = build_sigs(spark)

    rows = lambda df: sorted(tuple(r) for r in df.collect())
    b0 = rows(base(sigs))
    print(f"IDENTITY: base={len(b0)} "
          f"v1_eq={rows(fused(sigs, True)) == b0}", flush=True)

    def run(fn):
        t = time.monotonic()
        fn().write.format("noop").mode("overwrite").save()
        return time.monotonic() - t

    variants = {
        "base": lambda: base(sigs),
        "v1": lambda: fused(sigs, True),
    }
    results = {n: [] for n in variants}
    for _round in range(3):
        for name in ("base", "v1"):
            spark.sparkContext._jvm.System.gc()
            times = [run(variants[name]) for _ in range(2)]
            results[name].append(min(times))
            print(f"BLOCK {name}: min={min(times):.2f} "
                  f"runs={[round(x, 2) for x in times]}", flush=True)
    print("\nSUMMARY (min per block):")
    for name in ("base", "v1"):
        print(f"  {name}: {[round(m, 2) for m in results[name]]}  "
              f"best={min(results[name]):.2f}")


if __name__ == "__main__":
    main()
