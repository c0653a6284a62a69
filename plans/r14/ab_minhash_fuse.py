"""A/B: fuse sketch-estimate into the LSH banding self-join.

Current shape (operators/text_dedup.py):
  candidates = selfjoin(pruned banded).select(id_a,id_b).distinct()
  est        = candidates JOIN sigs(id_a) JOIN sigs(id_b)

Fused shapes under test:
  V2 (attach-after-prune): pruned JOIN sigs once -> selfjoin carries
     (sig_a, sig_b) -> est computed inline -> distinct(id_a,id_b,est)
  V1 (carry-through-banding): lsh_banded(carry=signature) -> selfjoin
     -> est inline -> distinct  (wider explode shuffle, no attach join)

Identity first, then interleaved timed blocks (min-of-3, GC per block).
"""
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from pyspark.sql import functions as F

from enterprise_sales_data_pipeline_using_aws_lambda_spark.session import get_spark
from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import read_table
from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import materialize
from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
    MAX_VERIFY_ID_PUSHDOWN,
    jaccard_on_pairs,
    lsh_banded,
    minhash_near_duplicates,
    minhash_signatures,
    semi_join_ids,
    shingle_sets,
)

THRESHOLD = 0.5
MARGIN = 0.15


def fused(df, carry_through_banding):
    sigs = materialize(
        minhash_signatures(shingle_sets(df, "text", "doc_id", 5), "doc_id", 64)
    )
    if carry_through_banding:
        banded = lsh_banded(sigs, "doc_id", 16, carry=("signature",))
    else:
        banded = lsh_banded(sigs, "doc_id", 16)
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
    plausible = est.filter(F.col("est_jaccard") >= THRESHOLD - MARGIN)
    pairs = materialize(plausible.select("id_a", "id_b"))
    pair_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    needed = semi_join_ids(df, pair_ids, "doc_id", MAX_VERIFY_ID_PUSHDOWN)
    return jaccard_on_pairs(
        pairs, shingle_sets(needed, "text", "doc_id", 5), "doc_id",
        threshold=THRESHOLD,
    )


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def main():
    spark = get_spark("ab_minhash_fuse")
    spark.sparkContext.setLogLevel("WARN")

    # ---- identity at sf0.01 and sf0.1 ----
    for sf in ("sf0.01", "sf0.1"):
        df = read_table(spark, f"/root/testdata/{sf}", "documents")
        base = rows_of(minhash_near_duplicates(df, threshold=THRESHOLD))
        v2 = rows_of(fused(df, carry_through_banding=False))
        v1 = rows_of(fused(df, carry_through_banding=True))
        print(f"IDENTITY {sf}: base={len(base)} v2_eq={v2 == base} "
              f"v1_eq={v1 == base}", flush=True)
        if v2 != base or v1 != base:
            print("MISMATCH — aborting timing")
            return

    # ---- timing at sf0.1, interleaved blocks ----
    df = read_table(spark, "/root/testdata/sf0.1", "documents")

    def run(fn):
        t = time.monotonic()
        fn().write.format("noop").mode("overwrite").save()
        return time.monotonic() - t

    variants = {
        "base": lambda: minhash_near_duplicates(df, threshold=THRESHOLD),
        "v2": lambda: fused(df, carry_through_banding=False),
        "v1": lambda: fused(df, carry_through_banding=True),
    }
    order = ["base", "v2", "v1", "base", "v2", "v1", "base", "v2", "v1"]
    # warmup (codegen JIT) once per variant, untimed
    for name in ("base", "v2", "v1"):
        run(variants[name])
    results = []
    for name in order:
        spark.sparkContext._jvm.System.gc()
        times = [run(variants[name]) for _ in range(3)]
        results.append((name, min(times), times))
        print(f"BLOCK {name}: min={min(times):.3f} runs="
              f"{[round(x, 3) for x in times]}", flush=True)
    print("\nSUMMARY (min per block):")
    for name in ("base", "v2", "v1"):
        mins = [m for n, m, _ in results if n == name]
        print(f"  {name}: {[round(m, 3) for m in mins]}  "
              f"best={min(mins):.3f}")


if __name__ == "__main__":
    main()
