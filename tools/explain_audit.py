"""Plan audit: print `explain(formatted)` summaries for queries.

Usage: python tools/explain_audit.py [query ...]      (default: headline set)

For each query prints a compact digest — exchange count, join strategies,
whole-stage-codegen span count, scan pushdown — then the formatted plan.
The digest line makes regressions greppable:

    name  exchanges=2 joins=[BroadcastHashJoin] wscg=3 pushed=yes
"""

from __future__ import annotations

import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

#: PLANS_DIGEST.txt is ALWAYS computed at this SF: plan shape at other
#: SFs may legitimately differ (broadcast thresholds, AQE coalescing),
#: so the `--all` baseline-regeneration path ignores SPARK_GRAFT_SF_DIR
#: — otherwise a regeneration under that env var would silently pin
#: the tripwire test (tests/test_plans.py, which digests at this same
#: constant) against a baseline computed at a different SF
#: (round-9 ADVICE, tests/test_plans.py:263).
BASELINE_SF_DIR = "/root/testdata/sf0.01"


def digest(plan: str) -> str:
    exchanges = len(re.findall(r"Exchange (hash|range|single)partitioning", plan))
    joins = sorted(set(re.findall(r"(\w*(?:HashJoin|MergeJoin|NestedLoopJoin|CartesianProduct))", plan)))
    # Codegen spans only materialize in the FINAL adaptive plan (post-
    # execution); pre-execution AQE plans would always report 0.
    if "isFinalPlan=false" in plan:
        wscg = "n/a-until-run"
    else:
        wscg = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))
    pushed = "yes" if "PushedFilters: [" in plan and "PushedFilters: []" not in plan else "none"
    return f"exchanges={exchanges} joins={joins or '[]'} wscg={wscg} pushed_filters={pushed}"


def main() -> int:
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.session import get_spark
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans.queries import QUERIES

    import bench

    names = sys.argv[1:] or bench.HEADLINE
    sf_dir = SF_DIR
    if names == ["--all"]:
        # full-registry digest, one line per query: regenerate
        # PLANS_DIGEST.txt with this and diff against the committed
        # baseline to compute a round's CHANGED_THIS_ROUND list
        # mechanically instead of adjudicating plan changes by hand.
        # The baseline SF is pinned (see BASELINE_SF_DIR) — env must
        # not move it out from under the tripwire test.
        names = sorted(QUERIES)
        sf_dir = BASELINE_SF_DIR
    spark = get_spark("explain-audit")
    verbose = os.environ.get("AUDIT_VERBOSE", "") == "1"
    for name in names:
        if name not in QUERIES:
            print(f"{name}: UNKNOWN")
            continue
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            print(f"{name}\t{digest(plan)}")
            if verbose:
                print(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                ))
        except Exception as exc:
            print(f"{name}: ERROR {exc}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
