#!/usr/bin/env python3
"""Self-test of the traced run: counts must not drift.

    python3 perfbench/selftest.py [--seed 7] [--seconds 15] [--update]
        [workload ...]

For each workload (default: the listed ones) this makes two traced runs
and one untraced run on one seed.  It fails when the two traced runs
disagree on any count (jobs, stages, tasks, files per operation) or
when the counts differ from the ones pinned in ``pinned_counts.json``
(``--update`` rewrites that file instead).  It also prints the tracing
overhead: the traced loop time against the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = os.path.join(HERE, "pinned_counts.json")
sys.path.insert(0, HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    if out.returncode != 0:
        raise SystemExit(f"{workload}: run exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def counts(result: dict) -> dict[str, float]:
    return {k: m["value"] for k, m in result["metrics"].items()
            if m["unit"] == "count"}


def main() -> int:
    import workloads

    p = argparse.ArgumentParser()
    p.add_argument("workloads", nargs="*",
                   default=[w.name for w in workloads.LISTED])
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--update", action="store_true")
    args = p.parse_args()

    pinned = {}
    if os.path.exists(PINNED):
        with open(PINNED) as fh:
            pinned = json.load(fh)
    ok = True
    for w in args.workloads:
        a = run(w, args.seed, args.seconds, 1)
        b = run(w, args.seed, args.seconds, 1)
        plain = run(w, args.seed, args.seconds, 0)
        ca, cb = counts(a), counts(b)
        drift = {k: (ca[k], cb.get(k)) for k in ca if ca[k] != cb.get(k)}
        if drift:
            ok = False
            print(f"{w}: traced runs disagree: {drift}")
        overhead = (a["metrics"]["trace.step_s"]["value"]
                    / plain["metrics"]["step_s"]["value"] - 1)
        print(f"{w}: tracing overhead {overhead:+.1%} of step_s")
        if args.update:
            pinned[w] = ca
        elif pinned.get(w) != ca:
            ok = False
            old = pinned.get(w, {})
            diff = {k: (old.get(k), v) for k, v in ca.items()
                    if old.get(k) != v}
            print(f"{w}: counts differ from pinned (pinned, now): {diff}")
    if args.update:
        with open(PINNED, "w") as fh:
            json.dump(pinned, fh, indent=1, sort_keys=True)
            fh.write("\n")
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
