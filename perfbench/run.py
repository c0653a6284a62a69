#!/usr/bin/env python3
"""Benchmark runner for the sales engine.

    python3 perfbench/run.py --workload pipeline_batches --seed 1 \
        --seconds 15 --trace 0

Runs one workload (see ``workloads.py``) as a closed loop with one
client on a ``session.get_spark`` session at ``local[N]``, checks the
outputs outside the clock and prints, as its last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run wraps the layers' public functions, turns on the Spark event
log, and reports per-layer metrics instead.  Every file the run writes
(inputs, lake, warehouse, quarantine, store, Spark local dirs, event
log, Derby home, warehouse dir) lives in a temp dir under
``.perfbench_tmp/`` that is removed at exit.  Exits non-zero when an
output check fails or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import sys
import tempfile
import threading
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402
import workloads  # noqa: E402
from workloads import ROOT  # noqa: E402

#: Spark's local[N]: at most 4 cores, never more than the machine has.
CORES = min(2, os.cpu_count() or 1)


def tree_rss_mb(pid: int) -> float:
    """Resident memory of ``pid`` and all its descendants (the driver,
    the JVM it launched and the JVM's Python workers), from /proc."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(d))
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
        stack.extend(children[p])
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class PeakRss:
    """Samples :func:`tree_rss_mb` every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def hermetic_env(run_dir: str, trace: bool) -> None:
    """Point every path Spark, the JVM and the Python workers write to
    into ``run_dir``, and let workers import the engine from any
    working directory."""
    for sub in ("local", "tmp", "events", "warehouse-dir"):
        os.makedirs(os.path.join(run_dir, sub))
    env = os.environ
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    java_opts = (f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                 f"-Dderby.system.home={run_dir}")
    args = [
        "--driver-java-options", java_opts,
        "--conf", "spark.sql.warehouse.dir="
                  + os.path.join(run_dir, "warehouse-dir"),
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.eventLog.dir=file://"
                      + os.path.join(run_dir, "events"),
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"]
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, run_dir: str) -> tuple[dict, bool]:
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.session import (
        get_spark,
    )

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer = (tracing.Tracer(spark) if args.trace
              else tracing.NullTracer())
    wl = workloads.WORKLOADS[args.workload](
        spark, run_dir, args.seed, args.seconds, tracer
    )
    try:
        t1 = time.perf_counter()
        wl.setup()
        warm_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0

        tracer.phase = "timed"
        op_s: list[float] = []
        failed = 0
        with PeakRss() if args.trace else contextlib.nullcontext() as rss:
            start = time.perf_counter()
            for op in wl.ops():
                t = time.perf_counter()
                try:
                    with tracer.span("op"):
                        ok = op()
                except Exception as exc:  # an op failure, counted
                    print(f"op failed: {exc!r}"[:500], file=sys.stderr)
                    ok = False
                op_s.append(time.perf_counter() - t)
                failed += not ok
            with tracer.span("op.finish"):
                wl.finish()
            step_s = time.perf_counter() - start
        tracer.phase = "check"
        problems, misrouted = wl.check()
        failed += misrouted
        extras = wl.layer_extras() if args.trace else {}
    finally:
        tracer.unwrap_all()
        stop_spark(spark)

    print(f"{wl.name}: sizes {wl.sizes}, {len(op_s)} ops, "
          f"op seconds {[round(x, 3) for x in op_s]}", file=sys.stderr)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    if args.trace:
        metrics = traced_metrics(tracer, wl, len(op_s), extras, step_s)
        metrics["process.peak_rss_mb"] = (rss.peak, "MB")
        metrics["session.get_spark.s"] = (session_s, "s")
        metrics["session.warmup_s"] = (warm_s, "s")
    else:
        metrics = {"setup_s": (setup_s, "s"), "step_s": (step_s, "s"),
                   **wl.end_to_end(op_s, step_s)}
    result = {
        "correct": not problems,
        "attempted": len(op_s),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }
    return result, not problems


def traced_metrics(tracer, wl, n_ops: int, extras: dict,
                   step_s: float) -> dict:
    """Every per-layer metric of the listed workloads; layers this
    workload never calls read 0."""
    by_group = tracing.read_event_log(
        os.path.join(wl.run_dir, "events")
    )
    tracing.inclusive_counters(tracer.spans, by_group)
    layers, values = {}, {}
    for cls in workloads.LISTED + (type(wl),):
        layers.update(cls.layers())
        values.update(dict.fromkeys(cls.extra_layers, 0))
    values.update(tracing.layer_metrics(tracer.spans, layers))
    values.update(extras)
    timed_ops = [r for r in tracer.spans if r["phase"] == "timed"
                 and r["name"] in ("op", "op.finish")]
    for k in tracing.COUNTERS:
        values[f"spark.{k}"] = sum(r["c"][k] for r in timed_ops) / n_ops
    values["trace.step_s"] = step_s
    return {k: (v, unit_of(k)) for k, v in values.items()}


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_bytes"):
        return "bytes"
    if last == "bytes_per_input_byte":
        return "ratio"
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import enterprise_sales_data_pipeline_using_aws_lambda_spark.session  # noqa: F401,E501
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    cwd = os.getcwd()
    try:
        hermetic_env(run_dir, bool(args.trace))
        result, ok = run(args, run_dir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run still uses it
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
