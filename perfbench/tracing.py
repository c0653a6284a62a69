"""Span tracing from outside the engine.

A traced run wraps the public functions a workload calls; each call
becomes a span that tags the Spark jobs it launches with a job group
(``spark.jobGroup.id``, one local-property set per span edge — no
status polling).  After the session stops, the Spark event log (turned
on through ``PYSPARK_SUBMIT_ARGS``) is parsed and jobs, stages, tasks,
shuffle bytes, spill, GC and executor time are attributed to spans.
An untraced run uses :class:`NullTracer`, which wraps nothing.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
    "gc_s", "executor_run_s",
)


class NullTracer:
    enabled = False
    phase = "warm"

    def span(self, name: str):
        return contextlib.nullcontext()

    def wrap(self, module, attr: str, name: str) -> None:
        pass

    def wrap_context(self, module, attr: str, name: str) -> None:
        pass

    def unwrap_all(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": f"perfbench-{len(self.spans)}",
            "name": name,
            "phase": self.phase,
            "parent": self.stack[-1]["id"] if self.stack else None,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self.stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", rec["parent"]
            )

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self.patches.append((module, attr, fn))

    def wrap_context(self, module, attr: str, name: str) -> None:
        """Wrap a context-manager factory: the span times entering and
        leaving the context, not the body it guards."""
        fn = getattr(module, attr)

        @contextlib.contextmanager
        def traced(*args, **kwargs):
            with contextlib.ExitStack() as stack:
                t0 = time.perf_counter()
                value = stack.enter_context(fn(*args, **kwargs))
                enter_s = time.perf_counter() - t0
                try:
                    yield value
                finally:
                    t1 = time.perf_counter()
                    stack.close()
                    self.spans.append({
                        "id": f"perfbench-{len(self.spans)}",
                        "name": name,
                        "phase": self.phase,
                        "parent": self.stack[-1]["id"] if self.stack
                        else None,
                        "s": enter_s + time.perf_counter() - t1,
                    })

        setattr(module, attr, traced)
        self.patches.append((module, attr, fn))

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self.patches):
            setattr(module, attr, fn)
        self.patches.clear()


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per-job-group counters from the (uncompressed) event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, got {files}")
    by_group: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0)
    )
    stage_group: dict[int, str] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                by_group[group]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[ev["Stage Info"]["Stage ID"]] = group
                by_group[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                c = by_group[stage_group.get(ev["Stage ID"])]
                m = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    return by_group


def inclusive_counters(spans: list[dict], by_group) -> None:
    """Set ``rec["c"]`` on every span: its own counters plus those of
    every span nested inside it."""
    for rec in spans:
        rec["c"] = dict(by_group.get(rec["id"], dict.fromkeys(COUNTERS, 0)))
    index = {rec["id"]: rec for rec in spans}
    for rec in reversed(spans):  # children are created after parents
        if rec["parent"] is not None:
            parent = index[rec["parent"]]["c"]
            for k in COUNTERS:
                parent[k] += rec["c"][k]


def layer_metrics(spans: list[dict], layers: dict[str, tuple]) -> dict:
    """Median per call over the timed spans of each layer.

    ``layers`` maps a metric name to ``(span name, quantity)``, the
    quantity being ``"s"`` (wall seconds) or a counter name."""
    calls = defaultdict(list)
    for rec in spans:
        if rec["phase"] == "timed":
            calls[rec["name"]].append(rec)
    out = {}
    for metric, (name, q) in layers.items():
        vals = [r["s"] if q == "s" else r["c"][q] for r in calls[name]]
        out[metric] = statistics.median(vals) if vals else 0
    return out
