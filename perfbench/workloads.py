"""The benchmark's workloads.

Each workload is a closed loop with one client: the runner calls
``setup()`` (inputs and JIT warm-up, before the clock), then each of
``ops()`` in turn, the next one sent when the last returns, then
``finish()`` (the end-of-loop step, still on the clock), and finally
``check()`` outside the clock.  An op returns True when it behaved as
expected and False (or raises) otherwise.  Layer spans come from
wrapping the public functions the workload's entry points call; with
the null tracer nothing is wrapped.
"""

from __future__ import annotations

import importlib.util
import os
import statistics

import numpy as np
import pandas as pd

import inputs

#: The checkout root: the engine package and ``tools/`` live here.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def per(name: str, *quantities: str) -> dict[str, tuple[str, str]]:
    """Metric names ``<name>.<quantity>`` for one span name."""
    return {f"{name}.{q}": (name, q) for q in quantities}


def n_ops(seconds: int, op_s: float, minimum: int) -> int:
    """Ops in a run: as many as fit ``seconds`` at the nominal cost per
    op, so the work of a run is fixed by its arguments alone."""
    return max(minimum, round(seconds / op_s))


def dir_bytes_files(*roots: str) -> tuple[int, int]:
    """Bytes and data files under ``roots`` (hidden, ``_``-prefixed
    and checksum files excluded)."""
    size = files = 0
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
            for n in names:
                if not n.startswith((".", "_")):
                    size += os.path.getsize(os.path.join(d, n))
                    files += 1
    return size, files


class Workload:
    name = ""
    op_s = 1.0  # nominal seconds per op, sizes the loop
    min_ops = 1
    extra_layers: tuple[str, ...] = ()  # the keys of layer_extras()

    def __init__(self, spark, run_dir: str, seed: int, seconds: int,
                 tracer):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.k = n_ops(seconds, self.op_s, self.min_ops)
        self.tracer = tracer
        self.sizes: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def finish(self) -> None:
        pass

    def end_to_end(self, op_s: list[float], step_s: float) -> dict:
        return {}

    @classmethod
    def layers(cls) -> dict[str, tuple[str, str]]:
        return {}

    def layer_extras(self) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
# pipeline_batches
# --------------------------------------------------------------------------

PIPELINE_LAYERS = {
    "read_sales": "sources.readers.read_sales",
    "validate_batch": "operators.validate.validate_batch",
    "materialize": "operators.materialize.materialize",
    "append_log_idempotent": "sources.writers.append_log_idempotent",
    "read_serving_table": "sources.writers.read_serving_table",
    "upsert_keep_last": "operators.upsert.upsert_keep_last",
    "write_serving_table": "sources.writers.write_serving_table",
    "sales_summary": "operators.agg.sales_summary",
    "write_quarantine": "sources.writers.write_quarantine",
}


class PipelineBatches(Workload):
    """``pipeline.run_batch`` over raw sales files, as the reference
    Lambda handler runs one file per invocation."""

    name = "pipeline_batches"
    extra_layers = ("storage.bytes_per_input_byte", "storage.files")
    op_s = 1.6
    min_ops = 10
    rows = 5_000
    n_warm = 6

    def setup(self) -> None:
        from enterprise_sales_data_pipeline_using_aws_lambda_spark import (
            pipeline,
        )

        self.pipeline = pipeline
        self.warm, self.batches = inputs.sales_batches(
            self.seed, self.path("raw"), self.n_warm, self.k, self.rows
        )
        self.cfg = pipeline.PipelineConfig(
            lake_dir=self.path("lake"),
            warehouse_dir=self.path("warehouse"),
            quarantine_dir=self.path("quarantine"),
        )
        for attr, name in PIPELINE_LAYERS.items():
            self.tracer.wrap(pipeline, attr, name)
        for b in self.warm:
            if not self._run(b):
                raise RuntimeError(f"warm-up batch {b.path} misbehaved")
        self.sizes = {"batches": self.k, "rows_per_batch": self.rows,
                      "warmup_batches": self.n_warm}

    def _run(self, batch: inputs.SalesBatch) -> bool:
        with self.tracer.span("pipeline.run_batch"):
            res = self.pipeline.run_batch(self.spark, batch.path, self.cfg)
        if batch.defect is None:
            return res["status"] == "success"
        return res["status"] == "failed" and res.get("error") == (
            batch.expected_error
        )

    def ops(self):
        for b in self.batches:
            yield lambda b=b: self._run(b)

    def end_to_end(self, op_s, step_s):
        rows = sum(len(b.rows) for b in self.batches)
        return {
            "batch_p50_s": (statistics.median(op_s), "s"),
            "rows_per_s": (rows / step_s, "1/s"),
        }

    @classmethod
    def layers(cls):
        out = {}
        for name in PIPELINE_LAYERS.values():
            out.update(per(name, "s"))
        for name in ("operators.validate.validate_batch",
                     "operators.materialize.materialize",
                     "sources.writers.append_log_idempotent",
                     "sources.writers.read_serving_table",
                     "sources.writers.write_serving_table"):
            out.update(per(name, "jobs"))
        out.update(per("pipeline.run_batch", "jobs", "stages"))
        return out

    def layer_extras(self):
        raw = sum(os.path.getsize(b.path) for b in self.warm + self.batches)
        size, files = dir_bytes_files(
            self.path("lake"), self.path("warehouse"),
            self.path("quarantine"),
        )
        return {"storage.bytes_per_input_byte": size / raw,
                "storage.files": files}

    def check(self) -> tuple[list[str], int]:
        """Mismatches, and the number of timed batches that misbehaved
        in a way only the outputs show (a valid batch in quarantine)."""
        spark = self.spark
        problems: list[str] = []
        all_batches = self.warm + self.batches
        valid = [b for b in all_batches if b.defect is None]
        bad = [b for b in all_batches if b.defect is not None]
        n_valid_rows = sum(len(b.rows) for b in valid)
        for table in (self.cfg.lake_dir,
                      f"{self.cfg.warehouse_dir}/sales"):
            n = spark.read.parquet(table).count()
            if n != n_valid_rows:
                problems.append(f"{table}: {n} rows, want {n_valid_rows}")

        expect = pd.concat([b.rows for b in valid]).drop_duplicates(
            "uuid", keep="last"
        )
        tgt = spark.read.parquet(
            f"{self.cfg.warehouse_dir}/sales_tgt"
        ).select("uuid", "TotalRevenue").toPandas()
        if len(tgt) != len(expect) or set(tgt.uuid) != set(expect.uuid):
            problems.append(
                f"sales_tgt: {len(tgt)} rows / {tgt.uuid.nunique()} uuids, "
                f"want the {len(expect)} distinct valid uuids"
            )
        else:
            got = tgt.set_index("uuid").TotalRevenue.sort_index()
            want = expect.set_index("uuid").TotalRevenue.sort_index()
            if not np.array_equal(got.to_numpy(), want.to_numpy()):
                problems.append("sales_tgt: rows are not the last versions")

        want = expect.groupby("Country").agg(
            max_units_sold=("UnitsSold", "max"),
            average_total_revenue=("TotalRevenue", "mean"),
            average_total_cost=("TotalCost", "mean"),
            average_total_profit=("TotalProfit", "mean"),
        ).sort_index()
        got = spark.read.parquet(
            f"{self.cfg.warehouse_dir}/sales_summary"
        ).toPandas().set_index("Country").sort_index()[want.columns]
        if list(got.index) != list(want.index) or not np.allclose(
            got.to_numpy(float), want.to_numpy(float), rtol=1e-9, atol=0
        ):
            problems.append("sales_summary differs from pandas")

        q = spark.read.parquet(self.cfg.quarantine_dir).groupBy(
            "_source_file", "_error_reason"
        ).count().collect()
        got_q = {(r["_source_file"], r["_error_reason"], r["count"])
                 for r in q}
        want_q = {(b.path, b.expected_error, len(b.rows)) for b in bad}
        if got_q != want_q:
            problems.append(f"quarantine holds {sorted(got_q)}, "
                            f"want {sorted(want_q)}")
        timed_valid = {b.path for b in self.batches if b.defect is None}
        misrouted = {r["_source_file"] for r in q} & timed_valid
        return problems, len(misrouted)


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

QUERY_MIX = [
    "ref_sales_summary", "ref_upsert", "q1_pricing_summary",
    "q3_shipping_priority", "q5_local_supplier_volume",
    "window_top_orders_per_cust", "event_sessionize",
    "mad_robust_spread", "pagerank_part_graph",
]


def _check_oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s own query
    execution (planning is forced here; the noop write plans again)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


class QueryMix(Workload):
    """Rounds over nine registered queries, each run through the noop
    sink; the seed permutes the order within each round."""

    name = "query_mix"
    extra_layers = ("plans.catalyst_ms",)
    op_s = 14.0  # per round
    min_ops = 1
    sf = 0.01

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.catalyst: list[float] = []

    def setup(self) -> None:
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import (  # noqa: E501
            release_checkpoints,
        )
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.plans import (  # noqa: E501
            queries,
        )

        self.queries = queries
        self.release = release_checkpoints
        self.data = self.path("sf")
        rows = inputs.star_tables(self.seed, self.data, self.sf)
        self.sizes = {"rounds": self.k, "queries_per_round": len(QUERY_MIX),
                      "lineitem_rows": rows["lineitem"], "sf": self.sf}
        self.oracle_problems = self._oracle_pass()

    def _oracle_pass(self) -> list[str]:
        """The warm-up pass: every query once, checked against its
        DuckDB oracle with the oracle tool's canonical row sets."""
        import duckdb

        co = _check_oracle_module()
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "orders",
                  "lineitem", "events"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data, t)}.parquet'")
        problems = []
        for name in QUERY_MIX:
            got = self.queries.QUERIES[name](self.spark, self.data).toPandas()
            self.release(self.spark)
            want = con.sql(self.queries.ORACLES[name]).df()
            if sorted(got.columns) != sorted(want.columns) or (
                co.frame_rowset(got) != co.frame_rowset(want)
            ):
                problems.append(f"{name}: differs from its DuckDB oracle")
        con.close()
        return problems

    def _query(self, name: str) -> bool:
        with self.tracer.span(f"plans.{name}.build"):
            df = self.queries.QUERIES[name](self.spark, self.data)
        if self.tracer.enabled and self.tracer.phase == "timed":
            with self.tracer.span(f"plans.{name}.plan"):
                self.catalyst.append(catalyst_ms(df))
        with self.tracer.span(f"plans.{name}.exec"):
            df.write.format("noop").mode("overwrite").save()
        self.release(self.spark)
        return True

    def ops(self):
        rng = np.random.default_rng(self.seed)
        for _ in range(self.k):
            order = [QUERY_MIX[i] for i in rng.permutation(len(QUERY_MIX))]
            yield lambda order=order: all(
                [self._query(name) for name in order]
            )

    def end_to_end(self, op_s, step_s):
        return {
            "round_p50_s": (statistics.median(op_s), "s"),
            "queries_per_min": (
                60.0 * len(QUERY_MIX) * len(op_s) / step_s, "1/min"
            ),
        }

    @classmethod
    def layers(cls):
        out = {}
        for q in QUERY_MIX:
            out[f"plans.{q}.build_s"] = (f"plans.{q}.build", "s")
            out[f"plans.{q}.build_jobs"] = (f"plans.{q}.build", "jobs")
            out[f"plans.{q}.exec_s"] = (f"plans.{q}.exec", "s")
            out[f"plans.{q}.exec_jobs"] = (f"plans.{q}.exec", "jobs")
            out[f"plans.{q}.exec_stages"] = (f"plans.{q}.exec", "stages")
        return out

    def layer_extras(self):
        return {"plans.catalyst_ms": sum(self.catalyst) / self.k}

    def check(self):
        return self.oracle_problems, 0


# --------------------------------------------------------------------------
# dedup_ingest
# --------------------------------------------------------------------------

STORE_LAYERS = {
    "ingest_dedup_batch": "operators.text_dedup.ingest_dedup_batch",
    "append_batch_signatures":
        "operators.text_dedup.append_batch_signatures",
    "compact_lsh_signature_store":
        "operators.text_dedup.compact_lsh_signature_store",
}


class DedupIngest(Workload):
    """The daily-ingest transaction documented in
    ``text_dedup.ingest_dedup_batch``, batch after batch against one
    persisted LSH store, then one store compaction."""

    name = "dedup_ingest"
    extra_layers = ("storage.bytes_per_input_byte", "storage.files")
    op_s = 8.5
    min_ops = 2
    corpus_docs = 3_000
    batch_docs = 300

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators import (  # noqa: E501
            text_dedup,
        )
        from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources import (  # noqa: E501
            writers,
        )

        self.td, self.writers = text_dedup, writers
        corpus, batches = inputs.dedup_docs(
            self.seed, self.corpus_docs, self.k + 1, self.batch_docs
        )
        self.lake, self.store = self.path("lake"), self.path("store")
        self.batch_paths = []
        for i, b in enumerate(batches):
            p = self.path("batches", f"b{i:04d}.parquet")
            os.makedirs(os.path.dirname(p), exist_ok=True)
            ids, texts = zip(*b.rows)
            pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                     "text": list(texts)}), p)
            self.batch_paths.append(p)
        self.warm, self.batches = batches[:1], batches[1:]
        spark = self.spark
        docs = spark.createDataFrame(corpus, "doc_id long, text string")
        writers.append_log_idempotent(
            spark, docs, self.lake, "b_corpus", sort_col="doc_id",
            sort_files=4,
        )
        text_dedup.write_lsh_signature_store(docs, self.store)
        for attr, name in STORE_LAYERS.items():
            self.tracer.wrap(text_dedup, attr, name)
        self.tracer.wrap(writers, "append_log_idempotent",
                         "sources.writers.append_log_idempotent")
        self.tracer.wrap_context(writers, "writer_lease",
                                 "sources.writers.writer_lease")
        if not self._ingest(0):
            raise RuntimeError("warm-up dedup batch misbehaved")
        self.sizes = {"batches": self.k, "docs_per_batch": self.batch_docs,
                      "corpus_docs": self.corpus_docs,
                      "warmup_batches": 1}

    def _ingest(self, i: int) -> bool:
        spark, bid = self.spark, f"b{i:04d}"
        batch = spark.read.parquet(self.batch_paths[i])
        lake_docs = spark.read.parquet(self.lake).select("doc_id", "text")
        clean, _ = self.td.ingest_dedup_batch(lake_docs, batch, self.store)
        self.writers.append_log_idempotent(
            spark, clean, self.lake, bid, sort_col="doc_id", sort_files=4,
        )
        self.td.append_batch_signatures(
            clean, self.store, lease_token=f"append:{bid}"
        )
        return True

    def ops(self):
        for i in range(1, self.k + 1):
            yield lambda i=i: self._ingest(i)

    def finish(self) -> None:
        self.td.compact_lsh_signature_store(self.spark, self.store)

    def end_to_end(self, op_s, step_s):
        docs = self.k * self.batch_docs
        return {
            "batch_p50_s": (statistics.median(op_s), "s"),
            "rows_per_s": (docs / step_s, "1/s"),
        }

    @classmethod
    def layers(cls):
        out = {}
        for name in STORE_LAYERS.values():
            out.update(per(name, "s", "jobs"))
        out.update(per("sources.writers.writer_lease", "s"))
        out.update(per("sources.writers.append_log_idempotent", "s", "jobs"))
        return out

    def layer_extras(self):
        raw = sum(os.path.getsize(p) for p in self.batch_paths)
        size, files = dir_bytes_files(self.lake, self.store)
        return {"storage.bytes_per_input_byte": size / raw,
                "storage.files": files}

    def check(self):
        spark = self.spark
        from pyspark.sql import functions as F

        problems = []
        lake = spark.read.parquet(self.lake)
        got = {
            r["ingest_batch"]: set(r["ids"]) for r in lake.groupBy(
                "ingest_batch"
            ).agg(F.collect_list("doc_id").alias("ids")).collect()
        }
        for i, b in enumerate(self.warm + self.batches):
            want = {d for d, _ in b.rows} - b.planted
            if got.get(f"b{i:04d}") != want:
                problems.append(f"batch {i}: admitted docs differ from "
                                f"the batch minus its planted duplicates")
        lake_ids = [r[0] for r in lake.select("doc_id").collect()]
        store_ids = [r[0] for r in spark.read.parquet(
            os.path.join(self.store, "signatures")
        ).select("doc_id").collect()]
        if len(lake_ids) != len(set(lake_ids)):
            problems.append("the lake holds a doc id twice")
        if len(store_ids) != len(set(store_ids)) or (
            set(store_ids) != set(lake_ids)
        ):
            problems.append("store signature ids differ from lake doc ids")
        return problems, 0


WORKLOADS = {w.name: w for w in (PipelineBatches, QueryMix, DedupIngest)}

#: The workloads BENCHMARK.json lists; a traced run reports the layers
#: of all of them (and of its own workload).  ``query_mix`` is left out
#: because its oracle check fails on about a quarter of seeds (see
#: README.md).
LISTED = (PipelineBatches, DedupIngest)

