"""The two workloads: their inputs, one pass of calls, and output checks.

Each workload object owns its generated inputs and exposes:

- ``make_inputs()`` — write the seeded inputs under the run's work dir;
- ``run_pass(spark, tracer)`` — one pass, the closed-loop unit that is
  timed; returns what the checks need;
- ``check_pass(spark, out)`` — ``(attempted, failed)`` for that pass, and
  ``check_sample(spark, out)`` — failures of a sampled check on one pass;
  both run outside the timed region;
- ``trace_layers``, ``pass_metrics`` and ``layer_metrics`` — the extra
  calls and the per-layer numbers of a traced run.

Layer spans are named ``<layer>.<call>`` after the package modules:
``session``, ``sources``, ``pipeline``, ``operators``, ``curate``, ``loops``.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

import catalog
import inputs

MB = 1024 * 1024


def _median(values, default=0.0):
    return statistics.median(values) if values else default


def _pct(values, q):
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, max(0, math.ceil(q / 100 * len(ordered)) - 1))]


def _results(out: str, columns: list[str]) -> dict[str, list]:
    """Columns of a pass's result table, read without Spark, so a check
    adds no jobs to the session it checks."""
    import pyarrow.parquet as pq

    return pq.read_table(f"{out}/results", columns=columns).to_pydict()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# ---------------------------------------------------------------------------
# extract
# ---------------------------------------------------------------------------


class Extract:
    """``run_resumable`` into an empty directory over a multi-file corpus,
    with the default ``n_parts``. ``operators.proc_sum_s`` over
    ``pipeline.resumable_s`` shows how much of a pass is per-document
    ``extract_document`` work; the rest is mostly per-task Python worker
    initialisation and Arrow conversion."""

    name = "extract"
    WARMUP_PASSES, MIN_PASSES = 1, 1
    N_DOCS = 20_000
    n_docs = N_DOCS
    N_FILES = 8
    SAMPLE_PER_FAMILY = 40

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.corpus_dir = f"{work}/corpus"
        self.ocr = inputs.ocr_lookup(seed)
        self.passes = 0

    def make_inputs(self) -> None:
        docs = inputs.corpus_docs(self.seed, self.n_docs)
        self.doc_ids = {d[0] for d in docs}
        shutil.rmtree(self.corpus_dir, ignore_errors=True)
        inputs.write_corpus(self.corpus_dir, inputs.corpus_table(docs), self.N_FILES)
        rng = random.Random(self.seed)
        by_family: dict[str, list] = {}
        for d in docs:
            by_family.setdefault(d[1], []).append(d)
        self.sample = {
            fam: rng.sample(rows, min(self.SAMPLE_PER_FAMILY, len(rows)))
            for fam, rows in sorted(by_family.items())
        }
        self.layout_sample = inputs.layout_docs(self.seed, self.SAMPLE_PER_FAMILY)
        self.input_bytes = sum(
            os.path.getsize(f"{self.corpus_dir}/{f}") for f in os.listdir(self.corpus_dir)
        )

    def _load(self, spark):
        from samu_ocr_extraction_poc_spark.sources.readers import load_documents

        return load_documents(spark, self.corpus_dir)

    def run_pass(self, spark, tracer) -> str:
        from samu_ocr_extraction_poc_spark.plans.pipeline import run_resumable

        out = f"{self.work}/out-{self.passes}"
        self.passes += 1
        with tracer.span("pipeline.resumable", spark):
            run_resumable(spark, self._load(spark), out, ocr_lookup=self.ocr)
        return out

    def check_pass(self, spark, out: str) -> tuple[int, int]:
        """Exactly one row per input doc, with status 'done'. A missing,
        duplicated or error-status doc fails, and so does a row whose doc_id
        is not an input doc."""
        rows = _results(out, ["doc_id", "status"])
        per_id = Counter(rows["doc_id"])
        done = {d for d, s in zip(rows["doc_id"], rows["status"]) if s == "done"}
        good = sum(1 for d in self.doc_ids if per_id[d] == 1 and d in done)
        unknown = sum(n for d, n in per_id.items() if d not in self.doc_ids)
        failed = self.n_docs - good + unknown
        if failed:
            print(f"extract: {failed} failed rows in {out}", file=sys.stderr)
        return self.n_docs, failed

    def check_sample(self, spark, out: str) -> int:
        """Span-sequence equality of the engine's ``out_spans`` against
        in-process ``extract_document`` on the seeded sample; returns the
        number of sampled documents that differ."""
        from pyspark.sql import functions as F

        from samu_ocr_extraction_poc_spark.plans.pipeline import extract_document
        from samu_ocr_extraction_poc_spark.schema import DOCUMENTS_SCHEMA
        from samu_ocr_extraction_poc_spark.verify import span_equality_report

        rows = [d for fam in self.sample.values() for d in fam]
        expected = spark.createDataFrame(
            [
                (doc_id, [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in extract_document(doc_id, spans, self.ocr)["out_spans"]])
                for doc_id, _fam, spans in rows
            ],
            DOCUMENTS_SCHEMA,
        )
        ids = [doc_id for doc_id, _fam, _spans in rows]
        res = spark.read.parquet(f"{out}/results").where(F.col("doc_id").isin(ids))
        report = span_equality_report(res, expected)
        bad = report.where("NOT coalesce(equal, false)").count()
        if bad:
            print(f"extract: {bad} sampled docs differ in span sequence", file=sys.stderr)
        return bad

    def discard(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    # -- traced run ------------------------------------------------------

    def trace_layers(self, spark, tracer) -> None:
        """One call per layer below the pipeline, each to a noop sink."""
        from samu_ocr_extraction_poc_spark.plans.pipeline import extract_document, run_extraction

        with tracer.span("sources.scan", spark):
            self._load(spark).write.format("noop").mode("overwrite").save()
        with tracer.span("pipeline.extract", spark):
            run_extraction(self._load(spark), ocr_lookup=self.ocr).write.format("noop").mode(
                "overwrite"
            ).save()
        self.doc_us = {}
        for fam, rows in {**self.sample, "layout": self.layout_sample}.items():
            times = []
            with tracer.span(f"operators.{fam}"):
                for doc_id, _fam, spans in rows:
                    t0 = time.perf_counter_ns()
                    extract_document(doc_id, spans, self.ocr)
                    times.append((time.perf_counter_ns() - t0) / 1000)
            self.doc_us[fam] = times

    def pass_metrics(self, spark, outs: list[str]) -> dict:
        """``proc_us`` percentiles and sum from the last pass's result
        column: the time ``extract_document`` took inside the workers."""
        proc = _results(outs[-1], ["proc_us"])["proc_us"]
        return {
            "operators.proc_us.p50": _pct(proc, 50),
            "operators.proc_us.p99": _pct(proc, 99),
            "operators.proc_us.max": max(proc),
            "operators.proc_sum_s": sum(proc) / 1e6,
        }

    def layer_metrics(self, tracer, ledger) -> dict:
        def med(name, key, scale=1.0):
            return _median([ledger[s["id"]][key] / scale for s in tracer.named(name)])

        res = "pipeline.resumable"
        m = {
            "sources.scan_s": med("sources.scan", "wall_ms", 1000),
            "sources.input_mb": self.input_bytes / MB,
            "pipeline.extract_s": med("pipeline.extract", "wall_ms", 1000),
            "pipeline.resumable_s": med(res, "wall_ms", 1000),
            "pipeline.driver_s": med(res, "driver_ms", 1000),
            "pipeline.jobs": med(res, "jobs"),
            "pipeline.py_start_ms": med(res, "py_start_ms"),
            "pipeline.py_init_ms": med(res, "py_init_ms"),
            "pipeline.py_run_ms": med(res, "py_run_ms"),
            "pipeline.arrow_to_py_mb": med(res, "arrow_to_py_bytes", MB),
            "pipeline.arrow_from_py_mb": med(res, "arrow_from_py_bytes", MB),
            "pipeline.cpu_ms": med(res, "cpu_ms"),
            "pipeline.gc_ms": med(res, "gc_ms"),
            "pipeline.output_mb": med(res, "output_bytes", MB),
            "pipeline.task_max_over_median": med(res, "task_max_over_median"),
            "pipeline.tasks_failed": sum(ledger[s["id"]]["tasks_failed"] for s in tracer.named(res)),
        }
        for fam in inputs.FAMILIES:
            times = self.doc_us.get(fam) or [0.0]
            m[f"operators.doc_us.{fam}.p50"] = _pct(times, 50)
            m[f"operators.doc_us.{fam}.p99"] = _pct(times, 99)
        return m


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


def _norm(v):
    """Type-tagged canonical form, so an int 42 never equals a float 42.0."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", str(v))
    if isinstance(v, int):
        return ("int", str(v))
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, (list, tuple)):
        return ("list", str([_norm(x) for x in v]))
    return (type(v).__name__, str(v))


def _canon(rows) -> list:
    """Order-insensitive canonical form of a result: rows as dicts, keyed by
    column name so column order does not matter."""
    out = []
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(r)
        out.append(tuple((k, _norm(d[k])) for k in sorted(d)))
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for _k, v in t))


class Curate:
    """Contract queries over a seeded ``documents`` table (the ``curate``
    layer), then loop operators on tiny inputs (the ``loops`` layer). A pass
    makes each call once and collects its rows; the check compares them with
    a reference computed once per run: each query's ``ORACLE_SQL`` in
    DuckDB, and pure Python for the loops."""

    name = "curate"
    # The first pass in a fresh JVM is cold (21-28 s on a 4-vCPU VM); the
    # driver's planning code then speeds up over about four more passes.
    # Passes 2 and 3 vary least between runs: later ones depend on how far
    # the JIT has got, which differs from one JVM to the next.
    WARMUP_PASSES, MIN_PASSES = 1, 2
    N_DOCS = 500
    n_docs = N_DOCS
    CHAIN_NODES, CHAIN_LEN = 200, 4

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.sf_dir = f"{work}/sf"
        self.reference: dict[str, list] | None = None

    def make_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.sf_dir, exist_ok=True)
        pq.write_table(inputs.documents_table(self.seed, self.N_DOCS), f"{self.sf_dir}/documents.parquet")
        self.chain = inputs.chain_forest(self.seed, self.CHAIN_NODES, self.CHAIN_LEN)
        pq.write_table(
            pa.table({"doc_a": [a for a, _ in self.chain], "doc_b": [b for _, b in self.chain]}),
            f"{self.work}/chain.parquet",
        )

    def calls(self) -> dict:
        """Span name -> call(spark, stats) returning the collected rows."""
        from samu_ocr_extraction_poc_spark.contract import QUERIES
        from samu_ocr_extraction_poc_spark.operators import dedup

        def query(q):
            return lambda spark, _stats: QUERIES[q](spark, self.sf_dir).collect()

        def read(spark, name):
            return spark.read.parquet(f"{self.work}/{name}.parquet")

        def connected_components(spark, stats):
            return dedup.connected_components(read(spark, "chain"), stats=stats).collect()

        loops = {"connected_components": connected_components}
        return {
            **{f"curate.{q}": query(q) for q in catalog.CURATE_QUERIES},
            **{f"loops.{op}": loops[op] for op in catalog.LOOP_OPS},
        }

    def run_pass(self, spark, tracer) -> dict:
        out = {}
        for name, call in self.calls().items():
            before = _persistent_rdds(spark)
            stats: dict = {}
            try:
                with tracer.span(name, spark):
                    rows = call(spark, stats)
            except Exception:  # a failing call is counted, the pass goes on
                traceback.print_exc()
                rows = None
            out[name] = {"rows": rows, "stats": stats, "leaked": _persistent_rdds(spark) - before}
        return out

    def compute_reference(self) -> dict:
        import duckdb

        import reference
        from samu_ocr_extraction_poc_spark.contract import ORACLE_SQL

        ref = {}
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.sf_dir}/documents.parquet'")
            for q in catalog.CURATE_QUERIES:
                cur = con.execute(ORACLE_SQL[q])
                cols = [d[0] for d in cur.description]
                ref[f"curate.{q}"] = _canon([dict(zip(cols, r)) for r in cur.fetchall()])
        finally:
            con.close()
        comp = reference.components(self.chain)
        loops = {"connected_components": [{"doc_id": n, "component": c} for n, c in comp.items()]}
        ref.update({f"loops.{op}": _canon(loops[op]) for op in catalog.LOOP_OPS})
        return ref

    def check_pass(self, spark, out: dict) -> tuple[int, int]:
        """A call that raised or whose rows differ from the reference fails."""
        if self.reference is None:
            self.reference = self.compute_reference()
        failed = 0
        for name, res in out.items():
            if res["rows"] is None or _canon(res["rows"]) != self.reference[name]:
                print(f"curate: {name} does not match its reference", file=sys.stderr)
                failed += 1
        return len(out), failed

    def check_sample(self, spark, out) -> int:
        return 0

    def discard(self, out) -> None:
        pass

    def trace_layers(self, spark, tracer) -> None:
        pass

    def pass_metrics(self, spark, outs: list[dict]) -> dict:
        """Counts the runner observed from outside each call: the net change
        in persistent RDDs across it, and a loop's round count."""
        m = {}
        for name in self.calls():
            m[f"{name}.leaked_rdds"] = _median([o[name]["leaked"] for o in outs])
            if name.startswith("loops."):
                m[f"{name}.rounds"] = _median([o[name]["stats"].get("rounds", 0) for o in outs])
        return m

    def layer_metrics(self, tracer, ledger) -> dict:
        m = {}
        for name in self.calls():
            rows = [ledger[s["id"]] for s in tracer.named(name)]
            m[f"{name}.s"] = _median([r["wall_ms"] / 1000 for r in rows])
            m[f"{name}.jobs"] = _median([r["jobs"] for r in rows])
            m[f"{name}.driver_s"] = _median([r["driver_ms"] / 1000 for r in rows])
            if name.startswith("curate."):
                m[f"{name}.shuffle_mb"] = _median([r["shuffle_write_bytes"] / MB for r in rows])
                m[f"{name}.spill_mb"] = _median([r["spill_bytes"] / MB for r in rows])
        return m


WORKLOADS = {w.name: w for w in (Extract, Curate)}
