"""The two benchmark workloads and the checks on their outputs.

``images`` runs the image path: ``north_pipeline`` as one call, then the
staged ``PipelineRunner`` over the same inputs and its all-skipped
resubmit. ``tables`` runs a rulepack report over three TPC-H-style tables
(JVM only, no Python crossing) and the 15 headline registry queries; it
never decodes an image. An optimisation of the image operators, the tile
rollup or the runner should move ``images`` and leave ``tables`` flat, and
the other way round for the report and the registry.

Every workload times three operations per round, so both report the same
end-to-end metrics:

=========  ==================================  ===============================
metric     images                              tables
=========  ==================================  ===============================
call_s     one ``north_pipeline`` run          one ``run_rulepack`` report
steps_s    the four computed runner stages     the 15 headline queries, cold
rerun_s    the identical resubmit (skipped)    the 15 headline queries again,
                                               memo warm
=========  ==================================  ===============================
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F
from pyspark.sql import types as T

import bench
from spans import PYTHON_NODES, Tracer, executed_plan

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")

# Inputs of the image workload: the seed picks one of WINDOWS id windows of
# N_IMAGES synthetic images. Windows start on a multiple of 1000, so each
# has the same size/format/duplicate mix (datagen keys those on id % 1000)
# and the same 10% hotspot share in expectation (keyed on sha256 of the id).
N_IMAGES = 10_000
WINDOWS = 16
WINDOW_STRIDE = 1_000_000
N_POLYGONS = 100

# Inputs of the table workload: the sf0.01 tables (seed 42) kept next to
# this file. The workload ignores the seed.
SF_DIR = os.path.join(HERE, "data", "sf0.01")
REPORT_TABLES = ("lineitem", "orders", "customer")
RULEPACK = os.path.join(HERE, "rulepack.yaml")
REPORT_NOW = "2026-01-01T00:00:00Z"
HEADLINE = tuple(bench.HEADLINE)

STAGES = ("validate", "encode", "spatial_join", "tile")

PER_LAYER = (
    # operators.images: the decode/checks MapInPandas of north_pipeline
    ("images.decode_bytes_to_py", "bytes"),
    ("images.decode_rows_valid", "count"),
    ("images.decode_init_ms", "ms"),
    ("images.decode_excl_ms", "ms"),
    # spatial.ops: S2 encode (ArrowEvalPython) and PIP (MapInPandas)
    ("spatial.encode_bytes_to_py", "bytes"),
    ("spatial.encode_excl_ms", "ms"),
    ("spatial.pip_bytes_to_py", "bytes"),
    ("spatial.pip_excl_ms", "ms"),
    ("spatial.pip_matched_rows", "count"),
    # spatial.ops: tile_aggregates_annotated rollup
    ("spatial.tile_exchanges", "count"),
    ("spatial.tile_shuffle_bytes", "bytes"),
    ("spatial.tile_shuffle_write_ms", "ms"),
    ("spatial.tile_agg_peak_bytes", "bytes"),
    ("spatial.tile_avg_hash_probe", "x10"),
    ("spatial.tile_agg_ms", "ms"),
    # pipeline.north
    ("north.python_nodes", "count"),
    ("north.scan_bytes", "bytes"),
    ("north.tiles_out", "count"),
    ("north.plan_build_ms", "ms"),
    # pipeline.runner + sources.tables
    ("runner.validate_ms", "ms"),
    ("runner.encode_ms", "ms"),
    ("runner.spatial_join_ms", "ms"),
    ("runner.tile_ms", "ms"),
    ("runner.lineage_mirror_ms", "ms"),
    ("runner.resume_skipped", "count"),
    ("tables.bytes_written", "bytes"),
    ("tables.files_written", "count"),
    # plans.report / operators.rules / sources.tables
    ("report.ingest_ms", "ms"),
    ("report.compile_ms", "ms"),
    ("report.evidence_ms", "ms"),
    ("report.evidence_calls", "count"),
    ("report.attest_ms", "ms"),
    ("report.self_ms", "ms"),
    ("report.spark_jobs", "count"),
    # queries: the registry headline, one cold pass
    *((f"queries.{q}_s", "s") for q in HEADLINE),
    # end-to-end medians of the traced rounds, to compare with an untraced run
    ("trace.call_s", "s"),
    ("trace.steps_s", "s"),
    ("trace.rerun_s", "s"),
)


class CheckFailed(Exception):
    """An output that does not match its pinned value."""


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def _hashable(field: T.StructField):
    """The column with floating point rounded to float32, so that a checksum
    does not depend on the order in which Spark summed the doubles."""
    if isinstance(field.dataType, (T.DoubleType, T.FloatType)):
        return F.col(field.name).cast("float")
    return F.col(field.name)


def output_digest(df, extra: dict | None = None) -> dict:
    """Row count and an order-independent checksum of ``df`` (one job)."""
    h = F.xxhash64(*[_hashable(f) for f in df.schema.fields])
    aggs = [F.count(F.lit(1)).alias("rows"), F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("checksum")]
    aggs += [expr.alias(k) for k, expr in (extra or {}).items()]
    row = df.agg(*aggs).first().asDict()
    return {k: int(v or 0) for k, v in row.items()}


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, pinned {want!r}")


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def concurrently(jobs: dict) -> dict:
    """Run the callables in ``jobs`` as concurrent Spark jobs; returns
    their results by key. Used for the untimed checks, which are also the
    warm-up: compilation on the driver overlaps with execution."""
    with ThreadPoolExecutor(max_workers=4) as ex:
        futures = {k: ex.submit(fn) for k, fn in jobs.items()}
        return {k: f.result() for k, f in futures.items()}


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


class Workload:
    """One workload: untimed ``prepare`` and ``check``, then timed rounds.

    ``run_round`` returns the seconds of each timed operation by end-to-end
    metric; with ``tracer`` enabled it also fills ``self.layers``."""

    name = ""
    modules: tuple[str, ...] = ()
    reruns = 1  # rerun_s samples per round
    round_s = 1.0  # nominal seconds of one round on a 4-core host (C1 JIT)
    warmup_rounds = 0  # untimed rounds after the check

    def __init__(self, spark, seed: int, work_dir: str, pins: dict):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.pins = pins
        self.layers: dict[str, list[float]] = {}

    def record(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def inputs(self) -> dict:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def observe(self) -> dict:
        """The outputs that pins.json pins, computed afresh."""
        raise NotImplementedError

    def check(self) -> None:
        """Raise CheckFailed unless the outputs match pins.json."""
        raise NotImplementedError

    def run_round(self, tracer: Tracer) -> dict[str, list[float]]:
        raise NotImplementedError


# --------------------------------- images ---------------------------------


def generate_images(spark, first_id: int, n: int, out_dir: str) -> None:
    """Write the image table and its geo rows for ids [first_id, first_id+n)
    with the engine's public datagen functions."""
    parts = max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(first_id, first_id + n, 1, parts)

    def images(it):
        from fairy_core_spark.datagen.images import synth_image_rows_batch

        for pdf in it:
            if len(pdf):
                yield synth_image_rows_batch(pdf["id"].tolist())

    def geo(it):
        import pandas as pd

        from fairy_core_spark.datagen.images import geo_for

        for pdf in it:
            ids = [f"img{int(i):010d}" for i in pdf["id"].tolist()]
            pts = [geo_for(x) for x in ids]
            yield pd.DataFrame(
                {"image_id": ids, "lat": [p[0] for p in pts], "lon": [p[1] for p in pts]}
            )

    from fairy_core_spark.datagen.images import GEO_SCHEMA, IMAGE_SCHEMA

    base.mapInPandas(images, schema=IMAGE_SCHEMA).write.mode("overwrite").parquet(
        os.path.join(out_dir, "images")
    )
    base.mapInPandas(geo, schema=GEO_SCHEMA).write.mode("overwrite").parquet(
        os.path.join(out_dir, "geo")
    )


def north_layers(plan) -> dict[str, float]:
    """Per-operator numbers of one executed ``north_pipeline`` plan."""
    py = [n for n in plan.walk() if n.cls in PYTHON_NODES]
    decode = next(n for n in py if n.cls == "MapInPandasExec" and n.python_child() is None)
    encode = next(n for n in py if n.cls == "ArrowEvalPythonExec")
    pip = next(n for n in py if n.cls == "MapInPandasExec" and n is not decode)

    def excl(node):
        child = node.python_child()
        return node.metrics["pythonTotalTime"] - (child.metrics["pythonTotalTime"] if child else 0)

    # the validity filter: the lowest Filter above the decode node
    valid_filter = [
        n for n in plan.walk() if n.cls == "FilterExec" and any(c is decode for c in n.walk())
    ][-1]
    exchanges = plan.find("ShuffleExchangeExec")
    aggs = plan.find("HashAggregateExec")
    return {
        "images.decode_bytes_to_py": decode.metrics["pythonDataSent"],
        "images.decode_rows_valid": valid_filter.metrics["numOutputRows"],
        "images.decode_init_ms": decode.metrics["pythonInitTime"],
        "images.decode_excl_ms": excl(decode),
        "spatial.encode_bytes_to_py": encode.metrics["pythonDataSent"],
        "spatial.encode_excl_ms": excl(encode),
        "spatial.pip_bytes_to_py": pip.metrics["pythonDataSent"],
        "spatial.pip_excl_ms": excl(pip),
        "spatial.tile_exchanges": len(exchanges),
        "spatial.tile_shuffle_bytes": sum(e.metrics["shuffleBytesWritten"] for e in exchanges),
        "spatial.tile_shuffle_write_ms": sum(e.metrics["shuffleWriteTime"] for e in exchanges) / 1e6,
        "spatial.tile_agg_peak_bytes": max(a.metrics["peakMemory"] for a in aggs),
        "spatial.tile_avg_hash_probe": max(a.metrics["avgHashProbe"] for a in aggs),
        "spatial.tile_agg_ms": sum(a.metrics["aggTime"] for a in aggs),
        "north.python_nodes": len(py),
        "north.scan_bytes": sum(s.metrics["filesSize"] for s in plan.find("FileSourceScanExec")),
        "north.tiles_out": aggs[0].metrics["numOutputRows"],
    }


class ImagesWorkload(Workload):
    name = "images"
    reruns = 2
    round_s = 7.5
    # after the check alone, the first round still runs 10-30% slower than
    # the third; one untimed round takes most of that out
    warmup_rounds = 1
    modules = (
        "fairy_core_spark.operators.images",
        "fairy_core_spark.spatial.ops",
        "fairy_core_spark.datagen.images",
    )

    def __init__(self, spark, seed, work_dir, pins):
        super().__init__(spark, seed, work_dir, pins)
        self.window = seed % WINDOWS
        self.first_id = self.window * WINDOW_STRIDE
        self.n_runs = 0

    def inputs(self) -> dict:
        return {
            "images": N_IMAGES,
            "first_image_id": self.first_id,
            "window": self.window,
            "polygons": N_POLYGONS + 2,
        }

    def prepare(self) -> None:
        from fairy_core_spark.datagen.images import polygons_pdf

        in_dir = os.path.join(self.work_dir, "inputs")
        generate_images(self.spark, self.first_id, N_IMAGES, in_dir)
        self.images = self.spark.read.parquet(os.path.join(in_dir, "images"))
        self.geo = self.spark.read.parquet(os.path.join(in_dir, "geo"))
        self.polygons = polygons_pdf(N_POLYGONS)

    def _pinned(self) -> dict:
        return self.pins["images"]["windows"][str(self.window)]

    def north(self):
        from fairy_core_spark.pipeline.north import north_pipeline

        return north_pipeline(self.images, self.geo, self.polygons)

    def north_digest(self) -> dict:
        return output_digest(self.north(), {"pip_matches": F.sum("n_pip_matches")})

    def observe(self) -> dict:
        def staged():
            out_dir = os.path.join(self.work_dir, "staged-observe")
            self._staged(out_dir)
            with open(os.path.join(out_dir, "metrics.jsonl")) as f:
                rows = {m["stage"]: m["rows_out"] for m in map(json.loads, f)}
            shutil.rmtree(out_dir, ignore_errors=True)
            return rows

        return concurrently({"north": self.north_digest, "staged": staged})

    def check(self) -> None:
        got = self.observe()
        _expect("north_pipeline rollup (rows, checksum, PIP matches)", got["north"], self._pinned()["north"])
        _expect("staged rows_out", got["staged"], self._pinned()["staged"])
        self.pip_matches = got["north"]["pip_matches"]

    def _staged(self, out_dir: str) -> dict:
        from fairy_core_spark.pipeline.runner import PipelineRunner, image_pipeline_stages

        runner = PipelineRunner(self.spark, out_dir)
        stages = image_pipeline_stages(N_IMAGES)[2:]
        snap = f"perfbench-window-{self.window}-n{N_IMAGES}"
        return runner.run(
            stages,
            sources={"images": self.images, "geo": self.geo},
            source_snaps={"images": snap, "geo": snap},
        )

    def staged_run(self, tracer: Tracer) -> tuple[float, list[float]]:
        """Submit the four stages to a fresh out dir, check them, then
        resubmit. Returns (submit seconds, [resubmit seconds])."""
        self.n_runs += 1
        out_dir = os.path.join(self.work_dir, f"staged-{self.n_runs}")
        t0 = time.monotonic()
        with tracer.span("runner.run"):
            status = self._staged(out_dir)
        submit_s = time.monotonic() - t0
        _expect("staged submit status", status, {s: "completed" for s in STAGES})
        with open(os.path.join(out_dir, "metrics.jsonl")) as f:
            metrics = {m["stage"]: m for m in map(json.loads, f)}
        _expect(
            "staged rows_out",
            {s: metrics[s]["rows_out"] for s in STAGES},
            self._pinned()["staged"],
        )
        resume = []
        for _ in range(self.reruns):
            t0 = time.monotonic()
            status = self._staged(out_dir)
            resume.append(time.monotonic() - t0)
            _expect("staged resubmit status", status, {s: "skipped" for s in STAGES})
        if tracer.enabled:
            from fairy_core_spark.sources.tables import ParquetDirCatalog

            run_span = tracer.named("runner.run")[-1]
            stage_ms = sum(metrics[s]["wall_ms"] for s in STAGES)
            for s in STAGES:
                self.record(f"runner.{s}_ms", metrics[s]["wall_ms"])
            self.record("runner.lineage_mirror_ms", run_span.ms - stage_ms)
            self.record("runner.resume_skipped", list(status.values()).count("skipped"))
            catalog = ParquetDirCatalog(out_dir)
            outputs = ("validated", "encoded", "pip_pairs", "tiles")
            files = [f for t in outputs for f in catalog.files(t)]
            self.record("tables.files_written", len(files))
            self.record("tables.bytes_written", sum(f["bytes"] for f in files))
        shutil.rmtree(out_dir, ignore_errors=True)
        return submit_s, resume

    def run_round(self, tracer: Tracer) -> dict[str, list[float]]:
        t0 = time.monotonic()
        if tracer.enabled:
            with tracer.span("north.plan_build"):
                df = self.north()
            plan = executed_plan(df)
            for k, v in north_layers(plan).items():
                self.record(k, v)
            self.record("north.plan_build_ms", tracer.named("north.plan_build")[-1].ms)
            self.record("spatial.pip_matched_rows", self.pip_matches)
            _expect("north_pipeline rollup rows", plan.find("HashAggregateExec")[0].metrics["numOutputRows"],
                    self._pinned()["north"]["rows"])
        else:
            _force(self.north())
        call_s = time.monotonic() - t0
        submit_s, resume = self.staged_run(tracer)
        return {"call_s": [call_s], "steps_s": [submit_s], "rerun_s": resume}


# --------------------------------- tables ---------------------------------


def cold_memo(spark) -> None:
    """Drop the registry's memoised frames, so that the next pass starts
    from the same state as the first pass of a fresh session."""
    from fairy_core_spark import queries

    for df in list(queries._MEMO.values()):
        df.unpersist(blocking=True)
    queries._MEMO.clear()


def headline_fns() -> dict:
    """The headline entries; spatial_cell_encode is bench.py's bulk body."""
    from fairy_core_spark.queries import queries

    qs = queries()
    return {q: bench._bulk_cell_encode if q == "spatial_cell_encode" else qs[q] for q in HEADLINE}


def report_outcome(report: dict) -> dict:
    return {
        "dataset_id": report["attestation"]["dataset_id"],
        "summary": report["summary"],
        "status": {r["id"]: r["status"] for res in report["resources"] for r in res["rules"]},
    }


class TablesWorkload(Workload):
    name = "tables"
    # one round: every timed operation here is a few seconds of Spark jobs;
    # a second round would push a run past a minute under CPU contention
    round_s = 20.0
    modules = (
        "fairy_core_spark.queries",
        "fairy_core_spark.operators.text",
        "fairy_core_spark.operators.dedup",
        "fairy_core_spark.spatial.ops",
    )

    def inputs(self) -> dict:
        import pyarrow.parquet as pq

        rows = {t: pq.ParquetFile(os.path.join(SF_DIR, f"{t}.parquet")).metadata.num_rows
                for t in REPORT_TABLES}
        return {"sf": 0.01, "report_rows": sum(rows.values()), **{f"{t}_rows": n for t, n in rows.items()},
                "rules": len(self.rulepack.rules), "headline_queries": len(HEADLINE)}

    def prepare(self) -> None:
        from fairy_core_spark.rulepack.loader import load_rulepack

        self.rulepack = load_rulepack(RULEPACK)
        self.report_inputs = {t: os.path.join(SF_DIR, f"{t}.parquet") for t in REPORT_TABLES}
        self.fns = headline_fns()

    def report(self) -> dict:
        from fairy_core_spark.plans.report import run_rulepack

        return run_rulepack(
            self.spark, self.report_inputs, self.rulepack, rp_path="rulepack.yaml", now_iso=REPORT_NOW
        )

    def observe(self) -> dict:
        cold_memo(self.spark)
        def digest(fn):
            return output_digest(fn(self.spark, SF_DIR))

        jobs = {q: functools.partial(digest, fn) for q, fn in self.fns.items()}
        jobs["report"] = lambda: report_outcome(self.report())
        got = concurrently(jobs)
        return {"report": got.pop("report"), "queries": got}

    def check(self) -> None:
        got = self.observe()
        _expect("report", got["report"], self.pins["tables"]["report"])
        for q, digest in got["queries"].items():
            _expect(f"query {q}", digest, self.pins["tables"]["queries"][q])

    def traced_report(self, tracer: Tracer) -> dict:
        """The report with spans around the calls it makes into the layers
        below it (module attributes swapped for the call, then restored)."""
        from fairy_core_spark.operators import rules
        from fairy_core_spark.plans import report as report_mod

        patches = [
            (report_mod, "read_input", "report.ingest"),
            (report_mod, "with_row_id_ingest", "report.ingest"),
            (report_mod, "compile_rule", "report.compile"),
            (report_mod, "sha256_file", "report.attest"),
            (report_mod, "table_fingerprint", "report.attest"),
            (rules.RuleContext, "collect_rows", "report.evidence"),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
        # Jobs are counted on the scheduler's job-id counter, not by job
        # group: the report's evidence jobs run on a thread pool, whose
        # threads do not inherit the caller's job group.
        scheduler = self.spark.sparkContext._jsc.sc().dagScheduler()
        try:
            for obj, attr, span in patches:
                setattr(obj, attr, tracer.wrap(span, getattr(obj, attr)))
            first_job = scheduler.nextJobId()
            with tracer.span("report", root=True):
                out = self.report()
            jobs = scheduler.nextJobId() - first_job
        finally:
            for obj, attr, fn in saved:
                setattr(obj, attr, fn)
        top = tracer.named("report")[-1]
        inside = [s for s in tracer.spans if top.start <= s.start and s.end <= top.end]
        for name in ("ingest", "compile", "evidence", "attest"):
            self.record(f"report.{name}_ms",
                        tracer.covered_ms([s for s in inside if s.name == f"report.{name}"]))
        self.record("report.evidence_calls", sum(s.name == "report.evidence" for s in inside))
        self.record("report.self_ms", tracer.self_ms(top))
        self.record("report.spark_jobs", jobs)
        return out

    def headline_pass(self, tracer: Tracer | None) -> float:
        """Seconds to force the 15 headline queries one after the other;
        with ``tracer`` enabled, each query's seconds are recorded too."""
        total = 0.0
        for q, fn in self.fns.items():
            dt = _timed(lambda: _force(fn(self.spark, SF_DIR)))
            total += dt
            if tracer is not None and tracer.enabled:
                self.record(f"queries.{q}_s", dt)
        return total

    def run_round(self, tracer: Tracer) -> dict[str, list[float]]:
        t0 = time.monotonic()
        report = self.traced_report(tracer) if tracer.enabled else self.report()
        call_s = time.monotonic() - t0
        _expect("report", report_outcome(report), self.pins["tables"]["report"])

        cold_memo(self.spark)
        steps = self.headline_pass(tracer)
        rerun = self.headline_pass(None)
        return {"call_s": [call_s], "steps_s": [steps], "rerun_s": [rerun]}


WORKLOADS = {w.name: w for w in (ImagesWorkload, TablesWorkload)}
