"""The benchmark's workloads: set-up, one timed batch, and the output check.

A *batch* is the unit the benchmark times: one ``run_landing_zone`` drain of
a freshly landed zone, or one pass over the analytics query set. Every file
of a drain and every query execution is one *operation*; an operation fails
when it raises or when its output check does not hold.
"""

from __future__ import annotations

import json
import os
import random
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from perfbench import ctbgen, tpcgen
from perfbench.digest import digest
from perfbench.trace import Hooked, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

# The frozen 16-query headline of the repository's bench.py, plus the
# triangle count (the wedge-family graph query).
ANALYTICS_QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "window_running_total",
    "agg_rollup_status_priority",
    "join_asof_purchase_view",
    "stream_tumbling_hourly",
    "dedup_exact_documents",
    "dedup_minhash_lsh",
    "similarity_topk_bruteforce",
    "similarity_ivf_topk",
    "text_token_stats",
    "text_rolling_fingerprint",
    "subquery_correlated_avg_qty",
    "pipeline_training_data_curation",
    "graph_triangle_count",
]
OPERATOR_MODULES = (
    "tpch", "windows", "aggregates", "joins", "streaming_queries", "subqueries",
    "dedup", "similarity", "textops", "graph",
)
ANALYTICS_SF = 0.001
REFERENCE = os.path.join(HERE, "reference.json")

SPARK_LAYERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.slot_busy_ratio", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
)
INGEST_LAYERS = (
    "runner.jobs_per_file", "runner.self_s", "pipeline.ingest_file_s",
    "pipeline.calls", "pipeline.jobs", "sinks.warehouse_write_s",
    "sinks.quarantine_write_s", "sinks.rows_written", "sinks.files_written",
    "sinks.bytes_written", "sinks.bytes_per_input_byte", "lifecycle.list_s",
    "lifecycle.rename_s", "lifecycle.renames", "notify.s", "notify.events",
    "spark.scan_bytes_per_input_byte",
)
ANALYTICS_LAYERS = (
    "registry.build_s", "registry.build_jobs", "operators.execute_s",
    *(f"operators.{m}.s" for m in OPERATOR_MODULES),
)
# Every per-layer metric a traced run prints, on every workload (a layer a
# workload does not reach reads 0).
PER_LAYER = (
    "session.get_spark_s", "registry.load_all_s", *INGEST_LAYERS,
    *ANALYTICS_LAYERS, *SPARK_LAYERS, "trace.batch_s", "trace.self_s",
)


@dataclass
class Batch:
    wall_s: float
    op_s: dict[str, float]  # operation -> seconds, for operations that completed
    rows: int  # rows delivered by the batch
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    steal_share: float | None = None  # host CPU stolen while it ran (run.steal_share)


@dataclass
class Context:
    spark: object
    root: str  # scratch directory of this run, inside the checkout
    seed: int
    nproc: int
    tracer: Tracer | None = None
    info: dict = field(default_factory=dict)  # recorded in the run's artifact


def spark_layers(spans, wall: float, nproc: int) -> dict[str, float]:
    """Scheduler totals over the spans that cover one batch."""
    c = {k: sum(s.counters[k] for s in spans) for k in spans[0].counters}
    run_s = c["executor_run_ms"] / 1000.0
    return {
        "spark.jobs": sum(s.jobs for s in spans),
        "spark.stages": sum(s.stages for s in spans),
        "spark.tasks": c["tasks"],
        "spark.executor_run_s": run_s,
        "spark.slot_busy_ratio": run_s / (wall * nproc),
        "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.spill_bytes": c["spill_bytes"],
        "trace.batch_s": wall,
    }


# --------------------------------------------------------------------- ingest


def _sink_rows(base: str, sink: str, columns: list[str]) -> list[dict]:
    """The rows a sink wrote, read with pyarrow rather than the Spark under
    test."""
    import pyarrow.parquet as pq

    path = os.path.join(base, sink)
    if not os.path.isdir(path):
        return []
    return [r for n in sorted(os.listdir(path)) if n.endswith(".parquet")
            for r in pq.read_table(os.path.join(path, n), columns=columns).to_pylist()]


NOTICES = {  # expected notice -> (notification kind, text the body must contain)
    "success": ("success", "Successfully inserted {e.valid} rows from '{name}'"),
    "partial": ("error", "Inserted {e.valid} valid rows from '{name}'; "
                         "{e.quarantined} rows quarantined"),
    "no_valid": ("error", "No valid data rows found in '{name}' to insert "
                          "({e.quarantined} quarantined)"),
    "bad_header": ("error", "do not match expected schema"),
    "no_rows": ("error", "is empty or has no data rows"),
}


def _reason_kind(msg: str) -> str:
    if "column count mismatch" in msg:
        return "malformed"
    if "to INTEGER" in msg:
        return "int"
    if "to DATE" in msg:
        return "date"
    return "other"


class IngestWorkload:
    """Drains of a seeded CTB landing zone through ``run_landing_zone``."""

    def __init__(self, spec: ctbgen.ZoneSpec):
        self.spec = spec
        self.files: list[ctbgen.LandedFile] = []

    def setup(self, ctx: Context) -> Batch:
        self.files = ctbgen.generate(ctx.seed, self.spec)
        ctx.info["input_files"] = len(self.files)
        ctx.info["input_rows"] = self._rows(self.files)
        ctx.info["input_bytes"] = sum(len(f.data) for f in self.files)
        # Warm-up drain of a zone like the timed one (other contents): the
        # first Spark jobs, JIT and codegen are paid before timing, and the
        # first drain of full-size files, about half again slower than the
        # ones after it, is not timed. Checked like any batch.
        return self.drain(ctx, ctbgen.generate(ctx.seed + 1, self.spec), None)

    @staticmethod
    def _rows(files) -> int:
        return sum(f.expected.valid + f.expected.quarantined for f in files)

    def batch(self, ctx: Context) -> Batch:
        return self.drain(ctx, self.files, ctx.tracer)

    def drain(self, ctx: Context, files, tracer: Tracer | None) -> Batch:
        from etl_data_ingestion_spark.ingest import runner
        from etl_data_ingestion_spark.ingest.lifecycle import LandingZone
        from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
        from etl_data_ingestion_spark.notify import CollectingNotifier

        spark = ctx.spark
        base = os.path.join(ctx.root, f"drain{len(os.listdir(ctx.root))}")
        unprocessed = os.path.join(base, "zone", "Unprocessed")
        os.makedirs(unprocessed)
        for f in files:  # re-land a pristine copy, untimed
            with open(os.path.join(unprocessed, f.name), "wb") as fh:
                fh.write(f.data)
        zone = LandingZone(spark, os.path.join(base, "zone"))
        zone.ensure_dirs()
        warehouse = ParquetWarehouseSink(os.path.join(base, "warehouse"))
        quarantine = ParquetWarehouseSink(os.path.join(base, "quarantine"))
        notifier = CollectingNotifier()

        done: dict[str, float] = {}  # file -> time of its terminal rename

        def stamped(fn):
            def call(path):
                out = fn(path)
                done.setdefault(os.path.basename(path), time.perf_counter())
                return out
            return call

        def tw(name):  # tracer wrapper, or identity when untraced
            return (lambda fn: tracer.wrap(name, fn)) if tracer else (lambda fn: fn)

        zone_h = Hooked(zone, {
            "list_unprocessed": tw("lifecycle.list"),
            "mark_processed": lambda fn: stamped(tw("lifecycle.rename")(fn)),
            "mark_failed": lambda fn: stamped(tw("lifecycle.rename")(fn)),
        })
        args = [zone_h, warehouse, quarantine, notifier]
        if tracer:
            args[1] = Hooked(warehouse, {"write": tw("sinks.warehouse_write"),
                                         "check_target": tw("sinks.check_target")})
            args[2] = Hooked(quarantine, {"write": tw("sinks.quarantine_write")})
            args[3] = Hooked(notifier, {m: tw("notify") for m in ("success", "error", "no_data")})
        original = runner.ingest_ctb_file
        if tracer:
            runner.ingest_ctb_file = tracer.wrap("pipeline.ingest_ctb_file", original)
        first_span = len(tracer.spans) if tracer else 0
        tracer_s = tracer.self_s if tracer else 0.0
        try:
            t0 = time.perf_counter()
            if tracer:
                with tracer.span("runner.run_landing_zone"):
                    report = runner.run_landing_zone(spark, *args)
            else:
                report = runner.run_landing_zone(spark, *args)
            wall = time.perf_counter() - t0
        finally:
            runner.ingest_ctb_file = original

        # A file's time is from drain start until it is renamed to Processed
        # or Failed: when a user sees it done. A file whose rename the zone
        # did not see fails.
        op_s = {f.name: done[f.name] - t0 for f in files if f.name in done}
        errors = [f"{f.name}: no terminal rename seen" for f in files if f.name not in done]
        errors += self.check(files, report, notifier, base)
        bad = {e.split(":", 1)[0] for e in errors}
        failed = len(files) if "*" in bad else sum(f.name in bad for f in files)
        b = Batch(wall, op_s, self._rows(files), len(files), failed, errors)
        if tracer:
            b.layers = self.layers(ctx, tracer, first_span, files, base)
            b.layers["trace.self_s"] = tracer.self_s - tracer_s
        return b

    def check(self, files, report, notifier, base) -> list[str]:
        """Every file's outcome, notification, lifecycle state, warehouse rows
        and quarantine reasons against what the generator put in. Returns
        ``"<file>: <what differs>"`` lines; ``"*"`` marks a zone-wide fault."""
        errs = []
        got = {o.path.rsplit("/", 1)[-1]: o for o in report.outcomes}
        if len(report.outcomes) != len(files):
            errs.append(f"*: {len(report.outcomes)} outcomes for {len(files)} files")
        for f in files:
            o, e = got.get(f.name), f.expected
            if o is None:
                errs.append(f"{f.name}: no outcome")
                continue
            if (o.state, o.valid_rows, o.quarantined_rows) != (e.state, e.valid, e.quarantined):
                errs.append(f"{f.name}: outcome {(o.state, o.valid_rows, o.quarantined_rows)} "
                            f"!= {(e.state, e.valid, e.quarantined)}")
            state_dir = "Processed" if e.state == "processed" else "Failed"
            if not os.path.exists(os.path.join(base, "zone", state_dir, f.name)):
                errs.append(f"{f.name}: not in {state_dir}/")
            kind, text = NOTICES[e.notice]
            text = text.format(e=e, name=f.name)
            notes = [n for n in notifier.events if n.subject.endswith(f" - {f.name}")]
            if len(notes) != 1 or notes[0].kind != kind or text not in notes[0].body:
                errs.append(f"{f.name}: notifications {[(n.kind, n.body[:60]) for n in notes]}")
        if len(notifier.events) != len(files):
            errs.append(f"*: {len(notifier.events)} notifications for {len(files)} files")

        wh = Counter(r["_load_id"] for r in _sink_rows(base, "warehouse", ["_load_id"]))
        want_wh = {f.name: f.expected.valid for f in files if f.expected.state == "processed"}
        if wh != want_wh:
            diff = sorted(set(wh.items()) ^ set(want_wh.items()))[:4]
            errs += [f"{n}: warehouse rows differ ({c})" for n, c in diff]
        qc, qk = Counter(), defaultdict(set)
        for r in _sink_rows(base, "quarantine", ["_load_id", "_errors"]):
            qc[r["_load_id"]] += 1
            qk[r["_load_id"]].update(r["_errors"] or [])
        for f in files:
            kinds = {_reason_kind(m) for m in qk.get(f.name, [])}
            if kinds != set(f.expected.reasons):
                errs.append(f"{f.name}: quarantine reasons {sorted(kinds)} != "
                            f"{sorted(f.expected.reasons)}")
            if qc.get(f.name, 0) != f.expected.quarantined:
                errs.append(f"{f.name}: {qc.get(f.name, 0)} quarantine rows")
        return errs

    def layers(self, ctx, tracer, first, files, base) -> dict[str, float]:
        spans = list(enumerate(tracer.spans))[first:]
        root = next(i for i, s in spans if s.name == "runner.run_landing_zone")

        def total(name, attr="duration"):
            return sum(getattr(s, attr) for _, s in spans if s.name == name)

        def count(name):
            return sum(1 for _, s in spans if s.name == name)

        out_files = out_bytes = 0
        for d in ("warehouse", "quarantine"):
            path = os.path.join(base, d)
            for n in os.listdir(path) if os.path.isdir(path) else []:
                if n.endswith(".parquet"):
                    out_files += 1
                    out_bytes += os.path.getsize(os.path.join(path, n))
        in_bytes = sum(len(f.data) for f in files)
        rs = tracer.spans[root]
        return {
            **spark_layers([rs], rs.duration, ctx.nproc),
            "runner.jobs_per_file": rs.jobs / len(files),
            "runner.self_s": tracer.self_time(root),
            "pipeline.ingest_file_s": total("pipeline.ingest_ctb_file"),
            "pipeline.calls": count("pipeline.ingest_ctb_file"),
            "pipeline.jobs": total("pipeline.ingest_ctb_file", "jobs"),
            "sinks.warehouse_write_s": total("sinks.warehouse_write"),
            "sinks.quarantine_write_s": total("sinks.quarantine_write"),
            "sinks.rows_written": sum(
                s.result for _, s in spans
                if s.name in ("sinks.warehouse_write", "sinks.quarantine_write")
            ),
            "sinks.files_written": out_files,
            "sinks.bytes_written": out_bytes,
            "sinks.bytes_per_input_byte": out_bytes / in_bytes,
            "lifecycle.list_s": total("lifecycle.list"),
            "lifecycle.rename_s": total("lifecycle.rename"),
            "lifecycle.renames": count("lifecycle.rename"),
            "notify.s": total("notify"),
            "notify.events": count("notify"),
            "spark.scan_bytes_per_input_byte": rs.counters["input_bytes"] / in_bytes,
        }


# ------------------------------------------------------------------ analytics


class AnalyticsWorkload:
    """Passes over the analytics query set through the no-op sink."""

    def __init__(self, queries=ANALYTICS_QUERIES, sf=ANALYTICS_SF, reference=REFERENCE):
        self.queries = list(queries)
        self.sf = sf
        with open(reference) as fh:
            self.reference = json.load(fh)
        self.rng: random.Random | None = None
        self.sf_dir = ""

    def setup(self, ctx: Context) -> Batch:
        from etl_data_ingestion_spark.plans import registry

        if self.reference.get("sf") != self.sf:
            raise ValueError(f"reference.json is for sf {self.reference.get('sf')}, not {self.sf}")
        self.sf_dir = os.path.join(ctx.root, f"sf{self.sf}")
        rows = tpcgen.generate(self.sf, self.sf_dir)
        ctx.info["input_rows"] = sum(rows.values())
        ctx.info["input_bytes"] = sum(
            os.path.getsize(os.path.join(self.sf_dir, n)) for n in os.listdir(self.sf_dir)
        )
        t = time.perf_counter()
        registry.load_all()
        ctx.info["registry.load_all_s"] = time.perf_counter() - t
        self.rng = random.Random(ctx.seed)
        # Check pass: every query once, collected and compared with the
        # reference. It also warms the JVM, codegen and Python workers.
        errors, op_s = [], {}
        for name in self.queries:
            ctx.spark.catalog.clearCache()
            t = time.perf_counter()
            try:
                pdf = registry.QUERIES[name](ctx.spark, self.sf_dir).toPandas()
            except Exception as e:  # one query's failure must not end the run
                errors.append(f"{name}: raised {type(e).__name__}: {e}"[:300])
                continue
            op_s[name] = time.perf_counter() - t
            ref = self.reference["queries"][name]
            got = {"rows": len(pdf), "digest": digest(pdf)}
            if got != {"rows": ref["rows"], "digest": ref["digest"]}:
                errors.append(f"{name}: result {got} != reference {ref}")
        failed = len({e.split(":", 1)[0] for e in errors})
        return Batch(sum(op_s.values()), op_s, self._rows(), len(self.queries), failed, errors)

    def _rows(self) -> int:
        return sum(self.reference["queries"][n]["rows"] for n in self.queries)

    def batch(self, ctx: Context) -> Batch:
        """One pass over the query set in a seed-permuted order, each query
        through the no-op sink. A query's output rows are counted on the
        way (``observe``) and must match the reference."""
        from pyspark.sql import Observation

        from etl_data_ingestion_spark.plans import registry

        spark, tracer = ctx.spark, ctx.tracer
        order = list(self.queries)
        self.rng.shuffle(order)
        first = len(tracer.spans) if tracer else 0
        tracer_s = tracer.self_s if tracer else 0.0
        op_s, errors, parents = {}, [], []
        for name in order:
            fn = registry.QUERIES[name]
            spark.catalog.clearCache()  # operators that persist must re-earn it
            obs = Observation()
            t = time.perf_counter()
            try:
                if tracer:
                    module = fn.__module__.rsplit(".", 1)[-1]
                    with tracer.span(f"query.{name}"):
                        parents.append(len(tracer.spans) - 1)
                        df = tracer.wrap("registry.build", fn)(spark, self.sf_dir)
                        with tracer.span(f"operators.{module}"):
                            _noop(df, obs)
                else:
                    _noop(fn(spark, self.sf_dir), obs)
                elapsed = time.perf_counter() - t
                rows = obs.get["rows"]
            except Exception as e:
                errors.append(f"{name}: raised {type(e).__name__}: {e}"[:300])
                continue
            if rows != self.reference["queries"][name]["rows"]:
                errors.append(f"{name}: {rows} rows, reference "
                              f"{self.reference['queries'][name]['rows']}")
                continue
            op_s[name] = elapsed
        b = Batch(sum(op_s.values()), op_s, self._rows(), len(order), len(errors), errors)
        if tracer:
            b.layers = self.layers(ctx, tracer, first, parents, b.wall_s,
                                   tracer.self_s - tracer_s)
        return b

    def layers(self, ctx, tracer, first, parents, wall, tracer_s) -> dict[str, float]:
        spans = tracer.spans[first:]
        build = [s for s in spans if s.name == "registry.build"]
        execute = [s for s in spans if s.name.startswith("operators.")]
        per_module = defaultdict(float)
        for s in execute:
            per_module[s.name.split(".", 1)[1]] += s.duration
        unknown = set(per_module) - set(OPERATOR_MODULES)
        if unknown:
            raise ValueError(f"queries from unmapped operator modules: {sorted(unknown)}")
        return {
            **spark_layers([tracer.spans[i] for i in parents], wall, ctx.nproc),
            "registry.build_s": sum(s.duration for s in build),
            "registry.build_jobs": sum(s.jobs for s in build),
            "operators.execute_s": sum(s.duration for s in execute),
            **{f"operators.{m}.s": per_module[m] for m in OPERATOR_MODULES},
            "trace.self_s": tracer_s,
        }


def _noop(df, obs) -> None:
    """Execute ``df`` through the no-op sink, counting its rows into ``obs``."""
    from pyspark.sql import functions as F

    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").format(
        "noop").save()


def make(name: str):
    if name == "ingest_small_files":
        return IngestWorkload(ctbgen.ZoneSpec(
            ("clean", "partial", "header_only", "clean", "all_invalid", "unknown_header"),
            rows_per_file=1000))
    if name == "analytics_read":
        return AnalyticsWorkload()
    raise ValueError(f"unknown workload {name!r}")
