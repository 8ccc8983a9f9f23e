"""Run one benchmark workload in its own Spark application; print one JSON line.

    python3 perfbench/run.py --workload ingest_small_files --seed 7 --seconds 10 --trace 0

Closed loop, one client: the process sets up (Spark session on
``local[nproc]``, fixtures, a checked warm-up), then runs timed batches back
to back until ``--seconds`` have been measured and at least three batches
have run, checks every output, and prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the batches run under the span tracer and the metrics are the per-layer
ones. The host shape goes to stdout one line earlier, and the full record
(per-operation times, errors, spans) to ``.perfbench_out/`` in the working
directory. Scratch data lives under ``.perfbench_tmp/`` and is removed at
exit. Workloads and metric definitions: ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = ("ingest_small_files", "analytics_read")
END_TO_END = {"setup_s": "s", "batch_s": "s", "op_geomean_s": "s", "rows_per_s": "rows/s"}
# Every figure is a median over at least this many batches (a drain takes
# 3-6 s, a pass 7-10 s). Four or five did not make runs agree better: a
# run's level follows the host's load, which changes over minutes.
MIN_BATCHES = 3
# Start no batch that could push the run past this: on a host slowed by
# other guests a run ends with fewer batches rather than late.
BATCH_CAP_S = 90.0


class HostShapeError(RuntimeError):
    """The Spark application does not run one core per slot on this host."""


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes") or name == "sinks.bytes_written":
        return "bytes"
    if name.endswith("per_input_byte") or name.endswith("ratio"):
        return "ratio"
    if name == "runner.jobs_per_file":
        return "jobs/file"
    return "count"


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def start_spark(name: str, tmp: str, nproc: int):
    """The package's own session factory, pinned to this host's cores."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no hsperfdata in /tmp
    from etl_data_ingestion_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{name}", extra_conf={
        # keep every scratch file inside the run's own directory
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    elapsed = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_spark(spark) -> None:
    """Stop the application and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def steal_ticks() -> int | None:
    """CPU time the hypervisor gave to other guests, in clock ticks."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def steal_share(start: int | None, wall_s: float) -> float | None:
    """Share of this guest's CPU capacity stolen while the batches ran: the
    host's own load, recorded with the run to explain a slow one."""
    end = steal_ticks()
    if start is None or end is None or wall_s <= 0:
        return None
    return (end - start) / os.sysconf("SC_CLK_TCK") / (wall_s * os.cpu_count())


def host_shape(spark, nproc: int, args) -> dict:
    import pyspark

    sc = spark.sparkContext
    shape = {
        "nproc": nproc,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_sha": git_sha(),
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
    }
    if sc.master != f"local[{nproc}]" or sc.defaultParallelism != nproc:
        raise HostShapeError(
            f"expected master local[{nproc}] with defaultParallelism {nproc}, "
            f"got {sc.master} with {sc.defaultParallelism}"
        )
    return shape


def summarize(batches, setup_s: float) -> dict[str, float]:
    per_op: dict[str, list[float]] = {}
    for b in batches:
        for op, s in b.op_s.items():
            per_op.setdefault(op, []).append(s)
    batch_s = statistics.median([b.wall_s for b in batches])
    # No operation completed (the run is failed anyway): fall back to the batch.
    op_med = [statistics.median(v) for v in per_op.values()] or [batch_s]
    return {
        "setup_s": setup_s,
        "batch_s": batch_s,
        "op_geomean_s": math.exp(statistics.fmean(math.log(s) for s in op_med)),
        "rows_per_s": batches[0].rows / batch_s,
    }


def execute(workload, ctx, seconds: float, trace: int, t_start: float,
            get_spark_s: float) -> tuple[dict, dict]:
    """Set up, run timed batches for ``seconds`` and at least MIN_BATCHES,
    and return the result line and the run's full record."""
    warm = workload.setup(ctx)
    setup_s = time.perf_counter() - t_start
    if trace:
        ctx.tracer = Tracer(ctx.spark)
    batches = []
    steal0 = steal_ticks()
    t_measure = time.perf_counter()
    while True:
        s0, t0 = steal_ticks(), time.perf_counter()
        batches.append(workload.batch(ctx))
        batches[-1].steal_share = steal_share(s0, time.perf_counter() - t0)
        now = time.perf_counter()
        if now - t_start + batches[-1].wall_s > BATCH_CAP_S:
            break
        if len(batches) >= MIN_BATCHES and now - t_measure >= seconds:
            break
    ctx.info["steal_share"] = steal_share(steal0, time.perf_counter() - t_measure)

    if trace:
        layers = {k: statistics.median([b.layers.get(k, 0.0) for b in batches])
                  for k in workloads.PER_LAYER}
        layers["session.get_spark_s"] = get_spark_s
        layers["registry.load_all_s"] = ctx.info.get("registry.load_all_s", 0.0)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        e2e = summarize(batches, setup_s)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    failed = warm.failed + sum(b.failed for b in batches)
    result = {
        "correct": failed == 0,
        "attempted": warm.attempted + sum(b.attempted for b in batches),
        "failed": failed,
        "metrics": metrics,
    }
    record = {
        "info": ctx.info,
        "setup": {"seconds": setup_s, "get_spark_s": get_spark_s,
                  "check_s": warm.op_s, "errors": warm.errors},
        "batches": [{"wall_s": b.wall_s, "steal_share": b.steal_share, "op_s": b.op_s,
                     "errors": b.errors, "layers": b.layers} for b in batches],
        "spans": ctx.tracer.dump() if ctx.tracer else [],
        "result": result,
    }
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    cwd = os.getcwd()
    os.makedirs(os.path.join(cwd, ".perfbench_tmp"), exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(cwd, ".perfbench_tmp"))
    os.environ["TMPDIR"] = root
    tempfile.tempdir = None  # re-read TMPDIR
    spark = None
    try:
        workload = workloads.make(args.workload)
        spark, get_spark_s = start_spark(args.workload, os.path.join(root, "spark"), nproc)
        host = host_shape(spark, nproc, args)
        ctx = workloads.Context(spark, os.path.join(root, "data"), args.seed, nproc)
        os.makedirs(ctx.root)
        result, record = execute(workload, ctx, args.seconds, args.trace,
                                 T_START, get_spark_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(root, ignore_errors=True)

    record["host"] = {**host, **record.pop("info")}
    out_dir = os.path.join(cwd, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for e in record["setup"]["errors"] + [e for b in record["batches"] for e in b["errors"]]:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({"host": record["host"]}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
