"""Smoke tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench -q

Each workload runs end to end (set-up, timed batches, output check) untraced
and traced, and must print every metric with its unit and pass its check.
Other tests plant a wrong file outcome, a rename the benchmark cannot see
and a wrong query row count, and show the check catching each.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from perfbench import ctbgen, make_reference, run, workloads

TINY_ZONE = ctbgen.ZoneSpec(("clean", "partial"), rows_per_file=50)
TINY_QUERIES = ["tpch_q1_pricing_summary", "text_token_stats", "agg_rollup_status_priority"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("spark"))
    session, _ = run.start_spark("smoke", tmp, len(os.sched_getaffinity(0)))
    yield session
    run.stop_spark(session)


def context(spark, tmp_path, seed=3):
    root = tmp_path / "data"
    root.mkdir()
    return workloads.Context(spark, str(root), seed, len(os.sched_getaffinity(0)))


def execute(workload, ctx, trace):
    result, _ = run.execute(workload, ctx, seconds=0, trace=trace,
                            t_start=time.perf_counter(), get_spark_s=1.0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], result
    return result["metrics"]


def assert_metrics(metrics, names):
    assert list(metrics) == list(names)
    for m in metrics.values():
        assert set(m) == {"value", "unit"} and m["unit"]
        assert isinstance(m["value"], (int, float))


@pytest.mark.parametrize("trace", [0, 1])
def test_ingest_tiny_zone(spark, tmp_path, trace):
    metrics = execute(workloads.IngestWorkload(TINY_ZONE), context(spark, tmp_path), trace)
    if trace:
        assert_metrics(metrics, workloads.PER_LAYER)
        # header read, isEmpty and the two sink writes: 4 jobs per data file
        assert metrics["runner.jobs_per_file"]["value"] == 4.0
        assert metrics["pipeline.calls"]["value"] == 2
        assert metrics["sinks.rows_written"]["value"] == 100
    else:
        assert_metrics(metrics, run.END_TO_END)
        assert metrics["batch_s"]["value"] > 0


def tiny_analytics(tmp_path):
    ref = make_reference.oracle_reference(0.001, str(tmp_path / "oracle"), TINY_QUERIES)
    path = tmp_path / "reference.json"
    path.write_text(json.dumps(ref))
    return workloads.AnalyticsWorkload(TINY_QUERIES, sf=0.001, reference=str(path))


@pytest.mark.parametrize("trace", [0, 1])
def test_analytics_tiny(spark, tmp_path, trace):
    metrics = execute(tiny_analytics(tmp_path), context(spark, tmp_path), trace)
    if trace:
        assert_metrics(metrics, workloads.PER_LAYER)
        assert metrics["operators.tpch.s"]["value"] > 0
        assert metrics["spark.jobs"]["value"] > 0
    else:
        assert_metrics(metrics, run.END_TO_END)


def test_check_catches_a_wrong_file_outcome(spark, tmp_path, monkeypatch):
    from etl_data_ingestion_spark.ingest import pipeline, runner

    files = ctbgen.generate(5, TINY_ZONE)
    target = next(f for f in files if f.fate == "partial")

    def one_row_short(spark_, path, *a, **k):
        res = pipeline.ingest_ctb_file(spark_, path, *a, **k)
        if path.endswith(target.name):
            res.valid = res.valid.limit(target.expected.valid - 1)
        return res

    monkeypatch.setattr(runner, "ingest_ctb_file", one_row_short)
    wl = workloads.IngestWorkload(TINY_ZONE)
    batch = wl.drain(context(spark, tmp_path), files, None)
    assert batch.failed == 1
    assert batch.errors and all(e.startswith(target.name) for e in batch.errors)


def test_a_file_renamed_out_of_sight_fails(spark, tmp_path, monkeypatch):
    """A drain that renames files without the per-file zone calls the
    benchmark times (say, in one bulk move) leaves every file unaccounted."""
    from etl_data_ingestion_spark.ingest import runner

    drain = runner.run_landing_zone
    monkeypatch.setattr(runner, "run_landing_zone",
                        lambda spark_, zone, *a: drain(spark_, zone._target, *a))
    files = ctbgen.generate(5, TINY_ZONE)
    batch = workloads.IngestWorkload(TINY_ZONE).drain(context(spark, tmp_path), files, None)
    assert batch.failed == len(files) and batch.op_s == {}
    assert all("no terminal rename seen" in e for e in batch.errors), batch.errors


def test_timed_query_with_a_wrong_row_count_fails(spark, tmp_path):
    wl = tiny_analytics(tmp_path)
    ctx = context(spark, tmp_path)
    assert wl.setup(ctx).failed == 0
    wl.reference["queries"][TINY_QUERIES[0]]["rows"] += 1
    batch = wl.batch(ctx)
    assert batch.failed == 1 and batch.errors[0].startswith(TINY_QUERIES[0])
    assert TINY_QUERIES[0] not in batch.op_s


def test_host_shape_rejects_a_session_not_on_one_slot_per_core(spark):
    import argparse

    args = argparse.Namespace(workload="analytics_read", seed=1, trace=0)
    n = spark.sparkContext.defaultParallelism
    assert run.host_shape(spark, n, args)["master"] == f"local[{n}]"
    with pytest.raises(run.HostShapeError):
        run.host_shape(spark, n + 1, args)


def test_generator_is_deterministic():
    a, b = ctbgen.generate(9, TINY_ZONE), ctbgen.generate(9, TINY_ZONE)
    assert [(f.name, f.data) for f in a] == [(f.name, f.data) for f in b]
    assert [f.data for f in a] != [f.data for f in ctbgen.generate(10, TINY_ZONE)]


def test_benchmark_json_matches_what_runs_print():
    with open(os.path.join(os.path.dirname(workloads.HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in spec["per_layer"])
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
