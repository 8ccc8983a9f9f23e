"""End-to-end landing-zone runs: lifecycle transitions, partial-success
policy, notifications, warehouse append (reference L1-L5 / O1-O6)."""

from __future__ import annotations

import pytest

from etl_data_ingestion_spark.ingest.lifecycle import LandingZone
from etl_data_ingestion_spark.ingest.runner import run_landing_zone
from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
from etl_data_ingestion_spark.notify import CollectingNotifier
from tests.test_ingest_ctb import GOOD, CANONICAL, header_line, row


@pytest.fixture
def zone(spark, tmp_path):
    z = LandingZone(spark, str(tmp_path / "landing"))
    z.ensure_dirs()
    return z


@pytest.fixture
def sinks(tmp_path):
    return (
        ParquetWarehouseSink(str(tmp_path / "warehouse")),
        ParquetWarehouseSink(str(tmp_path / "quarantine")),
    )


def run(spark, zone, sinks):
    notifier = CollectingNotifier()
    report = run_landing_zone(spark, zone, sinks[0], sinks[1], notifier)
    return report, notifier


def test_clean_file_processed_with_success_email(spark, zone, sinks):
    zone.put("CTB_clean.tsv", (header_line() + "\n" + row() + "\n" + row() + "\n").encode())
    report, notifier = run(spark, zone, sinks)
    assert [o.state for o in report.outcomes] == ["processed"]
    assert report.total_inserted == 2
    assert [e.kind for e in notifier.events] == ["success"]
    assert zone.list_unprocessed() == []
    wh = spark.read.parquet(sinks[0].path)
    assert wh.count() == 2
    assert "_load_id" in wh.columns


def test_partial_success_processed_with_error_report(spark, zone, sinks):
    body = row() + "\n" + row(DEMAND_QTY="bad") + "\n"
    zone.put("CTB_partial.tsv", (header_line() + "\n" + body).encode())
    report, notifier = run(spark, zone, sinks)
    o = report.outcomes[0]
    assert (o.state, o.valid_rows, o.quarantined_rows) == ("processed", 1, 1)
    assert notifier.events[0].kind == "error"  # partial → error report (main.py:487-490)
    assert spark.read.parquet(sinks[1].path).count() == 1


def test_all_bad_rows_failed(spark, zone, sinks):
    body = row(DEMAND_QTY="x") + "\n" + row(SNAPSHOT_DATE="nope") + "\n"
    zone.put("CTB_allbad.tsv", (header_line() + "\n" + body).encode())
    report, notifier = run(spark, zone, sinks)
    assert report.outcomes[0].state == "failed"
    assert notifier.events[0].kind == "error"


def test_unknown_header_failed_file(spark, zone, sinks):
    zone.put(
        "CTB_badheader.tsv",
        (header_line() + "\tEXTRA COL\n" + row() + "\tv\n").encode(),
    )
    report, notifier = run(spark, zone, sinks)
    assert report.outcomes[0].state == "failed"
    assert "EXTRA_COL" in notifier.events[0].body


def test_empty_zone_no_data_notification(spark, zone, sinks):
    report, notifier = run(spark, zone, sinks)
    assert report.outcomes == []
    assert [e.kind for e in notifier.events] == ["no_data"]


def test_multi_file_isolation(spark, zone, sinks):
    zone.put("CTB_a.tsv", (header_line() + "\n" + row() + "\n").encode())
    zone.put("CTB_b.tsv", b"")  # empty → failed, must not abort the run
    zone.put("CTB_c.tsv", (header_line() + "\n" + row() + "\n").encode())
    report, notifier = run(spark, zone, sinks)
    states = {o.path.rsplit("/", 1)[-1]: o.state for o in report.outcomes}
    assert states == {
        "CTB_a.tsv": "processed",
        "CTB_b.tsv": "failed",
        "CTB_c.tsv": "processed",
    }
    assert report.total_inserted == 2


def test_missing_target_fails_file(spark, zone, sinks):
    """L3 (main.py:416-430): when the warehouse target must pre-exist
    and doesn't, the file fails with an error notification and no rows
    are written; lifecycle moves it to Failed/."""
    from etl_data_ingestion_spark.ingest.runner import run_landing_zone
    from etl_data_ingestion_spark.notify import CollectingNotifier

    zone.put("CTB_ok.tsv", (header_line() + "\n" + row() + "\n").encode())
    notifier = CollectingNotifier()
    report = run_landing_zone(
        spark, zone, sinks[0], sinks[1], notifier, require_existing_target=True
    )
    assert report.outcomes[0].state == "failed"
    assert "does not exist" in notifier.events[0].body
    assert zone.list_unprocessed() == []


def test_drain_jobs_do_not_grow_with_file_count(spark, tmp_path):
    """Files sharing a header are read by one scan: a drain starts as
    many Spark jobs for 8 data files as for 2."""
    sc = spark.sparkContext
    jobs = {}
    for n in (2, 8):
        zone = LandingZone(spark, str(tmp_path / f"landing{n}"))
        zone.ensure_dirs()
        for i in range(n):
            body = row() + "\n" + row(DEMAND_QTY="x") + "\n"
            zone.put(f"CTB_{i}.tsv", (header_line() + "\n" + body).encode())
        sinks = (
            ParquetWarehouseSink(str(tmp_path / f"warehouse{n}")),
            ParquetWarehouseSink(str(tmp_path / f"quarantine{n}")),
        )
        sc.setJobGroup(f"drain-{n}", f"drain of {n} files")
        try:
            report, _ = run(spark, zone, sinks)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert [(o.state, o.valid_rows, o.quarantined_rows) for o in report.outcomes] == [
            ("processed", 1, 1)
        ] * n
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(f"drain-{n}"))
    assert jobs[2] > 0 and jobs[8] == jobs[2], jobs


def test_row_failure_in_one_file_fails_only_that_file(spark, zone, sinks, monkeypatch):
    """An execution-time error confined to one file's rows fails that
    file alone; its group-mates are drained and counted as usual."""
    import dataclasses

    import pyspark.sql.functions as F

    from etl_data_ingestion_spark.ingest import runner

    read = runner.read_ctb_group

    def poisoned(*a, **k):
        group = read(*a, **k)
        ok = F.coalesce(
            F.assert_true(F.col("_load_id") != "CTB_bad.tsv").cast("boolean"),
            F.lit(True),
        )
        return dataclasses.replace(
            group,
            rows=group.rows.filter(ok),
            valid=group.valid.filter(ok),
            quarantine=group.quarantine.filter(ok),
        )

    monkeypatch.setattr(runner, "read_ctb_group", poisoned)
    zone.put("CTB_a.tsv", (header_line() + "\n" + row() + "\n" + row() + "\n").encode())
    zone.put("CTB_bad.tsv", (header_line() + "\n" + row() + "\n").encode())
    zone.put("CTB_c.tsv", (header_line() + "\n" + row() + "\n" + row(DEMAND_QTY="x") + "\n").encode())
    report, notifier = run(spark, zone, sinks)
    got = {
        o.path.rsplit("/", 1)[-1]: (o.state, o.valid_rows, o.quarantined_rows)
        for o in report.outcomes
    }
    assert got == {
        "CTB_a.tsv": ("processed", 2, 0),
        "CTB_bad.tsv": ("failed", 0, 0),
        "CTB_c.tsv": ("processed", 1, 1),
    }
    bad = [e for e in notifier.events if e.subject.endswith("CTB_bad.tsv")]
    assert len(bad) == 1 and "Unexpected error" in bad[0].body
    wh = spark.read.parquet(sinks[0].path).groupBy("_load_id").count().collect()
    assert dict(wh) == {"CTB_a.tsv": 2, "CTB_c.tsv": 1}
    assert zone.list_unprocessed() == []


def test_load_id_is_the_listed_name(spark, zone, sinks):
    """A name the scan reports URI-encoded still lands under its own."""
    name = "CTB a%20b%.tsv"
    zone.put(name, (header_line() + "\n" + row() + "\n" + row() + "\n").encode())
    report, _ = run(spark, zone, sinks)
    o = report.outcomes[0]
    assert (o.path.rsplit("/", 1)[-1], o.state, o.valid_rows) == (name, "processed", 2)
    wh = spark.read.parquet(sinks[0].path)
    assert [r[0] for r in wh.select("_load_id").collect()] == [name, name]


def test_header_with_blank_lines_fails_no_data_rows(spark, zone, sinks):
    zone.put("CTB_blank.tsv", (header_line() + "\n\n\t\t\n  \n\t\n").encode())
    zone.put("CTB_ok.tsv", (header_line() + "\n" + row() + "\n").encode())
    report, notifier = run(spark, zone, sinks)
    assert [o.state for o in report.outcomes] == ["failed", "processed"]
    blank = [e for e in notifier.events if e.subject.endswith("CTB_blank.tsv")]
    assert len(blank) == 1 and "no data rows" in blank[0].body


def test_drain_leaves_caller_conf_and_counts_ragged_rows(spark, zone, sinks):
    """The ingest read runs with CSV column pruning off in a session of
    its own: the caller's session keeps the default, and short and
    long rows are still quarantined and counted."""
    key = "spark.sql.csv.parser.columnPruning.enabled"
    spark.conf.unset(key)
    short = "\t".join(GOOD[c] for c in CANONICAL[:-1])
    lines = [header_line(), row(), short, row() + "\textra"]
    zone.put("CTB_ragged.tsv", ("\n".join(lines) + "\n").encode())
    report, notifier = run(spark, zone, sinks)
    assert spark.conf.get(key) == "true"
    o = report.outcomes[0]
    assert (o.state, o.valid_rows, o.quarantined_rows) == ("processed", 1, 2)
    assert "2 rows quarantined" in notifier.events[0].body
    q = spark.read.parquet(sinks[1].path).collect()
    assert len(q) == 2
    assert all(any("column count mismatch" in e for e in r["_errors"]) for r in q)


def test_run_sql_interface(spark, sf_dir):
    """run_sql: the BigQuery-SQL replacement surface — ANSI SQL over
    the registered catalog, including a join and an aggregate."""
    from etl_data_ingestion_spark.sql import register_tables, run_sql

    assert set(register_tables(spark, sf_dir)) >= {"lineitem", "orders", "nation"}
    df = run_sql(
        spark,
        sf_dir,
        """
        SELECT n_name, COUNT(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
        """,
    )
    rows = df.collect()
    assert len(rows) > 0
    assert sum(r.n_customers for r in rows) == spark.table("customer").count()


def test_engine_config_env_overrides(monkeypatch):
    """§2.6: the .env surface as a typed, validated config object."""
    from etl_data_ingestion_spark.config import EngineConfig

    cfg = EngineConfig()
    assert cfg.batch_size == 500  # reference default (.env:25)
    assert cfg.request_timeout_s == 900  # (.env:24)

    monkeypatch.setenv("SPARKETL_BATCH_SIZE", "250")
    monkeypatch.setenv("SPARKETL_NOTIFY_RECIPIENTS", "a@x.com,b@x.com")
    cfg2 = EngineConfig()
    assert cfg2.batch_size == 250
    assert cfg2.notify_recipients == ("a@x.com", "b@x.com")

    monkeypatch.setenv("SPARKETL_BATCH_SIZE", "0")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        EngineConfig()


def test_bigquery_sink_fallback_when_connector_absent(spark, monkeypatch):
    """Backlog #4: warehouse_format='bigquery' without the connector
    jar must fall back to the parquet warehouse cleanly — sink
    selection is probe-driven, never a classpath stacktrace."""
    from etl_data_ingestion_spark.config import EngineConfig
    from etl_data_ingestion_spark.ingest.sinks import (
        BigQueryWarehouseSink,
        ParquetWarehouseSink,
        make_warehouse_sink,
    )

    # this container has no spark-bigquery jar
    assert BigQueryWarehouseSink.is_available(spark) is False

    monkeypatch.setenv("SPARKETL_WAREHOUSE_FORMAT", "bigquery")
    monkeypatch.setenv("SPARKETL_BIGQUERY_TABLE", "dataset.ctb")
    cfg = EngineConfig()
    sink = make_warehouse_sink(spark, cfg)
    assert isinstance(sink, ParquetWarehouseSink)

    # direct construction still validates, and its pre-write check
    # reports the missing connector explicitly
    bq = BigQueryWarehouseSink("dataset.ctb")
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="connector"):
        bq.check_target(spark)

    # config validation: bigquery format requires a table
    monkeypatch.setenv("SPARKETL_BIGQUERY_TABLE", "")
    with _pytest.raises(ValueError, match="bigquery_table"):
        EngineConfig()


def test_smtp_notifier_sends_through_injected_transport():
    """O1 transport completion: SmtpNotifier composes the reference's
    message shapes (main.py:591-627) with a real smtplib send path,
    exercised here through an injected SMTP-compatible transport."""
    from etl_data_ingestion_spark.notify import SmtpNotifier

    sent, lifecycle = [], []

    class FakeSmtp:
        def starttls(self):
            lifecycle.append("tls")

        def login(self, u, p):
            lifecycle.append(f"login:{u}")

        def send_message(self, msg):
            sent.append((msg["Subject"], msg["To"], msg.get_content()))

        def quit(self):
            lifecycle.append("quit")

    n = SmtpNotifier(
        recipients=("ops@example.com",),
        username="bot",
        password="pw",
        use_tls=True,
        connection_factory=FakeSmtp,
    )
    n.success("CTB_1.tsv", 1200)
    n.error("CTB_2.tsv", "schema validation failed")
    n.no_data("filename:CTB")

    assert [s[0] for s in sent] == [
        "SUCCESS: CTB File Processed - CTB_1.tsv",
        "ERROR: CTB Processing Failed - CTB_2.tsv",
        "No CTB files found",
    ]
    assert all(to == "ops@example.com" for _, to, _ in sent)
    assert "1200 rows" in sent[0][2]
    # tls + login before each send, quit after each (3 sends)
    assert lifecycle.count("tls") == 3 and lifecycle.count("quit") == 3
    # content remains inspectable (CollectingNotifier composition)
    assert len(n.events) == 3

    # no recipients -> no transport opened at all
    silent = SmtpNotifier(connection_factory=lambda: (_ for _ in ()).throw(AssertionError))
    silent.success("x", 1)
    assert len(silent.events) == 1


def test_compact_parquet_dir(spark, tmp_path):
    """Small-file maintenance: 16 tiny appended files compact to the
    byte-targeted count with zero row loss; an already-compact dir is
    left untouched."""
    import os

    from etl_data_ingestion_spark.catalog import load_table
    from etl_data_ingestion_spark.ingest.sinks import compact_parquet_dir

    path = str(tmp_path / "wh")
    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    for _ in range(4):  # 4 appends x 4 partitions = 16 small files
        nation.repartition(4).write.mode("append").parquet(path)
    before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert before == 16
    rows_before = spark.read.parquet(path).count()

    after = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
    assert after == 1  # everything fits one target file
    assert spark.read.parquet(path).count() == rows_before

    # idempotent: below min_files -> no rewrite
    assert compact_parquet_dir(spark, path) == 1
