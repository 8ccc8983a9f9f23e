"""Batch driver shell: the reference's __main__ loop, Spark-first.

Mirrors main.py:648-687 policy exactly:
- per-file isolation: one file's failure never aborts the run
  (main.py:674-677);
- partial success: ≥1 valid row → file Processed, clean runs get a
  success notification, partial runs get an error report listing
  counts (main.py:470-495);
- zero valid rows → file Failed + error notification (main.py:435-446,
  496-511);
- zero files found → no-data notification (main.py:679-685).

The reference drains its mailbox one file at a time; here the work is
per header, not per file. Every file's header is read on the driver
with no Spark job, and an empty file or an unknown column fails on the
spot. The remaining files are grouped by canonical header; each group
is one CSV scan feeding one per-file count job, one quarantine write
and one warehouse write, so the files run as parallel tasks and the
number of Spark jobs does not grow with the number of files. Then each
file is decided, notified and renamed in listing order.

Unlike the reference, consumption is effectively at-least-once +
idempotent: no file moves out of Unprocessed/ before both writes of its
group commit, and every appended row carries its file's load_id for
downstream dedup (SURVEY.md §4.1 deviation, documented).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from etl_data_ingestion_spark.ingest.lifecycle import LandingZone
from etl_data_ingestion_spark.ingest.pipeline import (
    LOAD_ID,
    check_header,
    ingest_ctb_file,  # noqa: F401 — perfbench wraps this name on every drain
    no_rows_error,
    read_ctb_group,
)
from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
from etl_data_ingestion_spark.notify import Notifier


@dataclass
class FileOutcome:
    path: str
    state: str  # processed | failed
    valid_rows: int = 0
    quarantined_rows: int = 0
    error: str | None = None


@dataclass
class RunReport:
    outcomes: list[FileOutcome] = field(default_factory=list)

    @property
    def total_inserted(self) -> int:
        return sum(o.valid_rows for o in self.outcomes if o.state == "processed")


# What became of one file: (valid, quarantined) rows written, the text of
# a file-level error, or the exception that stopped it.
Result = tuple[int, int] | str | Exception


def _name(path: str) -> str:
    return path.rsplit("/", 1)[-1]


def _drain_group(
    spark: SparkSession,
    paths: list[str],
    canonical: tuple[str, ...],
    warehouse: ParquetWarehouseSink,
    quarantine: ParquetWarehouseSink,
    require_existing_target: bool,
) -> dict[str, Result]:
    """Count and write the files of one header group; returns each
    file's result in ``paths`` order. If the count job fails, each file
    is drained alone, so one unreadable file fails alone."""
    try:
        group = read_ctb_group(spark, paths, canonical)
        counts = group.counts()
    except Exception as e:
        if len(paths) == 1:
            return {paths[0]: e}
        results: dict[str, Result] = {}
        for path in paths:
            results.update(
                _drain_group(spark, [path], canonical, warehouse, quarantine,
                             require_existing_target)
            )
        return results

    results = {p: counts.get(_name(p), no_rows_error(p)) for p in paths}
    if counts:
        try:
            # L3 (main.py:416-430): missing/denied target fails the
            # files before any write, with an error notification.
            warehouse.check_target(spark, require_existing_target)
            quarantine.write(group.quarantine, F.col(LOAD_ID))
            warehouse.write(group.valid, F.col(LOAD_ID))
        except Exception as e:
            results.update({p: e for p in paths if _name(p) in counts})
    return results


def _finish(
    path: str,
    result: Result,
    notifier: Notifier,
    settle: Callable[[str, str], None],
) -> FileOutcome:
    """Apply the per-file policy to ``result``: notify, then
    ``settle(path, state)``."""
    filename = _name(path)
    try:
        if isinstance(result, Exception):
            raise result
        if isinstance(result, str):
            notifier.error(filename, result)
            outcome = FileOutcome(path, "failed", error=result)
        elif result[0] > 0:
            v_rows, q_rows = result
            if q_rows == 0:
                notifier.success(filename, v_rows)
            else:
                notifier.error(
                    filename,
                    f"Inserted {v_rows} valid rows from '{filename}'; "
                    f"{q_rows} rows quarantined with row-level errors.",
                )
            outcome = FileOutcome(path, "processed", v_rows, q_rows)
        else:
            q_rows = result[1]
            msg = (
                f"No valid data rows found in '{filename}' to insert "
                f"({q_rows} quarantined). The file will be moved to 'Failed'."
            )
            notifier.error(filename, msg)
            outcome = FileOutcome(path, "failed", 0, q_rows, error=msg)
        settle(path, outcome.state)
        return outcome
    except Exception as e:  # per-file isolation (main.py:674-677)
        notifier.error(filename, f"Unexpected error: {e}")
        try:
            settle(path, "failed")
        except Exception:
            pass
        return FileOutcome(path, "failed", error=str(e))


def drain_files(
    spark: SparkSession,
    paths: list[str],
    warehouse: ParquetWarehouseSink,
    quarantine: ParquetWarehouseSink,
    notifier: Notifier,
    settle: Callable[[str, str], None] = lambda path, state: None,
    require_existing_target: bool = False,
) -> list[FileOutcome]:
    """Ingest ``paths`` with the reference's per-file policy; returns
    their outcomes in ``paths`` order. ``settle(path, state)`` runs
    after a file's notification (the lifecycle rename, for the batch
    runner); for a file that reaches the sinks, only after both writes
    of its group have committed."""
    outcomes: dict[str, FileOutcome] = {}
    groups: dict[tuple[str, ...], list[str]] = {}
    for path in paths:
        try:
            canonical, error = check_header(spark, path)
        except Exception as e:
            outcomes[path] = _finish(path, e, notifier, settle)
            continue
        if error is None:
            groups.setdefault(canonical, []).append(path)
        else:
            outcomes[path] = _finish(path, error, notifier, settle)
    for canonical, group in groups.items():
        results = _drain_group(spark, group, canonical, warehouse, quarantine,
                               require_existing_target)
        for path, result in results.items():
            outcomes[path] = _finish(path, result, notifier, settle)
    return [outcomes[p] for p in paths]


def run_landing_zone(
    spark: SparkSession,
    zone: LandingZone,
    warehouse: ParquetWarehouseSink,
    quarantine: ParquetWarehouseSink,
    notifier: Notifier,
    require_existing_target: bool = False,
) -> RunReport:
    files = zone.list_unprocessed()
    if not files:
        notifier.no_data(zone.root)
        return RunReport()

    def settle(path: str, state: str) -> None:
        if state == "processed":
            zone.mark_processed(path)
        else:
            zone.mark_failed(path)

    return RunReport(
        drain_files(spark, files, warehouse, quarantine, notifier, settle,
                    require_existing_target)
    )
