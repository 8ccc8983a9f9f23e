"""Streaming landing-zone runner: the reference's driver loop
(main.py:648-687) as a Structured Streaming query.

Replaces the reference's at-most-once source commit (O5, INBOX-label
removal at main.py:630-645 — a crash between insert and label removal
double-ingests) with the file source's checkpointed offset log plus
``cleanSource=archive``: a file is recorded in the checkpoint exactly
once, and consumed files are moved out of the watch dir by Spark
itself (L2's lifecycle rename, driven by the engine not the app).

Shape: the checkpointed text stream serves as the FILE-ARRIVAL LOG —
``foreachBatch`` reduces each micro-batch to its distinct
``input_file_name()`` set (files land atomically in one batch) and
hands it to the batch runner's ``drain_files`` against the files still
sitting in the watch dir (archival happens after the batch commits),
without the lifecycle renames. Per-file policy (partial success,
quarantine, notifications, isolation) is therefore the batch runner's
own; all row-level work stays in Spark jobs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_data_ingestion_spark.ingest.runner import RunReport, drain_files
from etl_data_ingestion_spark.ingest.sinks import ParquetWarehouseSink
from etl_data_ingestion_spark.notify import Notifier


def run_landing_zone_stream(
    spark: SparkSession,
    unprocessed_dir: str,
    archive_dir: str,
    checkpoint_dir: str,
    warehouse: ParquetWarehouseSink,
    quarantine: ParquetWarehouseSink,
    notifier: Notifier,
) -> RunReport:
    """Drain the landing dir once (availableNow) with checkpointed
    exactly-once file consumption; returns the same RunReport as the
    batch runner. Call repeatedly (or switch the trigger to a
    processingTime interval) for continuous ingestion."""
    report = RunReport()
    stream = (
        spark.readStream.option("cleanSource", "archive")
        .option("sourceArchiveDir", archive_dir)
        .text(unprocessed_dir)
    )
    files = stream.select(F.input_file_name().alias("path"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        paths = sorted(r["path"] for r in batch_df.distinct().collect())
        report.outcomes.extend(
            drain_files(spark, paths, warehouse, quarantine, notifier)
        )

    q = (
        files.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not report.outcomes:
        notifier.no_data(unprocessed_dir)
    return report
