"""CTB ingestion pipeline: landed files → (valid rows, quarantine rows).

The Spark-first re-expression of the reference's transform/load core
``process_ctb_and_insert_to_bigquery`` (main.py:267-511):

  raw TSV → header normalize+alias (main.py:347-351)
          → fail-fast schema validation (main.py:353-364)
          → malformed-row split (main.py:372-377, via CSV PERMISSIVE
            corrupt-record)
          → trim / ''→NULL / INTEGER / DATE coercion with row-level
            rejection + reasons (main.py:379-414) → typed valid rows
            and a quarantine side-channel

The header is metadata: ``check_header`` reads a file's first line on
the driver through the Hadoop FileSystem API, which runs no Spark job,
and fails an empty file or an unknown column on the spot (main.py:
289-295, 353-364). Files whose canonical headers agree form one group:
``read_ctb_group`` reads them all with one CSV scan and one coercion
projection, and tags every row with its file's name as ``_load_id``.
All row data flows through executors; the scan is splittable, so a
1 TB TSV becomes ~8000 tasks and many small files run as parallel
tasks of one job.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from etl_data_ingestion_spark.schema import (
    BQ_SCHEMA_TYPES,
    canonical_name,
    ctb_struct_type,
    quarantine_struct_type,
)
from etl_data_ingestion_spark.ingest.coerce import coerce_rows, split_valid_quarantine

CORRUPT_COL = "_corrupt_record"
LOAD_ID = "_load_id"

# Confs the ingest read depends on. They are set on a session of its own
# (``newSession`` shares the SparkContext, not the SQL conf), so the
# caller's session is left as it was:
# - CSV column pruning skips unreferenced tokens, which silently disables
#   token-count (malformed-row) detection in any plan that reads only
#   some columns, such as the per-file count; the reference checks EVERY
#   row's count (main.py:372).
# - Non-ANSI casts turn an unparseable value into NULL, which the validity
#   flags reject; the CORRECTED parser makes DATE parsing strict.
INGEST_CONF = {
    "spark.sql.csv.parser.columnPruning.enabled": "false",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
}


@dataclass
class IngestResult:
    valid: DataFrame
    quarantine: DataFrame
    file_error: str | None = None

    @property
    def ok(self) -> bool:
        return self.file_error is None


@dataclass
class CtbGroup:
    """One scan over files that share a canonical header."""

    rows: DataFrame  # every data row, with ``_load_id`` and ``_row_ok``
    valid: DataFrame  # typed valid rows, with ``_load_id``
    quarantine: DataFrame  # quarantined rows and reasons, with ``_load_id``

    def counts(self) -> dict[str, tuple[int, int]]:
        """(valid, quarantined) rows per ``_load_id``, from one
        side-effect-free aggregation. A file with no data rows (a header,
        perhaps blank lines) is absent."""
        ok = F.col("_row_ok")
        got = {
            r[0]: (r[1], r[2])
            for r in self.rows.groupBy(LOAD_ID)
            .agg(F.count_if(ok), F.count_if(~ok))
            .collect()
        }
        if None in got:
            raise RuntimeError("rows whose file name maps to no listed path")
        return got


def no_rows_error(path: str) -> str:
    return f"CTB file '{path}' is empty or has no data rows."


def read_raw_header(spark: SparkSession, path: str, sep: str = "\t") -> list[str]:
    """Raw header tokens of a delimited file: its first line, read on
    the driver through the Hadoop FileSystem API (no Spark job)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    stream = hpath.getFileSystem(spark._jsc.hadoopConfiguration()).open(hpath)
    try:
        line = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        ).readLine()
    finally:
        stream.close()
    return [] if line is None else line.split(sep)


def check_header(
    spark: SparkSession, path: str, sep: str = "\t"
) -> tuple[tuple[str, ...], str | None]:
    """The file's canonical header, and the file-level error that fails
    it, if any (empty file main.py:289-295, unknown column
    main.py:353-364)."""
    header = read_raw_header(spark, path, sep)
    if not header or header == [""]:
        return (), no_rows_error(path)
    canonical = tuple(canonical_name(h) for h in header)
    unknown = [c for c in canonical if c not in BQ_SCHEMA_TYPES]
    if unknown:
        return canonical, (
            f"Headers in '{path}' do not match expected schema after "
            f"cleaning. Unknown columns: {unknown}. "
            f"File headers (cleaned): {list(canonical)}"
        )
    return canonical, None


def ingest_session(spark: SparkSession) -> SparkSession:
    """A session on ``spark``'s context with ``INGEST_CONF`` applied."""
    session = spark.newSession()
    for key, value in INGEST_CONF.items():
        session.conf.set(key, value)
    return session


def read_ctb_group(
    spark: SparkSession,
    paths: list[str],
    canonical: tuple[str, ...],
    sep: str = "\t",
) -> CtbGroup:
    """Read ``paths``, whose headers all clean to ``canonical``, with one
    CSV scan and one coercion projection. Each row's ``_load_id`` is the
    last segment of its file's path as listed."""
    read_schema = StructType(
        [StructField(c, StringType(), nullable=True) for c in canonical]
        + [StructField(CORRUPT_COL, StringType(), nullable=True)]
    )
    raw = ingest_session(spark).read.csv(
        paths,
        sep=sep,
        header=True,
        schema=read_schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=CORRUPT_COL,
        encoding="UTF-8",
        quote="",  # the reference splits on tabs only — no quoting (main.py:370)
    )
    # The scan reports each file's name URI-encoded (a space reads %20);
    # map it back to the name as listed.
    Path = spark._jvm.org.apache.hadoop.fs.Path
    names = F.create_map(
        *[
            F.lit(x)
            for p in paths
            for x in (Path(p).toUri().getRawPath().rsplit("/", 1)[-1], p.rsplit("/", 1)[-1])
        ]
    )
    tagged = raw.select(
        "*",
        F.col("_metadata.file_path").alias("_source_file"),
        names[F.col("_metadata.file_name")].alias(LOAD_ID),
    )
    rows, valid, quarantine = coerce_rows(
        tagged,
        types={c: BQ_SCHEMA_TYPES[c] for c in canonical},
        corrupt_col=CORRUPT_COL,
        source_file_col="_source_file",
        keep=(LOAD_ID,),
    )
    return CtbGroup(rows, valid, quarantine)


def ingest_ctb_file(
    spark: SparkSession, path: str, sep: str = "\t"
) -> IngestResult:
    """Ingest one landed delimited file with full reference semantics."""
    canonical, error = check_header(spark, path, sep)
    if error is None:
        group = read_ctb_group(spark, [path], canonical, sep)
        # Header-only file: no data rows at all → file-level failure
        # (reference main.py:289-295, len(lines) < 2).
        if group.rows.isEmpty():
            error = no_rows_error(path)
    if error is not None:
        return IngestResult(
            valid=spark.createDataFrame([], ctb_struct_type()),
            quarantine=spark.createDataFrame([], quarantine_struct_type()),
            file_error=error,
        )
    return IngestResult(
        valid=group.valid.drop(LOAD_ID), quarantine=group.quarantine.drop(LOAD_ID)
    )


def ingest_ctb_df(
    df: DataFrame, types: dict[str, str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Pure-DataFrame variant for pre-loaded all-string input (tests,
    mailbox-sourced batches): columns must already be canonical."""
    corrupt = CORRUPT_COL if CORRUPT_COL in df.columns else None
    return split_valid_quarantine(df, types=types, corrupt_col=corrupt)
