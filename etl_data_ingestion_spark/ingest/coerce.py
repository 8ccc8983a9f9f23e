"""Type coercion with per-row validity and error reasons.

Re-expresses the reference's row loop (main.py:369-414) as pure,
fully-vectorized DataFrame expressions — no Python runs per row, so
the same code that passes the golden tests on 10 rows holds on 100 TB:

- trim every field (main.py:382)
- '' → NULL for every type (main.py:387-388)
- INTEGER: strip thousands-separator commas then parse; a non-integer
  value, or one outside the 64-bit range of the warehouse's INTEGER,
  records a reason and rejects the ROW (main.py:389-399, 413)
- DATE: strict %Y-%m-%d; failure records a reason and rejects the ROW
  (main.py:400-410, 413)
- STRING: trimmed passthrough (main.py:411-412)
- a row with ANY failed coercion goes to quarantine with its reasons;
  coerced-to-NULL *empty* fields do not reject (main.py:387-388)

Deviation from the reference (deliberate, documented): error reasons
carry the source file and raw row instead of a 1-based line number —
a distributed text scan has no global line order, and file+content is
the scale-safe identity. Python's int() also accepts underscores
('1_2') and strptime accepts 2-digit years; we require ^[+-]?digits$
and 4-digit years — strictly tighter, and covered by tests.

The expressions are SQL text, applied with one ``selectExpr`` per
output: built as a Column tree, the 21-column projection costs
thousands of driver→JVM calls; as text it costs a few.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_data_ingestion_spark.schema import BQ_SCHEMA_TYPES

INT_PATTERN = r"^[+-]?[0-9]+$"
# Lenient zero-padding like strptime's %Y-%m-%d (accepts 2025-7-5),
# strict otherwise (CORRECTED time-parser policy → real calendar check).
DATE_FORMAT = "yyyy-M-d"


def _lit(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _reason(ok: str, template: str, *args: str) -> str:
    return f"CASE WHEN NOT {ok} THEN format_string({_lit(template)}, {', '.join(args)}) END"


def coercion_exprs(
    types: dict[str, str] | None = None,
) -> tuple[dict[str, str], dict[str, str], list[str]]:
    """Build (casted-value, row-validity, error-reason) SQL expressions.

    Returns ``(values, valid_flags, error_exprs)`` keyed/ordered by
    column. Generated from the schema map so adding a column is a
    one-line schema change, mirroring how the reference drives its loop
    from bq_schema_types (main.py:381-385).
    """
    types = types or BQ_SCHEMA_TYPES
    values: dict[str, str] = {}
    valid: dict[str, str] = {}
    errors: list[str] = []

    for name, typ in types.items():
        # trimmed value with ''→NULL applied — the universal prelude
        base = f"nullif(trim({_ident(name)}), '')"
        if typ == "INTEGER":
            cleaned = f"regexp_replace({base}, ',', '')"
            casted = f"CAST({cleaned} AS BIGINT)"  # NULL on overflow (non-ANSI cast)
            ok = (
                f"({base} IS NULL OR ({cleaned} RLIKE {_lit(INT_PATTERN)}"
                f" AND {casted} IS NOT NULL))"
            )
            values[name] = f"CASE WHEN {ok} THEN {casted} END"
            valid[name] = ok
            errors.append(_reason(
                ok,
                "Value error for column '%s': could not convert '%s' to INTEGER. Setting to None.",
                _lit(name),
                base,
            ))
        elif typ == "DATE":
            casted = f"to_date({base}, {_lit(DATE_FORMAT)})"
            ok = f"({base} IS NULL OR {casted} IS NOT NULL)"
            values[name] = casted
            valid[name] = ok
            errors.append(_reason(
                ok,
                "Value error for column '%s': could not convert '%s' to DATE (expected %%Y-%%m-%%d). Setting to None.",
                _lit(name),
                base,
            ))
        else:  # STRING
            values[name] = base
    return values, valid, errors


def coerce_rows(
    df: DataFrame,
    types: dict[str, str] | None = None,
    corrupt_col: str | None = None,
    source_file_col: str | None = None,
    keep: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """All-string DataFrame → (annotated, typed valid rows, quarantine rows).

    ``annotated`` is ``df`` plus ``_errors`` (the row's reasons) and
    ``_row_ok``. ``corrupt_col`` names the CSV corrupt-record column
    (malformed token counts, reference main.py:372-377); those rows
    quarantine with a column-count reason. ``source_file_col`` names
    the column quarantined rows report as ``_source_file``. ``keep``
    columns of ``df`` ride along at the end of both outputs. One
    projection computes every output — Spark evaluates the shared scan
    once per action.
    """
    types = types or BQ_SCHEMA_TYPES
    values, valid, error_exprs = coercion_exprs(types)

    raw = _ident(corrupt_col) if corrupt_col else "CAST(NULL AS STRING)"
    well_formed = f"({raw} IS NULL)"
    all_errors = error_exprs + [
        _reason(well_formed, "Malformed row: column count mismatch. Row content: '%s'", raw)
    ]
    row_ok = " AND ".join([well_formed, *valid.values()])
    annotated = df.selectExpr(
        "*",
        f"array_compact(array({', '.join(all_errors)})) AS _errors",
        f"{row_ok} AS _row_ok",
    )

    kept = [_ident(c) for c in keep]
    valid_df = annotated.filter("_row_ok").selectExpr(
        *[f"{expr} AS {_ident(name)}" for name, expr in values.items()], *kept
    )
    src = _ident(source_file_col) if source_file_col else "CAST(NULL AS STRING)"
    quarantine_df = annotated.filter("NOT _row_ok").selectExpr(
        *[f"trim({_ident(name)}) AS {_ident(name)}" for name in types],
        f"{raw} AS _raw",
        "_errors",
        f"{src} AS _source_file",
        *kept,
    )
    return annotated, valid_df, quarantine_df


def split_valid_quarantine(
    df: DataFrame,
    types: dict[str, str] | None = None,
    corrupt_col: str | None = None,
    source_file_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """All-string DataFrame → (typed valid rows, quarantine rows); see
    ``coerce_rows``."""
    return coerce_rows(df, types, corrupt_col, source_file_col)[1:]
