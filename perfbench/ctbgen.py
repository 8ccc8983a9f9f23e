"""Seeded CTB landing-zone generator with the expected outcome of every file.

The CTB format is written out here from its external description (21 tab-
separated columns, the raw header aliases, three logical types), not read
from the package under test, so a change to the program cannot silently
change the benchmark's inputs or its expectations.

Every file gets a *fate* that fixes what a correct drain does with it:

- ``clean``          every row valid                 -> Processed, success notice
- ``partial``        1 row in ``reject_every`` bad    -> Processed, error notice
- ``all_invalid``    every row bad                   -> Failed, error notice
- ``unknown_header`` an extra, unknown column        -> Failed, error notice
- ``header_only``    a header and no data rows       -> Failed, error notice

A bad row carries exactly one defect: a non-integer in an INTEGER column, a
US-format or impossible date in a DATE column, or a token count one short or
one long of the header. Valid rows still exercise the coercion rules: comma
thousands separators, signed integers, un-padded ``yyyy-M-d`` dates, padding
whitespace and empty fields. Headers vary between the raw spaced aliases,
canonical names and lower case; files vary between LF and CRLF line endings
and a UTF-8 BOM or none.

The same ``(seed, spec)`` always gives the same bytes.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# (raw header alias, canonical column, logical type), in file order.
COLUMNS: list[tuple[str, str, str]] = [
    ("ORG CODE", "ORG_CODE", "STRING"),
    ("MASTER CUST NAME", "MASTER_CUST_NAME", "STRING"),
    ("CUSTOMER NUMBER", "CUSTOMER_NUMBER", "STRING"),
    ("ITEM NUMBER", "ITEM_NUMBER", "STRING"),
    ("CUST PART NUM", "CUST_PART_NUM", "STRING"),
    ("ITEM DESCRIPTION", "ITEM_DESCRIPTION", "STRING"),
    ("DEMAND DUE DATE", "DEMAND_DUE_DATE", "DATE"),
    ("DEMAND QTY", "DEMAND_QTY", "INTEGER"),
    ("Avail OnTime", "ONTIME_QTY", "INTEGER"),
    ("Avail Date", "AVAILABLE_DATE", "DATE"),
    ("SplitAvail Supply Source", "SUPPLY_SOURCE", "STRING"),
    ("SplitAvailDate", "SUPPLY_AVAILABLE_DATE", "DATE"),
    ("SplitAvail Qty", "SUPPLY_AVA_QTY", "INTEGER"),
    ("Days Late", "DAYS_LATE", "INTEGER"),
    ("Unique Short Qty Count", "UNIQ_SHORT_QTY", "INTEGER"),
    ("GATING Part", "GATING_PART", "STRING"),
    ("GATING M/B", "MAKE_BUY", "STRING"),
    ("GATING LT", "LEAD_TIME", "INTEGER"),
    ("GATING CUST PART", "GATING_CUST_PART", "STRING"),
    ("CUST PART DESCRIPTION", "CUST_PART_DESCRIPTION", "STRING"),
    ("SNAPSHOT_DATE", "SNAPSHOT_DATE", "DATE"),
]
INT_COLS = [i for i, c in enumerate(COLUMNS) if c[2] == "INTEGER"]
DATE_COLS = [i for i, c in enumerate(COLUMNS) if c[2] == "DATE"]

FATES = ("clean", "partial", "all_invalid", "unknown_header", "header_only")
# Row defects and the quarantine reason kind each must produce.
DEFECTS = {"int": "int", "date": "date", "short": "malformed", "long": "malformed"}
WORDS = ["ACME", "GLOBEX", "INITECH", "UMBRELLA", "STARK", "WAYNE", "HOOLI",
         "widget", "gear", "bracket", "panel", "sensor", "valve", "cable"]


@dataclass(frozen=True)
class ZoneSpec:
    """The fate of each file in drain order, and rows per data file.

    The order is fixed rather than drawn from the seed: the JVM is still
    warming up through a drain, so where the fast (Failed-at-header) files
    fall would otherwise move the drain time from seed to seed."""

    fates: tuple[str, ...]
    rows_per_file: int
    reject_every: int = 10


@dataclass
class Expected:
    """What a correct drain does with one file."""

    state: str  # processed | failed
    valid: int
    quarantined: int
    reasons: frozenset  # quarantine reason kinds: int, date, malformed
    notice: str  # success | partial | no_valid | bad_header | no_rows


@dataclass
class LandedFile:
    name: str
    data: bytes
    fate: str
    expected: Expected


def _int_value(rng: random.Random) -> str:
    v = rng.choice((rng.randint(0, 999), rng.randint(1000, 250_000), -rng.randint(1, 99)))
    if v >= 1000 and rng.random() < 0.5:
        return f"{v:,}"
    if v > 0 and rng.random() < 0.05:
        return f"+{v}"
    return str(v)


def _date_value(rng: random.Random) -> str:
    y, m, d = rng.randint(2023, 2026), rng.randint(1, 12), rng.randint(1, 28)
    return f"{y}-{m}-{d}" if rng.random() < 0.2 else f"{y:04d}-{m:02d}-{d:02d}"


def _string_value(rng: random.Random, col: int) -> str:
    v = f"{rng.choice(WORDS)}-{rng.randint(0, 9999)}"
    if col in (1, 5, 19):  # free-text columns carry spaces
        v = f"{v} {rng.choice(WORDS)}"
    return v


def _valid_row(rng: random.Random) -> list[str]:
    out = []
    for i, (_, _, typ) in enumerate(COLUMNS):
        r = rng.random()
        if r < 0.04:
            out.append("")  # '' -> NULL, never a rejection
            continue
        if typ == "INTEGER":
            v = _int_value(rng)
        elif typ == "DATE":
            v = _date_value(rng)
        else:
            v = _string_value(rng, i)
        out.append(f" {v} " if r > 0.97 else v)  # padding is trimmed
    return out


def _bad_row(rng: random.Random, defect: str) -> list[str]:
    row = _valid_row(rng)
    if defect == "int":
        row[rng.choice(INT_COLS)] = rng.choice(("12x", "N/A", "3.5", "1 000", "--4"))
    elif defect == "date":
        y, m, d = rng.randint(2023, 2026), rng.randint(1, 12), rng.randint(1, 28)
        row[rng.choice(DATE_COLS)] = rng.choice(
            (f"{m:02d}/{d:02d}/{y}", f"{y}-13-{d:02d}", f"{y}-02-30", "tomorrow")
        )
    elif defect == "short":
        row = row[:-1]
    else:
        row = row + [f"{rng.choice(WORDS)}-extra"]
    return row


def _header(rng: random.Random, extra: bool) -> list[str]:
    style = rng.choice(("raw", "canonical", "lower"))
    names = [raw if style == "raw" else canon for raw, canon, _ in COLUMNS]
    if style == "lower":
        names = [n.lower() for n in names]
    if extra:
        names.append("EXTRA COL")
    return names


def _file(rng: random.Random, name: str, fate: str, spec: ZoneSpec) -> LandedFile:
    eol = rng.choice(("\n", "\r\n"))
    bom = "﻿" if rng.random() < 0.3 else ""
    lines = ["\t".join(_header(rng, extra=fate == "unknown_header"))]
    n = 0 if fate == "header_only" else spec.rows_per_file
    reasons: set[str] = set()
    quarantined = 0
    for i in range(n):
        bad = fate == "all_invalid" or (
            fate == "partial" and i % spec.reject_every == spec.reject_every - 1
        )
        if bad:
            defect = rng.choice(sorted(DEFECTS))
            row = _bad_row(rng, defect)
            reasons.add(DEFECTS[defect])
            quarantined += 1
        else:
            row = _valid_row(rng)
            if fate == "unknown_header":
                row.append(f"{rng.choice(WORDS)}")
        lines.append("\t".join(row))
    data = (bom + eol.join(lines) + eol).encode("utf-8")

    if fate in ("unknown_header", "header_only"):
        exp = Expected("failed", 0, 0, frozenset(),
                       "bad_header" if fate == "unknown_header" else "no_rows")
    elif fate == "all_invalid":
        exp = Expected("failed", 0, quarantined, frozenset(reasons), "no_valid")
    else:
        exp = Expected("processed", n - quarantined, quarantined, frozenset(reasons),
                       "partial" if quarantined else "success")
    return LandedFile(name, data, fate, exp)


def generate(seed: int, spec: ZoneSpec) -> list[LandedFile]:
    """The zone's files in drain order (the runner lists them sorted)."""
    unknown = set(spec.fates) - set(FATES)
    if unknown:
        raise ValueError(f"unknown fates: {sorted(unknown)}")
    rng = random.Random(seed)
    return [
        _file(rng, f"CTB_{seed}_{i:03d}.tsv", fate, spec)
        for i, fate in enumerate(spec.fates)
    ]
