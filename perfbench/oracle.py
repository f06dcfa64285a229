"""DuckDB oracle comparison for the benchmark's correctness gate.

The normaliser is the parity tier's (``tests/test_oracle_parity.py``:
``_norm_cell`` / ``_multiset``), copied so that the benchmark runs from
its own files: floats to 6 significant digits, NULL and NaN alike,
datetimes without time zone, rows compared as an order-free multiset
over name-sorted columns.
"""

from __future__ import annotations

import datetime
import math

import duckdb

from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import (
    TESTDATA_TABLES,
)


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return str(v.replace(tzinfo=None))
    return str(v)


def multiset(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def oracle_rows(input_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    """Columns and rows of ``sql`` over the parquet tables in ``input_dir``."""
    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'"
            )
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def mismatch(
    cols: list[str], rows: list[tuple], ocols: list[str], orows: list[tuple]
) -> str | None:
    """Why the Spark output differs from the oracle's, or None."""
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"row count {len(rows)} vs {len(orows)}"
    a, b = multiset(cols, rows), multiset(ocols, orows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values differ, first: {diffs}"
    return None
