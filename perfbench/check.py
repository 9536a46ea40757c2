"""Result checking: DuckDB oracles over the same parquet inputs, and an
order-insensitive comparison of result sets.

Rows compare as multisets with columns matched by name. Floats match to a
relative 1e-9 (double sums differ in the last bits between engines when they
add in another order); timestamps and dates compare as ISO strings.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

from f1_lakehouse_spark.tables import TABLE_NAMES, table_path

REL_TOL = 1e-9


class Oracle:
    """A DuckDB connection with one view per input table."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        # the oracles are small; the slowest (the LSH one) runs faster on one
        self.con.execute("SET threads TO 1")
        for name in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{table_path(data_dir, name)}')"
            )

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def close(self) -> None:
        self.con.close()


def _cell(v):
    """One cell in a comparable, engine-neutral form."""
    if v is None:
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()  # numpy scalar or array
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _key(row: tuple) -> tuple:
    # floats sort by a rounded value so near-equal rows from the two engines
    # land at the same position
    return tuple(
        (0, "") if c is None
        else (1, float(f"{c:.6g}")) if isinstance(c, (int, float))
        else (2, repr(c))
        for c in row
    )


def normalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name; rows re-ordered to match, cells normalized,
    rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=_key)


def _same(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def mismatch(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """None when the two normalized results are equal, else a reason."""
    gc, gr = got
    wc, wr = want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for a, b in zip(gr, wr):
        if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {a} != {b}"
    return None


def pandas_result(pdf) -> tuple[list[str], list[tuple]]:
    """Normalized form of a pandas frame (``analytics.to_client`` output);
    its nulls arrive as None, NaN or NaT."""
    import pandas as pd

    cols = [str(c) for c in pdf.columns]
    rows = [
        tuple(None if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)) else v
              for v in r)
        for r in pdf.itertuples(index=False, name=None)
    ]
    return normalize(cols, rows)


def rows_result(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Normalized form of collected Spark rows or DuckDB tuples."""
    return normalize(list(cols), [tuple(r) for r in rows])
