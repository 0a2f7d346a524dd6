"""Output checks, run once per run outside the timed window.

Row values are normalized the way the repository's DuckDB-oracle
comparison normalizes them (columns by name, floats rounded to 9
places, timestamps as ISO strings, NaN as a token), then compared as
multisets. Rows left over on both sides are paired again with a
tolerance of one unit in the sixth decimal place, because the queries
``ROUND(x, 6)`` sums whose order differs between the two engines and
a value that sits on a rounding boundary can land one unit apart.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
from collections import Counter

_ABS_TOL = 1.5e-6


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=_ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def rows_mismatch(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """``None`` when the two results hold the same rows, else a short
    description of the first difference."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns differ: {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"row counts differ: {len(rows_a)} vs {len(rows_b)}"
    ia = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    ib = sorted(range(len(cols_b)), key=lambda i: cols_b[i])
    ca = Counter(tuple(_norm(r[i]) for i in ia) for r in rows_a)
    cb = Counter(tuple(_norm(r[i]) for i in ib) for r in rows_b)
    left = list((ca - cb).elements())
    right = list((cb - ca).elements())
    for row in left:
        match = next((k for k, other in enumerate(right) if _close(row, other)), None)
        if match is None:
            return f"row only on the first side: {row}"
        right.pop(match)
    return None


def tables_mismatch(got, want) -> str | None:
    """``None`` when two arrow tables hold the same multiset of rows.
    Timestamps are compared as naive microseconds (INT96 files read
    back as nanoseconds); both sides are sorted on every column that
    has an order, then compared column by column."""
    import pyarrow as pa

    def normal(t):
        cols = [c.cast(pa.timestamp("us")) if pa.types.is_timestamp(c.type) else c for c in t.columns]
        t = pa.table(cols, names=t.column_names)
        return t.select(sorted(t.column_names))

    got, want = normal(got), normal(want)
    if got.column_names != want.column_names:
        return f"columns differ: {got.column_names} vs {want.column_names}"
    if got.num_rows != want.num_rows:
        return f"row counts differ: {got.num_rows} vs {want.num_rows}"
    keys = [(c, "ascending") for c in got.column_names if not pa.types.is_nested(got.schema.field(c).type)]
    got, want = got.sort_by(keys), want.sort_by(keys)
    for name in got.column_names:
        a, b = got.column(name).to_pylist(), want.column(name).to_pylist()
        if a != b:
            i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            return f"column {name} differs at sorted row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def duckdb_rows(sql: str, fixture_dir: str, tables: list[str]):
    """Run an oracle query in DuckDB over the fixture parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(fixture_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()
