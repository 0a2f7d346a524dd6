"""Bulk literal construction without per-element py4j round trips
(optimization guide §1.2 — driver work).

Building a big array literal with ``F.array(*[F.lit(x) for x in xs])``
costs one JVM round trip per element: a 16×64 centroid matrix is
~1050 py4j calls ≈ 1 s of pure driver time (measured r10), re-paid
every time an operator embeds a model — centroids, PQ codebooks, LSH
planes, stopword lists — into its plan. Parsing the equivalent SQL
text with ONE ``F.expr`` call builds the exact same
``CreateArray(Literal)`` tree:

- doubles: ``repr`` round-trips in Python, and Spark's parser
  (``Double.parseDouble``) is correctly rounded, so ``array(0.1D,…)``
  carries bit-identical IEEE-754 values (verified bit-for-bit against
  the ``F.lit`` form in pytest); NaN and ±inf are written as
  ``CAST('NaN' AS DOUBLE)`` and friends;
- strings: standard SQL escaping, same UTF8String literal.

Empty input falls back to ``F.array()`` — the same Column the old
``F.array(*[])`` form produced.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


_NON_FINITE = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}


def sql_double(v: float) -> str:
    """Exact SQL double literal (repr round-trips; parser is
    correctly rounded — identical bits). ``repr`` spells NaN and ±inf
    ``nan``/``inf``, which the parser rejects, so those become the
    string casts Spark itself accepts."""
    r = repr(float(v))
    if r in _NON_FINITE:
        return f"CAST('{_NON_FINITE[r]}' AS DOUBLE)"
    return f"{r}D"


def _s(v: str) -> str:
    """SQL string literal with standard escaping."""
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def double_array(vals) -> Column:
    """``array<double>`` literal in one parse."""
    vals = list(vals)
    if not vals:
        return F.array()
    return F.expr("array(" + ", ".join(sql_double(v) for v in vals) + ")")


def double_matrix(rows) -> Column:
    """``array<array<double>>`` literal in one parse."""
    rows = list(rows)
    if not rows:
        return F.array()
    return F.expr(
        "array("
        + ", ".join(
            "array(" + ", ".join(sql_double(v) for v in r) + ")" for r in rows
        )
        + ")"
    )


def string_array(vals) -> Column:
    """``array<string>`` literal in one parse."""
    vals = list(vals)
    if not vals:
        return F.array()
    return F.expr("array(" + ", ".join(_s(v) for v in vals) + ")")
