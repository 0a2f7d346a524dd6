"""Distinct array aggregation (SURVEY §2.4 A4).

PG: ``ARRAY_AGG(DISTINCT ARRAY[c.name, c.handle])`` per group
(reference src/utils/lib.ts:363-369). PG returns elements sorted (the
DISTINCT implies a sort); Spark's ``collect_set`` is unordered, so we
wrap in ``array_sort`` for deterministic output (SURVEY §7.3 hard-part
5).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_pair_agg(
    df: DataFrame,
    group: Sequence[str],
    elements: Sequence[Column | str],
    out: str = "pairs",
) -> DataFrame:
    """Per group: sorted set of ``array(*elements)`` values.

    ObjectHashAggregate under the hood; partial aggregation still
    applies (sets merge map-side), so the shuffle carries deduped sets,
    not raw rows.
    """
    cols = [F.col(e) if isinstance(e, str) else e for e in elements]
    return df.groupBy(*group).agg(
        F.array_sort(F.collect_set(F.array(*cols))).alias(out)
    )


def salted_distinct_pair_agg(
    df: DataFrame,
    group: Sequence[str],
    elements: Sequence[Column | str],
    out: str = "pairs",
) -> DataFrame:
    """Skew-resistant form of :func:`distinct_pair_agg` for hot keys.

    A single hot group key sends every one of its rows to ONE reducer;
    with a large distinct set that reducer becomes the straggler (AQE
    skew-join splitting does not apply to aggregations). Two phases:

    1. dedup keyed on (keys, element) — ``dropDuplicates`` compiles to
       a plain codegen'd HashAggregate with map-side partials, and the
       shuffle key includes the element, so the hot key's rows spread
       over EVERY reducer (the limit case of salting: one salt per
       distinct element). No ObjectHashAggregate in this phase — the
       collect_set form degrades to sort-based aggregation past a few
       hundred groups per partition (measured 1.4x slower than
       unsalted at 19M rows; this form is ~2x faster).
    2. groupBy(keys) gathers the pre-deduped elements with
       ``collect_list`` (append-only buffer, not set inserts) + one
       final sort. Building one array per key is inherently
       single-reducer; what scales is doing ALL dedup work before it.

    The element-keyed shuffle makes an explicit salt count unnecessary.

    Results are identical to the unsalted form; use when a key's group
    size is ≫ the average (e.g. one app in every category).
    """
    cols = [F.col(e) if isinstance(e, str) else e for e in elements]
    dd = df.select(*group, F.array(*cols).alias("__e")).dropDuplicates(
        [*group, "__e"]
    )
    return dd.groupBy(*group).agg(
        F.array_sort(F.collect_list("__e")).alias(out)
    )


def distinct_string_agg(
    df: DataFrame,
    group: Sequence[str],
    element: Column | str,
    sep: str = ";",
    out: str = "agg",
) -> DataFrame:
    """Per group: distinct values of ``element`` sorted and joined with
    ``sep`` — the hash-stable flat form of :func:`distinct_pair_agg`
    (equals PG ``STRING_AGG(DISTINCT x, sep ORDER BY x)``)."""
    col = F.col(element) if isinstance(element, str) else element
    return df.groupBy(*group).agg(
        F.array_join(F.array_sort(F.collect_set(col)), sep).alias(out)
    )
