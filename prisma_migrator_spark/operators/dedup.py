"""Latest-per-key dedup.

``latest_per_key`` is the Spark-native form of PostgreSQL
``SELECT DISTINCT ON (key) ... ORDER BY key, ts DESC``
(reference src/utils/lib.ts:303,313,371-374,469-471 — W2 in SURVEY
§2.5). PG's DISTINCT ON is nondeterministic under ties; we require
explicit tiebreakers so results are stable across engines and runs
(SURVEY §7.3 hard-part 2).

Scale notes: the primary plan is ``max(struct(order, tiebreak...,
payload...))`` — struct comparison is lexicographic by field, so the
max struct IS the first row under the requested ordering. As a
hash-aggregate it gets a map-side partial pass: each input partition
contributes ONE candidate row per key to the shuffle, so shuffled
bytes ≈ |keys|, not |rows| — strictly better at 100 TB than the
window form (which shuffles and per-partition sorts every row).
Falls back to ``row_number() == 1`` only when a payload column is not
orderable (MapType anywhere in its type tree).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType


def _orderable(dt: DataType) -> bool:
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tiebreakers: Sequence[str] = (),
    descending: bool = True,
) -> DataFrame:
    """Keep exactly one row per key: the first under
    ``ORDER BY order_col [DESC], *tiebreakers [DESC]``.

    Matches PG ``DISTINCT ON (keys) ... ORDER BY keys, order_col DESC``
    with a pinned deterministic tiebreak. Null sort keys lose to
    non-null under both plans (desc = NULLS LAST; struct comparison
    orders null lowest).

    Pruning caveat: every column of ``df`` lands in the aggregate's
    struct buffer, so Catalyst cannot prune scan columns through this
    operator — ``select`` the columns you need BEFORE calling it (safe
    whenever the tiebreakers pin a unique winner).

    Physical plan: ``max(struct)`` has an immutable agg buffer, so
    Spark plans SortAggregate (partial + final), not HashAggregate.
    That is still the right trade: the partial aggregate collapses to
    one row per key per partition BEFORE the shuffle, where the
    row_number-window alternative shuffles and sorts EVERY input row.
    The packed-long argmax trick (PERF.md #14) doesn't apply — the
    winner's full payload can't ride in a 64-bit key.
    """
    lead = [order_col, *tiebreakers]
    payload = [c for c in df.columns if c not in keys and c not in lead]
    fields = [(f.name, f.dataType) for f in df.select(*lead, *payload).schema.fields]
    if all(_orderable(t) for _, t in fields):
        agg = F.max if descending else F.min
        best = agg(F.struct(*lead, *payload)).alias("__best")
        out = df.groupBy(*keys).agg(best)
        return out.select(
            *[
                F.col(c) if c in keys else F.col(f"__best.{c}").alias(c)
                for c in df.columns
            ]
        )
    direction = F.desc if descending else F.asc
    ordering = [direction(order_col)] + [direction(t) for t in tiebreakers]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    rn = "__pms_rn"
    return (
        df.withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) == 1)
        .drop(rn)
    )
