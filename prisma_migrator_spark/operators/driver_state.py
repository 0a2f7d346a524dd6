"""Bounded driver-state collection, and the one owner of frames
pinned in Spark's session cache.

Every ``.collect()`` in this package pulls STRUCTURALLY bounded state
to the driver (a file list, k centroids, a Bloom vocabulary, partition
values, a 1-row aggregate) — never a data-proportional result set.
That bound used to be convention; :func:`bounded_collect` makes it a
contract, the same discipline ``bounded_global_window`` imposed on
global windows: the caller states the bound and WHY it holds, and the
call raises instead of silently materializing an unbounded frame on
the driver when a refactor breaks the invariant. ``tests/``
grep-guards that no bare ``.collect()`` remains in package code.

``persist()`` registers a frame in the session CacheManager, which
holds it for the session's LIFETIME unless something unpersists it.
Every frame a query keeps cached past its own body goes through
:func:`pin`, which records it in :data:`_PINNED`; the query registry
calls :func:`release_pins` before it builds each registered query, so
cache residency is bounded at one query's frames. ``tests/`` guards
that no other ``.persist(``/``.cache(`` call remains in package code
except the few that unpersist their frame in their own body.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, Row
from pyspark.sql import functions as F


def bounded_collect(df: DataFrame, max_rows: int, why: str) -> list[Row]:
    """Collect ``df`` to the driver, asserting it holds at most
    ``max_rows`` rows. ``why`` documents the structural reason the
    bound holds (shown in the error so a tripped bound explains
    itself). The probe fetches ``max_rows + 1`` rows via ``limit`` —
    the overflow check costs one extra row, not a count job.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"bounded_collect: frame exceeded the declared driver-state "
            f"bound of {max_rows} rows ({why}); refusing to materialize "
            f"an unbounded result on the driver"
        )
    return rows


def observe_rows(df: DataFrame) -> tuple[DataFrame, Callable[[], int]]:
    """``df`` with its row count attached as an ``Observation``, and a
    getter for that count. The count rides the next action on the
    returned frame — no separate count job, no second scan. Call the
    getter only after that action has returned: it blocks until the
    action reports its metrics, and it would wait forever if the plan
    the action ran no longer contains the observed frame."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), lambda: obs.get["rows"]


#: Frames pinned by :func:`pin` since the last :func:`release_pins`.
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """``df.persist()``, recorded for release before the next
    registered query is built. Lazy: the first action materializes
    it, as a plain persist does."""
    df = df.persist()
    _PINNED.append(df)
    return df


def release_pins() -> int:
    """Unpersist every pinned frame and return how many there were.
    Always safe: a frame whose cache was released recomputes through
    its plan on its next action — slower, never wrong. A frame whose
    session was stopped is skipped: stopping freed its cache, and
    unpersisting it would raise."""
    n = len(_PINNED)
    for df in _PINNED:
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist(blocking=False)
    _PINNED.clear()
    return n
