"""Registry pairing each named query's Spark impl with its DuckDB oracle.

The driver contract (``__spark_entry__.py``) wants ``queries()`` and
``oracle_sql()`` dicts whose results hash-match at sf0.01. Keeping the
pair registered together at the definition site is what keeps column
names/aliases in sync — the #1 hash-mismatch cause.

``QUERIES`` holds a wrapper around each query that first releases the
frames the previous query pinned in the session cache
(:func:`~prisma_migrator_spark.operators.driver_state.release_pins`),
so the cache holds at most one query's pins. Only the outermost
registered build releases: a query that builds another through
``QUERIES`` keeps its own pins, and a query that calls another's
function directly releases nothing.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

from prisma_migrator_spark.operators.driver_state import release_pins

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: True while this thread builds a registered query: nested builds
#: must not release the outer query's pins.
_building: ContextVar[bool] = ContextVar("_building", default=False)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks it non-SQL-expressible
    (driver falls back to a rows-only check). Returns ``fn`` itself."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            if _building.get():
                return fn(spark, sf_dir)
            release_pins()
            token = _building.set(True)
            try:
                return fn(spark, sf_dir)
            finally:
                _building.reset(token)

        QUERIES[name] = build
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
