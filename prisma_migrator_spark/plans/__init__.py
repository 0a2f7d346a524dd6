"""Query plan registry.

Importing this package populates :data:`QUERIES` (name → callable
``(spark, sf_dir) -> DataFrame``) and :data:`ORACLES` (name → DuckDB
SQL string). ``__spark_entry__.py`` re-exports both for the driver.
"""

from prisma_migrator_spark.plans.registry import ORACLES, QUERIES, query  # noqa: F401

# Import for registration side effects.
from prisma_migrator_spark.plans import analytics  # noqa: E402,F401
from prisma_migrator_spark.plans import core  # noqa: E402,F401
from prisma_migrator_spark.plans import daily  # noqa: E402,F401
from prisma_migrator_spark.plans import events  # noqa: E402,F401
from prisma_migrator_spark.plans import flagship  # noqa: E402,F401
from prisma_migrator_spark.plans import graph  # noqa: E402,F401
from prisma_migrator_spark.plans import html  # noqa: E402,F401
from prisma_migrator_spark.plans import ingest  # noqa: E402,F401
from prisma_migrator_spark.plans import llm  # noqa: E402,F401
from prisma_migrator_spark.plans import profiling  # noqa: E402,F401
from prisma_migrator_spark.plans import temporal  # noqa: E402,F401
