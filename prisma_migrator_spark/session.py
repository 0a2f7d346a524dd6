"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same configs
(AQE, shuffle partitions sized to the cluster, UTC session time zone,
Arrow for the Pandas-UDF slow path, a generated-code cache sized to hold
every headline query's classes) are the ones we would set on a real
multi-executor cluster. Nothing here is local-mode-only except the
master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The 14 headline queries generate ~250 distinct classes (248-259
# Janino compiles in a first headline round at sf0.001 and sf0.01,
# local[4]). Spark's default cache holds 100, so each round evicted
# the classes the next round needed: Janino recompiled 249 of them
# every round, and the JIT then recompiled their bytecode. At 1024 a
# repeated round compiles 0-8 (tests/test_plans.py pins it). Guava
# splits the cache into 4 segments and evicts per segment, so a cap
# near the working set still evicts from whichever segment fills
# first; ~4x the working set leaves every segment room for its share
# plus the classes other queries add.
_CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "prisma-migrator-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-sane defaults.

    - AQE on: runtime coalescing, skew-join splitting, dynamic
      broadcast selection — the knobs that matter at 100 TB.
    - shuffle.partitions defaults to the core count locally; on a real
      cluster this should be ~2-3x total executor cores (AQE coalesces
      the excess anyway).
    - UTC session timezone so timestamp semantics match the DuckDB
      oracle and are cluster-invariant.
    - codegen cache of ``_CODEGEN_CACHE_ENTRIES`` compiled classes, so
      a query run a second time reuses its generated code. This is a
      static SQL conf: ``CodeGenerator`` reads it once, when the JVM
      first generates code, so only the first session built in a JVM
      sets it. The test session (``tests/conftest.py``), ``bench.py``
      and ``perfbench`` all build through here and so get it.
    - Spark UI off: ``perfbench`` reads per-stage metrics from the
      in-process status store, which needs no UI.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local fixtures are single large parquet files; a smaller split
        # size parallelizes the scan across cores. On a real cluster the
        # input has many files/row-groups — set 128m+ there via env.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
