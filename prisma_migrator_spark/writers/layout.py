"""File-statistics manifests: the metadata layer for CoW planning.

Two pieces of lakehouse machinery this engine's CoW writers stand on,
both format-free (plain parquet directories, public techniques —
Delta/Iceberg keep the same information in their metadata layers):

- :func:`table_manifest` — the per-file min/max statistics table,
  computed from parquet FOOTERS only (no data pages). Below
  ``DISTRIBUTED_FOOTER_THRESHOLD`` files it reads footers on the
  driver (micro-table regime); above, it fans the file list out through
  ``mapInPandas`` so a million-file table costs one metadata-sized
  Spark job instead of a serial driver loop — the difference between
  CoW MERGE planning scaling with |touched files| vs |all files|.
  The CoW writers' pruning step (``upsert._files_holding_keys``) joins
  batch keys against it.
- :func:`prunable_files` — the manual file-skipping primitive over
  the manifest, and the measurement hook for layout quality (fewer
  surviving files = better clustering for that column). The Z-order
  writer this pairs with lives in
  :mod:`prisma_migrator_spark.sources.layout` (``zorder_write``);
  ``tests/test_layout.py`` pins the multi-column pruning property —
  on a 2-column Z-ordered table a range predicate on EITHER column
  prunes the majority of files, where a linear sort prunes only on
  its own column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

# Measured crossover (PERF.md round 5): pyarrow reads footers at
# ~9k files/s single-threaded (0.33 s for 3,000 files), while the
# mapInPandas job costs a flat ~1-4 s — so the distributed path only
# pays past tens of thousands of files. It exists for the 10^5-10^6
# file regime a 100 TB table actually has.
DISTRIBUTED_FOOTER_THRESHOLD = 32_768


def _footer_stats(files: list[str], cols: list[str]) -> list[tuple]:
    """Per-file (file, n_rows, min..., max...) from parquet footers.
    Missing/truncated stats yield None bounds for that column (callers
    must treat None as 'could contain anything'). Parquet permits only
    range-WIDENING stat truncation, so pruning on these bounds never
    drops a matching file."""
    import pyarrow.parquet as pq

    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = md.schema.names
        row: list[object] = [f, md.num_rows]
        for c in cols:
            lo = hi = None
            try:
                idx = names.index(c)
            except ValueError:
                row += [None, None]
                continue
            ok = md.num_rows > 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            row += [lo, hi] if ok else [None, None]
        out.append(tuple(row))
    return out


def table_manifest(
    spark: SparkSession, files: list[str], cols: list[str], schema: StructType
) -> DataFrame:
    """File-level statistics manifest: one row per data file of
    ``files`` with ``file``, ``n_rows`` and ``<col>_min``/``<col>_max``
    for each requested column, typed from ``schema``, the table schema
    the caller has already read (inferring it again costs a Spark job).

    This is the planning input for file-granularity CoW MERGE /
    DELETE and for manual file-skipping: join predicates against it,
    collect the (metadata-sized) survivor list, touch only those
    files. Footer reads go through executors once the file count
    passes ``DISTRIBUTED_FOOTER_THRESHOLD``, set at the measured local
    crossover — serial pyarrow does ~9k files/s, the Spark job costs a
    flat ~1-4 s, so distribution pays only in the 10^5-10^6-file
    regime a 100 TB table actually has."""
    fields = [
        StructField("file", StringType(), False),
        StructField("n_rows", LongType(), False),
    ]
    for c in cols:
        # a column absent from the table schema still gets manifest
        # columns — always-NULL bounds ("could contain anything"),
        # matching _footer_stats's per-file missing-column behavior
        t = schema[c].dataType if c in schema.fieldNames() else StringType()
        fields += [
            StructField(f"{c}_min", t, True),
            StructField(f"{c}_max", t, True),
        ]
    out_schema = StructType(fields)

    if len(files) <= DISTRIBUTED_FOOTER_THRESHOLD:
        return spark.createDataFrame(_footer_stats(files, cols), out_schema)

    import pandas as pd

    col_names = [f.name for f in out_schema]

    def read_footers(batches):
        for pdf in batches:
            rows = _footer_stats(list(pdf["file"]), cols)
            yield pd.DataFrame(rows, columns=col_names)

    file_df = spark.createDataFrame(
        [(f,) for f in files], StructType([StructField("file", StringType(), False)])
    ).repartition(min(len(files) // 64 + 1, 512))
    return file_df.mapInPandas(read_footers, out_schema)


def prunable_files(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[list[str], int]:
    """Files whose footer range for ``col`` intersects [lo, hi] (files
    with no stats are conservatively included), plus the total file
    count — the manual file-skipping primitive and the measurement
    hook for layout quality (fewer survivors = better clustering for
    that column)."""
    from prisma_migrator_spark.operators.driver_state import bounded_collect
    from prisma_migrator_spark.writers.upsert import _part_files

    m = table_manifest(
        spark, _part_files(path), [col], spark.read.parquet(path).schema
    )
    survivors = m.where(
        F.col(f"{col}_min").isNull()
        | ((F.col(f"{col}_max") >= F.lit(lo)) & (F.col(f"{col}_min") <= F.lit(hi)))
    ).select("file")
    total = m.count()
    rows = bounded_collect(
        survivors, total, "one row per data file in the table footprint"
    )
    return sorted(r["file"] for r in rows), total


def footer_stats_summary(spark: SparkSession, path: str, cols: list[str]) -> dict:
    """COUNT(*) / MIN / MAX answered from parquet FOOTERS alone — an
    O(|files|) metadata read instead of a table scan (at 100 TB:
    thousands of footer reads vs the full corpus). COUNT is always
    exact (row counts are footer facts). MIN/MAX are exact for
    numeric/temporal columns; for strings parquet permits
    range-WIDENING stat truncation, so treat them as bounds. Any
    column with a stats-less file yields None (unknown) rather than a
    min/max over the subset of files that do have stats."""
    from prisma_migrator_spark.writers.upsert import _part_files

    m = table_manifest(
        spark, _part_files(path), cols, spark.read.parquet(path).schema
    )
    aggs = [F.sum("n_rows").alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(f"{c}_min").alias(f"{c}_min"),
            F.max(f"{c}_max").alias(f"{c}_max"),
            F.max(F.col(f"{c}_min").isNull().cast("int")).alias(f"__gap_{c}"),
        ]
    row = m.agg(*aggs).first()
    out = {"n_rows": row["n_rows"]}
    for c in cols:
        gap = bool(row[f"__gap_{c}"])
        out[f"{c}_min"] = None if gap else row[f"{c}_min"]
        out[f"{c}_max"] = None if gap else row[f"{c}_max"]
    return out
