"""Generic table migration orchestrator (SURVEY §2.12, §3.1).

Re-expresses ``src/migrate.ts``'s main loop Spark-first:

- model enumeration (``getModels``, migrate.ts:27-30) → catalog
  listing of the source;
- per-model full scan (migrate.ts:48) → ``spark.read`` — partitioned,
  streamed executor-side, never materialized in the driver (the
  reference's biggest scale flaw, SURVEY §3.1);
- chunked ``createMany({skipDuplicates})`` (migrate.ts:58-70) →
  one anti-join append per table (no client-side chunking: Spark's
  tasks ARE the chunks);
- per-model error isolation (migrate.ts:43-52,67-69) → try/except per
  table collected into a migration report.

One write per table, counts observed: each table copy is a single
Spark write action that reads the source once (and, on a resume, the
destination once), like the reference's one ``findMany`` per model.
The destination is read with the source's schema, only the key
columns for a keyed table (``catalog.read_parquet_as``): no schema
inference job, and a destination directory that holds no part file
yet resumes as empty.
``rows_read`` and ``rows_written`` are not counted by jobs of their
own; they are ``Observation`` metrics attached to the source and to
the frame being written, read after the write returns. Caveat:
``rows_read`` is observed in a shuffle-map stage (below the
skip-duplicates aggregate), so a retried stage could count it twice.
It is a report figure, not a correctness gate.

Tables copy sequentially like the reference (migrate.ts:92-94), with
optional thread-level overlap; Spark already parallelizes *within*
each table, which is where the data volume is.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from prisma_migrator_spark.catalog import list_tables, read_parquet, read_parquet_as
from prisma_migrator_spark.operators.driver_state import observe_rows
from prisma_migrator_spark.writers.upsert import append_skip_duplicates


@dataclass
class TableResult:
    table: str
    status: str  # copied | skipped | failed
    rows_read: int = 0
    rows_written: int = 0
    seconds: float = 0.0
    error: str = ""


@dataclass
class MigrationReport:
    tables: list[TableResult] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(t.status != "failed" for t in self.tables)

    def summary(self) -> str:
        lines = [
            f"{t.table}: {t.status} read={t.rows_read} written={t.rows_written}"
            + (f" error={t.error}" if t.error else "")
            for t in self.tables
        ]
        return "\n".join(lines)


def migrate_table(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    table: str,
    key_cols: dict[str, list[str]] | None = None,
) -> TableResult:
    """Copy one table, skipping rows whose key already exists at the
    destination (⇐ migrateModel, reference src/migrate.ts:38-73).

    A resume that finds nothing new leaves the destination as it was:
    Spark writes partition 0's file even for an empty append, so the
    entries that write added are deleted again. Each table has its
    own directory, which keeps this safe under ``parallelism > 1``."""
    t0 = time.perf_counter()
    try:
        src_path = os.path.join(src_dir, f"{table}.parquet")
        dst_path = os.path.join(dst_dir, f"{table}.parquet")
        df, n_read = observe_rows(read_parquet(spark, src_path))
        keys = (key_cols or {}).get(table)
        if os.path.exists(dst_path):
            schema = StructType([df.schema[k] for k in keys]) if keys else df.schema
            existing = read_parquet_as(spark, dst_path, schema)
            fresh, n_new = observe_rows(
                append_skip_duplicates(df, existing, keys)
                if keys
                else df.exceptAll(existing)
            )
            before = set(os.listdir(dst_path))
            fresh.write.mode("append").parquet(dst_path)
            if not n_new():
                for name in set(os.listdir(dst_path)) - before:
                    os.remove(os.path.join(dst_path, name))
        else:
            df.write.mode("overwrite").parquet(dst_path)
            n_new = n_read
        return TableResult(table, "copied", n_read(), n_new(), time.perf_counter() - t0)
    except Exception as exc:  # per-table isolation, migrate.ts:49-52
        return TableResult(table, "failed", seconds=time.perf_counter() - t0, error=str(exc))


def migrate(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    tables: list[str] | None = None,
    key_cols: dict[str, list[str]] | None = None,
    parallelism: int = 1,
) -> MigrationReport:
    """Copy every table from src to dst (⇐ main(), migrate.ts:75-99)."""
    os.makedirs(dst_dir, exist_ok=True)
    src_tables = tables or list_tables(src_dir)
    report = MigrationReport()
    if parallelism <= 1:
        for t in src_tables:
            report.tables.append(migrate_table(spark, src_dir, dst_dir, t, key_cols))
    else:
        with ThreadPoolExecutor(parallelism) as pool:
            futures = [
                pool.submit(migrate_table, spark, src_dir, dst_dir, t, key_cols)
                for t in src_tables
            ]
            report.tables = [f.result() for f in futures]
    return report
