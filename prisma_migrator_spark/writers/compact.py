"""Small-file compaction — the table-maintenance op every long-lived
parquet lake needs (streaming sinks, micro-batch upserts, and
per-partition appends all shed kilobyte files; at 100 TB the file
count, not the byte count, is what kills scan planning and shuffle
fan-out).

Reference scope note: the reference engine writes through a database
and never manages files; this belongs to the lake-maintenance
extension surface (same family as ``upsert_parquet_cow`` /
``delete_keys_cow``, whose rewrite-and-swap step it shares).

Design: files at or above ``min_fill × target_bytes`` are carried
over BYTE-IDENTICAL (hard-linked when the filesystem allows, copied
otherwise) — only the small tail is ever read or rewritten, so the
cost tracks the garbage, not the table. The rewrite is ONE Spark job:
read all small files, round-robin repartition to
``ceil(small_bytes / target_bytes)`` output files, write. No
per-group driver loop — a thousand tiny files become one shuffle of
exactly the tiny-file bytes. Round-robin discards any clustering the
small files had; for clustered tables run ``zorder_write``-style
reclustering instead (this op is for the unordered append tail).
The directory is replaced via the same atomic swap as the CoW
writers, so readers never observe a half-compacted table.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from prisma_migrator_spark.writers.upsert import _part_files, _rewrite_and_swap


def plan_compaction(
    path: str,
    target_bytes: int = 128 << 20,
    min_fill: float = 0.5,
) -> tuple[list[str], list[str]]:
    """Split the table's data files into (small, kept): ``small`` is
    everything under ``min_fill × target_bytes``, i.e. worth folding
    into fuller files."""
    threshold = int(target_bytes * min_fill)
    small, kept = [], []
    for f in _part_files(path):
        (small if os.path.getsize(f) < threshold else kept).append(f)
    return small, kept


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    min_fill: float = 0.5,
) -> dict:
    """Compact ``path`` in place; returns a report dict
    ``{files_in, files_compacted, files_out, bytes_compacted}``.
    A table whose small tail is 0-1 files is already compact: no-op
    (idempotent — running twice never rewrites twice)."""
    small, kept = plan_compaction(path, target_bytes, min_fill)
    report = {
        "files_in": len(small) + len(kept),
        "files_compacted": len(small),
        "files_out": len(small) + len(kept),
        "bytes_compacted": sum(os.path.getsize(f) for f in small),
    }
    if len(small) < 2:
        report["files_compacted"] = 0
        report["bytes_compacted"] = 0
        return report
    n_out = max(1, math.ceil(report["bytes_compacted"] / target_bytes))
    _rewrite_and_swap(
        spark.read.parquet(*small).repartition(n_out), path, kept, "compacted-"
    )
    report["files_out"] = len(_part_files(path))
    return report
