"""Upsert / skip-duplicate writers (SURVEY §2.1 S5-S7).

The reference's two write primitives, re-expressed distributed:

- **skip-duplicates append** ⇐ Prisma ``createMany({skipDuplicates:
  true})`` (reference src/migrate.ts:58-70): new rows are anti-joined
  against existing keys before the append — a distributed
  ``INSERT ... ON CONFLICT DO NOTHING``.
- **keyed upsert** ⇐ ``buildBulkInsertQuery``'s ``INSERT ... ON
  CONFLICT (target) DO UPDATE SET col = EXCLUDED.col`` (reference
  src/utils/lib.ts:76-95): MERGE semantics. With no update columns it
  degrades to DO NOTHING (lib.ts:91), exactly like the reference's
  insert-only history tables (lib.ts:273).

Parquet backend strategy: every keyed writer here maps its ON
CONFLICT update list onto a MERGE clause (:func:`_update_set`) and
runs ``merge._merged_frame``, the one MERGE row plan: DO UPDATE SET
<all> keeps the existing rows the batch does not match and unions the
batch; DO NOTHING unions the existing rows with the batch rows whose
key is new; a subset update left-joins the existing rows to the batch
and takes the listed columns from it. The merged rows are written to a staging dir and swapped in
atomically. Like the reference (which is non-atomic per batch,
src/migrate.ts:67-69), concurrent writers are not serialized; unlike
the reference, a failed write never corrupts the target because the
swap happens only after the staging write succeeds.

Scale: each shape joins on the conflict target — one join for SET
<all> and for DO NOTHING, two for a subset update. The incoming batch
is usually much smaller than the target table, so AQE broadcasts it
below its threshold. The rewrite of the full table is the price of
upsert-on-immutable-files (the CoW and partitioned variants rewrite
only the files or partitions a batch key can reach); on a real
deployment the same API runs against a format with MERGE (Delta/
Iceberg) or a JDBC sink with native ON CONFLICT, and only this module
changes.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from prisma_migrator_spark.operators.dedup import latest_per_key
from prisma_migrator_spark.operators.driver_state import bounded_collect, observe_rows
from prisma_migrator_spark.operators.joins import anti_join
from prisma_migrator_spark.writers.jdbc_sink import dedupe_batch
from prisma_migrator_spark.writers.layout import table_manifest
from prisma_migrator_spark.writers.merge import _merged_frame, merge_into


def append_skip_duplicates(
    new_rows: DataFrame,
    existing: DataFrame,
    key_cols: Sequence[str],
    broadcast_existing_keys: bool = False,
) -> DataFrame:
    """Rows of ``new_rows`` whose key is absent from ``existing`` —
    the dataframe form of ``ON CONFLICT DO NOTHING``. Also dedupes
    within the batch itself, deterministically (:func:`_dedupe`)."""
    return anti_join(
        _dedupe(new_rows, list(key_cols)),
        existing,
        key_cols,
        broadcast_right=broadcast_existing_keys,
    )


def _dedupe(
    batch: DataFrame, keys: list[str], order_col: str | None = None
) -> DataFrame:
    """One batch row per key, the same one whatever the row order: the
    latest by ``order_col`` when given, else the lexicographically
    smallest over the other columns (``jdbc_sink.dedupe_batch``). A
    bare ``dropDuplicates`` keeps whichever row a partitioning happens
    to deliver first, which varies across runs and AQE replans. A map
    column cannot be ordered, so rows that tie on every other column
    come out in no pinned order, and a batch whose non-key columns
    are all maps falls back to ``dropDuplicates``."""
    if order_col:
        return latest_per_key(batch, keys, order_col)
    return dedupe_batch(batch, keys)


def _atomic_swap(tmp: str, target: str) -> None:
    old = target + "." + uuid.uuid4().hex[:8] + ".old"
    if os.path.exists(target):
        os.rename(target, old)
        os.rename(tmp, target)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(tmp, target)


def _part_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _files_holding_keys(
    spark: SparkSession, key_frame: DataFrame, files: list[str], key: StructField
) -> set[str]:
    """The ``files`` whose footer range of ``key`` holds a value of
    ``key_frame``'s ``key`` column: a superset of the files that hold
    one. One Spark job joins the distinct keys against the broadcast
    :func:`table_manifest` (|files| rows, metadata-sized), typed from
    the caller's ``key`` field. A file without usable stats (NULL
    range) may hold any key, so it joins every key; an empty key frame
    selects nothing."""
    manifest = table_manifest(spark, files, [key.name], StructType([key]))
    lo, hi = F.col(f"{key.name}_min"), F.col(f"{key.name}_max")
    k = F.col("__k")
    hits = bounded_collect(
        key_frame.select(F.col(key.name).alias("__k"))
        .distinct()
        .join(F.broadcast(manifest), lo.isNull() | ((k >= lo) & (k <= hi)))
        .select("file")
        .distinct(),
        len(files),
        "one row per data file in the table footprint",
    )
    return {r["file"] for r in hits}


def _rewrite_and_swap(
    result: DataFrame, path: str, carried: Sequence[str], prefix: str
) -> int:
    """Replace the table at ``path`` with ``result``'s rows plus the
    ``carried`` files, byte-identical: write ``result`` into a staging
    directory, rename its part files with ``prefix``, hard-link each
    carried file beside them (copy where the filesystem refuses a
    link) and swap the directory in. Spark writes a schema-only file
    for an empty result; it is dropped unless nothing is carried, as
    the table still needs one file. Returns the rows written, counted
    on the write itself (``observe_rows``)."""
    staged = f"{path}.{uuid.uuid4().hex[:8]}.staging"
    written = os.path.join(staged, "__rewrite")
    result, observed = observe_rows(result)
    try:
        result.write.parquet(written)
        rows = observed()
        if rows or not carried:
            for f in _part_files(written):
                os.rename(f, os.path.join(staged, prefix + os.path.basename(f)))
        shutil.rmtree(written)
        for f in carried:
            dst = os.path.join(staged, os.path.basename(f))
            try:
                os.link(f, dst)  # byte-identical carry-over, zero copy
            except OSError:
                shutil.copy2(f, dst)
    except BaseException:
        shutil.rmtree(staged, ignore_errors=True)
        raise
    _atomic_swap(staged, path)
    return rows


def _update_set(update_cols: Sequence[str] | None) -> dict[str, Column] | None:
    """An ON CONFLICT update list as :func:`_merged_frame`'s
    ``update_set``: ``None`` (DO UPDATE SET every column) stays
    ``None``, ``[]`` (DO NOTHING) becomes ``{}``, and a subset sets
    each listed column from the batch."""
    if update_cols is None:
        return None
    return {c: F.col(f"s.{c}") for c in update_cols}


def _align_schemas(
    existing: DataFrame, batch: DataFrame, allow: bool
) -> tuple[DataFrame, DataFrame]:
    """Reconcile an evolved batch schema with the table's (Delta
    ``mergeSchema`` semantics, made explicit):

    - batch columns NOT in the table: with ``allow`` the table gains
      them (NULL for every pre-existing row); without it this raises
      — the previous behavior was ``select(*existing.columns)``,
      which silently DROPPED the new columns' data, the one outcome a
      writer must never default to.
    - table columns missing from the batch: with ``allow`` they are
      NULL-filled in the batch (full-row replace semantics — to keep
      existing values for matched keys, use ``update_cols`` instead);
      without it the merge fails on the column mismatch as before.
    """
    extra = [c for c in batch.columns if c not in existing.columns]
    missing = [c for c in existing.columns if c not in batch.columns]
    if extra and not allow:
        raise ValueError(
            f"batch has columns not in the table: {extra}; pass "
            "allow_schema_evolution=True to add them (silently "
            "dropping them would lose data)"
        )
    if allow:
        for c in extra:
            existing = existing.withColumn(
                c, F.lit(None).cast(batch.schema[c].dataType)
            )
        for c in missing:
            batch = batch.withColumn(
                c, F.lit(None).cast(existing.schema[c].dataType)
            )
    return existing, batch


def upsert_parquet(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_cols: Sequence[str],
    update_cols: Sequence[str] | None = None,
    order_col: str | None = None,
    allow_schema_evolution: bool = False,
) -> dict:
    """MERGE ``batch`` into the parquet table at ``path``.

    - ``update_cols`` non-empty/None→all: matched keys take the batch
      row (DO UPDATE). ``update_cols=[]``: matched keys keep the
      existing row (DO NOTHING), mirroring reference lib.ts:91.
    - ``order_col``: dedupe within the batch keeping the latest by
      this column (else the smallest row, :func:`_dedupe`).
    - ``allow_schema_evolution``: batch columns the table lacks are
      ADDED (NULL for untouched rows); table columns the batch lacks
      are NULL-filled in the batch (:func:`_align_schemas`). Off by
      default: an unexpected new column then raises instead of being
      silently dropped. With a non-empty ``update_cols``, evolved
      columns are implicitly appended to the update set — a new
      column's data is batch-sourced by definition, so matched keys
      take it too (only ``update_cols=[]`` DO NOTHING keeps existing
      rows fully untouched). The full rewrite is the correct physical op
      for a schema change — every row gains the column — which is why
      the file-granularity CoW variant rejects evolved batches
      outright.

    Returns a small report dict (counts), like the reference's
    progress logging (src/utils/lib.ts:97). The counts are observed on
    the written plan, so the table is not read back to count it.
    """
    keys = list(key_cols)
    batch = _dedupe(batch, keys, order_col)

    exists = os.path.exists(path)
    if not exists:
        staged = path + ".staging"
        batch, n = observe_rows(batch)
        batch.write.mode("overwrite").parquet(staged)
        _atomic_swap(staged, path)
        return {"path": path, "inserted": n(), "kept": 0, "mode": "create"}

    existing = spark.read.parquet(path)
    evolved = [c for c in batch.columns if c not in existing.columns]
    existing, batch = _align_schemas(existing, batch, allow_schema_evolution)
    do_update = update_cols is None or len(update_cols) > 0
    if evolved and update_cols is not None and len(update_cols) > 0:
        # Partial update + evolution: _align_schemas added the new
        # column to `existing` as NULL, and the partial-update merge
        # keeps the EXISTING value for every column outside
        # update_cols — so without this, matched keys would get NULL
        # for the evolved column, silently dropping the batch's data
        # (ADVICE r6 #2). An evolved column is definitionally
        # batch-sourced, so it is always part of the update set.
        update_cols = list(update_cols) + [
            c for c in evolved if c not in update_cols
        ]
        # update_cols=[] (DO NOTHING) is deliberately NOT extended:
        # that mode's contract is "matched keys keep the existing row
        # for EVERY column"; the evolved column still lands as NULL
        # for existing keys and with batch values for brand-new keys.
    result, total = observe_rows(
        _merged_frame(
            existing,
            batch.select(*existing.columns),
            keys,
            update_set=_update_set(update_cols),
        )
    )

    staged = path + ".staging"
    result.write.mode("overwrite").parquet(staged)
    _atomic_swap(staged, path)
    return {"path": path, "total": total(), "mode": "update" if do_update else "insert_only"}


def upsert_parquet_cow(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_cols: Sequence[str],
    update_cols: Sequence[str] | None = None,
    order_col: str | None = None,
    bloom: bool = False,
) -> dict:
    """File-granularity copy-on-write MERGE into UNPARTITIONED parquet
    — the missing middle between ``upsert_parquet``'s full-table
    rewrite and ``upsert_partitioned``'s hive-partition overwrite
    (reference ON CONFLICT semantics: src/utils/lib.ts:76-95).

    Only files whose footer key range intersects a batch key are read
    and rewritten; every other file is hard-linked into the staged
    table untouched (byte-identical, no IO). A batch touching keys in
    1 of 1,000 files costs ~1/1,000th of the table — this is what
    Delta/Iceberg MERGE does at the file level, without the format
    dependency. Matching is one Spark job: the batch's distinct first
    key values range-joined against the broadcast file-range list
    (|files| rows — metadata-sized, never data-sized).

    Pruning uses ``key_cols[0]`` only; composite keys still merge
    correctly (the file set is a superset of files holding matched
    keys, and the merge itself joins on all keys). Best when the
    table is roughly clustered by that key — e.g. monotonically
    appended ids/timestamps; worst case (every file spans the full
    key range) degrades to ``upsert_parquet``'s full rewrite, never
    worse.

    ``bloom=True`` additionally intersects the rewrite set with the
    per-file Bloom sidecar verdict (:mod:`..writers.bloom`) — THE fix
    for the range-pruning worst case above: with random/uuid keys
    every footer range spans the key space and range pruning keeps
    everything, but a file whose Bloom filter rejects every batch key
    is skipped (false negatives impossible, false positives only cost
    an extra rewrite). Sidecars are refreshed incrementally after the
    swap (hard-linked survivors keep their rows; only rewritten files
    re-index). First call on a table without sidecars prunes by range
    alone and bootstraps the manifest for the next call.
    """
    keys = list(key_cols)
    batch = _dedupe(batch, keys, order_col)
    if not os.path.exists(path):
        out = {
            "path": path,
            "inserted": _rewrite_and_swap(batch, path, [], "m-"),
            "mode": "create",
        }
        if bloom:
            from prisma_migrator_spark.writers import bloom as bloom_sidecar

            out["bloom"] = bloom_sidecar.build_bloom_sidecars(
                spark, path, keys[0]
            )
        return out

    existing_schema = spark.read.parquet(path).schema
    evolved = [c for c in batch.columns if c not in existing_schema.names]
    if evolved:
        raise ValueError(
            f"batch has columns not in the table: {evolved}. Schema "
            "evolution touches EVERY row, so file-granularity CoW has "
            "no pruning advantage and would leave untouched files on "
            "the old schema (readers then need mergeSchema and see "
            "the column vanish per-file) - use "
            "upsert_parquet(..., allow_schema_evolution=True), whose "
            "full rewrite is the correct physical op for this change."
        )
    prune_key = keys[0]
    files = _part_files(path)
    rewrite = _files_holding_keys(spark, batch, files, existing_schema[prune_key])

    if bloom:
        from prisma_migrator_spark.writers import bloom as bloom_sidecar

        key_rows = bounded_collect(
            batch.select(F.col(prune_key)).distinct(),
            bloom_sidecar.MAX_BATCH_KEYS,
            "distinct CoW batch keys (contract: batch ≪ base table)",
        )
        survivors, _ = bloom_sidecar.bloom_prunable_files(
            spark, path, [r[0] for r in key_rows]
        )
        rewrite &= set(survivors)

    untouched = [f for f in files if f not in rewrite]
    if rewrite:
        existing_sub = spark.read.schema(existing_schema).parquet(*sorted(rewrite))
    else:
        # No file can contain any batch key: every batch row is new.
        existing_sub = spark.createDataFrame([], existing_schema)
    result = _merged_frame(
        existing_sub,
        batch.select(*existing_schema.names),
        keys,
        update_set=_update_set(update_cols),
    )
    _rewrite_and_swap(result, path, untouched, "m-")
    out = {
        "path": path,
        "mode": "update" if (update_cols is None or update_cols) else "insert_only",
        "files_total": len(files),
        "files_rewritten": len(rewrite),
        "files_kept": len(untouched),
    }
    if bloom:
        # incremental: hard-linked survivors keep their manifest rows
        # (same basename+size); only the rewritten files re-index
        out["bloom"] = bloom_sidecar.build_bloom_sidecars(
            spark, path, prune_key
        )
    return out


def upsert_partitioned(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_cols: Sequence[str],
    partition_col: str,
    update_cols: Sequence[str] | None = None,
    order_col: str | None = None,
) -> dict:
    """Partition-pruned MERGE into a hive-partitioned parquet table —
    the 100 TB upsert path.

    ``upsert_parquet`` rewrites the whole table; here only the
    partitions whose values appear in the batch are read (partition-
    pruned scan) and rewritten (``partitionOverwriteMode=dynamic``
    replaces exactly the partitions present in the output). A batch
    touching 1 of 10,000 date partitions costs 1/10,000th of the
    table, which is what makes keyed upsert viable at scale without a
    MERGE-capable table format.

    Requires the partition value to be STABLE per key (true for the
    reference's history tables, keyed on ``(handle, capturedAt)`` with
    the partition derived from capturedAt): a key that moved
    partitions would leave its old row behind, exactly like a mutated
    partition key in any hive-layout store.

    The distinct partition list is collected to the driver — bounded
    by the batch's partition fan-out, not table size.
    """
    keys = list(key_cols)
    batch = _dedupe(batch, keys, order_col)
    if not os.path.exists(path):
        batch.write.mode("overwrite").partitionBy(partition_col).parquet(path)
        return {"path": path, "mode": "create", "partitions": "all"}

    parts = [
        r[0]
        for r in bounded_collect(
            batch.select(partition_col).distinct(),
            100_000,
            "partition-pruned MERGE presumes the batch touches a bounded "
            "partition set (else full-table MERGE is the right strategy)",
        )
    ]
    existing = spark.read.parquet(path).where(F.col(partition_col).isin(parts))
    result = _merged_frame(
        existing,
        batch.select(*existing.columns),
        keys,
        update_set=_update_set(update_cols),
    )
    # Spark refuses to overwrite a path its plan reads from; materialize
    # the merged slice (only the affected partitions) to detach lineage.
    result = result.localCheckpoint(eager=True)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        result.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return {"path": path, "mode": "update", "partitions": len(parts)}


def delete_keys_cow(
    spark: SparkSession,
    keys_df: DataFrame,
    path: str,
    key_cols: Sequence[str],
) -> dict:
    """Key-targeted DELETE from unpartitioned parquet with
    file-granularity copy-on-write — the "right to be forgotten" /
    retention-expiry write a data platform needs and the reference
    (append/upsert only, src/utils/lib.ts:76-95) never had.

    This is ``merge_into``'s delete-only shape (every matched row is
    deleted, nothing inserts), so it prunes and swaps like
    :func:`upsert_parquet_cow`: only files whose footer key range
    could hold a doomed key are read, anti-joined against the key set
    and rewritten — every other file is hard-linked untouched
    (byte-identical, zero IO). Deleting 1k users from a 100 TB table
    clustered by user rewrites only the files their rows live in.
    Idempotent in content; keys outside every file's range (already
    fully absent) prune to a zero-rewrite noop, while a repeat delete
    of keys INSIDE a surviving file's min/max conservatively rewrites
    that file (footer stats prove possible presence, never absence).

    ``keys_df`` needs exactly the ``key_cols`` columns (extra columns
    are dropped). Multi-column keys prune on ``key_cols[0]`` and
    match on all columns, like the CoW upsert.
    """
    if not os.path.exists(path):
        return {"path": path, "mode": "noop", "files_rewritten": 0}
    keys = list(key_cols)
    rep = merge_into(
        spark,
        path,
        keys_df.select(*keys),
        keys,
        when_matched_delete=F.lit(True),
        insert=False,
    )
    return {**rep, "mode": "delete" if rep["files_rewritten"] else "noop"}


def write_entity(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    table: str,
    key_cols: Sequence[str],
    update_cols: Sequence[str] | None = None,
) -> dict:
    """Typed-sink convenience ⇐ the reference's eight ``saveX``
    wrappers (src/utils/lib.ts:96-279): one generic helper +
    per-entity (table, keys, update columns) is the whole surface."""
    return upsert_parquet(
        spark, df, os.path.join(table_dir, f"{table}.parquet"), key_cols, update_cols
    )
