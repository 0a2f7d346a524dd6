"""Table versioning / time travel over plain parquet directories.

The copy-on-write writers in this package (``upsert_parquet_cow``,
``delete_keys_cow``, ``merge_into``, ``compact_small_files``) replace
the table directory atomically, and ``zorder_write`` overwrites it in
place — after either, yesterday's table is gone. This module adds the missing lakehouse pillar on the
same no-format principles: a SNAPSHOT is a sibling directory of
hard links to the current data files (zero data copy, zero read — the
same trick the CoW merge uses for untouched files), so keeping N
versions of a 100 TB table costs N × |files| directory entries, not
N × 100 TB. Delta/Iceberg keep this as a transaction log; here it is
the filesystem itself:

    table.parquet              <- current version (plain parquet dir)
    table.parquet.versions/
        v0/ _meta.json + linked files     (oldest retained)
        v1/ ...
        v2/ ...

- :func:`snapshot_version` — link the current footprint as the next
  ``vN`` (call BEFORE a mutating writer; returns N).
- :func:`read_version` — time travel: the snapshot dir is a plain
  parquet directory, readable by any engine.
- :func:`version_diff` — keyed added/removed/changed rows between two
  versions (one anti/inner join pair, shuffle on the key).
- :func:`restore_version` — Delta-style RESTORE: re-link ``vN``'s
  files as the current table (itself snapshotted first, so a restore
  is undoable and the history stays linear).
- :func:`vacuum_versions` — drop all but the newest K snapshots.
  Deleting a snapshot unlinks its references; inodes shared with the
  current table or other snapshots survive (hard-link refcounts are
  the garbage collector).

Caveat shared with the CoW writers: hard links require
same-filesystem placement, and a reader mid-scan of a vacuumed
version keeps its fds alive until the scan ends (POSIX unlink
semantics) — the same contract Delta's VACUUM has.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from prisma_migrator_spark.writers.upsert import _atomic_swap, _part_files

VERSIONS_SUFFIX = ".versions"


def versions_root(path: str) -> str:
    return path.rstrip("/") + VERSIONS_SUFFIX


def _version_dirs(path: str) -> list[tuple[int, str]]:
    root = versions_root(path)
    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        if d.startswith("v") and d[1:].isdigit():
            out.append((int(d[1:]), os.path.join(root, d)))
    return sorted(out)


def snapshot_version(path: str, note: str = "") -> int:
    """Record the table's CURRENT footprint as the next version:
    hard-link every data file into ``<table>.versions/vN/`` and write
    a small ``_meta.json`` (ts, note, file count/bytes). Zero-copy
    and O(|files|); call immediately before a mutating writer."""
    files = _part_files(path)
    vers = _version_dirs(path)
    n = vers[-1][0] + 1 if vers else 0
    vdir = os.path.join(versions_root(path), f"v{n}")
    staged = vdir + ".staging"
    os.makedirs(staged, exist_ok=True)
    total = 0
    for f in files:
        os.link(f, os.path.join(staged, os.path.basename(f)))
        total += os.path.getsize(f)
    with open(os.path.join(staged, "_meta.json"), "w") as fh:
        json.dump(
            {
                "version": n,
                "ts": time.time(),
                "note": note,
                "n_files": len(files),
                "bytes": total,
            },
            fh,
        )
    os.rename(staged, vdir)
    return n


def list_versions(path: str) -> list[dict]:
    out = []
    for n, vdir in _version_dirs(path):
        meta = os.path.join(vdir, "_meta.json")
        if os.path.exists(meta):
            with open(meta) as fh:
                out.append(json.load(fh))
        else:
            out.append({"version": n})
    return out


def read_version(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Time travel: the snapshot is a plain parquet directory (the
    ``_meta.json`` sidecar is invisible to parquet listing)."""
    for n, vdir in _version_dirs(path):
        if n == version:
            return spark.read.parquet(vdir)
    raise ValueError(
        f"version {version} not found under {versions_root(path)} "
        f"(have: {[n for n, _ in _version_dirs(path)]})"
    )


def version_diff(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None,
    key_cols: list[str],
) -> DataFrame:
    """Keyed change set between two versions (``to_version=None`` =
    the current table): one row per changed key with ``change_type``
    in (added, removed, changed). Two anti-joins + one inner join,
    all shuffling on the key — row-proportional, no full-row
    cross-version comparison on the driver."""
    from pyspark.sql import functions as F

    from prisma_migrator_spark.operators.joins import anti_join

    a = read_version(spark, path, from_version)
    b = (
        spark.read.parquet(path)
        if to_version is None
        else read_version(spark, path, to_version)
    )
    cols = [c for c in a.columns if c in b.columns]
    a, b = a.select(cols), b.select(cols)
    val_cols = [c for c in cols if c not in key_cols]

    added = anti_join(b, a, key_cols).select(
        *key_cols, F.lit("added").alias("change_type")
    )
    removed = anti_join(a, b, key_cols).select(
        *key_cols, F.lit("removed").alias("change_type")
    )
    changed = (
        a.alias("a")
        .join(b.alias("b"), key_cols, "inner")
        .where(
            ~F.struct(*[F.col(f"a.{c}") for c in val_cols]).eqNullSafe(
                F.struct(*[F.col(f"b.{c}") for c in val_cols])
            )
        )
        .select(*key_cols, F.lit("changed").alias("change_type"))
    )
    return added.unionByName(removed).unionByName(changed)


def restore_version(spark: SparkSession, path: str, version: int) -> dict:
    """Delta-style RESTORE: make ``vN``'s footprint the current table.
    The pre-restore state is snapshotted first (a restore is just
    another mutation — undoable, history stays linear), then the
    snapshot's files are hard-linked into a staged dir and atomically
    swapped in. Zero data copy in either direction."""
    target = None
    for n, vdir in _version_dirs(path):
        if n == version:
            target = vdir
    if target is None:
        raise ValueError(f"version {version} not found for {path}")
    pre = snapshot_version(path, note=f"auto: pre-restore to v{version}")
    staged = path + ".staging.restore"
    os.makedirs(staged, exist_ok=True)
    n_files = 0
    for f in sorted(os.listdir(target)):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            os.link(os.path.join(target, f), os.path.join(staged, f))
            n_files += 1
    _atomic_swap(staged, path)
    return {
        "path": path,
        "restored_version": version,
        "pre_restore_version": pre,
        "n_files": n_files,
    }


def vacuum_versions(path: str, keep_last: int = 3) -> dict:
    """Drop all but the newest ``keep_last`` snapshots. Unlinking a
    snapshot only removes ITS references — data files shared with the
    current table or newer snapshots keep their other links."""
    import shutil

    vers = _version_dirs(path)
    doomed = vers[:-keep_last] if keep_last > 0 else vers
    for _, vdir in doomed:
        shutil.rmtree(vdir, ignore_errors=True)
    return {
        "path": versions_root(path),
        "removed": [n for n, _ in doomed],
        "kept": [n for n, _ in vers[-keep_last:]] if keep_last > 0 else [],
    }
