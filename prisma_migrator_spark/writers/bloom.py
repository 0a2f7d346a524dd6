"""Per-file Bloom-filter sidecars: point-lookup file pruning where
footer min/max ranges cannot prune.

Range-based CoW planning (:mod:`prisma_migrator_spark.writers.layout`,
``upsert_parquet_cow``) rewrites only files whose footer key range
intersects a batch key — which works exactly when the table is roughly
clustered by that key. For RANDOM keys (uuid/hash identifiers, the
reference's ``handle`` strings), every file's (min, max) spans the
whole key space, range pruning keeps everything, and CoW degrades to a
full-table rewrite. The standard fix is a per-file Bloom filter over
the key column (Delta and Iceberg both keep one in their metadata /
puffin layers; Parquet can embed them per column chunk): membership
"no" is definite, so a file whose filter rejects every batch key can
be skipped with zero false-negative risk; false positives only cost a
harmless extra rewrite, bounded by ``fpp``.

Sidecars are a parquet manifest in a SIBLING directory
(``<table>.blooms``) — the table directory itself is atomically
swapped by the CoW writers, so metadata living inside it would be
destroyed on every merge. Staleness is per-file identity
``(basename, size_bytes)``: refresh keeps rows whose file is still in
the table footprint (hard-linked survivors keep both), builds rows
for new files, and drops rows for files the swap removed.

Hashing is double-hashing over md5 (h1 + i·h2 mod m, Kirsch-
Mitzenmacher) computed in PYTHON on both the build and probe side —
one implementation, no cross-engine hash-agreement risk. Keys are
hashed by their ``str()`` form: intended for string / integer keys
(floats would need a canonical formatting contract).

Scale shape: building reads each file's key column ONCE (columnar
pyarrow read + |rows| md5s — data-proportional, unlike the
footer-only range manifest); below ``DISTRIBUTED_BLOOM_THRESHOLD``
files it runs as a driver loop, above it fans the file list through
``mapInPandas`` so a 10^5-file table builds in one metadata-shaped
Spark job. Probing touches only the manifest (|files| rows of
~2 KB bitsets) and the batch's distinct keys — never table data.
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: File-count crossover for building sidecars on executors instead of
#: a driver loop. Building is data-proportional (reads the key column
#: + one md5 per key), ~100-300 files/s serial at ~5k rows/file — two
#: orders heavier than footer reads, so distribution pays far earlier
#: than layout.DISTRIBUTED_FOOTER_THRESHOLD (32,768). Provisional:
#: the crossover has not been measured.
DISTRIBUTED_BLOOM_THRESHOLD = 256

#: Suffix of the sidecar manifest directory, sibling to the table —
#: OUTSIDE the swap boundary of `_atomic_swap`, so a CoW merge cannot
#: destroy it mid-flight.
BLOOMS_SUFFIX = ".blooms"

#: Driver-state bound for a CoW batch's distinct keys. The CoW
#: contract is batch ≪ base; a batch with more distinct keys than
#: this should use the full-rewrite path, not file pruning.
MAX_BATCH_KEYS = 1_000_000


def _bloom_params(n_keys: int, fpp: float) -> tuple[int, int]:
    """Standard sizing: m = -n·ln(fpp)/ln(2)², k = (m/n)·ln(2),
    m rounded up to a whole byte, both floored at sane minimums."""
    n = max(n_keys, 1)
    m = math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))
    m = max(64, (m + 7) // 8 * 8)
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _key_hashes(value) -> tuple[int, int]:
    """(h1, h2) for double hashing: the two 64-bit halves of
    md5(str(value)), h2 forced odd so probe strides cover the table."""
    d = hashlib.md5(str(value).encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1


def _build_bits(values, m: int, k: int) -> bytes:
    bits = bytearray(m // 8)
    for v in values:
        if v is None:
            continue
        h1, h2 = _key_hashes(v)
        for i in range(k):
            pos = (h1 + i * h2) % m
            bits[pos >> 3] |= 1 << (pos & 7)
    return bytes(bits)


def _contains(bits: bytes, m: int, k: int, h1: int, h2: int) -> bool:
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not bits[pos >> 3] & (1 << (pos & 7)):
            return False
    return True


def _file_bloom_row(f: str, key: str, fpp: float) -> tuple:
    """(basename, size, n_rows, m_bits, k_hashes, bits) for one data
    file — the sidecar manifest row."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(f, columns=[key])
    values = tbl.column(key).to_pylist()
    m, k = _bloom_params(len(values), fpp)
    return (
        os.path.basename(f),
        os.path.getsize(f),
        len(values),
        m,
        k,
        _build_bits(values, m, k),
    )


_MANIFEST_SCHEMA = (
    "file string, size_bytes bigint, n_rows bigint, "
    "m_bits int, k_hashes int, bits binary"
)


def blooms_path(path: str) -> str:
    return path.rstrip("/") + BLOOMS_SUFFIX


def build_bloom_sidecars(
    spark: SparkSession,
    path: str,
    key: str,
    fpp: float = 0.01,
) -> dict:
    """Build or incrementally refresh the Bloom sidecar manifest for
    ``path``'s key column. Rows for files still present (same
    basename + size) are carried over untouched; only NEW files read
    data. Returns a summary dict (files, built, reused)."""
    from prisma_migrator_spark.operators.driver_state import bounded_collect
    from prisma_migrator_spark.writers.upsert import _atomic_swap, _part_files

    files = _part_files(path)
    ident = {os.path.basename(f): os.path.getsize(f) for f in files}

    side = blooms_path(path)
    reused: list[tuple] = []
    if os.path.exists(side):
        prior = bounded_collect(
            spark.read.parquet(side),
            2 * len(ident) + 1024,
            "one sidecar row per data file of the prior footprint",
        )
        reused = [
            (r["file"], r["size_bytes"], r["n_rows"],
             r["m_bits"], r["k_hashes"], bytes(r["bits"]))
            for r in prior
            if ident.get(r["file"]) == r["size_bytes"]
        ]
    have = {r[0] for r in reused}
    todo = [f for f in files if os.path.basename(f) not in have]

    if len(todo) <= DISTRIBUTED_BLOOM_THRESHOLD:
        built_rows = [_file_bloom_row(f, key, fpp) for f in todo]
        out = spark.createDataFrame(reused + built_rows, _MANIFEST_SCHEMA)
    else:
        import pandas as pd

        def build(batches):
            for pdf in batches:
                rows = [_file_bloom_row(f, key, fpp) for f in pdf["path"]]
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "file", "size_bytes", "n_rows",
                        "m_bits", "k_hashes", "bits",
                    ],
                )

        built_df = (
            spark.createDataFrame([(f,) for f in todo], "path string")
            .repartition(min(len(todo) // 16 + 1, 512))
            .mapInPandas(build, _MANIFEST_SCHEMA)
        )
        out = built_df.unionByName(
            spark.createDataFrame(reused, _MANIFEST_SCHEMA)
        )

    staged = side + ".staging"
    out.coalesce(max(len(files) // 8192, 1)).write.mode("overwrite").parquet(
        staged
    )
    _atomic_swap(staged, side)
    return {"path": side, "files": len(files), "built": len(todo),
            "reused": len(reused)}


def bloom_prunable_files(
    spark: SparkSession, path: str, values
) -> tuple[list[str], int]:
    """Files that MIGHT contain any of ``values`` per the sidecar
    manifest, plus the total file count. Files without a (current)
    sidecar row are conservatively included — membership "no" is the
    only answer a Bloom filter may give definitively, and only for
    files it has actually indexed. Probing is manifest-sized: below
    ``DISTRIBUTED_BLOOM_THRESHOLD`` manifest rows it runs on the driver;
    above, the bitsets stay on executors and only the (tiny) key-hash
    list is broadcast."""
    from prisma_migrator_spark.operators.driver_state import bounded_collect
    from prisma_migrator_spark.writers.upsert import _part_files

    files = _part_files(path)
    ident = {os.path.basename(f): os.path.getsize(f) for f in files}
    by_base = {os.path.basename(f): f for f in files}
    side = blooms_path(path)
    if not os.path.exists(side):
        return sorted(files), len(files)

    hashes = [_key_hashes(v) for v in values if v is not None]
    manifest = spark.read.parquet(side)

    if len(ident) <= DISTRIBUTED_BLOOM_THRESHOLD:
        rows = bounded_collect(
            manifest,
            2 * len(ident) + 1024,
            "one sidecar row per data file of the footprint",
        )
        indexed: set[str] = set()
        hits: set[str] = set()
        for r in rows:
            if ident.get(r["file"]) != r["size_bytes"]:
                continue  # stale row: file was rewritten since indexing
            indexed.add(r["file"])
            bits = bytes(r["bits"])
            if any(
                _contains(bits, r["m_bits"], r["k_hashes"], h1, h2)
                for h1, h2 in hashes
            ):
                hits.add(r["file"])
    else:
        import pandas as pd

        # staleness check joins the CURRENT footprint (basename, size)
        # against the manifest in Spark — no footprint dict shipped to
        # executors; only the key-hash list rides the probe closure
        current = spark.createDataFrame(
            list(ident.items()), "file string, size_bytes bigint"
        )
        live = manifest.join(current, ["file", "size_bytes"], "left_semi")

        def probe(batches):
            for pdf in batches:
                out = []
                for f, bits, m, k in zip(
                    pdf["file"], pdf["bits"], pdf["m_bits"], pdf["k_hashes"]
                ):
                    hit = any(
                        _contains(bytes(bits), int(m), int(k), h1, h2)
                        for h1, h2 in hashes
                    )
                    out.append((f, hit))
                yield pd.DataFrame(out, columns=["file", "hit"])

        probed = bounded_collect(
            live.mapInPandas(probe, "file string, hit boolean"),
            2 * len(ident) + 1024,
            "one probe row per live sidecar manifest row",
        )
        indexed = {r["file"] for r in probed}
        hits = {r["file"] for r in probed if r["hit"]}

    survivors = [
        by_base[b] for b in ident if b not in indexed or b in hits
    ]
    return sorted(survivors), len(files)
