"""Training-data export sinks: JSONL shards.

The reference's only export surface is CSV spreadsheets
(`src/utils/lib.ts:498-554` — re-expressed in sources/csv_report.py).
A training pipeline's handoff format is newline-delimited JSON in
size-balanced shard files (what tokenizer workers and dataloaders
address); this module is that sink, built on the shard-assignment
prefix sum of :mod:`llm.packing`.

Scale shape: shard assignment is the two-level distributed prefix sum
(serial section O(n_buckets)); the write itself is
``partitionBy("shard_id")`` so each shard is produced by the tasks
that own its rows — no global sort, no driver involvement. One
repartition on shard_id keeps it to one file per shard (atomic unit
a dataloader maps); drop it if many small files per shard are fine.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prisma_migrator_spark.operators.driver_state import bounded_collect


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    tokens_per_shard: int,
    len_col: str = "n_tokens",
    order_col: str = "doc_id",
) -> int:
    """Write ``df`` as JSONL shard directories of ~``tokens_per_shard``
    tokens each (documents never split across shards; deterministic
    ``order_col`` order defines shard membership, so re-exports are
    byte-stable given the same input). Returns the shard count, read
    from the layout rather than the data: ``partitionBy`` writes one
    directory per distinct ``shard_id`` (NULL included), and shard ids
    may skip values, so the count is not ``max + 1``.

    Layout: ``path/shard_id=N/part-*.json`` — one JSON object per
    line, Spark's native JSON text sink (hive-partitioned so a loader
    globs one shard without listing the rest).
    """
    from prisma_migrator_spark.llm.packing import assign_shards

    sharded = assign_shards(
        df, tokens_per_shard, len_col=len_col, order_col=order_col
    ).drop("start_off")
    (
        sharded.repartition(F.col("shard_id"))
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .json(path)
    )
    return sum(d.startswith("shard_id=") for d in os.listdir(path))


def write_jsonl_sized(
    df: DataFrame,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Write ``df`` as JSONL split into files of ~``target_bytes``
    serialized size, for frames without a token-length column: one
    estimation pass sums the exact serialized row sizes (JVM-side
    ``octet_length(to_json(...))``), then a round-robin repartition to
    the file count. Returns the file count.

    Unlike :func:`write_jsonl_shards` this makes no ordering promise —
    it is the generic "give me N-byte JSONL files" exporter.
    """
    row_json = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    total = bounded_collect(
        df.agg(F.sum(F.octet_length(row_json) + F.lit(1)).alias("b")),
        1,
        "global aggregate is one row",
    )[0]["b"]
    n_files = max(1, math.ceil((total or 0) / target_bytes))
    df.repartition(n_files).write.mode("overwrite").json(path)
    return n_files


def write_webdataset_shards(
    df: DataFrame,
    path: str,
    samples_per_shard: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    meta_cols: tuple = (),
) -> DataFrame:
    """Export the corpus as WebDataset-style tar shards
    (``shard-00000.tar`` holding ``{key}.txt`` + ``{key}.json`` per
    sample) — the sequential-read format dataloaders stream at
    training time (webdataset.github.io; plain POSIX tar, no library
    needed on either side).

    Shard assignment is a deterministic hash of the sample id — no
    global sort, no prefix sum, stable across retries/AQE; shard
    sizes concentrate tightly around ``samples_per_shard`` (hash
    balance), which is what WebDataset needs (shuffled shards of
    roughly equal length), unlike the strictly-sized JSONL shards
    above. Each shard's tar is written by the ONE task that owns its
    group (``applyInPandas`` over shard_id — Python is the right
    layer here: this is sink IO, not compute), samples sorted by key
    within the tar for byte-stable re-exports. Returns the manifest
    as a DataFrame: (shard_id, n_samples, data_bytes, path).

    Atomicity: shards are written into a fresh staging directory that
    is atomically swapped over ``path`` only after every task has
    finished (same ``_atomic_swap`` as ``compact_small_files``). A
    re-export with a different shard count or dataset therefore never
    leaves stale ``shard-*.tar`` files behind for a globbing
    dataloader, and a mid-job failure leaves the previous export
    untouched. Within staging each attempt writes a unique-suffix tmp
    file before ``os.replace``, so task retries / speculative attempts
    never collide on a shared tmp path.
    """
    import json
    import tarfile
    import uuid

    import pandas as pd

    from prisma_migrator_spark.writers.upsert import _atomic_swap

    staging = f"{path}.{uuid.uuid4().hex[:8]}.staging"
    os.makedirs(staging)
    n = df.count()
    n_shards = max(1, math.ceil(n / samples_per_shard))
    cols = [id_col, text_col, *meta_cols]

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import io

        shard_id = int(pdf["__shard"].iloc[0])
        pdf = pdf.sort_values(id_col)
        fname = f"shard-{shard_id:05d}.tar"
        out = os.path.join(staging, fname)
        tmp = f"{out}.{uuid.uuid4().hex[:8]}.tmp"  # per-attempt unique
        data_bytes = 0
        with tarfile.open(tmp, "w") as tar:
            for _, row in pdf.iterrows():
                key = str(row[id_col])
                text = (row[text_col] or "").encode("utf-8")
                meta = json.dumps(
                    {c: row[c] for c in meta_cols}, sort_keys=True, default=str
                ).encode("utf-8")
                for name, payload in ((f"{key}.txt", text), (f"{key}.json", meta)):
                    info = tarfile.TarInfo(name=name)
                    info.size = len(payload)
                    info.mtime = 0  # byte-stable re-exports
                    tar.addfile(info, io.BytesIO(payload))
                    data_bytes += len(payload)
        os.replace(tmp, out)
        return pd.DataFrame(
            [
                {
                    "shard_id": shard_id,
                    "n_samples": len(pdf),
                    "data_bytes": data_bytes,
                    # report the post-swap location, not staging
                    "path": os.path.join(path, fname),
                }
            ]
        )

    sharded = df.select(*cols).withColumn(
        "__shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    )
    manifest = sharded.groupBy("__shard").applyInPandas(
        write_shard,
        "shard_id long, n_samples long, data_bytes long, path string",
    )
    # materialize so every shard is written BEFORE the swap publishes
    # the staging directory as `path`
    manifest = manifest.localCheckpoint()
    _atomic_swap(staging, path)
    return manifest


def write_arrow_shards(
    df: DataFrame,
    path: str,
    samples_per_shard: int = 1000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Export as Arrow IPC (Feather v2) shards — the memory-mappable
    zero-copy format training dataloaders (e.g. HF `datasets`) read
    without parse cost: ``shard-00000.arrow`` each holding one record
    batch, rows sorted by id for byte-stable re-exports.

    Same choreography as `write_webdataset_shards`: deterministic
    hash shard assignment (no global sort, retry/AQE-stable), one
    owning task per shard writes via Arrow (``applyInPandas`` — sink
    IO, the sanctioned Python layer), unique-suffix tmps +
    ``os.replace`` per shard, and an atomic staging-directory swap so
    a re-export never leaves stale shards behind a globbing loader.
    Returns the manifest DataFrame (shard_id, n_samples, n_bytes,
    path)."""
    import uuid

    import pandas as pd

    from prisma_migrator_spark.writers.upsert import _atomic_swap

    staging = f"{path}.{uuid.uuid4().hex[:8]}.staging"
    os.makedirs(staging)
    n = df.count()
    n_shards = max(1, math.ceil(n / samples_per_shard))

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa
        import pyarrow.feather as feather

        shard_id = int(pdf["__shard"].iloc[0])
        pdf = pdf.sort_values(id_col).drop(columns=["__shard"])
        fname = f"shard-{shard_id:05d}.arrow"
        out = os.path.join(staging, fname)
        tmp = f"{out}.{uuid.uuid4().hex[:8]}.tmp"
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        # uncompressed -> mmap-able zero-copy reads at training time
        feather.write_feather(table, tmp, compression="uncompressed")
        os.replace(tmp, out)
        return pd.DataFrame(
            [
                {
                    "shard_id": shard_id,
                    "n_samples": len(pdf),
                    "n_bytes": os.path.getsize(out),
                    "path": os.path.join(path, fname),
                }
            ]
        )

    sharded = df.withColumn(
        "__shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    )
    manifest = sharded.groupBy("__shard").applyInPandas(
        write_shard,
        "shard_id long, n_samples long, n_bytes long, path string",
    )
    manifest = manifest.localCheckpoint()
    _atomic_swap(staging, path)
    return manifest
