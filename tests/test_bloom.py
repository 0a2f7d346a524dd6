"""Bloom sidecar layer: point-lookup file pruning for random keys.

The property under test is the one that matters at 100 TB: with
random/uuid keys every file's footer (min, max) spans the whole key
space — range pruning keeps EVERYTHING — while the per-file Bloom
sidecar keeps only the files that might contain a batch key, with
false negatives impossible (a pruned file provably holds no batch
key) and false positives bounded by fpp."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Row

from prisma_migrator_spark.writers.bloom import (
    _bloom_params,
    _build_bits,
    _contains,
    _key_hashes,
    bloom_prunable_files,
    blooms_path,
    build_bloom_sidecars,
)


def _h(i: int) -> str:
    """Deterministic 'uuid-ish' key: md5 hex of the ordinal."""
    return hashlib.md5(str(i).encode()).hexdigest()


def test_bloom_no_false_negatives_and_bounded_fpp():
    keys = [_h(i) for i in range(5000)]
    m, k = _bloom_params(len(keys), fpp=0.01)
    bits = _build_bits(keys, m, k)
    for key in keys[::97]:  # every inserted key must test positive
        assert _contains(bits, m, k, *_key_hashes(key))
    absent = [_h(10_000_000 + i) for i in range(2000)]
    fp = sum(_contains(bits, m, k, *_key_hashes(a)) for a in absent)
    assert fp / len(absent) < 0.05  # fpp=0.01 with generous margin
    # int keys hash by str() — same filter answers both forms
    m2, k2 = _bloom_params(10, 0.01)
    bits2 = _build_bits([1, 2, 3], m2, k2)
    assert _contains(bits2, m2, k2, *_key_hashes(1))
    assert not _contains(bits2, m2, k2, *_key_hashes(99))


def _random_key_table(spark, path: str, n: int = 1600, files: int = 16):
    df = spark.createDataFrame(
        [Row(k=_h(i), v=f"v{i}", ts=10) for i in range(n)]
    )
    df.repartition(files).write.mode("overwrite").parquet(path)


def _files_containing(spark, path: str, keys: set[str]) -> set[str]:
    """Ground truth: the files that actually hold any of ``keys``."""
    from prisma_migrator_spark.writers.upsert import _part_files

    out = set()
    for f in _part_files(path):
        got = {r["k"] for r in spark.read.parquet(f).select("k").collect()}
        if got & keys:
            out.add(f)
    return out


def test_bloom_prunes_where_ranges_cannot(spark, tmp_path):
    """Random keys: range pruning keeps all files (min/max spans the
    key space), the Bloom sidecar keeps only true holders + fpp."""
    from prisma_migrator_spark.writers.layout import prunable_files

    path = str(tmp_path / "rk.parquet")
    _random_key_table(spark, path)
    probe = {_h(3), _h(700), _h(1234)}

    # every probed key survives range pruning in EVERY file
    for key in probe:
        surv, total = prunable_files(spark, path, "k", key, key)
        assert total == 16
        assert len(surv) == 16  # ranges cannot prune random keys

    build_bloom_sidecars(spark, path, "k", fpp=0.001)
    surv, total = bloom_prunable_files(spark, path, list(probe))
    truth = _files_containing(spark, path, probe)
    assert total == 16
    assert truth <= set(surv)  # no false negatives — the contract
    assert len(surv) <= len(truth) + 2  # fpp=0.001 on 16 files
    assert len(surv) < 16


def test_bloom_distributed_paths_agree(spark, tmp_path, monkeypatch):
    from prisma_migrator_spark.writers import bloom

    path = str(tmp_path / "rk.parquet")
    _random_key_table(spark, path, n=400, files=8)
    probe = [_h(7), _h(201)]

    monkeypatch.setattr(bloom, "DISTRIBUTED_BLOOM_THRESHOLD", 0)
    build_bloom_sidecars(spark, path, "k")
    dist, total_d = bloom_prunable_files(spark, path, probe)
    monkeypatch.undo()
    serial, total_s = bloom_prunable_files(spark, path, probe)
    assert (dist, total_d) == (serial, total_s)
    assert _files_containing(spark, path, set(probe)) <= set(dist)


def test_unindexed_files_conservatively_survive(spark, tmp_path):
    """A data file with no (current) sidecar row must always survive —
    a Bloom filter can only say 'no' about keys it actually indexed."""
    from prisma_migrator_spark.writers.upsert import _part_files

    path = str(tmp_path / "rk.parquet")
    _random_key_table(spark, path, n=400, files=8)
    build_bloom_sidecars(spark, path, "k")

    # sneak a new file into the footprint after indexing
    extra = str(tmp_path / "extra.parquet")
    spark.createDataFrame([Row(k="zzz", v="x", ts=1)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(extra)
    src = _part_files(extra)[0]
    dst = os.path.join(path, "part-99999-manual.parquet")
    os.link(src, dst)

    surv, total = bloom_prunable_files(spark, path, ["never-present-key"])
    assert total == 9
    assert dst in surv  # unindexed -> conservatively kept
    # indexed files prune the absent key up to fpp (deterministic
    # hashing: this particular key draws one false positive)
    assert len(surv) <= 2


def test_upsert_cow_bloom_rewrites_few_files(spark, tmp_path):
    """CoW MERGE on a random-key table: range pruning alone rewrites
    everything; with sidecars only the true holder files (+fpp) are
    rewritten, kept files are byte-identical, the merge is idempotent,
    and the refresh re-indexes only rewritten files."""
    from prisma_migrator_spark.writers.upsert import (
        _part_files,
        upsert_parquet_cow,
    )

    path = str(tmp_path / "cow.parquet")
    _random_key_table(spark, path)

    build_bloom_sidecars(spark, path, "k", fpp=0.001)

    batch = spark.createDataFrame(
        [
            Row(k=_h(5), v="UPD5", ts=20),
            Row(k=_h(800), v="UPD800", ts=20),
            Row(k="brand-new-key", v="new", ts=20),
        ]
    )
    probe_keys = {_h(5), _h(800)}
    truth = _files_containing(spark, path, probe_keys)
    before = {
        os.path.basename(f): open(f, "rb").read() for f in _part_files(path)
    }
    rep = upsert_parquet_cow(spark, batch, path, ["k"], bloom=True)
    assert rep["files_total"] == 16
    assert len(truth) <= rep["files_rewritten"] <= len(truth) + 2
    assert rep["files_rewritten"] < 16  # range pruning alone keeps 0
    # refresh reused every kept file's row; only the merge's OUTPUT
    # files re-index (rewrites coalesce, so built counts outputs)
    assert rep["bloom"]["reused"] == rep["files_kept"]
    assert rep["bloom"]["built"] == rep["bloom"]["files"] - rep["files_kept"]

    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got[_h(5)] == "UPD5" and got[_h(800)] == "UPD800"
    assert got["brand-new-key"] == "new"
    assert got[_h(0)] == "v0" and got[_h(1599)] == "v1599"
    assert len(got) == 1601

    after = {
        os.path.basename(f): open(f, "rb").read() for f in _part_files(path)
    }
    kept = [b for b in after if b in before]
    assert len(kept) == rep["files_kept"]
    for b in kept:
        assert after[b] == before[b]

    # idempotent under replay — and the replay's pruning still engages
    rep2 = upsert_parquet_cow(spark, batch, path, ["k"], bloom=True)
    assert rep2["files_rewritten"] < rep2["files_total"]
    again = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert again == got

    assert os.path.exists(blooms_path(path))
