"""Conditional MERGE INTO: SQL clause semantics (delete-first order,
NULL conditions don't fire), CoW file pruning. The plan — one left
join of the target to the source plus the insert anti-join — is
pinned by ``tests/test_writers.py``'s target-scan counts."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from prisma_migrator_spark.writers.merge import merge_into
from prisma_migrator_spark.writers.upsert import _part_files


def _table(spark, path, rows, files=2, key="k"):
    spark.createDataFrame(rows).repartitionByRange(files, key).write.mode(
        "overwrite"
    ).parquet(path)


def _contents(spark, path):
    return {
        r["k"]: (r["v"], r["qty"]) for r in spark.read.parquet(path).collect()
    }


def test_merge_clauses_and_order(spark, tmp_path):
    """DELETE fires before UPDATE for the same matched pair; rows
    matching neither condition stay; NULL conditions don't fire;
    unmatched source rows insert (missing target cols -> NULL)."""
    path = str(tmp_path / "t.parquet")
    _table(
        spark,
        path,
        [
            Row(k=1, v="a", qty=10),
            Row(k=2, v="b", qty=20),
            Row(k=3, v="c", qty=30),
            Row(k=4, v="d", qty=None),  # NULL qty: conditions -> NULL
        ],
    )
    source = spark.createDataFrame(
        [
            Row(k=1, v="DEL", qty=0),    # delete cond fires
            Row(k=2, v="UPD", qty=99),   # update cond fires
            Row(k=3, v="no", qty=30),    # neither fires -> unchanged
            Row(k=4, v="nul", qty=5),    # t.qty NULL -> neither fires
            Row(k=9, v="ins", qty=7),    # not matched -> insert
        ]
    )
    rep = merge_into(
        spark,
        path,
        source,
        ["k"],
        when_matched_delete=F.col("s.qty") == 0,
        when_matched_update=F.col("s.qty") > F.col("t.qty"),
    )
    assert rep["files_total"] == rep["files_rewritten"] == 2

    got = _contents(spark, path)
    assert 1 not in got                      # deleted
    assert got[2] == ("UPD", 99)             # updated (SET *)
    assert got[3] == ("c", 30)               # matched, no clause fired
    assert got[4] == ("d", None)             # NULL condition: no fire
    assert got[9] == ("ins", 7)              # inserted
    assert len(got) == 4


def test_merge_update_set_expressions_and_insert_gate(spark, tmp_path):
    """update_set overrides SET * with expressions over t./s.;
    when_not_matched_insert gates which source rows insert."""
    path = str(tmp_path / "t.parquet")
    _table(spark, path, [Row(k=1, v="a", qty=10), Row(k=2, v="b", qty=20)])
    source = spark.createDataFrame(
        [
            Row(k=1, v="x", qty=5),
            Row(k=8, v="bad", qty=-1),
            Row(k=9, v="ok", qty=3),
        ]
    )
    merge_into(
        spark,
        path,
        source,
        ["k"],
        update_set={"qty": F.col("t.qty") + F.col("s.qty")},  # accumulate
        when_not_matched_insert=F.col("s.qty") >= 0,
    )
    got = _contents(spark, path)
    assert got[1] == ("a", 15)   # qty accumulated, v NOT in update_set
    assert got[2] == ("b", 20)
    assert 8 not in got          # insert gate rejected it
    assert got[9] == ("ok", 3)


def test_merge_insert_fills_missing_columns_null(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _table(spark, path, [Row(k=1, v="a", qty=1)])
    source = spark.createDataFrame([Row(k=5, v="n")])  # no qty column
    merge_into(spark, path, source, ["k"])
    got = _contents(spark, path)
    assert got[5] == ("n", None)


def test_merge_cow_prunes_files_and_keeps_bytes(spark, tmp_path):
    """Only files whose key range intersects the source are
    rewritten; the rest are byte-identical hard links."""
    path = str(tmp_path / "t.parquet")
    _table(
        spark,
        path,
        [Row(k=i, v=f"v{i}", qty=i) for i in range(400)],
        files=4,
    )
    before = {
        os.path.basename(f): open(f, "rb").read() for f in _part_files(path)
    }
    source = spark.createDataFrame([Row(k=5, v="U", qty=999)])
    rep = merge_into(spark, path, source, ["k"])
    assert rep["files_total"] == 4
    assert rep["files_rewritten"] == 1
    assert rep["files_kept"] == 3

    after = {
        os.path.basename(f): open(f, "rb").read() for f in _part_files(path)
    }
    kept = [b for b in after if b in before]
    assert len(kept) == 3
    for b in kept:
        assert after[b] == before[b]
    got = _contents(spark, path)
    assert got[5] == ("U", 999) and len(got) == 400

    # replay determinism with order_col: latest source row wins
    dup = spark.createDataFrame(
        [Row(k=7, v="old", qty=1, seq=1), Row(k=7, v="new", qty=2, seq=2)]
    )
    merge_into(spark, path, dup, ["k"], order_col="seq")
    assert _contents(spark, path)[7] == ("new", 2)


def test_merge_delete_only_shape(spark, tmp_path):
    """MERGE as retention: delete matched keys, insert nothing."""
    path = str(tmp_path / "t.parquet")
    _table(spark, path, [Row(k=i, v="x", qty=i) for i in range(10)])
    doomed = spark.createDataFrame([Row(k=3), Row(k=4)])
    merge_into(
        spark,
        path,
        doomed,
        ["k"],
        when_matched_delete=F.lit(True),
        insert=False,
    )
    got = _contents(spark, path)
    assert set(got) == set(range(10)) - {3, 4}

    # a key outside every file's range rewrites nothing and adds no file
    files = _part_files(path)
    merge_into(
        spark,
        path,
        spark.createDataFrame([Row(k=1000)]),
        ["k"],
        when_matched_delete=F.lit(True),
        insert=False,
    )
    assert _part_files(path) == files
    assert _contents(spark, path) == got
