"""Physical-layout machinery: file-stats manifest (driver vs
distributed footer reads) and Z-order multi-column clustering."""

from __future__ import annotations

import pytest

from prisma_migrator_spark.catalog import load_table
from prisma_migrator_spark.sources.layout import zorder_write
from prisma_migrator_spark.writers.layout import (
    prunable_files,
    table_manifest,
)
from prisma_migrator_spark.writers.upsert import _part_files

pytestmark = pytest.mark.usefixtures("spark")


def _orders_frame(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def test_table_manifest_driver_and_distributed_agree(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The manifest's min/max must equal the true per-file extrema,
    and the distributed (mapInPandas) path must produce exactly the
    driver-serial path's rows."""
    from prisma_migrator_spark.writers import layout

    path = str(tmp_path / "orders_flat.parquet")
    (
        _orders_frame(spark, sf_dir)
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(path)
    )
    cols = ["o_orderkey", "o_totalprice"]
    files, schema = _part_files(path), spark.read.parquet(path).schema
    monkeypatch.setattr(layout, "DISTRIBUTED_FOOTER_THRESHOLD", 10_000)
    driver = {r.file: r for r in table_manifest(spark, files, cols, schema).collect()}
    monkeypatch.setattr(layout, "DISTRIBUTED_FOOTER_THRESHOLD", 0)
    dist = {r.file: r for r in table_manifest(spark, files, cols, schema).collect()}
    assert set(driver) == set(dist) and len(driver) == 8
    for f in driver:
        assert tuple(driver[f]) == tuple(dist[f]), f
    # ground truth per file
    for f, row in driver.items():
        pdf = spark.read.parquet(f).toPandas()
        assert row.n_rows == len(pdf)
        assert row.o_orderkey_min == pdf["o_orderkey"].min()
        assert row.o_orderkey_max == pdf["o_orderkey"].max()
        assert row.o_totalprice_min == pytest.approx(pdf["o_totalprice"].min())
        assert row.o_totalprice_max == pytest.approx(pdf["o_totalprice"].max())


def test_zorder_prunes_on_both_columns(spark, tmp_path):
    """A linearly-sorted table prunes files on its sort column only;
    the Z-ordered table must prune a majority of files on EITHER
    clustered column (the multi-column file-skipping property), while
    scanning the same logical rows. sf0.01 (15k orders) so each of
    the 32 files is populous enough for the contrast to be sharp."""
    base = _orders_frame(spark, "/root/testdata/sf0.01")
    n_files = 32
    linear = str(tmp_path / "linear.parquet")
    (
        base.repartitionByRange(n_files, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(linear)
    )
    zpath = str(tmp_path / "zorder.parquet")
    zorder_write(base, zpath, ["o_orderkey", "o_custkey"], n_files=n_files)

    assert (
        spark.read.parquet(zpath).count() == base.count()
    ), "z-order write must preserve all rows"

    stats = base.agg(
        {"o_orderkey": "max", "o_custkey": "max"}
    ).collect()[0]
    ok_hi = stats["max(o_orderkey)"]
    ck_hi = stats["max(o_custkey)"]

    # ~5% range predicates on each column
    ok_pred = (1, int(ok_hi * 0.05))
    ck_pred = (1, int(ck_hi * 0.05))

    lin_ok, total = prunable_files(spark, linear, "o_orderkey", *ok_pred)
    lin_ck, _ = prunable_files(spark, linear, "o_custkey", *ck_pred)
    z_ok, _ = prunable_files(spark, zpath, "o_orderkey", *ok_pred)
    z_ck, _ = prunable_files(spark, zpath, "o_custkey", *ck_pred)
    assert total == n_files

    # linear: near-perfect on the sort column, useless on the other
    assert len(lin_ok) <= 3
    assert len(lin_ck) >= n_files - 2
    # z-order: strong pruning on BOTH columns
    assert len(z_ok) <= n_files // 2, (len(z_ok), n_files)
    assert len(z_ck) <= n_files // 2, (len(z_ck), n_files)

    # pruning is CORRECT, not just aggressive: the pruned file set
    # contains every row matching the predicate
    import pyspark.sql.functions as F

    expect = base.where(F.col("o_custkey").between(*ck_pred)).count()
    got = (
        spark.read.parquet(*z_ck)
        .where(F.col("o_custkey").between(*ck_pred))
        .count()
    )
    assert got == expect


def test_cow_upsert_identical_through_distributed_footer_path(
    spark, sf_dir, tmp_path, monkeypatch
):
    """upsert_parquet_cow must behave identically when the footer
    ranges come from the executor-parallel path (threshold forced to
    0) — same rewritten/kept split, same final table content."""
    import shutil

    import pyspark.sql.functions as F

    from prisma_migrator_spark.writers import layout
    from prisma_migrator_spark.writers.upsert import upsert_parquet_cow

    base = _orders_frame(spark, sf_dir)
    a = str(tmp_path / "a.parquet")
    (
        base.repartitionByRange(16, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.parquet(a)
    )
    b = str(tmp_path / "b.parquet")
    shutil.copytree(a, b)

    batch = base.orderBy("o_orderkey").limit(50).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1.0
    )
    r_driver = upsert_parquet_cow(spark, batch, a, ["o_orderkey"])
    monkeypatch.setattr(layout, "DISTRIBUTED_FOOTER_THRESHOLD", 0)
    r_dist = upsert_parquet_cow(spark, batch, b, ["o_orderkey"])

    for k in ("files_total", "files_rewritten", "files_kept", "mode"):
        assert r_driver[k] == r_dist[k], k
    assert r_driver["files_rewritten"] <= 2  # clustered batch: 1-2 files
    da = spark.read.parquet(a).select("o_orderkey", "o_totalprice")
    db = spark.read.parquet(b).select("o_orderkey", "o_totalprice")
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0


def test_footer_stats_summary_metadata_only(spark, tmp_path):
    """COUNT/MIN/MAX from footers alone match the full scan on numeric
    columns; a stats-gap column answers None, never a partial bound."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from prisma_migrator_spark.writers.layout import footer_stats_summary

    path = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [Row(k=i, x=float(i) * 1.5) for i in range(1000)]
    ).repartition(8).write.parquet(path)

    got = footer_stats_summary(spark, path, ["k", "x"])
    full = spark.read.parquet(path).agg(
        F.count("*"), F.min("k"), F.max("k"), F.min("x"), F.max("x")
    ).first()
    assert got["n_rows"] == full[0] == 1000
    assert (got["k_min"], got["k_max"]) == (full[1], full[2])
    assert (got["x_min"], got["x_max"]) == (full[3], full[4])

    # a column absent from the files has no stats -> None, not a
    # bound over the subset that happened to have stats
    got2 = footer_stats_summary(spark, path, ["k", "missing_col"])
    assert got2["missing_col_min"] is None
    assert got2["missing_col_max"] is None
    assert got2["n_rows"] == 1000
