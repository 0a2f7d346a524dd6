"""JDBC upsert sink tests (SURVEY §2.1 S5-S6, JDBC path).

No DB server exists in the container, so the sink's injectable
execution runs against embedded DuckDB — whose ``ON CONFLICT
(target) DO UPDATE SET c = EXCLUDED.c`` dialect matches the
Postgres statements the reference issues (src/utils/lib.ts:90-91).
This exercises the REAL generated SQL end-to-end: staging landing,
server-side merge, conflict semantics, idempotency.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row

from prisma_migrator_spark.writers.jdbc_sink import (
    PG_MAX_PARAMS,
    build_staging_merge_sql,
    build_values_upsert_sql,
    dedupe_batch,
    jdbc_upsert_via_staging,
    param_batch_size,
    values_upsert_statements,
)


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute(
        'CREATE TABLE "Developer" (handle VARCHAR PRIMARY KEY, '
        "name VARCHAR, email VARCHAR)"
    )
    c.execute(
        "INSERT INTO \"Developer\" VALUES ('a', 'Alice', 'a@x'), "
        "('b', 'Bob', 'b@x')"
    )
    yield c
    c.close()


def _duckdb_staging_writer(con):
    """Test stand-in for spark_jdbc_staging_writer: lands the Spark
    DataFrame in a DuckDB table (same contract: overwrite staging)."""

    def write(df, staging):
        pdf = df.toPandas()  # noqa: F841 — registered by name below
        con.execute(f'DROP TABLE IF EXISTS "{staging}"')
        con.register("__pdf", pdf)
        con.execute(f'CREATE TABLE "{staging}" AS SELECT * FROM __pdf')
        con.unregister("__pdf")

    return write


def _rows(con):
    return {
        r[0]: (r[1], r[2])
        for r in con.execute(
            'SELECT handle, name, email FROM "Developer" ORDER BY handle'
        ).fetchall()
    }


def test_staging_upsert_updates_and_inserts(spark, con):
    batch = spark.createDataFrame(
        [
            Row(handle="a", name="Alice2", email="a2@x"),  # update
            Row(handle="c", name="Cara", email="c@x"),  # insert
        ]
    )
    rep = jdbc_upsert_via_staging(
        batch,
        "Developer",
        ["handle"],
        run_sql=lambda s: con.execute(s),
        write_staging=_duckdb_staging_writer(con),
    )
    assert _rows(con) == {
        "a": ("Alice2", "a2@x"),
        "b": ("Bob", "b@x"),
        "c": ("Cara", "c@x"),
    }
    assert "EXCLUDED" in rep["merge_sql"]
    # staging dropped
    stg = con.execute(
        "SELECT count(*) FROM information_schema.tables "
        f"WHERE table_name = '{rep['staging']}'"
    ).fetchone()[0]
    assert stg == 0

    # idempotent: same batch again -> identical table
    jdbc_upsert_via_staging(
        batch,
        "Developer",
        ["handle"],
        run_sql=lambda s: con.execute(s),
        write_staging=_duckdb_staging_writer(con),
    )
    assert _rows(con)["a"] == ("Alice2", "a2@x") and len(_rows(con)) == 3


def test_staging_do_nothing_and_partial_update(spark, con):
    # DO NOTHING (update_cols=[]): existing wins, new keys append —
    # the createMany(skipDuplicates) path, reference src/migrate.ts:58-70.
    batch = spark.createDataFrame(
        [Row(handle="a", name="X", email="x@x"), Row(handle="d", name="D", email="d@x")]
    )
    jdbc_upsert_via_staging(
        batch,
        "Developer",
        ["handle"],
        run_sql=lambda s: con.execute(s),
        write_staging=_duckdb_staging_writer(con),
        update_cols=[],
    )
    got = _rows(con)
    assert got["a"] == ("Alice", "a@x") and got["d"] == ("D", "d@x")

    # partial update: only name; email keeps existing value
    jdbc_upsert_via_staging(
        spark.createDataFrame([Row(handle="b", name="Bobby", email="IGNORED")]),
        "Developer",
        ["handle"],
        run_sql=lambda s: con.execute(s),
        write_staging=_duckdb_staging_writer(con),
        update_cols=["name"],
    )
    assert _rows(con)["b"] == ("Bobby", "b@x")


def test_staging_upsert_dedupes_batch(spark, con):
    # ON CONFLICT DO UPDATE errors on duplicate keys within one
    # statement; the sink must collapse them deterministically first.
    batch = spark.createDataFrame(
        [
            Row(handle="z", name="Z2", email="z2@x"),
            Row(handle="z", name="Z1", email="z1@x"),
        ]
    )
    jdbc_upsert_via_staging(
        batch,
        "Developer",
        ["handle"],
        run_sql=lambda s: con.execute(s),
        write_staging=_duckdb_staging_writer(con),
    )
    # min-struct dedup: lexicographically smallest (Z1) survives
    assert _rows(con)["z"] == ("Z1", "z1@x")
    assert dedupe_batch(batch, ["handle"]).count() == 1


def test_dedupe_batch_with_map_column(spark):
    # a map column has no ordering, so it cannot ride in the min-struct
    # aggregate: the smallest row by the orderable columns wins, its
    # map carried along
    batch = spark.createDataFrame(
        [
            Row(handle="z", tags={"b": 2}, name="Z2"),
            Row(handle="z", tags={"a": 1}, name="Z1"),
            Row(handle="y", tags=None, name="Y"),
        ]
    )
    got = dedupe_batch(batch, ["handle"])
    assert got.columns == batch.columns
    assert sorted(map(tuple, got.collect())) == [
        ("y", None, "Y"),
        ("z", {"a": 1}, "Z1"),
    ]


def test_values_statement_shape_matches_reference():
    # the exact statement family of buildBulkInsertQuery (lib.ts:90-91)
    sql = build_values_upsert_sql(
        "Developer",
        ["handle", "name", "email"],
        ["handle"],
        ["name", "email"],
        n_rows=2,
    )
    assert sql == (
        'INSERT INTO "Developer" ("handle", "name", "email") '
        "VALUES ($1, $2, $3), ($4, $5, $6) "
        'ON CONFLICT ("handle") DO UPDATE SET '
        '"name" = EXCLUDED."name", "email" = EXCLUDED."email"'
    )
    assert build_values_upsert_sql(
        "t", ["k", "v"], ["k"], [], n_rows=1
    ).endswith("ON CONFLICT DO NOTHING")


def test_values_chunking_executes_on_duckdb(con):
    # 7 rows, 3 columns, param cap 9 -> 3 rows/stmt -> 3 statements
    rows = [(f"h{i}", f"n{i}", f"e{i}") for i in range(7)]
    stmts = values_upsert_statements(
        rows,
        "Developer",
        ["handle", "name", "email"],
        ["handle"],
        ["name", "email"],
        placeholder="qmark",
        max_params=9,
    )
    assert [len(p) // 3 for _, p in stmts] == [3, 3, 1]
    for sql, params in stmts:
        con.execute(sql, params)
    got = _rows(con)
    assert len(got) == 2 + 7 and got["h3"] == ("n3", "e3")
    # default cap reproduces the reference's batch-size arithmetic
    assert param_batch_size(7) == PG_MAX_PARAMS // 7
