"""Upsert / skip-dup / migration tests (SURVEY §5.2 item 3):
idempotency is the core property — run twice, counts stable."""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from prisma_migrator_spark.migrate import migrate
from prisma_migrator_spark.writers.upsert import (
    append_skip_duplicates,
    upsert_parquet,
)


@pytest.fixture()
def tmp_table(tmp_path):
    return str(tmp_path / "t.parquet")


def _df(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


BASE = [
    {"k": 1, "v": "a", "ts": 10},
    {"k": 2, "v": "b", "ts": 10},
    {"k": 3, "v": "c", "ts": 10},
]


def test_append_skip_duplicates(spark):
    existing = _df(spark, BASE)
    batch = _df(
        spark,
        [
            {"k": 2, "v": "B2", "ts": 20},  # dup key -> skipped
            {"k": 4, "v": "d", "ts": 20},
            {"k": 4, "v": "d2", "ts": 20},  # in-batch dup -> one survives
        ],
    )
    out = append_skip_duplicates(batch, existing, ["k"])
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert set(rows) == {4}


def test_upsert_do_update_idempotent(spark, tmp_table):
    rep = upsert_parquet(spark, _df(spark, BASE), tmp_table, ["k"])
    assert rep["inserted"] == 3
    batch = _df(spark, [{"k": 2, "v": "B2", "ts": 20}, {"k": 9, "v": "z", "ts": 20}])
    for _ in range(2):  # idempotent: run twice
        rep = upsert_parquet(spark, batch, tmp_table, ["k"])
        got = {r["k"]: r["v"] for r in spark.read.parquet(tmp_table).collect()}
        assert got == {1: "a", 2: "B2", 3: "c", 9: "z"}
        assert rep["total"] == len(got)


def test_upsert_schema_evolution_explicit_never_silent(spark, tmp_table):
    """A batch carrying a column the table lacks must RAISE by default
    (the old select(*existing.columns) silently dropped the data);
    with allow_schema_evolution=True the table gains the column (NULL
    for untouched rows), a column missing from the batch is
    NULL-filled on full-row replace, and the evolved upsert stays
    idempotent."""
    upsert_parquet(spark, _df(spark, BASE), tmp_table, ["k"])
    evolved = _df(spark, [{"k": 2, "v": "B2", "ts": 20, "lang": "en"},
                          {"k": 9, "v": "z", "ts": 20, "lang": "de"}])
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        upsert_parquet(spark, evolved, tmp_table, ["k"])

    for _ in range(2):  # idempotent under evolution too
        upsert_parquet(
            spark, evolved, tmp_table, ["k"], allow_schema_evolution=True
        )
        got = {
            r["k"]: (r["v"], r["lang"])
            for r in spark.read.parquet(tmp_table).collect()
        }
        assert got == {
            1: ("a", None),  # untouched rows: new column NULL
            2: ("B2", "en"),
            3: ("c", None),
            9: ("z", "de"),
        }

    # batch MISSING a table column: full-row replace NULL-fills it
    narrow = spark.createDataFrame([Row(k=2, v="B3", lang="fr")])
    upsert_parquet(spark, narrow, tmp_table, ["k"], allow_schema_evolution=True)
    row2 = {r["k"]: r for r in spark.read.parquet(tmp_table).collect()}[2]
    assert (row2["v"], row2["lang"], row2["ts"]) == ("B3", "fr", None)


def test_upsert_schema_evolution_with_partial_update(spark, tmp_table):
    """allow_schema_evolution=True + explicit update_cols (ADVICE r6
    #2): the evolved column is implicitly part of the update set — a
    matched key takes the batch's value for it, NOT the NULL that
    _align_schemas padded into `existing`. Columns outside
    update_cols still keep their existing values, and DO NOTHING
    (update_cols=[]) still leaves matched rows fully untouched."""
    upsert_parquet(spark, _df(spark, BASE), tmp_table, ["k"])
    evolved = _df(spark, [{"k": 2, "v": "B2", "ts": 20, "lang": "en"},
                          {"k": 9, "v": "z", "ts": 20, "lang": "de"}])
    upsert_parquet(
        spark, evolved, tmp_table, ["k"],
        update_cols=["v"], allow_schema_evolution=True,
    )
    got = {
        r["k"]: (r["v"], r["ts"], r["lang"])
        for r in spark.read.parquet(tmp_table).collect()
    }
    assert got == {
        1: ("a", 10, None),   # untouched key
        2: ("B2", 10, "en"),  # v updated, ts KEPT, evolved lang taken
        3: ("c", 10, None),
        9: ("z", 20, "de"),   # brand-new key: full batch row
    }

    # DO NOTHING + evolution: matched rows untouched (lang stays),
    # new keys land with the evolved column populated
    nothing = _df(spark, [{"k": 2, "v": "XX", "ts": 99, "lang": "zz"},
                          {"k": 7, "v": "g", "ts": 30, "lang": "fr"}])
    upsert_parquet(
        spark, nothing, tmp_table, ["k"],
        update_cols=[], allow_schema_evolution=True,
    )
    got = {
        r["k"]: (r["v"], r["lang"])
        for r in spark.read.parquet(tmp_table).collect()
    }
    assert got[2] == ("B2", "en")  # DO NOTHING: existing row kept
    assert got[7] == ("g", "fr")


def test_upsert_cow_rejects_evolved_batch(spark, tmp_table):
    """File-granularity CoW cannot evolve schemas (untouched files
    would keep the old one); it must refuse with guidance, not merge."""
    from prisma_migrator_spark.writers.upsert import upsert_parquet_cow

    assert upsert_parquet_cow(spark, _df(spark, BASE), tmp_table, ["k"])["inserted"] == 3
    evolved = _df(spark, [{"k": 2, "v": "B2", "ts": 20, "lang": "en"}])
    with pytest.raises(ValueError, match="full rewrite"):
        upsert_parquet_cow(spark, evolved, tmp_table, ["k"])


def test_upsert_do_nothing(spark, tmp_table):
    upsert_parquet(spark, _df(spark, BASE), tmp_table, ["k"])
    batch = _df(spark, [{"k": 2, "v": "CHANGED", "ts": 20}, {"k": 5, "v": "e", "ts": 20}])
    upsert_parquet(spark, batch, tmp_table, ["k"], update_cols=[])
    got = {r["k"]: r["v"] for r in spark.read.parquet(tmp_table).collect()}
    assert got == {1: "a", 2: "b", 3: "c", 5: "e"}  # existing wins


def test_upsert_partial_update(spark, tmp_table):
    upsert_parquet(spark, _df(spark, BASE), tmp_table, ["k"])
    batch = _df(spark, [{"k": 1, "v": "A!", "ts": 99}])
    upsert_parquet(spark, batch, tmp_table, ["k"], update_cols=["v"])
    row = {r["k"]: r for r in spark.read.parquet(tmp_table).collect()}[1]
    assert row["v"] == "A!" and row["ts"] == 10  # ts untouched


def test_upsert_batch_dedupe_latest(spark, tmp_table):
    batch = _df(
        spark,
        [{"k": 1, "v": "old", "ts": 1}, {"k": 1, "v": "new", "ts": 2}],
    )
    upsert_parquet(spark, batch, tmp_table, ["k"], order_col="ts")
    got = spark.read.parquet(tmp_table).collect()
    assert len(got) == 1 and got[0]["v"] == "new"


def _dir_files(root: str) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(d, f), root): os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    }


def test_migrate_copy_and_skip(spark, sf_dir, tmp_path):
    dst = str(tmp_path / "dst")
    keys = {"region": ["r_regionkey"], "nation": ["n_nationkey"]}
    rep1 = migrate(spark, sf_dir, dst, tables=["region", "nation"], key_cols=keys)
    assert rep1.ok and all(t.status == "copied" for t in rep1.tables)
    for t in rep1.tables:
        n_src = spark.read.parquet(os.path.join(sf_dir, f"{t.table}.parquet")).count()
        assert t.rows_read == t.rows_written == n_src, t
    files = _dir_files(dst)
    # second run: everything deduped -> zero written, and no file added
    # (an empty append would otherwise leave a schema-only part file)
    rep2 = migrate(spark, sf_dir, dst, tables=["region", "nation"], key_cols=keys)
    assert rep2.ok and all(t.rows_written == 0 for t in rep2.tables)
    assert all(t.rows_read == r.rows_read for t, r in zip(rep2.tables, rep1.tables))
    assert _dir_files(dst) == files
    n = spark.read.parquet(os.path.join(dst, "region.parquet")).count()
    assert n == spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()


def test_migrate_keyless_resume_is_multiset_difference(spark, tmp_path):
    """A table with no key resumes through ``exceptAll``: exact
    duplicate rows are copies, so only the copies the destination is
    still missing are written."""
    from collections import Counter

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    rows = [(1, "a")] * 3 + [(2, "b")] * 2 + [(3, "c")]
    prefill = [(1, "a"), (2, "b"), (2, "b")]
    schema = "k long, v string"
    spark.createDataFrame(rows, schema).write.parquet(os.path.join(src, "t.parquet"))
    spark.createDataFrame(prefill, schema).write.parquet(os.path.join(dst, "t.parquet"))

    rep = migrate(spark, src, dst, tables=["t"])
    assert rep.ok, rep.summary()
    (t,) = rep.tables
    assert t.rows_read == len(rows)
    assert t.rows_written == sum((Counter(rows) - Counter(prefill)).values()) == 3
    got = spark.read.parquet(os.path.join(dst, "t.parquet")).collect()
    assert Counter(map(tuple, got)) == Counter(rows)


def test_migrate_resumes_into_empty_destination_directory(spark, sf_dir, tmp_path):
    """A destination directory that exists but holds no part file yet
    (an interrupted first copy) resumes as an empty destination, for
    a keyed and a keyless table alike."""
    dst = str(tmp_path / "dst")
    for t in ("orders", "nation"):
        os.makedirs(os.path.join(dst, f"{t}.parquet"))
    rep = migrate(spark, sf_dir, dst, tables=["orders", "nation"],
                  key_cols={"orders": ["o_orderkey"]})
    assert rep.ok, rep.summary()
    for t in rep.tables:
        n_src = spark.read.parquet(os.path.join(sf_dir, f"{t.table}.parquet")).count()
        assert t.rows_read == t.rows_written == n_src, t


def test_migrate_fails_table_whose_destination_lacks_a_key_column(spark, sf_dir, tmp_path):
    """A destination part file without a key column fails the table:
    reading it with the source's schema would give NULL keys, skip
    nothing and append duplicates."""
    dst = str(tmp_path / "dst")
    src = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    src.drop("n_nationkey").write.parquet(os.path.join(dst, "nation.parquet"))
    before = _dir_files(dst)
    rep = migrate(spark, sf_dir, dst, tables=["nation"], key_cols={"nation": ["n_nationkey"]})
    (t,) = rep.tables
    assert t.status == "failed" and "n_nationkey" in t.error, t
    assert _dir_files(dst) == before


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
@pytest.mark.parametrize("unit", ["us", "ns"])
def test_migrate_naive_timestamp_key_matches(spark, tmp_path, unit, tz):
    """A naive (or nanosecond) timestamp key stored the same way at
    both ends matches, under any session time zone: the destination's
    key column, read with the source's schema, comes out as the same
    instant the source read makes of it, so the rows it holds are
    skipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    ts = pa.array([i * 3_600_000_000 for i in range(6)], type=pa.timestamp("us")).cast(
        pa.timestamp(unit)
    )
    table = pa.table({"ts": ts, "v": pa.array(list("abcdef"))})
    for root, rows in ((src, table), (dst, table.slice(0, 4))):
        os.makedirs(os.path.join(root, "t.parquet"))
        pq.write_table(rows, os.path.join(root, "t.parquet", "part-0.parquet"),
                       coerce_timestamps=None, version="2.6")

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        rep = migrate(spark, src, dst, tables=["t"], key_cols={"t": ["ts"]})
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert rep.ok, rep.summary()
    assert (rep.tables[0].rows_read, rep.tables[0].rows_written) == (6, 2)


_SCAN = r"\bScan parquet\b"
_JOIN = r"\b(?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)\b"


def _plan_nodes(description: str, node: str) -> int:
    """Nodes matching ``node`` in a formatted physical plan, the
    adaptive plan that ran only (AQE also prints the initial plan,
    which would count twice). The status store may still hold the plan
    AQE labels ``Current`` rather than ``Final`` when the execution
    ends."""
    tree = description.split("\n\n", 1)[0]
    tree = re.split(r"== (?:Final|Current) Plan ==", tree)[-1]
    return len(re.findall(node, tree.split("== Initial Plan ==")[0]))


def _executions(spark) -> dict:
    """The SQL executions the status store holds, by id, once every
    event is in."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    as_java = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    return {e.executionId(): e for e in as_java(store.executionsList())}


def test_migrate_resume_reads_each_table_once(spark, sf_dir, tmp_path):
    """A resumed keyed copy is one pass: across all the SQL executions
    it runs, the source is scanned once and the destination once."""
    from prisma_migrator_spark.migrate import migrate_table

    dst = str(tmp_path / "dst")
    src = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    src.where("n_nationkey % 2 = 0").write.parquet(os.path.join(dst, "nation.parquet"))

    expected = (src.count(), src.where("n_nationkey % 2 = 1").count())
    before = set(_executions(spark))
    res = migrate_table(spark, sf_dir, dst, "nation", {"nation": ["n_nationkey"]})
    new = [e for i, e in _executions(spark).items() if i not in before]
    assert res.status == "copied", res.error
    assert (res.rows_read, res.rows_written) == expected
    assert sum(_plan_nodes(e.physicalPlanDescription(), _SCAN) for e in new) == 2


def test_migrate_parallel_tables(spark, sf_dir, tmp_path):
    dst = str(tmp_path / "dst")
    tables = ["region", "nation", "supplier", "part"]
    rep = migrate(spark, sf_dir, dst, tables=tables, parallelism=4)
    assert rep.ok and {t.table for t in rep.tables} == set(tables)
    for t in rep.tables:  # each copy's observed counts are its own
        n_src = spark.read.parquet(os.path.join(sf_dir, f"{t.table}.parquet")).count()
        n_dst = spark.read.parquet(os.path.join(dst, f"{t.table}.parquet")).count()
        assert t.rows_read == t.rows_written == n_src == n_dst, t


def test_migrate_error_isolation(spark, sf_dir, tmp_path):
    dst = str(tmp_path / "dst")
    rep = migrate(spark, sf_dir, dst, tables=["region", "no_such_table"])
    statuses = {t.table: t.status for t in rep.tables}
    assert statuses["region"] == "copied"
    assert statuses["no_such_table"] == "failed"
    assert not rep.ok


def test_upsert_partitioned_prunes_and_merges(spark, tmp_path):
    import glob

    from prisma_migrator_spark.writers.upsert import upsert_partitioned

    path = str(tmp_path / "pt.parquet")
    base = _df(
        spark,
        [
            {"k": 1, "v": "a", "pt": "d1"},
            {"k": 2, "v": "b", "pt": "d1"},
            {"k": 3, "v": "c", "pt": "d2"},
            {"k": 4, "v": "d", "pt": "d3"},
        ],
    )
    upsert_partitioned(spark, base, path, ["k"], "pt")

    untouched_before = sorted(glob.glob(f"{path}/pt=d3/*.parquet"))
    mtimes_before = [os.path.getmtime(f) for f in untouched_before]

    batch = _df(
        spark,
        [
            {"k": 2, "v": "B2", "pt": "d1"},  # update in d1
            {"k": 9, "v": "z", "pt": "d2"},  # insert into d2
        ],
    )
    rep = upsert_partitioned(spark, batch, path, ["k"], "pt")
    assert rep["partitions"] == 2  # only d1 and d2 rewritten

    got = {r["k"]: (r["v"], r["pt"]) for r in spark.read.parquet(path).collect()}
    assert got == {
        1: ("a", "d1"), 2: ("B2", "d1"), 3: ("c", "d2"),
        4: ("d", "d3"), 9: ("z", "d2"),
    }
    # d3's files were not rewritten
    untouched_after = sorted(glob.glob(f"{path}/pt=d3/*.parquet"))
    assert untouched_after == untouched_before
    assert [os.path.getmtime(f) for f in untouched_after] == mtimes_before

    # idempotent: same batch again -> same table
    upsert_partitioned(spark, batch, path, ["k"], "pt")
    again = {r["k"]: (r["v"], r["pt"]) for r in spark.read.parquet(path).collect()}
    assert again == got


def test_upsert_partitioned_do_nothing(spark, tmp_path):
    from prisma_migrator_spark.writers.upsert import upsert_partitioned

    path = str(tmp_path / "pt.parquet")
    upsert_partitioned(
        spark, _df(spark, [{"k": 1, "v": "a", "pt": "d1"}]), path, ["k"], "pt"
    )
    batch = _df(
        spark,
        [{"k": 1, "v": "CHANGED", "pt": "d1"}, {"k": 2, "v": "n", "pt": "d1"}],
    )
    upsert_partitioned(spark, batch, path, ["k"], "pt", update_cols=[])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "n"}  # existing wins, new key appended


def _cow_table(spark, path, n=400, n_files=4):
    """A key-clustered multi-file table: repartitionByRange gives each
    part file a contiguous, non-overlapping k range — the layout the
    footer-stats pruning is built for."""
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.lit(10).alias("ts"),
    )
    df.repartitionByRange(n_files, "k").write.mode("overwrite").parquet(path)


def _file_bytes(path):
    import glob

    return {
        os.path.basename(f): open(f, "rb").read()
        for f in glob.glob(f"{path}/*.parquet")
    }


def test_upsert_cow_rewrites_only_intersecting_files(spark, tmp_path):
    from prisma_migrator_spark.writers.upsert import upsert_parquet_cow

    path = str(tmp_path / "cow.parquet")
    _cow_table(spark, path)
    before = _file_bytes(path)

    # keys 5 and 7 live in the first range file only; 9999 is brand new
    batch = _df(
        spark,
        [
            {"k": 5, "v": "UPD5", "ts": 20},
            {"k": 7, "v": "UPD7", "ts": 20},
            {"k": 9999, "v": "new", "ts": 20},
        ],
    )
    rep = upsert_parquet_cow(spark, batch, path, ["k"])
    assert rep["files_total"] == 4
    assert rep["files_rewritten"] == 1
    assert rep["files_kept"] == 3

    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 401
    assert got[5] == "UPD5" and got[7] == "UPD7" and got[9999] == "new"
    assert got[0] == "v0" and got[399] == "v399"

    # every kept file is BYTE-identical to its pre-merge self
    after = _file_bytes(path)
    kept = [b for b in after if b in before]
    assert len(kept) == 3
    for b in kept:
        assert after[b] == before[b]

    # idempotent: same batch again -> same table contents
    upsert_parquet_cow(spark, batch, path, ["k"])
    again = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert again == got


def test_upsert_cow_appends_without_rewrite_when_no_overlap(spark, tmp_path):
    from prisma_migrator_spark.writers.upsert import upsert_parquet_cow

    path = str(tmp_path / "cow.parquet")
    _cow_table(spark, path)
    before = _file_bytes(path)

    batch = _df(spark, [{"k": 1000 + i, "v": "n", "ts": 1} for i in range(5)])
    rep = upsert_parquet_cow(spark, batch, path, ["k"])
    assert rep["files_rewritten"] == 0 and rep["files_kept"] == 4

    after = _file_bytes(path)
    for b in before:
        assert after[b] == before[b]
    assert spark.read.parquet(path).count() == 405

    # an empty batch rewrites nothing and adds no (schema-only) file
    empty = spark.createDataFrame([], "k long, v string, ts long")
    rep = upsert_parquet_cow(spark, empty, path, ["k"])
    assert rep["files_rewritten"] == 0
    assert _file_bytes(path) == after


def test_upsert_cow_do_nothing_and_partial_update(spark, tmp_path):
    from prisma_migrator_spark.writers.upsert import upsert_parquet_cow

    path = str(tmp_path / "cow.parquet")
    _cow_table(spark, path, n=40, n_files=2)

    # DO NOTHING: existing wins for matched keys, new keys append
    batch = _df(spark, [{"k": 3, "v": "X", "ts": 1}, {"k": 77, "v": "n", "ts": 1}])
    upsert_parquet_cow(spark, batch, path, ["k"], update_cols=[])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got[3] == "v3" and got[77] == "n"

    # partial update: only v changes, ts keeps the existing value
    upsert_parquet_cow(
        spark, _df(spark, [{"k": 4, "v": "P", "ts": 99}]), path, ["k"],
        update_cols=["v"],
    )
    row = {r["k"]: r for r in spark.read.parquet(path).collect()}[4]
    assert row["v"] == "P" and row["ts"] == 10


def _keyed_writers(spark) -> dict:
    """The four keyed writers, keyed on ``k`` (``upsert_partitioned``
    partitions by ``p``), each called as ``write(batch, path,
    update_cols, merge_into_clauses)``."""
    from prisma_migrator_spark.writers.merge import merge_into
    from prisma_migrator_spark.writers.upsert import (
        upsert_parquet_cow,
        upsert_partitioned,
    )

    return {
        "upsert_parquet": lambda b, path, cols, _: upsert_parquet(
            spark, b, path, ["k"], update_cols=cols
        ),
        "upsert_parquet_cow": lambda b, path, cols, _: upsert_parquet_cow(
            spark, b, path, ["k"], update_cols=cols
        ),
        "upsert_partitioned": lambda b, path, cols, _: upsert_partitioned(
            spark, b, path, ["k"], "p", update_cols=cols
        ),
        "merge_into": lambda b, path, _, clauses: merge_into(
            spark, path, b, ["k"], **clauses
        ),
    }


def test_every_writer_agrees_on_one_batch(spark, tmp_path):
    """The four keyed writers turn one table and one batch into the
    same multiset for each ON CONFLICT shape, whatever the batch's row
    order: updates, inserts, and in-batch duplicate keys whose rows
    differ (the smallest row wins when no ``order_col`` is given)."""
    base = [{"k": k, "v": f"v{k}", "q": k, "p": k % 3} for k in range(40)]
    rows = [
        {"k": 3, "v": "y", "q": 1, "p": 0},  # update, duplicated
        {"k": 3, "v": "x", "q": 2, "p": 0},
        {"k": 17, "v": "u", "q": 5, "p": 2},  # plain update
        {"k": 100, "v": "b", "q": 7, "p": 1},  # insert, duplicated
        {"k": 100, "v": "a", "q": 8, "p": 1},
        {"k": 101, "v": "n", "q": 9, "p": 2},  # plain insert
    ]
    winners = {3: ("x", 2, 0), 17: ("u", 5, 2), 100: ("a", 8, 1), 101: ("n", 9, 2)}
    old = {r["k"]: (r["v"], r["q"], r["p"]) for r in base}
    expected = {
        "all": {**old, **winners},
        "subset": {
            **{k: winners[k] for k in (100, 101)},
            **old,
            3: ("x", 3, 0),
            17: ("u", 17, 2),
        },
        "nothing": {**{k: winners[k] for k in (100, 101)}, **old},
    }
    expected["nothing, empty SET"] = expected["nothing"]
    shapes = {
        # shape: (update_cols for the upserts, merge_into clauses)
        "all": (None, {}),
        "subset": (["v"], {"update_set": {"v": F.col("s.v")}}),
        "nothing": ([], {"when_matched_update": F.lit(False)}),
        "nothing, empty SET": ([], {"update_set": {}}),
    }
    writers = _keyed_writers(spark)
    table = _df(spark, base).repartitionByRange(4, "k")
    table.write.parquet(str(tmp_path / "plain"))
    table.write.partitionBy("p").parquet(str(tmp_path / "partitioned"))
    for order, batch_rows in (("given", rows), ("reversed", rows[::-1])):
        batch = _df(spark, batch_rows)
        for shape, (cols, clauses) in shapes.items():
            for name, write in writers.items():
                path = str(tmp_path / f"{name}-{shape}-{order}.parquet")
                layout = "partitioned" if name == "upsert_partitioned" else "plain"
                shutil.copytree(str(tmp_path / layout), path)
                write(batch, path, cols, clauses)
                got = spark.read.parquet(path).select("k", "v", "q", "p").collect()
                assert len(got) == len(expected[shape]), (name, shape, order)
                assert {r["k"]: (r["v"], r["q"], r["p"]) for r in got} == expected[
                    shape
                ], (name, shape, order)


def test_writers_cast_the_batch_to_the_table_types(spark, tmp_path):
    """A batch column wider than the table's is cast to the table's
    type by every keyed writer, for the rows it updates and the rows
    it inserts alike: a timestamp into a date column lands as its
    date, and the column stays a date in every file."""
    import datetime as dt

    from pyspark.sql.types import DateType

    day0 = dt.date(2024, 1, 1)
    base = [(k, day0 + dt.timedelta(days=k), k % 3) for k in range(12)]
    table = spark.createDataFrame(base, "k long, d date, p long")
    table.repartitionByRange(2, "k").write.parquet(str(tmp_path / "plain"))
    table.write.partitionBy("p").parquet(str(tmp_path / "partitioned"))
    batch = spark.createDataFrame(
        [(3, dt.datetime(2024, 6, 1, 12), 0), (100, dt.datetime(2024, 7, 1, 12), 1)],
        "k long, d timestamp, p long",
    )
    expected = {
        **{k: d for k, d, _ in base},
        3: dt.date(2024, 6, 1),
        100: dt.date(2024, 7, 1),
    }
    shapes = {
        "all": (None, {}),
        "subset": (["d"], {"update_set": {"d": F.col("s.d")}}),
    }
    for name, write in _keyed_writers(spark).items():
        for shape, (cols, clauses) in shapes.items():
            path = str(tmp_path / f"{name}-{shape}.parquet")
            layout = "partitioned" if name == "upsert_partitioned" else "plain"
            shutil.copytree(str(tmp_path / layout), path)
            write(batch, path, cols, clauses)
            got = spark.read.parquet(path)
            assert got.schema["d"].dataType == DateType(), (name, shape)
            assert {r["k"]: r["d"] for r in got.collect()} == expected, (name, shape)


def test_merge_shapes_scan_and_join_the_target_once_or_twice(spark, tmp_path):
    """Target scans and joins in the executed plans of one keyed
    write, per shape (the batch is a local frame, so every parquet
    scan is a target scan). SET * is the target rows the batch does
    not match plus the batch: one scan, one anti-join. DO NOTHING is
    the target plus the batch rows it does not hold: two scans, one
    anti-join (Spark drops the general plan's left join, which no
    output column reads and whose batch side is unique on the key).
    A subset update and a conditional MERGE left-join the
    target to the batch once and anti-join it once for the inserts:
    two scans, two joins. (The CoW pruning step's range join against
    the footer manifest is a nested-loop join on a local frame, so it
    counts as neither.)"""
    from prisma_migrator_spark.writers.merge import merge_into

    table = _df(spark, [{"k": k, "v": f"v{k}", "q": k} for k in range(2_000)])
    table.repartitionByRange(4, "k").write.parquet(str(tmp_path / "base"))
    batch = _df(spark, [{"k": k, "v": "b", "q": 0} for k in range(1_980, 2_020)])
    shapes = {
        "full update": ((1, 1), lambda p: upsert_parquet(spark, batch, p, ["k"])),
        "do nothing": (
            (2, 1),
            lambda p: upsert_parquet(spark, batch, p, ["k"], update_cols=[]),
        ),
        "subset update": (
            (2, 2),
            lambda p: upsert_parquet(spark, batch, p, ["k"], update_cols=["v"]),
        ),
        "conditional merge_into": (
            (2, 2),
            lambda p: merge_into(
                spark, p, batch, ["k"],
                when_matched_update=F.col("s.q") < F.col("t.q"),
            ),
        ),
    }
    for shape, (counts, write) in shapes.items():
        path = str(tmp_path / shape.replace(" ", "_"))
        shutil.copytree(str(tmp_path / "base"), path)
        before = set(_executions(spark))
        write(path)
        new = [e for i, e in _executions(spark).items() if i not in before]
        got = tuple(
            sum(_plan_nodes(e.physicalPlanDescription(), node) for e in new)
            for node in (_SCAN, _JOIN)
        )
        assert got == counts, (shape, got)
        assert spark.read.parquet(path).count() == 2_020, shape


def test_delete_keys_cow_rewrites_only_holding_files(spark, tmp_path):
    from prisma_migrator_spark.writers.upsert import delete_keys_cow

    path = str(tmp_path / "del.parquet")
    _cow_table(spark, path)
    before = _file_bytes(path)

    # keys 5 and 7 live in the first range file; 9999 never existed
    doomed = _df(spark, [{"k": 5}, {"k": 7}, {"k": 9999}])
    rep = delete_keys_cow(spark, doomed, path, ["k"])
    assert rep["mode"] == "delete"
    assert rep["files_total"] == 4
    assert rep["files_rewritten"] == 1
    assert rep["files_kept"] == 3

    got = {r["k"] for r in spark.read.parquet(path).collect()}
    assert len(got) == 398
    assert 5 not in got and 7 not in got
    assert 0 in got and 399 in got

    # every kept file is BYTE-identical to its pre-delete self
    after = _file_bytes(path)
    kept = [b for b in after if b in before]
    assert len(kept) == 3
    for b in kept:
        assert after[b] == before[b]

    # idempotent in content (the surviving file's 0..99 range still
    # covers keys 5/7, so it conservatively rewrites — stats prove
    # possible presence, never absence)
    rep2 = delete_keys_cow(spark, doomed, path, ["k"])
    assert rep2["files_rewritten"] == 1
    assert {r["k"] for r in spark.read.parquet(path).collect()} == got

    # keys beyond every file's range prune to a zero-IO noop
    rep3 = delete_keys_cow(spark, _df(spark, [{"k": 5000}]), path, ["k"])
    assert rep3["mode"] == "noop" and rep3["files_rewritten"] == 0


def test_delete_keys_cow_composite_key(spark, tmp_path):
    from prisma_migrator_spark.writers.upsert import delete_keys_cow

    path = str(tmp_path / "del2.parquet")
    rows = [{"k": i, "sub": s, "v": f"v{i}-{s}"} for i in range(20) for s in ("a", "b")]
    _df(spark, rows).repartitionByRange(2, "k").write.mode("overwrite").parquet(path)

    # delete only (3, 'a'): (3, 'b') must survive the rewrite
    delete_keys_cow(spark, _df(spark, [{"k": 3, "sub": "a"}]), path, ["k", "sub"])
    got = {(r["k"], r["sub"]) for r in spark.read.parquet(path).collect()}
    assert (3, "a") not in got and (3, "b") in got
    assert len(got) == 39


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.writers.bucketed import write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "t_li_bucketed", ["l_orderkey"], num_buckets=8)
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "t_ord_bucketed",
        ["l_orderkey"],
        num_buckets=8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_li_bucketed").join(
            spark.table("t_ord_bucketed"), "l_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        # and it computes the right thing
        n = joined.count()
        exp = li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
        assert n == exp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_ord_bucketed")


def test_csv_report(spark, tmp_path):
    from prisma_migrator_spark.functions.pg_compat import hyperlink
    from prisma_migrator_spark.sources.csv_report import write_csv_report

    df = _df(spark, [{"k": 1, "v": 'say "hi"'}]).select(
        "k", hyperlink(F.lit("https://x.example/1"), F.col("v")).alias("link")
    )
    path = write_csv_report(df, str(tmp_path / "report.csv"))
    text = open(path).read()
    # exact formula-escaping semantics are oracle-checked by the
    # hyperlink_report query; here assert the single-file sink shape
    assert os.path.isfile(path)
    assert text.splitlines()[0] == '"k","link"'
    assert "=HYPERLINK(" in text and "x.example/1" in text


def test_write_jsonl_shards_balanced_and_lossless(spark, sf_dir, tmp_path):
    """JSONL shard export: round-trips every row and column, shards
    are token-balanced within one document of the target, and the
    layout is one hive partition dir per shard."""
    import os

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.text import token_count
    from prisma_migrator_spark.writers.export import write_jsonl_shards

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", token_count(F.col("text")).alias("n_tokens")
    )
    path = str(tmp_path / "shards")
    n_shards = write_jsonl_shards(docs, path, tokens_per_shard=2_000)
    back = spark.read.json(path)
    assert back.count() == docs.count()
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    # every shard within target + one max-doc slack
    per_shard = (
        back.groupBy("shard_id").agg(F.sum("n_tokens").alias("tok")).collect()
    )
    max_doc = docs.agg(F.max("n_tokens")).collect()[0][0]
    assert n_shards == len(per_shard)
    for r in per_shard:
        assert r["tok"] <= 2_000 + max_doc
    assert any(
        d.startswith("shard_id=") for d in os.listdir(path)
    )


def test_read_jsonl_roundtrip_and_corrupt_quarantine(spark, sf_dir, tmp_path):
    """The JSONL reader closes the loop with the JSONL writer: a
    shard export reads back losslessly through the declared schema;
    corrupt lines (truncated JSON, binary junk) land in the
    quarantine frame with their source file, never fail the job, and
    never leak into the good frame; blank lines are dropped; an
    object missing a declared field parses with that field NULL
    (producer-side schema evolution doesn't break the reader)."""
    import os

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.llm.text import token_count
    from prisma_migrator_spark.sources.jsonl import read_jsonl
    from prisma_migrator_spark.writers.export import write_jsonl_shards

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", token_count(F.col("text")).alias("n_tokens")
    )
    path = str(tmp_path / "shards")
    write_jsonl_shards(docs, path, tokens_per_shard=2_000)
    # inject damage into one shard dir: truncated JSON, junk, a blank
    # line, and a schema-evolved object (missing n_tokens, extra col)
    shard0 = os.path.join(
        path, next(d for d in os.listdir(path) if d.startswith("shard_id="))
    )
    with open(os.path.join(shard0, "damaged.json"), "w") as f:
        f.write('{"doc_id": 99991, "text": "tru\n')
        f.write("not json at all\n")
        f.write("\n")
        f.write('{"doc_id": 99990, "text": "evolved", "new_col": 1}\n')

    good, bad = read_jsonl(
        spark, path, "doc_id bigint, text string, n_tokens int"
    )
    n = docs.count()
    assert good.count() == n + 1  # originals + the evolved object
    evolved = good.where(F.col("doc_id") == 99990).collect()
    assert len(evolved) == 1 and evolved[0]["n_tokens"] is None
    assert {
        r["doc_id"] for r in good.where(F.col("doc_id") < 99990).collect()
    } == {r["doc_id"] for r in docs.collect()}
    quarantined = bad.collect()
    assert len(quarantined) == 2  # truncated + junk; blank dropped
    assert all(r["source_file"].endswith("damaged.json") for r in quarantined)
    assert {r["corrupt_line"] for r in quarantined} == {
        '{"doc_id": 99991, "text": "tru',
        "not json at all",
    }


def test_write_jsonl_sized_file_count(spark, sf_dir, tmp_path):
    """Size-targeted JSONL: file count tracks serialized bytes /
    target, and the export round-trips."""
    import glob

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.writers.export import write_jsonl_sized

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "sized")
    n = write_jsonl_sized(docs, path, target_bytes=64 * 1024)
    files = glob.glob(f"{path}/part-*.json")
    assert len(files) == n and n >= 2
    assert spark.read.json(path).count() == docs.count()


def test_prisma_schema_parse_models_enums_relations(tmp_path):
    """DSL → StructType: scalars map, enums become strings, relation
    fields are dropped, ? controls nullability, [] wraps arrays, and
    model order is preserved for the migration loop."""
    from pyspark.sql import types as T

    from prisma_migrator_spark.sources.prisma_schema import (
        list_models,
        load_schema,
        parse_prisma_schema,
    )

    schema_text = """
    datasource db {
      provider = "postgresql"
      url      = env("DATABASE_URL")
    }
    generator client { provider = "prisma-client-js" }

    enum Plan {
      FREE
      PAID
    }

    model Developer {
      handle    String   @id
      name      String?
      createdAt DateTime @default(now())
      apps      App[]    // relation list -> skipped
    }

    model App {
      id         Int      @id @default(autoincrement())
      handle     String   @unique
      rating     Float?
      reviews    BigInt
      plan       Plan
      tags       String[]
      payload    Json?
      developer  Developer @relation(fields: [devHandle], references: [handle])
      devHandle  String
    }
    """
    p = tmp_path / "schema.prisma"
    p.write_text(schema_text)
    text = load_schema(str(p))
    assert list_models(text) == ["Developer", "App"]
    schemas = parse_prisma_schema(text)
    dev = schemas["Developer"]
    assert [f.name for f in dev.fields] == ["handle", "name", "createdAt"]
    assert dev["handle"].dataType == T.StringType()
    assert not dev["handle"].nullable and dev["name"].nullable
    app = schemas["App"]
    names = [f.name for f in app.fields]
    assert "developer" not in names and "apps" not in names
    assert "devHandle" in names  # the FK scalar column IS stored
    assert app["plan"].dataType == T.StringType()  # enum -> string
    assert app["reviews"].dataType == T.LongType()
    assert app["tags"].dataType == T.ArrayType(T.StringType(), False)
    assert app["rating"].nullable and not app["reviews"].nullable


def test_prisma_schema_load_error():
    import pytest

    from prisma_migrator_spark.sources.prisma_schema import load_schema

    with pytest.raises(ValueError, match='Cannot read schema at'):
        load_schema("/nonexistent/schema.prisma")


def test_maintain_rollup_incremental_equals_recompute(spark, sf_dir, tmp_path):
    """Applying daily batches one at a time (with one batch
    re-delivered) produces exactly the full-recompute rollup: the
    ledger makes additive merge exactly-once, and the commit is
    atomic (data + ledger swap together)."""
    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.writers.rollup import (
        applied_batches,
        maintain_rollup,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        "value",
        F.lit(1).alias("n"),
    )
    days = sorted(r["day"] for r in ev.select("day").distinct().collect())
    path = str(tmp_path / "rollup.parquet")

    for day in days[:4]:
        batch = ev.where(F.col("day") == day)
        rep = maintain_rollup(
            spark, batch, path, ["user_id", "day"], ["n", "value"],
            batch_id=str(day),
        )
        assert rep["applied"]
        # the observed row count of the first write and of every
        # merge equals what reading the committed table back counts
        assert rep["rows"] == spark.read.parquet(path).count()
    rows = rep["rows"]

    # re-deliver day 2: must be a no-op
    rep = maintain_rollup(
        spark, ev.where(F.col("day") == days[1]), path,
        ["user_id", "day"], ["n", "value"], batch_id=str(days[1]),
    )
    assert not rep["applied"]
    assert applied_batches(path) == {str(d) for d in days[:4]}
    assert spark.read.parquet(path).count() == rows

    got = spark.read.parquet(path)
    exp = (
        ev.where(F.col("day").isin(days[:4]))
        .groupBy("user_id", "day")
        .agg(F.sum("n").alias("n"), F.sum("value").alias("value"))
    )
    assert got.count() == exp.count()
    diff = got.select("user_id", "day", "n", F.round("value", 6).alias("v")).exceptAll(
        exp.select("user_id", "day", "n", F.round("value", 6).alias("v"))
    )
    assert diff.count() == 0


def test_compact_small_files(spark, tmp_path):
    """Data identical after compaction, small tail folded into few
    files, large files carried over byte-identical, second run no-op."""
    import os

    from prisma_migrator_spark.writers.compact import compact_small_files

    table = str(tmp_path / "t")
    # 6 tiny files + 1 larger file
    spark.range(0, 300000).selectExpr(
        "id", "id * 2 AS v"
    ).repartition(1).write.parquet(table)
    big = [f for f in os.listdir(table) if f.endswith(".parquet")]
    assert len(big) == 1
    for i in range(6):
        spark.range(10000 + i * 10, 10000 + i * 10 + 10).selectExpr(
            "id", "id * 2 AS v"
        ).coalesce(1).write.mode("append").parquet(table)
    files0 = sorted(f for f in os.listdir(table) if f.endswith(".parquet"))
    assert len(files0) == 7
    big_file = max(files0, key=lambda f: os.path.getsize(os.path.join(table, f)))
    big_bytes = open(os.path.join(table, big_file), "rb").read()
    before = sorted(map(tuple, spark.read.parquet(table).collect()))

    rep = compact_small_files(spark, table, target_bytes=1 << 19, min_fill=0.5)
    assert rep["files_compacted"] == 6
    files1 = sorted(f for f in os.listdir(table) if f.endswith(".parquet"))
    assert len(files1) == 2  # big + one compacted
    assert big_file in files1
    assert open(os.path.join(table, big_file), "rb").read() == big_bytes
    assert sorted(map(tuple, spark.read.parquet(table).collect())) == before

    rep2 = compact_small_files(spark, table, target_bytes=1 << 19, min_fill=0.5)
    assert rep2["files_compacted"] == 0
    assert sorted(
        f for f in os.listdir(table) if f.endswith(".parquet")
    ) == files1


def test_read_webdataset_distributed_roundtrip_and_quarantine(
    spark, sf_dir, tmp_path
):
    """The DISTRIBUTED WebDataset reader closes the loop with the tar
    writer: every exported sample comes back (text payload intact,
    companion .json present, key = doc_id), a corrupt tar lands in
    the quarantine frame without failing the job or touching good
    shards, and first-dot key/ext splitting groups companions."""
    import os

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.sources.webdataset import read_webdataset
    from prisma_migrator_spark.writers.export import write_webdataset_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "wds")
    write_webdataset_shards(docs, path, samples_per_shard=100)
    with open(os.path.join(path, "shard-99999.tar"), "wb") as f:
        f.write(b"definitely not a tar archive")

    samples, bad = read_webdataset(spark, path)
    txt = samples.where(F.col("ext") == "txt").select(
        F.col("key").cast("long").alias("doc_id"),
        F.decode("payload", "utf-8").alias("text"),
    )
    n = docs.count()
    assert txt.count() == n
    assert txt.exceptAll(docs.select("doc_id", F.coalesce("text", F.lit("")).alias("text"))).count() == 0
    # every sample has its .json companion under the same key
    per_key = samples.groupBy("key").agg(
        F.sort_array(F.collect_list("ext")).alias("exts")
    )
    assert per_key.where(F.col("exts") != F.array(F.lit("json"), F.lit("txt"))).count() == 0
    q = bad.collect()
    assert len(q) == 1 and q[0]["shard"].endswith("shard-99999.tar")
    assert "ReadError" in q[0]["error"] or "Error" in q[0]["error"]


def test_webdataset_shards_roundtrip(spark, sf_dir, tmp_path):
    """Every doc lands in exactly one shard, tar contents match the
    source text/meta, manifest agrees with the files on disk."""
    import json
    import os
    import tarfile

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.writers.export import write_webdataset_shards

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    out = str(tmp_path / "wds")
    manifest = write_webdataset_shards(
        docs, out, samples_per_shard=40, meta_cols=("lang", "source")
    ).collect()
    src = {r.doc_id: (r.text, r.lang, r.source) for r in docs.collect()}

    seen = {}
    total_bytes = {}
    for m in manifest:
        assert os.path.basename(m.path) == f"shard-{m.shard_id:05d}.tar"
        with tarfile.open(m.path) as tar:
            names = tar.getnames()
            bytes_in_tar = 0
            for n in names:
                payload = tar.extractfile(n).read()
                bytes_in_tar += len(payload)
                key, ext = n.rsplit(".", 1)
                if ext == "txt":
                    assert key not in seen
                    seen[int(key)] = payload.decode("utf-8")
                else:
                    meta = json.loads(payload)
                    assert meta["lang"] == src[int(key)][1]
        total_bytes[m.shard_id] = bytes_in_tar
        assert m.data_bytes == bytes_in_tar
    assert set(seen) == set(src)
    for k, text in seen.items():
        assert text == (src[k][0] or "")
    # shard count ~ n / samples_per_shard
    assert len(manifest) == max(1, -(-len(src) // 40))


def test_webdataset_reexport_removes_stale_shards(spark, sf_dir, tmp_path):
    """Re-exporting into the same path with a different shard count
    must atomically replace the directory: a dataloader globbing
    shard-*.tar must never see shards from the previous export (or
    leftover .tmp files)."""
    import os

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.writers.export import write_webdataset_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "wds")
    first = write_webdataset_shards(docs, out, samples_per_shard=25).collect()
    assert len(first) > 2
    second = write_webdataset_shards(
        docs.limit(30), out, samples_per_shard=1000
    ).collect()
    assert len(second) == 1
    on_disk = sorted(os.listdir(out))
    assert on_disk == ["shard-00000.tar"], on_disk  # no stale tars/tmp
    # and no staging directories left beside the target
    siblings = [p for p in os.listdir(tmp_path) if p.startswith("wds.")]
    assert siblings == [], siblings


def test_read_arrow_shards_distributed_roundtrip_and_quarantine(
    spark, sf_dir, tmp_path
):
    """The DISTRIBUTED Arrow-shard reader closes the loop with the
    Feather-v2 writer: all rows and columns come back with shard
    provenance attached, and an injected unreadable shard quarantines
    as (shard, error) without failing the job."""
    import os

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.sources.arrow_shards import read_arrow_shards
    from prisma_migrator_spark.writers.export import write_arrow_shards

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    out = str(tmp_path / "arrow")
    write_arrow_shards(docs, out, samples_per_shard=100)
    with open(os.path.join(out, "shard-99999.arrow"), "wb") as f:
        f.write(b"not an arrow file")

    rows, bad = read_arrow_shards(
        spark, out, "doc_id bigint, text string, lang string, source string"
    )
    assert rows.count() == docs.count()
    assert rows.select("doc_id", "text", "lang", "source").exceptAll(
        docs
    ).count() == 0
    assert rows.where(~F.col("shard").rlike("shard-\\d{5}\\.arrow")).count() == 0
    q = bad.collect()
    assert len(q) == 1 and q[0]["shard"].endswith("shard-99999.arrow")


def test_arrow_shards_roundtrip_and_byte_stable(spark, sf_dir, tmp_path):
    """Every row comes back through pyarrow exactly once, shard files
    are mmap-able uncompressed Feather v2, the manifest matches the
    on-disk reality, and a re-export is byte-identical."""
    import os

    import pyarrow.feather as feather

    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.writers.export import write_arrow_shards

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    out = str(tmp_path / "arrow")
    manifest = {r["shard_id"]: r for r in
                write_arrow_shards(docs, out, samples_per_shard=100).collect()}

    expected = {r["doc_id"]: r for r in docs.collect()}
    got = {}
    for sid, m in manifest.items():
        t = feather.read_table(m["path"])
        assert m["n_samples"] == t.num_rows
        assert m["n_bytes"] == os.path.getsize(m["path"])
        ids = t.column("doc_id").to_pylist()
        assert ids == sorted(ids)  # byte-stable ordering
        for row in t.to_pylist():
            got[row["doc_id"]] = row
    assert set(got) == set(expected)
    for i, e in expected.items():
        assert got[i]["text"] == e["text"] and got[i]["lang"] == e["lang"]

    before = {f: open(os.path.join(out, f), "rb").read()
              for f in sorted(os.listdir(out))}
    write_arrow_shards(docs, out, samples_per_shard=100).collect()
    after = {f: open(os.path.join(out, f), "rb").read()
             for f in sorted(os.listdir(out))}
    assert before == after


def test_read_jsonl_null_literal_and_reserved_field(spark, tmp_path):
    """ADVICE r8 pins: (1) a non-blank line whose JSON is the literal
    ``null`` parses to a NULL struct and must QUARANTINE, not drop —
    every non-parseable non-blank line quarantines; (2) a producer
    object that legitimately contains a ``_corrupt_record`` field is
    a parseable record and must land in GOOD with the field ignored
    (the reader's in-struct corrupt marker is collision-safe)."""
    import os

    from prisma_migrator_spark.sources.jsonl import read_jsonl

    path = str(tmp_path / "jl")
    os.makedirs(path)
    with open(os.path.join(path, "part0.jsonl"), "w") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n')
        f.write("null\n")
        f.write("   \n")
        f.write('{"doc_id": 2, "text": "ok2", "_corrupt_record": "x"}\n')

    good, bad = read_jsonl(spark, path, "doc_id bigint, text string")
    assert {r["doc_id"] for r in good.collect()} == {1, 2}
    q = bad.collect()
    assert len(q) == 1 and q[0]["corrupt_line"] == "null"


def test_read_webdataset_directory_structured_keys(spark, tmp_path):
    """ADVICE r8 pin: external WebDataset tars with directory-
    structured members split key/ext at the BASENAME's first dot —
    ``train/000123.txt`` is key ``train/000123`` / ext ``txt``, and a
    dotted directory (``v1.2/007.seg.png``) neither truncates the key
    nor corrupts companion grouping."""
    import io
    import os
    import tarfile

    from prisma_migrator_spark.sources.webdataset import read_webdataset

    path = str(tmp_path / "wds")
    os.makedirs(path)
    with tarfile.open(os.path.join(path, "shard-00000.tar"), "w") as tar:
        for name, payload in [
            ("train/000123.txt", b"hello"),
            ("train/000123.json", b"{}"),
            ("v1.2/007.seg.png", b"fakepng"),
            ("v1.2/007.txt", b"caption"),
        ]:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            tar.addfile(info, io.BytesIO(payload))

    samples, bad = read_webdataset(spark, path)
    assert bad.count() == 0
    got = {(r["key"], r["ext"]) for r in samples.collect()}
    assert got == {
        ("train/000123", "txt"),
        ("train/000123", "json"),
        ("v1.2/007", "seg.png"),
        ("v1.2/007", "txt"),
    }
    # companions group on the full-prefix key
    per_key = {
        r["key"]: sorted(r["exts"])
        for r in samples.groupBy("key")
        .agg(F.collect_list("ext").alias("exts"))
        .collect()
    }
    assert per_key["train/000123"] == ["json", "txt"]
    assert per_key["v1.2/007"] == ["seg.png", "txt"]


def test_read_arrow_shards_decimal_schema(spark, tmp_path):
    """VERDICT r8 item 6 pin: a parameterized DDL type whose spelling
    contains commas (decimal(10,2)) round-trips — column names come
    from StructType.fromDDL, not a naive comma split."""
    import decimal
    import os

    import pyarrow as pa
    import pyarrow.feather as feather

    from prisma_migrator_spark.sources.arrow_shards import read_arrow_shards

    path = str(tmp_path / "arrow")
    os.makedirs(path)
    table = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "amount": pa.array(
                [decimal.Decimal("12.34"), decimal.Decimal("0.05")],
                pa.decimal128(10, 2),
            ),
        }
    )
    feather.write_feather(
        table, os.path.join(path, "shard-00000.arrow"), compression="uncompressed"
    )

    rows, bad = read_arrow_shards(
        spark, path, "doc_id bigint, amount decimal(10,2)"
    )
    assert bad.count() == 0
    got = {(r["doc_id"], str(r["amount"])) for r in rows.collect()}
    assert got == {(1, "12.34"), (2, "0.05")}


def test_read_arrow_shards_missing_column_fails_fast(spark, tmp_path):
    """ADVICE r8 pin: a READABLE shard missing a declared column is a
    reader schema/config error and must FAIL the job — not quarantine
    every shard and silently empty the rows frame."""
    import os

    import pyarrow as pa
    import pyarrow.feather as feather
    import pytest

    from prisma_migrator_spark.sources.arrow_shards import read_arrow_shards

    path = str(tmp_path / "arrow")
    os.makedirs(path)
    feather.write_feather(
        pa.table({"doc_id": pa.array([1], pa.int64())}),
        os.path.join(path, "shard-00000.arrow"),
        compression="uncompressed",
    )
    rows, bad = read_arrow_shards(spark, path, "doc_id bigint, nope string")
    with pytest.raises(Exception, match="schema/config"):
        rows.count()
