"""Operator-level properties not visible through the oracle queries."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from prisma_migrator_spark.catalog import load_table
from prisma_migrator_spark.operators.aggregates import (
    distinct_pair_agg,
    salted_distinct_pair_agg,
)
from prisma_migrator_spark.operators.dedup import latest_per_key


def test_salted_distinct_agg_matches_unsalted(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = distinct_pair_agg(li, ["l_suppkey"], ["l_returnflag", "l_linestatus"])
    salted = salted_distinct_pair_agg(
        li, ["l_suppkey"], ["l_returnflag", "l_linestatus"], n_salt=8
    )
    a = {r.l_suppkey: r.pairs for r in plain.collect()}
    b = {r.l_suppkey: r.pairs for r in salted.collect()}
    assert a == b


def test_latest_per_key_map_fallback(spark):
    # a MapType payload is not orderable -> window fallback must kick in
    df = spark.createDataFrame(
        [
            Row(k=1, ts=1, m={"a": 1}),
            Row(k=1, ts=2, m={"b": 2}),
            Row(k=2, ts=5, m={"c": 3}),
        ]
    )
    out = latest_per_key(df, ["k"], "ts")
    got = {r.k: (r.ts, dict(r.m)) for r in out.collect()}
    assert got == {1: (2, {"b": 2}), 2: (5, {"c": 3})}


def test_flagship_plan_quality_regression(spark, sf_dir):
    """Pin the physical-plan properties the 100 TB stance depends on:
    column pruning reaches the scans, dims broadcast, and the fact
    table is never window-sorted."""
    import re

    from prisma_migrator_spark.plans import QUERIES

    prev = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    try:
        df = QUERIES["flagship_popularity"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.debug.maxToStringFields", prev)
    # pruning: no lineitem scan reads all 16 columns
    for cols in re.findall(r"ReadSchema: struct<([^>\n]*)>", plan):
        names = [c.split(":")[0] for c in cols.split(",") if ":" in c]
        if any(n.startswith("l_") for n in names):
            assert len(names) <= 7, f"lineitem scan too wide: {names}"
    # dims broadcast, fact never window-sorted
    assert "BroadcastHashJoin" in plan
    assert "WindowExec" not in plan and "Window " not in plan
    # fact-table shuffles come in exactly three key shapes — the pair
    # agg (suppkey, partkey), its partkey re-agg, and the tiny
    # category-size agg (suppkey); anything new = a regression
    shapes = set()
    for line in plan.splitlines():
        m = re.search(r"Exchange hashpartitioning\(([^)]*)\)", line)
        if m and "l_" in m.group(1):
            keys = tuple(
                sorted(re.findall(r"(l_\w+?)#", m.group(1)))
            )
            shapes.add(keys)
    assert shapes <= {
        ("l_partkey", "l_suppkey"),
        ("l_partkey",),
        ("l_suppkey",),
    }, shapes


def test_asof_join_interleaved(spark):
    from prisma_migrator_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [
            Row(k=1, t=5, name="e1"),   # after r@3 -> 30
            Row(k=1, t=10, name="e2"),  # after r@10 (== boundary) -> 100
            Row(k=1, t=2, name="e3"),   # before any right -> null
            Row(k=2, t=7, name="e4"),   # k=2 has no right rows -> null
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, rt=3, v=30),
            Row(k=1, rt=10, v=100),
            Row(k=1, rt=10, v=99),  # tie on rt -> tiebreaker max v wins
            Row(k=1, rt=20, v=200),  # in the future, never matched
        ]
    )
    out = asof_join(
        left, right, on=["k"], left_ts="t", right_ts="rt",
        payload=["v"], right_tiebreakers=["v"],
    )
    got = {r.name: r.v for r in out.collect()}
    assert got == {"e1": 30, "e2": 100, "e3": None, "e4": None}


def test_asof_join_dedup_right_identical(spark):
    """`dedup_right=True` (VERDICT r9 item 6) pre-collapses duplicate
    right rows before the union shuffle; the result must be IDENTICAL
    to the default single-shuffle path, including the (key, ts)
    duplicate case where the max-(tiebreaker, payload) row wins."""
    from prisma_migrator_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [
            Row(k=1, t=5, name="e1"),
            Row(k=1, t=10, name="e2"),
            Row(k=1, t=2, name="e3"),
            Row(k=2, t=7, name="e4"),
        ]
    )
    # duplicate-heavy right side: repeated (k, rt) rows with ties on
    # the tiebreaker broken by the payload struct
    right = spark.createDataFrame(
        [
            Row(k=1, rt=3, v=30, u="a"),
            Row(k=1, rt=3, v=30, u="z"),   # tb tie -> payload max "z"
            Row(k=1, rt=3, v=29, u="q"),   # loses on tb
            Row(k=1, rt=10, v=100, u="b"),
            Row(k=1, rt=10, v=99, u="c"),
            Row(k=1, rt=20, v=200, u="d"),
        ]
    )
    kw = dict(
        on=["k"], left_ts="t", right_ts="rt",
        payload=["v", "u"], right_tiebreakers=["v"],
    )
    base = asof_join(left, right, **kw)
    dedup = asof_join(left, right, dedup_right=True, **kw)
    key = lambda r: (r.k, r.t, r.name)  # noqa: E731
    assert sorted(base.collect(), key=key) == sorted(
        dedup.collect(), key=key
    )
    got = {r.name: (r.v, r.u) for r in dedup.collect()}
    assert got == {
        "e1": (30, "z"),
        "e2": (100, "b"),
        "e3": (None, None),
        "e4": (None, None),
    }


def test_latest_per_key_null_order_key_loses(spark):
    df = spark.createDataFrame(
        [Row(k=1, ts=None, v="null-ts"), Row(k=1, ts=3, v="real")],
        "k int, ts int, v string",
    )
    out = latest_per_key(df, ["k"], "ts")
    assert out.collect()[0].v == "real"


def test_ntz_parquet_normalized_timezone_independent(spark, tmp_path):
    """Parquet written with isAdjustedToUTC=false (Spark 4 infers
    TIMESTAMP_NTZ) must load as a plain TIMESTAMP whose instant equals
    the wall clock read as UTC — under ANY session timezone. This is
    the round-2 regression class: unix_micros() and time windows
    reject NTZ, and a bare cast shifts values in non-UTC sessions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ntz.parquet")
    ts_type = pa.timestamp("us")  # no tz => isAdjustedToUTC=false
    wall_us = 1_704_067_798_778_549  # 2024-01-01T00:09:58.778549 (naive)
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()),
                  "ts": pa.array([wall_us], ts_type)}),
        path,
    )
    from prisma_migrator_spark.catalog import read_parquet

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            df = read_parquet(spark, path)
            assert dict(df.dtypes)["ts"] == "timestamp", tz
            got = df.select(F.unix_micros("ts").alias("us")).collect()[0]["us"]
            assert got == wall_us, (tz, got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_read_parquet_memo_hits_until_nested_member_rewritten(spark, tmp_path):
    """The catalog memos the report path leans on: an unchanged
    directory table returns the same handle, and ``ensure_parallelism``
    of that handle the same frame, so repeated loads skip schema
    inference and the partition probe. Rewriting a file inside a
    nested ``k=v/`` subdirectory must miss the memo (the signature
    walks the whole tree), and the new handle must see the rewrite."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from prisma_migrator_spark.catalog import ensure_parallelism, read_parquet

    table = tmp_path / "t.parquet"
    (table / "k=1").mkdir(parents=True)
    member = str(table / "k=1" / "part-0.parquet")
    pq.write_table(pa.table({"id": pa.array(range(3), pa.int64())}), member)

    first = read_parquet(spark, str(table))
    assert read_parquet(spark, str(table)) is first
    assert ensure_parallelism(first) is ensure_parallelism(first)
    assert first.count() == 3

    pq.write_table(pa.table({"id": pa.array(range(5), pa.int64())}), member)
    fresh = read_parquet(spark, str(table))
    assert fresh is not first
    assert fresh.count() == 5


def test_bucketed_interval_join_constructed(spark):
    """Half-open [start, end) semantics, multi-bucket interval
    replication, keyless operation, and exactly-once pair emission
    (no dedup pass exists to hide double-matches)."""
    from pyspark.sql import Row

    from prisma_migrator_spark.operators.joins import bucketed_interval_join

    points = spark.createDataFrame(
        [
            Row(pid=1, t=5),    # inside iv A only
            Row(pid=2, t=10),   # == A.end (excluded), == B.start (included)
            Row(pid=3, t=25),   # inside B (B spans buckets 0..2)
            Row(pid=4, t=99),   # no interval
            Row(pid=5, t=0),    # == A.start (included)
        ]
    )
    ivs = spark.createDataFrame(
        [Row(iv="A", s=0, e=10), Row(iv="B", s=10, e=30)]
    )
    got = sorted(
        (r.pid, r.iv)
        for r in bucketed_interval_join(
            points, ivs, "t", "s", "e", bucket_width=10
        ).collect()
    )
    assert got == [(1, "A"), (2, "B"), (3, "B"), (5, "A")]

    # overlapping intervals: a point in both matches both, once each
    ivs2 = spark.createDataFrame(
        [Row(iv="X", s=0, e=40), Row(iv="Y", s=20, e=30)]
    )
    got2 = sorted(
        (r.pid, r.iv)
        for r in bucketed_interval_join(
            points, ivs2, "t", "s", "e", bucket_width=7  # width ∤ bounds
        ).collect()
    )
    assert got2 == [(1, "X"), (2, "X"), (3, "X"), (3, "Y"), (5, "X")]


def test_salted_join_matches_plain(spark, sf_dir):
    """Salted equi join must be row-for-row identical to the plain
    join — inner and left, full-salt and hot-key-only forms."""
    from prisma_migrator_spark.catalog import load_table
    from prisma_migrator_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = sorted(map(tuple, li.join(orders, "l_orderkey").collect()))
    for kwargs in (
        {},
        {"n_salt": 7},
        {"hot_keys": [r.l_orderkey for r in orders.limit(3).collect()]},
    ):
        got = sorted(
            map(tuple, salted_join(li, orders, ["l_orderkey"], **kwargs).collect())
        )
        assert got == plain, kwargs
    # left join keeps unmatched left rows exactly once
    some = orders.where(F.col("l_orderkey") % 3 == 0)
    plain_l = sorted(
        map(tuple, li.join(some, "l_orderkey", "left").collect())
    )
    got_l = sorted(
        map(
            tuple,
            salted_join(li, some, ["l_orderkey"], how="left").collect(),
        )
    )
    assert got_l == plain_l


def test_bucketed_interval_join_randomized_cross_check(spark):
    """Seeded random points/intervals, three bucket widths, vs the
    brute-force range join — the decomposition must be exact for
    arbitrary alignment of interval bounds to bucket edges."""
    import hashlib

    from pyspark.sql import Row

    from prisma_migrator_spark.operators.joins import bucketed_interval_join

    def h(seed, mod):
        return int.from_bytes(hashlib.md5(str(seed).encode()).digest()[:4], "big") % mod

    points = spark.createDataFrame(
        [Row(pid=i, t=h(f"p{i}", 10_000)) for i in range(300)]
    )
    ivs = spark.createDataFrame(
        [
            Row(iv=i, s=(s := h(f"s{i}", 9_000)), e=s + 1 + h(f"l{i}", 2_500))
            for i in range(80)
        ]
    )
    brute = sorted(
        (r.pid, r.iv)
        for r in points.crossJoin(ivs)
        .where((F.col("t") >= F.col("s")) & (F.col("t") < F.col("e")))
        .collect()
    )
    assert brute, "degenerate fixture: no matches at all"
    for width in (1, 97, 1024, 5000):
        got = sorted(
            (r.pid, r.iv)
            for r in bucketed_interval_join(
                points, ivs, "t", "s", "e", bucket_width=width
            ).collect()
        )
        assert got == brute, f"width={width}"


def test_bulk_literals_bit_identical_to_f_lit(spark):
    """operators.literals builds array literals with ONE parsed
    expression instead of a py4j round trip per element (§1.2); the
    values must be BIT-identical to the F.lit form — repr round-trips
    doubles and Spark's parser is correctly rounded, pinned here over
    awkward values (subnormals, -0.0, exponents, quote/backslash
    strings) and over NaN and ±inf, which ``repr`` spells in a form
    the parser rejects."""
    import math
    import struct

    from pyspark.sql import functions as F

    from prisma_migrator_spark.operators.literals import (
        double_array,
        double_matrix,
        string_array,
    )

    vals = [
        0.0, -0.0, 1e-12, 1.0 - 1e-12, -1.8356827628043464,
        3.7352964113127336, 5e-324, 1.7976931348623157e308,
        -2.2250738585072014e-308, 0.1 + 0.2, 1e16 + 1.0, -7.5e-5,
        math.nan, math.inf, -math.inf, 0.1,
    ]
    one = spark.range(1)
    old = one.select(
        F.array(*[F.lit(float(v)) for v in vals]).alias("a")
    ).collect()[0]["a"]
    new = one.select(double_array(vals).alias("a")).collect()[0]["a"]
    assert [struct.pack("d", x) for x in old] == [
        struct.pack("d", x) for x in new
    ]

    rows = [vals[:4], vals[4:8], vals[8:]]
    old_m = one.select(
        F.array(
            *[F.array(*[F.lit(float(v)) for v in r]) for r in rows]
        ).alias("m")
    ).collect()[0]["m"]
    new_m = one.select(double_matrix(rows).alias("m")).collect()[0]["m"]
    assert [struct.pack("d", x) for r in old_m for x in r] == [
        struct.pack("d", x) for r in new_m for x in r
    ]

    strs = ["plain", "it's", 'back\\slash', "new\nline", "tab\there", "ünïcødé"]
    old_s = one.select(
        F.array(*[F.lit(s) for s in strs]).alias("s")
    ).collect()[0]["s"]
    new_s = one.select(string_array(strs).alias("s")).collect()[0]["s"]
    assert old_s == new_s == strs
