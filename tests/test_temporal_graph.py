"""Constructed-frame semantics tests for the round-4 operators
(temporal history, graph, profiling) — the oracle gate proves
fixture-level equality; these pin the EDGE semantics on inputs built
to hit them."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from prisma_migrator_spark.plans.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_scd2_intervals_chain_and_close(spark, tmp_path):
    """Per key: intervals chain exactly (valid_to == next valid_from),
    exactly one open (current) interval, ordering resolved by the
    pinned tiebreakers."""
    from prisma_migrator_spark.plans.temporal import scd2_part_history_q

    rows = [
        Row(l_partkey=1, l_shipdate=_ts("1995-01-01"), l_orderkey=1,
            l_linenumber=1, l_extendedprice=10.0),
        Row(l_partkey=1, l_shipdate=_ts("1995-02-01"), l_orderkey=2,
            l_linenumber=1, l_extendedprice=20.0),
        # same shipdate as above -> tiebreak on orderkey
        Row(l_partkey=1, l_shipdate=_ts("1995-02-01"), l_orderkey=3,
            l_linenumber=1, l_extendedprice=30.0),
        Row(l_partkey=2, l_shipdate=_ts("1995-01-15"), l_orderkey=4,
            l_linenumber=1, l_extendedprice=5.0),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/lineitem.parquet")
    out = scd2_part_history_q(spark, sf).orderBy("l_partkey", "valid_from_us").collect()

    k1 = [r for r in out if r.l_partkey == 1]
    assert [r.price for r in k1] == [10.0, 20.0, 30.0]
    # chain: each interval closes where the next opens
    assert k1[0].valid_to_us == k1[1].valid_from_us
    assert k1[1].valid_to_us == k1[2].valid_from_us
    assert [r.is_current for r in k1] == [False, False, True]
    k2 = [r for r in out if r.l_partkey == 2]
    assert len(k2) == 1 and k2[0].is_current and k2[0].valid_to_us is None


def test_ohlc_bar_semantics(spark, tmp_path):
    """Open = chronologically first price, close = last, high/low =
    extremes — independent of row order in the input."""
    from prisma_migrator_spark.plans.temporal import part_price_ohlc_monthly_q

    rows = [  # deliberately unordered
        Row(l_partkey=1, l_shipdate=_ts("1995-03-20"), l_orderkey=3,
            l_linenumber=1, l_extendedprice=7.0),   # last -> close
        Row(l_partkey=1, l_shipdate=_ts("1995-03-01"), l_orderkey=1,
            l_linenumber=1, l_extendedprice=5.0),   # first -> open
        Row(l_partkey=1, l_shipdate=_ts("1995-03-10"), l_orderkey=2,
            l_linenumber=1, l_extendedprice=99.0),  # high
        Row(l_partkey=1, l_shipdate=_ts("1995-03-15"), l_orderkey=2,
            l_linenumber=2, l_extendedprice=1.0),   # low
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/lineitem.parquet")
    bar = part_price_ohlc_monthly_q(spark, sf).collect()
    assert len(bar) == 1
    b = bar[0]
    assert (b.open, b.high, b.low, b.close, b.n_obs) == (5.0, 99.0, 1.0, 7.0, 4)
    assert b.month == "1995-03"


def test_gap_sessions_boundary_is_strict(spark, tmp_path):
    """A gap of exactly 30 minutes does NOT start a new session
    (strictly-greater threshold); 30min + 1us does."""
    from prisma_migrator_spark.plans.temporal import event_sessions_gap30m_q

    t0 = _ts("2024-01-01T00:00:00")
    rows = [
        Row(event_id=1, ts=t0, user_id=7, event_type="a", value=1.0, props="{}"),
        Row(event_id=2, ts=t0 + dt.timedelta(minutes=30), user_id=7,
            event_type="a", value=1.0, props="{}"),  # same session
        Row(event_id=3, ts=t0 + dt.timedelta(minutes=60, microseconds=1),
            user_id=7, event_type="a", value=1.0, props="{}"),  # new session
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/events.parquet")
    out = event_sessions_gap30m_q(spark, sf).orderBy("session_idx").collect()
    assert [r.n_events for r in out] == [2, 1]
    assert [r.session_idx for r in out] == [1, 2]


def test_pagerank_mass_conservation_and_symmetry(spark):
    """On a symmetric graph ranks sum to ~1 (no dangling mass leaks),
    and structurally identical nodes get identical ranks."""
    from prisma_migrator_spark.plans.graph import pagerank

    # a 4-cycle: every node symmetric -> all ranks equal 0.25
    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in
         [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (4, 3), (4, 1), (1, 4)]]
    )
    ranks = {r.node: r.rank for r in pagerank(edges).collect()}
    assert set(ranks) == {1, 2, 3, 4}
    for v in ranks.values():
        assert v == pytest.approx(0.25, abs=1e-6)

    # star: center must outrank leaves, total mass ~1
    star_pairs = [(0, i) for i in range(1, 6)]
    star = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in star_pairs]
        + [Row(src=b, dst=a) for a, b in star_pairs]
    )
    ranks = {r.node: r.rank for r in pagerank(star).collect()}
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-5)
    assert all(ranks[0] > ranks[i] for i in range(1, 6))
    leaf_vals = {round(ranks[i], 9) for i in range(1, 6)}
    assert len(leaf_vals) == 1


def test_pagerank_long_run_checkpoint_cadence(spark):
    """checkpoint_every must not change values: a 9-iteration run with
    per-3 checkpoints equals one with no mid-run checkpoints at all."""
    from prisma_migrator_spark.plans.graph import pagerank

    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in
         [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (3, 4), (4, 3)]]
    )
    with_ckpt = {r.node: r.rank
                 for r in pagerank(edges, n_iter=9, checkpoint_every=3).collect()}
    without = {r.node: r.rank
               for r in pagerank(edges, n_iter=9, checkpoint_every=99).collect()}
    assert with_ckpt == without
    assert sum(with_ckpt.values()) == pytest.approx(1.0, abs=1e-5)


def test_triangles_capped_subgraph_semantics(spark):
    """The cap drops exactly the vertices above it: triangles through
    a hub disappear, triangles among low-degree vertices survive, and
    the dropped-mass report matches hand counts."""
    from prisma_migrator_spark.plans.graph import triangle_counts_capped

    # K4 on {1,2,3,4} (deg 4 each once the hub attaches) + hub 9
    # joined to the K4 AND to leaves 7,8 (deg 6) -> cap=4 drops only
    # the hub; the K4's 4 triangles survive, hub triangles vanish
    quad = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    hub = [(a, 9) for a in (1, 2, 3, 4, 7, 8)]
    und = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in quad + hub]
        + [Row(src=b, dst=a) for a, b in quad + hub]
    ).localCheckpoint()
    counts, dropped = triangle_counts_capped(und, max_degree=4)
    got = {r.part: r.n_triangles for r in counts.collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # K4: each corner in 3
    rep = dropped.collect()[0]
    assert (rep.n_vertices, rep.n_dropped_vertices) == (7, 1)
    assert (rep.n_edges, rep.n_edges_kept) == (12, 6)


def test_degree_cap_binds_on_hub_skewed_fixture(spark):
    """VERDICT r5 item 2: the shipped co-purchase graph is degree-
    homogeneous, so the cap dial never had a fixture where it binds.
    On the hub-skewed lineitem fixture (a few best-seller parts on
    ~35% of order lines, a long uniform tail) pin what each defense
    actually buys, measured as wedge-join row counts (Σ_v in(v)·out(v)
    — the exact row count of the enumerator's first join):

    (a) the cap drops exactly the hub population at ≥99.9% vertex
        coverage — it BINDS here, unlike on the homogeneous fixture
        where it retains ~75% of vertices;
    (b) under the naive id orientation (the oracle's shape, and what
        any engine without degree orientation pays) the hubs carry
        >95% of the wedge mass and the cap removes it;
    (c) the degree orientation ALONE is hub-immune: a hub's edges all
        point INTO it (every neighbor has lower degree), so out(hub)=0
        and the oriented wedge mass is within ~3x of the capped
        graph's — the cap's residual value on skewed graphs is halving
        |E| and bounding memory, not the asymptotics. This is why
        `triangle_estimate_sampled` stays the documented scale dial
        for HOMOGENEOUS graphs (where neither cap nor orientation can
        shed mass) while the cap is the dial for hub-skewed ones."""
    from tools.gen_fixtures import hub_part_ids, hub_skewed_lineitem
    from prisma_migrator_spark.plans.graph import (
        _orient_edges,
        copurchase_edges,
        triangle_counts_capped,
    )

    n_hubs, n_tail, cap = 5, 6_000, 100
    hubs = hub_part_ids(n_hubs, n_tail)
    li = hub_skewed_lineitem(
        spark, n_orders=8_000, n_hubs=n_hubs, n_tail_parts=n_tail,
        hub_line_pct=35,
    )
    und = copurchase_edges(li).localCheckpoint()
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    is_hub = F.col("src").isin(hubs)
    prof = deg.agg(
        F.min(F.when(is_hub, F.col("deg"))).alias("min_hub"),
        F.max(F.when(~is_hub, F.col("deg"))).alias("max_tail"),
    ).collect()[0]
    # (a) two populations separated by the cap: it drops hubs, only hubs
    assert prof.min_hub > cap, prof
    assert prof.max_tail <= cap, prof

    counts, dropped = triangle_counts_capped(und, max_degree=cap)
    rep = dropped.collect()[0]
    assert rep.n_dropped_vertices == n_hubs, rep
    assert rep.n_dropped_vertices / rep.n_vertices < 0.001, rep
    assert counts.where(F.col("part").isin(hubs)).count() == 0

    def mass(e):
        """Wedge-join row count for an oriented edge frame:
        Σ_v in(v)·out(v)."""
        outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("o"))
        ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("i"))
        return (
            outd.join(ind, outd.src == ind.dst)
            .agg(F.sum(F.col("o") * F.col("i")))
            .collect()[0][0]
        ) or 0

    def naive(sym):
        return sym.where(F.col("src") < F.col("dst"))

    keep = deg.where(F.col("deg") <= cap).select("src")
    kept = (
        und.join(keep, "src", "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
        .select("src", "dst")
        .localCheckpoint()
    )
    # (b) naive id orientation: hubs carry the mass, the cap sheds it
    naive_full, naive_capped = mass(naive(und)), mass(naive(kept))
    assert naive_capped < 0.05 * naive_full, (naive_capped, naive_full)
    # (c) degree orientation is already hub-immune on the FULL graph
    orient_full = mass(_orient_edges(und))
    assert orient_full < 0.05 * naive_full, (orient_full, naive_full)
    assert orient_full < 3.5 * mass(_orient_edges(kept))


def test_triangle_edge_frames_read_from_columnar_cache(spark, sf_dir):
    """The triangle paths snapshot their multi-consumer edge frames as
    eager columnar persists, NOT localCheckpoints: 11.8 vs 104
    bytes/edge measured at sf10 (PERF.md #63) — a 9x memory cut on
    the biggest materialization in the family. Pin the plan shape so
    a reintroduced checkpoint (which would resurface as a
    'Scan ExistingRDD' of raw UnsafeRows) fails loudly."""
    from prisma_migrator_spark.plans import QUERIES

    for name in ("copurchase_triangles", "copurchase_triangles_capped"):
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, name
        assert "ExistingRDD" not in plan, (
            f"{name}: checkpoint RDD scan reappeared in the triangle path"
        )
    spark.catalog.clearCache()


def test_graph_snapshots_released_between_queries(spark, sf_dir):
    """The edge-frame snapshots are NOT session-lifetime: they are
    pinned (driver_state.pin), building the next registered query
    releases the previous query's pins, bounding CacheManager
    residency at one query's frames, and release_pins() frees the last
    ones on demand. The released frame stays CORRECT — it just
    recomputes."""
    from prisma_migrator_spark.operators.driver_state import _PINNED, release_pins
    from prisma_migrator_spark.plans import QUERIES

    spark.catalog.clearCache()
    release_pins()
    df1 = QUERIES["copurchase_triangles"](spark, sf_dir)
    n1 = df1.count()
    first_batch = list(_PINNED)
    assert first_batch, "triangle query should pin snapshot frames"

    # next graph query's construction frees the previous query's pins
    # (registry rotates: only the NEW query's frames remain tracked)
    QUERIES["copurchase_triangles_capped"](spark, sf_dir)
    assert first_batch[0] not in _PINNED

    # explicit release drains the rest; NOTHING stays cached after —
    # storageLevel is a plan-keyed CacheManager lookup, so this also
    # proves the rotation actually unpersisted (not just untracked)
    assert release_pins() > 0
    assert not _PINNED
    assert all(f.storageLevel.useMemory is False for f in first_batch), (
        "edge-frame plans still registered in the CacheManager"
    )
    assert df1.count() == n1  # recompute-through-unpersisted is safe
    spark.catalog.clearCache()


def test_triangles_sampled_estimator_error_bound(spark):
    """Doulion estimate on a triangle-rich graph: deterministic md5
    coin at keep=60% must land within 35% of the exact count (p³=0.216
    of triangles survive; the graph has 2600+ so concentration is
    tight). Also pins the exact count via the oriented enumerator."""
    from prisma_migrator_spark.plans.graph import (
        _oriented_triangle_corners,
        triangle_estimate_sampled,
    )

    # three overlapping cliques: K12 + K12 + K10 sharing some vertices
    cliques = [list(range(0, 12)), list(range(8, 20)), list(range(16, 26))]
    pairs = set()
    for c in cliques:
        pairs |= {(a, b) for a in c for b in c if a < b}
    exact = sum(n * (n - 1) * (n - 2) // 6 for n in (12, 12, 10))
    # shared vertices {8..11} and {16..19} add no cross-clique edges
    # beyond the unions above, but overlapping cliques double-count
    # triangles wholly inside the overlap: subtract C(4,3) per overlap
    exact -= 2 * 4
    pdf = spark.createDataFrame([Row(pa=a, pb=b) for a, b in sorted(pairs)])
    und = pdf.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        pdf.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    ).localCheckpoint()
    n_exact = _oriented_triangle_corners(und).count() // 3
    assert n_exact == exact, (n_exact, exact)
    est = triangle_estimate_sampled(pdf, keep_pct=60).collect()[0]
    rel_err = abs(est.est_triangles - exact) / exact
    assert rel_err <= 0.35, (est.est_triangles, exact, rel_err)


def test_profiler_counts_nulls_and_distincts(spark, tmp_path):
    from prisma_migrator_spark.plans.profiling import profile_lineitem_numeric_q

    rows = [
        Row(l_quantity=1.0, l_extendedprice=10.0, l_discount=None,
            l_tax=0.1, l_linenumber=1),
        Row(l_quantity=1.0, l_extendedprice=20.0, l_discount=0.05,
            l_tax=0.1, l_linenumber=2),
        Row(l_quantity=2.0, l_extendedprice=20.0, l_discount=None,
            l_tax=0.1, l_linenumber=3),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/lineitem.parquet")
    prof = {r.col_name: r for r in profile_lineitem_numeric_q(spark, sf).collect()}
    q = prof["l_quantity"]
    assert (q.n_rows, q.n_nulls, q.n_distinct) == (3, 0, 2)
    assert (q.min_v, q.max_v) == (1.0, 2.0)
    d = prof["l_discount"]
    assert (d.n_nulls, d.n_distinct) == (2, 1)
    assert d.avg_v == pytest.approx(0.05)


def test_corr_matrix_perfect_and_anti_correlation(spark, tmp_path):
    from prisma_migrator_spark.plans.profiling import corr_matrix_lineitem_q

    rows = [
        Row(l_quantity=float(i), l_extendedprice=2.0 * i + 1,
            l_discount=-1.0 * i, l_tax=0.5)
        for i in range(1, 6)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/lineitem.parquet")
    got = {(r.col_a, r.col_b): r.pearson_r
           for r in corr_matrix_lineitem_q(spark, sf).collect()}
    assert got[("l_quantity", "l_extendedprice")] == pytest.approx(1.0)
    assert got[("l_quantity", "l_discount")] == pytest.approx(-1.0)
    # zero-variance column -> corr undefined -> NULL (not NaN/crash)
    assert got[("l_quantity", "l_tax")] is None


def test_fuzzy_matches_respect_block_boundary(spark, tmp_path):
    """Identical names in DIFFERENT brand blocks never pair (blocking
    is a recall/cost trade, asserted explicitly)."""
    from prisma_migrator_spark.plans.profiling import fuzzy_part_matches_q

    rows = [
        Row(p_partkey=1, p_name="blue widget", p_brand="A"),
        Row(p_partkey=2, p_name="blue widgets", p_brand="A"),  # dist 1
        Row(p_partkey=3, p_name="blue widget", p_brand="B"),   # other block
        Row(p_partkey=4, p_name="red gizmo xl", p_brand="A"),  # far
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/part.parquet")
    got = {(r.partkey_a, r.partkey_b): r.edit_dist
           for r in fuzzy_part_matches_q(spark, sf).collect()}
    assert got == {(1, 2): 1}


def test_term_postings_sorted_and_distinct(spark, tmp_path):
    from prisma_migrator_spark.plans.profiling import term_postings_q

    docs = [Row(doc_id=i, text="alpha beta " * 3, lang="en",
                source="s", n_chars=10) for i in range(20, 8, -1)]
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    got = {r.term: r for r in term_postings_q(spark, sf).collect()}
    assert set(got) == {"alpha", "beta"}
    # repeated occurrences within a doc count once; postings sorted
    assert got["alpha"].df == 12
    assert got["alpha"].postings == ",".join(str(i) for i in range(9, 21))


def test_bm25_matches_pure_python_reference(spark):
    """BM25 scores on a constructed corpus must match an independent
    pure-Python computation of the Okapi/Lucene formula (robust IDF
    ln((N-df+0.5)/(df+0.5)+1), k1=1.2, b=0.75) — a different code
    path from both the Spark plan and the DuckDB oracle."""
    import math

    from prisma_migrator_spark.plans.profiling import bm25_scores

    corpus = {
        1: "spark join spark",
        2: "join vector",
        3: "the a the filter",
        4: "spark spark spark spark",
    }
    query = ["spark", "join", "vector"]
    k1, b = 1.2, 0.75

    toks = {d: t.split() for d, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {q: sum(q in t for t in toks.values()) for q in query}
    expected = {}
    for d, t in toks.items():
        s = 0.0
        for q in query:
            tf = t.count(q)
            if not tf:
                continue
            idf = math.log((n - df[q] + 0.5) / (df[q] + 0.5) + 1)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        if s:
            expected[d] = round(s, 6)

    docs = spark.createDataFrame(
        [Row(doc_id=d, text=t, lang="en", source="s", n_chars=len(t))
         for d, t in corpus.items()]
    )
    got = {r.doc_id: r.bm25 for r in bm25_scores(docs, query).collect()}
    assert got == pytest.approx(expected, abs=1e-6)
    # doc 3 has no query term: absent, not zero-scored
    assert 3 not in got


def test_incremental_sessionize_constructed(spark):
    """Boundary session fuses when the gap closes, indexes renumber
    after a merge, new users start at 1, untouched users pass through
    — each checked against full recompute on the union."""
    import datetime as dt

    from pyspark.sql import Row

    from prisma_migrator_spark.plans.temporal import (
        incremental_sessionize,
        sessionize_events,
    )

    T0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(uid, eid, mins, v=1.0):
        return Row(
            user_id=uid, ts=T0 + dt.timedelta(minutes=mins), event_id=eid, value=v
        )

    hist_rows = [
        ev(1, 1, 0), ev(1, 2, 10),        # u1 s1
        ev(1, 3, 120),                    # u1 s2 (ends 14:00)
        ev(2, 4, 0),                      # u2 s1 — untouched by delta
        ev(3, 5, 0), ev(3, 6, 200),       # u3 s1, s2 (ends ~15:20)
    ]
    delta_rows = [
        ev(1, 7, 140), ev(1, 8, 145),     # within 20m of u1 s2 -> fuse
        ev(1, 9, 400),                    # new session -> s3 (not s4)
        ev(3, 10, 500),                   # gap > 30m -> u3 s3
        ev(4, 11, 0),                     # brand-new user -> s1
    ]
    hist = spark.createDataFrame(hist_rows)
    delta = spark.createDataFrame(delta_rows)
    full = sessionize_events(spark.createDataFrame(hist_rows + delta_rows))
    incr = incremental_sessionize(sessionize_events(hist), delta)
    key = lambda r: (r.user_id, r.session_idx)  # noqa: E731
    assert sorted(map(tuple, incr.collect()), key=lambda t: t[:2]) == sorted(
        map(tuple, full.collect()), key=lambda t: t[:2]
    )
    got = {key(r): (r.n_events, r.start_us) for r in incr.collect()}
    # u1's fused session kept its ORIGINAL index and start, grew by 2
    assert got[(1, 2)][0] == 3
    # u1's post-merge session renumbered to 3, not 4
    assert (1, 3) in got and (1, 4) not in got
    # untouched user byte-identical
    assert got[(2, 1)][0] == 1
    # new user starts at 1
    assert got[(4, 1)][0] == 1


def test_incremental_sessionize_full_precision_sums(spark):
    """A boundary merge adds the delta partial sum to the previous
    session's partial sum; with >6-decimal values the old
    round-then-add-then-round path could differ from full recompute in
    the last digit. Values chosen so round(round(a+b,6)+c,6) !=
    round(a+b+c,6)."""
    import datetime as dt

    from pyspark.sql import Row

    from prisma_migrator_spark.plans.temporal import (
        incremental_sessionize,
        sessionize_events,
    )

    T0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, mins, v):
        return Row(user_id=1, ts=T0 + dt.timedelta(minutes=mins), event_id=eid,
                   value=v)

    # hist sum 0.1000004 pre-rounds DOWN to 0.1; the delta's 4e-7
    # then vanishes (0.1000004 -> 0.1 again), while full recompute
    # sees 0.1000008 -> 0.100001. Unrounded carry must match full.
    hist_rows = [ev(1, 0, 0.1000004)]
    delta_rows = [ev(3, 20, 0.0000004)]
    full = sessionize_events(spark.createDataFrame(hist_rows + delta_rows))
    incr = incremental_sessionize(
        sessionize_events(spark.createDataFrame(hist_rows), round_values=False),
        spark.createDataFrame(delta_rows),
    )
    assert [tuple(r) for r in incr.collect()] == [
        tuple(r) for r in full.collect()
    ]


def _python_lpa(pair_list, n_iter):
    """A literal Python transcription of the synchronous LPA recurrence,
    run for exactly ``n_iter`` rounds (never stopping early)."""
    import collections

    adj = collections.defaultdict(set)
    for a, b in pair_list:
        adj[a].add(b)
        adj[b].add(a)
    labels = {v: v for v in adj}
    for _ in range(n_iter):
        new = {}
        for v in adj:
            cnt = collections.Counter(labels[u] for u in adj[v])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        labels = new
    return labels


def test_label_propagation_matches_python_reference(spark):
    """Two triangles joined by a single bridge edge must resolve to
    two communities (each triangle adopts its min id); a star graph
    collapses to the hub's neighborhood label. Verified against a
    literal Python transcription of the synchronous recurrence on
    both shapes, so the Spark message/argmax pipeline and the
    min-label tie-break are pinned independently of the SQL oracle."""
    from prisma_migrator_spark.plans.graph import label_propagation

    cases = [
        # two triangles + bridge
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        # star: hub 10, leaves 11..15
        [(10, x) for x in range(11, 16)],
        # chain with a tie for node 3's neighbors (2 and 4 both
        # singleton labels -> min wins)
        [(1, 2), (2, 3), (3, 4), (4, 5)],
    ]
    for n_iter in (1, 2, 3):
        for pair_list in cases:
            # duplicated pair instances must not weight the votes —
            # the operator dedups partition-locally after its own
            # repartition (callers skip the wide distinct)
            df = spark.createDataFrame(
                pair_list + pair_list[:2], "pa bigint, pb bigint"
            )
            labels, _ = label_propagation(df, n_iter=n_iter)
            got = {r.node: r.label for r in labels.collect()}
            assert got == _python_lpa(pair_list, n_iter), (n_iter, pair_list)


def test_label_propagation_converged_reaches_fixed_point(spark):
    """Label propagation must stop at a true fixed point: one more
    general round leaves every label unchanged. Two triangles +
    bridge settle in few rounds to the same answer as a long
    fixed-iteration run, and for every bound n = 1…5 the labels equal
    the n-round labels of a reference that never stops early; a
    4-cycle (bipartite) would 2-cycle forever, so the bound must
    stop it and report the bound was hit."""
    from prisma_migrator_spark.plans.graph import label_propagation

    tri = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(tri, "pa bigint, pb bigint")
    labels, rounds = label_propagation(df, n_iter=20)
    got = {r.node: r.label for r in labels.collect()}
    assert rounds < 20
    # fixed point == what a long fixed-iteration run settles into
    # (use rounds+3 to be safely past convergence)
    settled = {
        r.node: r.label
        for r in label_propagation(df, n_iter=rounds + 3)[0].collect()
    }
    assert got == settled
    assert rounds < 5  # so n = 1…5 covers bounds on both sides of the stop
    for n in range(1, 6):
        labels, ran = label_propagation(df, n_iter=n)
        assert ran == min(n, rounds)
        assert {r.node: r.label for r in labels.collect()} == (
            _python_lpa(tri, n)
        ), n

    # bipartite 4-cycle: synchronous LPA oscillates; the bound reports
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "pa bigint, pb bigint"
    )
    _, r2 = label_propagation(cyc, n_iter=6)
    assert r2 == 6
    with pytest.raises(ValueError):  # round 1 builds the first labels
        label_propagation(cyc, n_iter=0)


def test_bm25_eval_metrics_match_pure_python_reference(spark, tmp_path):
    """MRR and nDCG@10 on a constructed corpus must match an
    independent pure-Python implementation of the whole metric
    pipeline (BM25 ranking, graded term-coverage relevance, DCG/IDCG,
    full-match reciprocal rank)."""
    import math

    from prisma_migrator_spark.plans.profiling import (
        _EVAL_K,
        _EVAL_QUERIES,
        bm25_eval_metrics_q,
    )

    corpus = {
        1: "spark join spark join",
        2: "spark spark spark",
        3: "join vector hash",
        4: "stream window stream",
        5: "merge merge",
        6: "customer filter customer filter",
        7: "sort sort merge",
        8: "the a an stream",
    }
    k1, b = 1.2, 0.75
    toks = {d: t.split() for d, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / n

    expected = {}
    for qid, terms in _EVAL_QUERIES:
        df = {q: sum(q in t for t in toks.values()) for q in terms}
        scored = {}
        rel = {}
        for d, t in toks.items():
            s = 0.0
            r = 0
            for q in terms:
                tf = t.count(q)
                if not tf:
                    continue
                r += 1
                idf = math.log((n - df[q] + 0.5) / (df[q] + 0.5) + 1)
                s += idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(t) / avgdl))
            if r:
                scored[d] = round(s, 6)
                rel[d] = r
        if not scored:
            continue
        ranked = sorted(scored, key=lambda d: (-scored[d], d))[:_EVAL_K]
        dcg = sum((2.0 ** rel[d] - 1) / math.log2(i + 2)
                  for i, d in enumerate(ranked))
        ideal = sorted(rel, key=lambda d: (-rel[d], d))[:_EVAL_K]
        idcg = sum((2.0 ** rel[d] - 1) / math.log2(i + 2)
                   for i, d in enumerate(ideal))
        full = [i + 1 for i, d in enumerate(ranked) if rel[d] == len(terms)]
        expected[qid] = (
            round(1.0 / full[0], 6) if full else 0.0,
            round(dcg / idcg, 6),
        )

    docs = spark.createDataFrame(
        [Row(doc_id=d, text=t, lang="en", source="s", n_chars=len(t))
         for d, t in corpus.items()]
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    got = {r.query_id: (r.mrr, r.ndcg10)
           for r in bm25_eval_metrics_q(spark, sf).collect()}
    assert set(got) == set(expected)
    for qid in expected:
        assert got[qid] == pytest.approx(expected[qid], abs=1e-6), qid
    # the full-match doc for q1 ("spark join") tops its ranking: mrr=1
    assert got[1][0] == pytest.approx(1.0)
