"""Graph operators over relationship edges.

The reference's recommendation table IS a graph —
``RecommendedAppHistory(appHandle → recommendedAppHandle, position)``
(src/utils/lib.ts:231-238) — but the only graph read it performs is
weighted in-degree (src/utils/lib.ts:355-362, our
``recommendation_metrics``). The natural next question ("which apps
are central in the recommendation network, transitively?") is
PageRank. This module builds a co-purchase graph from the fixtures
(parts co-occurring in an order, per FIXTURES.md §C's
recommendation-edge mapping) and runs a fixed-iteration PageRank —
expressed entirely in DataFrame joins/aggregations so Catalyst/AQE
plan every step.

Scale notes:
- Edge generation is a self-join on the order key: candidate cost is
  Σ per-order-size² (orders hold ≤7 items), never n².
- PageRank, label propagation and ``llm/dedup.connected_components``
  share one edge frame (:func:`_lpa_edges`: partitioned by the message
  receiver, deduplicated partition-locally, persisted) and one round
  loop (:func:`_rounds`: state snapshots on a cadence, optional stop at
  a fixed point). With the |V|-row state broadcast, a round's
  per-receiver aggregate needs no exchange.
- Edge frames with several consumers are snapshotted
  (:func:`_snapshot_edges`) through ``operators/driver_state.pin``;
  the query registry releases them before it builds the next
  registered query. The round loop unpersists its edge frame itself,
  before it returns.
- Determinism: contributions are rounded per iteration on BOTH
  engines, so cross-engine float summation drift cannot compound.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from prisma_migrator_spark.catalog import load_table
from prisma_migrator_spark.operators.driver_state import pin
from prisma_migrator_spark.plans.registry import query

#: Fact rows below which graph-mass stages keep the session shuffle
#: width. The 4× widening that rescues large graphs (see
#: :func:`_graph_width`) REGRESSES small ones — tiny-partition
#: overhead: measured sampled triangles 4.8 → 9.1 s at sf0.1 under a
#: fixed 128-way width. 20M rows ≈ where per-task slices of the edge
#: mass start spilling under the CPU-sized default.
_GRAPH_WIDTH_MIN_ROWS = 20_000_000


def _graph_width(spark: SparkSession, fact: DataFrame) -> int | None:
    """Shuffle width for graph-mass stages (edge materialization,
    wedge joins), sized from the data: these stages are memory-bound,
    and the CPU-sized session default starves them at scale (measured
    in PERF.md #58 — 182 s vs 86 s for the same LPA plan; capped
    triangles 1793 → 666 s). Returns None (= keep the session width)
    below ``_GRAPH_WIDTH_MIN_ROWS`` fact rows — the widening that
    rescues sf10 measurably hurts sf0.1/sf1 — else 4× the cluster's
    core count, which keeps one task's slice small enough to
    build/sort without thrashing. The row probe is one count() over
    the already-pruned fact scan — parquet answers it from row-group
    metadata, noise next to a single wedge-join task."""
    if fact.count() < _GRAPH_WIDTH_MIN_ROWS:
        return None
    return 4 * spark.sparkContext.defaultParallelism


#: Damping factor (standard) and fixed iteration count — fixed so the
#: result is deterministic and SQL-expressible (the oracle unrolls the
#: same three iterations).
_DAMPING = 0.85
_N_ITER = 3
#: Per-iteration rounding: kills sub-1e-9 cross-engine summation drift
#: before it can compound through the next iteration.
_ITER_SCALE = 9


def copurchase_pairs(
    lineitem: DataFrame,
    distinct: bool = True,
    n_partitions: int | None = None,
) -> DataFrame:
    """One-direction distinct co-purchase pairs (pa < pb): parts
    appearing in the same order.

    Generated per-order via ``collect_set`` + an in-array pair
    explode, NOT a lineitem self-join: one groupBy shuffle of the
    (orderkey, partkey) rows, then pairs expand map-side — half the
    shuffle bytes of the join form (which moves BOTH 60M-row join
    sides), with the within-order dedup free in the set agg. Safe
    because order size is bounded (≤7 parts per TPC-H order ⇒ ≤21
    pairs per array); for unbounded baskets use the join form (see
    ``basket_lift_pairs``) or cap the basket first. The cross-order
    ``distinct`` is the one remaining wide shuffle — irreducible, it
    IS the edge-set semantics. Pass ``distinct=False`` when the
    caller's next step is itself a repartition that makes the dedup
    partition-local (see :func:`label_propagation`) — paying the wide
    shuffle here too would double it.

    ``n_partitions`` widens the basket aggregation beyond the session
    shuffle default: the collect_set agg is an ObjectHashAggregate
    whose per-task buffers (one array per in-flight order) make it
    memory-bound, so at large SF it wants smaller task slices than
    the CPU-sized default. The explicit repartition keys the same
    column the groupBy needs, so the agg runs partition-local at the
    requested width — one shuffle either way, just wider."""
    if n_partitions is not None:
        lineitem = lineitem.repartition(n_partitions, "l_orderkey")
    baskets = lineitem.groupBy(F.col("l_orderkey")).agg(
        F.array_sort(F.collect_set("l_partkey")).alias("__ps")
    )
    ps = F.col("__ps")
    pair_arr = F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + F.lit(2), F.size(ps)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    out = (
        baskets.where(F.size(ps) >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
    )
    return out.distinct() if distinct else out


def copurchase_edges(
    lineitem: DataFrame, n_partitions: int | None = None
) -> DataFrame:
    """Symmetric co-purchase edges: (src, dst) part pairs appearing in
    the same order, distinct — both directions of
    :func:`copurchase_pairs`, emitted by ONE map-side explode over the
    deduplicated pair stream. (The obvious two-branch union reads the
    pair frame twice, and with no checkpoint above it that executes
    the whole basket-agg + explode + distinct pipeline twice — the
    double-execution the r5c LPA rework caught; the sampled-triangle
    sf10 rehearsal measured edge generation at 59% of total, so
    halving it matters.) ``n_partitions`` forwards to
    :func:`copurchase_pairs`."""
    pairs = copurchase_pairs(lineitem, n_partitions=n_partitions)
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
                F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _lpa_edges(frame: DataFrame, n_edge_partitions: int | None = None) -> DataFrame:
    """The graph code's one edge materialization: ``(src, dst)`` rows,
    symmetric when ``frame`` holds one-direction pairs ``(pa, pb)``
    and directed when it holds edges ``(src, dst)``. Repartitioned by
    ``dst`` (the message RECEIVER), deduplicated partition-locally
    (dst-partitioning satisfies the (src, dst) clustering, so the
    distinct costs no exchange, and callers may pass non-deduplicated
    pairs, e.g. ``copurchase_pairs(..., distinct=False)``), and
    persisted; :func:`_rounds` unpersists it.

    ``persist`` (not ``localCheckpoint``) is deliberate twice over: a
    checkpointed RDD scan forgets its ``outputPartitioning`` (bringing
    the per-round exchange back), and an evicted checkpoint block is
    fatal while an evicted cache block just recomputes. Both
    directions of a pair come from ONE pass over the pair stream (a
    two-branch union would execute the upstream pair generation
    twice).

    The materialization is memory-bound (dedup hash table + the
    persist itself): the session's CPU-sized shuffle width starves it
    at scale — measured at sf10 (180M edges): 182 s wall at 32
    partitions vs 86 s at 128. ``n_edge_partitions`` (None = the
    session width) comes from :func:`_graph_width`.
    """
    if "pa" in frame.columns:
        frame = frame.select(
            F.explode(
                F.array(
                    F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
                    F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")),
                )
            ).alias("e")
        ).select("e.*")
    frame = frame.select("src", "dst")
    frame = (
        frame.repartition(n_edge_partitions, "dst")
        if n_edge_partitions
        else frame.repartition("dst")
    )
    return frame.dropDuplicates(["src", "dst"]).persist()  # partition-local


def _rounds(
    edges: DataFrame,
    state: DataFrame | None,
    step: Callable[[DataFrame | None], DataFrame],
    n_iter: int,
    checkpoint_every: int = 1,
    stop: bool = False,
) -> tuple[DataFrame, int]:
    """Up to ``n_iter`` synchronous rounds ``state = step(state)`` over
    the persisted ``edges``; returns ``(state, rounds_run)`` and
    unpersists ``edges``.

    The loop owns the |V|-row state snapshot: an eager
    ``localCheckpoint`` every ``checkpoint_every`` rounds and after the
    last one, which must be materialized before the edges it reads are
    released. Rounds are snapshotted rather than persisted: a cached
    round's plan still references the whole chain of prior rounds,
    and any partition an action didn't materialize recomputes through
    it — measured round times GREW 1.7 s → 8.2 s over 5 rounds with
    persist and stay flat with checkpoints (PERF.md #29). Checkpoint
    blocks are executor-local and unreplicated; a 100 TB run points
    ``setCheckpointDir`` at durable storage and swaps in
    ``checkpoint()``.

    With ``stop``, every round is snapshotted, ``step`` flags each
    node's ``__changed`` in the same pass as its new state, and an
    ``Observation`` counts the flags while the snapshot is written —
    no job of its own. A synchronous round that changed nothing is a
    fixed point, so the loop ends there; ``rounds_run == n_iter``
    tells the caller the bound was hit. A ``state`` of None means the
    first ``step`` builds it, so at least one round must run."""
    if state is None and n_iter < 1:
        edges.unpersist()
        raise ValueError(f"n_iter must be >= 1 to build the first state, got {n_iter}")
    done = 0
    while done < n_iter:
        done += 1
        state = step(state)
        if stop:
            changed = Observation()
            state = state.observe(
                changed, F.count_if("__changed").alias("n")
            ).drop("__changed")
        if stop or done % checkpoint_every == 0 or done == n_iter:
            state = state.localCheckpoint()
        if stop and not changed.get["n"]:
            break
    edges.unpersist()
    return state, done


def pagerank(
    edges: DataFrame,
    n_iter: int = _N_ITER,
    damping: float = _DAMPING,
    checkpoint_every: int = 4,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over directed ``(src, dst)`` edges, or
    over the undirected graph of one-direction ``(pa, pb)`` pairs
    (both directions, see :func:`_lpa_edges`).

    ``rank_{k+1}(v) = (1-d)/N + d * Σ_{u→v} rank_k(u)/outdeg(u)``.

    The vertex set is the nodes with an out-edge, as in the oracles;
    the symmetric co-purchase graph has no dangling nodes, so no
    dangling-mass term is needed. N is a 1-row aggregate broadcast
    back — no driver collect.

    Scale shape (reworked after the r4 rehearsal recorded 13.9×/decade
    at sf10; phase profile: edge materialization 137 s, iterations
    36 s each):

    - the edge list is the ONLY big materialization: bare (src, dst)
      pairs, no weight column, the shared receiver-partitioned frame;
    - ``1/outdeg`` is folded into the |V|-row rank frame, not the
      |E|-row edge frame: ``rank_w(u) = rank(u)/outdeg(u)`` is a
      2-column |V| join per iteration, and the contribution join
      BROADCASTS it (|V| ≪ |E| here; ``broadcast_ranks=False`` falls
      back to a shuffle join for vertex sets that outgrow executor
      memory). The broadcast join keeps the edges' dst-partitioning,
      so the per-``dst`` sum runs partition-local: the edges never
      shuffle again;
    - ``outdeg`` is a |V|-row frame checkpointed once, so no
      iteration re-aggregates the edge mass;
    - rank state is snapshotted every ``checkpoint_every`` rounds and
      after the last (:func:`_rounds`): a round's frame is |V| rows,
      and the default 3-iteration lineage is a shallow join chain.
    """
    e = _lpa_edges(edges)
    deg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint()
    )
    nodes = deg.select("node")
    n_df = nodes.agg(F.count(F.lit(1)).alias("__n"))

    def step(ranks: DataFrame) -> DataFrame:
        rank_w = ranks.join(deg, "node").select(
            F.col("node").alias("src"),
            # rank * (1/outdeg), NOT rank/outdeg: mirrors the oracle's
            # two-rounding float sequence so the per-iteration ROUND
            # sees identical inputs on both engines
            (F.col("rank") * (F.lit(1.0) / F.col("outdeg"))).alias("__rw"),
        )
        contrib = (
            e.join(F.broadcast(rank_w) if broadcast_ranks else rank_w, "src")
            .groupBy("dst")
            .agg(F.sum("__rw").alias("__in"))
            .withColumnRenamed("dst", "node")
        )
        return (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("__n")
                    + damping * F.coalesce(F.col("__in"), F.lit(0.0)),
                    _ITER_SCALE,
                ).alias("rank"),
            )
        )

    ranks = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", F.round(1.0 / F.col("__n"), _ITER_SCALE).alias("rank")
    )
    return _rounds(e, ranks, step, n_iter, checkpoint_every)[0]


_PAGERANK_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), edges AS (
  SELECT pa AS src, pb AS dst FROM pairs
  UNION ALL
  SELECT pb AS src, pa AS dst FROM pairs
), outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
), w AS (
  SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / o.outdeg AS w
  FROM edges e JOIN outdeg o USING (src)
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), nn AS (
  SELECT COUNT(*) AS n FROM nodes
), r0 AS (
  SELECT node, ROUND(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn), {_ITER_SCALE}) AS rank
  FROM nodes
), r1 AS (
  SELECT nodes.node,
         ROUND(CAST({1.0 - _DAMPING!r} AS DOUBLE) / (SELECT n FROM nn)
               + CAST({_DAMPING!r} AS DOUBLE) * COALESCE(SUM(r0.rank * w.w), 0.0),
               {_ITER_SCALE}) AS rank
  FROM nodes
  LEFT JOIN w ON w.dst = nodes.node
  LEFT JOIN r0 ON r0.node = w.src
  GROUP BY nodes.node
), r2 AS (
  SELECT nodes.node,
         ROUND(CAST({1.0 - _DAMPING!r} AS DOUBLE) / (SELECT n FROM nn)
               + CAST({_DAMPING!r} AS DOUBLE) * COALESCE(SUM(r1.rank * w.w), 0.0),
               {_ITER_SCALE}) AS rank
  FROM nodes
  LEFT JOIN w ON w.dst = nodes.node
  LEFT JOIN r1 ON r1.node = w.src
  GROUP BY nodes.node
), r3 AS (
  SELECT nodes.node,
         ROUND(CAST({1.0 - _DAMPING!r} AS DOUBLE) / (SELECT n FROM nn)
               + CAST({_DAMPING!r} AS DOUBLE) * COALESCE(SUM(r2.rank * w.w), 0.0),
               {_ITER_SCALE}) AS rank
  FROM nodes
  LEFT JOIN w ON w.dst = nodes.node
  LEFT JOIN r2 ON r2.node = w.src
  GROUP BY nodes.node
)
SELECT node AS l_partkey, ROUND(rank * 1000000.0, 4) AS pagerank_ppm
FROM r3
"""


@query("part_copurchase_pagerank", oracle=_PAGERANK_ORACLE)
def part_copurchase_pagerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (3 iterations,
    d=0.85), reported in parts-per-million — transitive centrality of
    each part in the purchase network, the graph upgrade of the
    reference's one-hop weighted in-degree
    (src/utils/lib.ts:355-362). The oracle unrolls the identical
    three iterations as chained CTEs. The pairs go in one-direction
    and non-deduplicated: :func:`pagerank` symmetrizes them and dedups
    partition-locally in its edge frame."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ranks = pagerank(
        copurchase_pairs(li, distinct=False, n_partitions=_graph_width(spark, li))
    )
    return ranks.select(
        F.col("node").alias("l_partkey"),
        F.round(F.col("rank") * 1_000_000, 4).alias("pagerank_ppm"),
    )


# --- triangle counting (degree-oriented) ------------------------------

_TRIANGLES_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.pa = e1.pb
  JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS part FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY part
"""


@query("copurchase_triangles", oracle=_TRIANGLES_ORACLE)
def copurchase_triangles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts in the co-purchase graph (the local
    clustering signal behind community/bundle detection).

    Spark plan uses the DEGREE-ORIENTED (compact-forward) algorithm:
    orient each undirected edge from its lower-(degree, id) endpoint
    to the higher one, build wedges by joining oriented edges
    head-to-tail, close them against a third oriented edge. Every
    triangle is found EXACTLY once, and the wedge join's cost is
    Σ out-deg² where out-degree is bounded by O(√|E|) on any graph —
    the hub that breaks the naive a<b<c join (its wedge count is
    Σ deg² over raw degrees) only ever fans out to higher-degree
    neighbors. The oracle keeps the naive orientation: same
    triangles, independently derived.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # snapshot the symmetric edge list once: it feeds the degree agg
    # AND (via the orientation) all three legs of the triangle join —
    # without the snapshot the lineitem self-join subtree re-executes
    # per consumer (the plan printer showed it ~100x)
    und = _snapshot_edges(copurchase_edges(li))
    corners = _oriented_triangle_corners(und)
    return corners.groupBy("part").agg(F.count(F.lit(1)).alias("n_triangles"))


def _snapshot_edges(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer edge frame as an EAGER compressed
    columnar cache (persist + count) instead of a localCheckpoint.
    Both stop the upstream pipeline re-executing per consumer, but the
    bytes differ by ~9x — measured at sf10 on the same 180M-edge
    frame (PERF.md #63): 11.8 bytes/edge as CachedBatch columnar vs
    104 bytes/edge as the checkpoint's cached UnsafeRow objects
    (17.9 GB vs 2.0 GB). The iterative-state caveat that mandates
    localCheckpoint for LOOP state (a partially-materialized cache
    recomputes through the unpersisted chain, PERF.md #29) does not
    apply here: these frames are built once, fully materialized by
    the eager count BEFORE the join job, and never rebound. An
    evicted cache block recomputes instead of failing — strictly
    kinder than an evicted checkpoint block, which is fatal.

    The snapshot goes through ``driver_state.pin``: it is released
    before the next registered query is built, so the cache never
    outlives the query that needs it."""
    df = pin(df)
    df.count()
    return df


def _orient_edges(und: DataFrame) -> DataFrame:
    """Degree-orient a symmetric edge list: keep each undirected edge
    once, directed from its lower-(deg, id) endpoint to the higher
    one. Under this orientation out-degree is bounded by O(√|E|) on
    any graph, which is what bounds the wedge join. Returned frame is
    snapshot (:func:`_snapshot_edges`) — it feeds the degree agg and
    three join legs in the enumerator, and the wedge-mass accounting
    in tests."""
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return _snapshot_edges(
        und.join(deg.withColumnRenamed("src", "s_join"), und.src == F.col("s_join"))
        .drop("s_join")
        .withColumnRenamed("deg", "deg_src")
        .join(
            deg.select(F.col("src").alias("d_join"), F.col("deg").alias("deg_dst")),
            und.dst == F.col("d_join"),
        )
        .drop("d_join")
        .where(
            (F.col("deg_src") < F.col("deg_dst"))
            | ((F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )


def _oriented_triangle_corners(
    und: DataFrame, n_partitions: int | None = None
) -> DataFrame:
    """Shared degree-oriented (compact-forward) triangle enumeration
    over a symmetric edge list: orient each undirected edge from its
    lower-(deg, id) endpoint to the higher one (:func:`_orient_edges`),
    join wedges head-to-tail, close against a third oriented edge.
    Each triangle appears exactly once in ``closed``; the returned
    frame is its three corners unioned (one row per
    (triangle, corner)). Wedge cost is Σ out-deg² with out-deg bounded
    by O(√|E|) under this orientation. ``und`` must already be
    snapshot (:func:`_snapshot_edges` or localCheckpoint) by the
    caller — it feeds the degree agg and three join legs."""
    e = _orient_edges(und)
    # Explicit width on the wedge/close joins when asked: the wedge
    # frame is the Σ out-deg² blow-up, and the CPU-sized session
    # shuffle default leaves each task a huge slice to sort/spill
    # (same starvation the LPA edge materialization measured —
    # PERF.md #58). Same key + same partition count on both sides,
    # so the explicit repartition IS the join exchange, just wider.
    uv = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    vw = e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    uw = e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    if n_partitions:
        uv = uv.repartition(n_partitions, "v")
        vw = vw.repartition(n_partitions, "v")
        uw = uw.repartition(n_partitions, "u", "w")
    wedges = uv.join(vw, "v")
    if n_partitions:
        wedges = wedges.repartition(n_partitions, "u", "w")
    closed = wedges.join(uw, ["u", "w"])
    # ONE map-side explode per triangle — a three-branch union would
    # re-run the wedge+close joins once per corner (see the exact
    # enumerator above; PERF.md #59's union-re-execution lesson)
    return closed.select(
        F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("part")
    )


# --- bounded triangle variants (the r4 rehearsal's one measured DNF) --

#: Degree cap for the registered capped query: binds at every fixture
#: scale (max co-purchase degree is ~160-220 across sf0.01..sf10) while
#: keeping the result non-vacuous (516 kept vertices / 1805 triangles
#: at sf0.01 — measured; cap=64 keeps 8 vertices and nothing closes).
_TRI_CAP = 100
#: Doulion keep-rate (percent): each undirected edge survives iff an
#: md5-derived coin < this; triangle estimate scales by (100/keep)³.
_TRI_KEEP_PCT = 20


def triangle_counts_capped(
    und: DataFrame, max_degree: int, n_partitions: int | None = None
):
    """Per-part triangle counts over the subgraph induced on vertices
    with degree ≤ ``max_degree``, plus the dropped-mass report.

    The exact enumerator's wedge cost is Σ deg² — physics, not plan
    shape: at sf10 it materializes ~8B wedge rows (~200 GB shuffle)
    and DNFs on one box. Dropping the densest vertices bounds the
    per-vertex wedge fan-out by ``max_degree``, so wedge cost ≤
    max_degree·|E_kept| — linear in kept edges at a fixed cap. The
    drop is SEMANTIC (a subgraph, not an approximation of the full
    answer), so the companion ``dropped`` frame reports how much of
    the graph the cap excluded: callers see exactly which share of
    vertices the counts cover, never a silent truncation.

    WHEN THE CAP IS THE RIGHT DIAL (measured, round 5): degree caps
    pay off on SKEWED graphs, where a few hubs carry most of Σ deg².
    The co-purchase graph is degree-HOMOGENEOUS (sf1 profile: mean
    degree 90, p50 90, max 162 — every part co-occurs with a similar
    number of partners), so cap=100 retains ~75% of vertices and most
    of the wedge mass: the sf10 run finishes where exact DNFs
    (same-day replicated r6 curve: 7.9/39/321 s median, ~8x/decade —
    PERF.md #62) but is not cheap. For
    homogeneous graphs the DEFAULT scale dial is edge sampling
    (:func:`triangle_estimate_sampled` — cost drops with p², 193 s at
    p=0.2 / sf10); keep the cap for hub-dominated graphs where it
    removes the quadratic tail at tiny coverage loss. On the
    hub-skewed fixture (tools/gen_fixtures.hub_skewed_lineitem,
    PERF.md #60) the cap demonstrably binds: it drops exactly the hub
    population at ≥99.9% vertex coverage and sheds >95% of the naive
    Σ in·out wedge mass. Same measurement's second finding: the
    degree ORIENTATION alone is hub-immune (a hub's edges all point
    into it, so out(hub)=0) — on skewed graphs the cap's residual
    value over the orientation is halving |E| and bounding join
    memory, not the asymptotics.

    Returns ``(per_part_counts, dropped_report)`` — the report is a
    1-row frame (n_vertices, n_dropped_vertices, n_edges,
    n_edges_kept).
    """
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    keep = deg.where(F.col("deg") <= max_degree).select("src")
    kept = _snapshot_edges(
        und.join(keep, "src", "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    counts = _oriented_triangle_corners(kept, n_partitions).groupBy("part").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    dropped = (
        deg.agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.sum((F.col("deg") > max_degree).cast("bigint")).alias(
                "n_dropped_vertices"
            ),
            (F.sum("deg") / 2).cast("bigint").alias("n_edges"),
        )
        .crossJoin(
            kept.agg((F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges_kept"))
        )
    )
    return counts, dropped


def _edge_coin(pa, pb):
    """Engine-portable deterministic coin in [0, 100): first 8 hex
    digits of md5("pa|pb") mod 100 — DuckDB computes the identical
    value from the identical string, so the sampled subgraph is
    bit-for-bit the same on both engines (same trick as the
    md5-derived Rademacher planes)."""
    h = F.md5(F.concat_ws("|", pa, pb))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 100


def triangle_estimate_sampled(
    pairs: DataFrame, keep_pct: int, n_partitions: int | None = None
) -> DataFrame:
    """Doulion-style global triangle estimate: keep each undirected
    edge with probability p = keep_pct/100 (deterministic md5 coin →
    reproducible AND oracle-checkable), count triangles exactly on the
    sampled subgraph, scale by 1/p³ (each triangle survives with p³ —
    the estimator is unbiased; Tsourakakis et al., KDD'09). Wedge cost
    shrinks by p² — the knob that turns the Σ deg² cliff into a dial.
    sf0.01 measured: estimate 407,750 vs 413,718 exact (1.4% error).

    ``pairs``: one-direction distinct (pa < pb) edge pairs.
    Returns 1 row: (n_edges_sampled, n_triangles_sampled,
    est_triangles).
    """
    samp = pairs.where(_edge_coin(F.col("pa"), F.col("pb")) < keep_pct)
    # single-pass symmetric explode: the two-branch union executed the
    # whole upstream pair pipeline twice (see copurchase_edges)
    und = samp.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
                F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    und = _snapshot_edges(und)
    tri = _oriented_triangle_corners(und, n_partitions).agg(
        (F.count(F.lit(1)) / 3).cast("bigint").alias("n_triangles_sampled")
    )
    scale = (100.0 / keep_pct) ** 3
    return (
        und.agg((F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges_sampled"))
        .crossJoin(tri)
        .select(
            "n_edges_sampled",
            "n_triangles_sampled",
            F.round(F.col("n_triangles_sampled") * F.lit(scale), 1).alias(
                "est_triangles"
            ),
        )
    )


_TRIANGLES_CAPPED_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT src, COUNT(*) AS d FROM (
    SELECT pa AS src FROM pairs UNION ALL SELECT pb AS src FROM pairs
  ) GROUP BY src
), keep AS (SELECT src FROM deg WHERE d <= {_TRI_CAP}),
kp AS (
  SELECT pa, pb FROM pairs
  WHERE pa IN (SELECT src FROM keep) AND pb IN (SELECT src FROM keep)
), tri AS (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM kp e1
  JOIN kp e2 ON e2.pa = e1.pb
  JOIN kp e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS part FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY part
"""


@query("copurchase_triangles_capped", oracle=_TRIANGLES_CAPPED_ORACLE)
def copurchase_triangles_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-capped triangle counts — the bounded companion to
    ``copurchase_triangles`` (the exact form is the oracle contract
    but its Σ deg² wedge mass DNFs at sf10 on one box; same
    oracle-form/scale-path split as n-gram Jaccard and ANN). Cap
    semantics are replicated in the oracle, so the gate proves the
    induced-subgraph result exactly; the dropped-mass report is
    available from :func:`triangle_counts_capped`."""
    li = load_table(spark, sf_dir, "lineitem")
    width = _graph_width(spark, li)
    und = _snapshot_edges(copurchase_edges(li, n_partitions=width))
    counts, _dropped = triangle_counts_capped(und, _TRI_CAP, width)
    return counts


_CAP_REPORT_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT src, COUNT(*) AS d FROM (
    SELECT pa AS src FROM pairs UNION ALL SELECT pb AS src FROM pairs
  ) GROUP BY src
), keep AS (SELECT src FROM deg WHERE d <= {_TRI_CAP})
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE d > {_TRI_CAP})
         AS n_dropped_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
        WHERE pa IN (SELECT src FROM keep)
          AND pb IN (SELECT src FROM keep)) AS n_edges_kept
"""


@query("copurchase_cap_report", oracle=_CAP_REPORT_ORACLE)
def copurchase_cap_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dropped-mass report for the degree cap: how many vertices
    and edges the capped triangle count excludes — the honesty row
    that makes the cap a documented subgraph, not a silent truncation."""
    li = load_table(spark, sf_dir, "lineitem")
    width = _graph_width(spark, li)
    und = _snapshot_edges(copurchase_edges(li, n_partitions=width))
    _counts, dropped = triangle_counts_capped(und, _TRI_CAP, width)
    return dropped


_TRIANGLES_SAMPLED_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), samp AS (
  SELECT pa, pb FROM pairs
  WHERE CAST(('0x' || substr(md5(CAST(pa AS VARCHAR) || '|' ||
             CAST(pb AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < {_TRI_KEEP_PCT}
), tri AS (
  SELECT 1 AS one
  FROM samp e1
  JOIN samp e2 ON e2.pa = e1.pb
  JOIN samp e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_edges_sampled,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles_sampled,
       ROUND((SELECT COUNT(*) FROM tri)
             * POWER(100.0 / {_TRI_KEEP_PCT}, 3), 1) AS est_triangles
"""


@query("copurchase_triangles_sampled", oracle=_TRIANGLES_SAMPLED_ORACLE)
def copurchase_triangles_sampled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doulion edge-sampled global triangle estimate — the scale dial
    for the Σ deg² cliff (p=0.2 cuts wedge mass 25×; error measured
    1.4% at sf0.01, bound pinned in pytest). The md5 edge coin is
    engine-portable, so the oracle reproduces the exact sampled
    subgraph and the gate checks the estimator end-to-end."""
    li = load_table(spark, sf_dir, "lineitem")
    width = _graph_width(spark, li)
    return triangle_estimate_sampled(
        copurchase_pairs(li, n_partitions=width), _TRI_KEEP_PCT, width
    )


# --- market-basket lift -----------------------------------------------

_BASKET_LIFT_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
         FROM baskets),
item AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
  FROM baskets GROUP BY l_partkey
), pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_pair,
       ROUND(n_pair * (SELECT n_orders FROM n)
             / (ia.n_item * ib.n_item), 6) AS lift
FROM pair
JOIN item ia ON ia.l_partkey = part_a
JOIN item ib ON ib.l_partkey = part_b
WHERE n_pair >= 3
"""


@query("basket_lift_pairs", oracle=_BASKET_LIFT_ORACLE)
def basket_lift_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: for co-purchased part pairs seen in ≥3
    orders (63 pairs at sf0.01 — the fixture's baskets are small), the LIFT P(a,b)·N / (P(a)·P(b)·N²·…) — >1 means the pair
    co-occurs more than independence predicts (the association-rule
    screen behind "bought together"). Pair generation is the same
    Σ per-order² order-keyed join as copurchase_edges (bounded by
    basket size, never catalog²); item counts broadcast back onto the
    support-filtered pair frame, so the expensive join output shrinks
    before the lift math."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n = baskets.agg(
        F.countDistinct("l_orderkey").cast("double").alias("__n_orders")
    )
    item = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a = baskets.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = baskets.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pair = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= 3)
    )
    return (
        pair.join(
            item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("__ia")),
            "part_a",
        )
        .join(
            item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("__ib")),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            F.round(
                F.col("n_pair") * F.col("__n_orders")
                / (F.col("__ia") * F.col("__ib")),
                6,
            ).alias("lift"),
        )
    )


# --- community detection: synchronous label propagation ----------------

#: Fixed LPA iteration count — fixed (like _N_ITER) so the result is
#: deterministic and the oracle can unroll the same rounds.
_LPA_ITER = 2


def label_propagation(
    pairs: DataFrame,
    n_iter: int = _LPA_ITER,
    n_edge_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected graph given as one-direction (pa < pb) pairs, for at
    most ``n_iter`` ≥ 1 rounds. Returns ``(labels, rounds_run)``.

    Every node starts labeled with its own id; each round, every node
    adopts the most frequent label among its NEIGHBORS (self label
    excluded — the classic formulation), ties broken to the smallest
    label. Synchronous rounds + the deterministic tie-break make the
    result engine-reproducible — the asynchronous variant's
    order-dependence is exactly what an oracle can't check.

    Rounds stop early at a fixed point (a round that changed no
    label), which returns the same labels as running all ``n_iter``:
    the oracle-able contract is a fixed round count (DuckDB can unroll
    k rounds, it cannot express "until converged"), and the production
    form is done when communities stop moving. On bipartite-ish
    structures synchronous updates can 2-cycle instead of converging;
    ``n_iter`` bounds that, and ``rounds_run == n_iter`` tells the
    caller the bound was hit.

    Scale shape — ONE wide shuffle total, zero exchanges per round
    (the iteration cost is paid once, at edge materialization — the
    same "pay the shuffle at write time" move as the bucketed-table
    layout):
    - the receiver-partitioned, persisted edge frame
      (:func:`_lpa_edges`); every round's broadcast-hash join
      preserves its partitioning, so the per-round aggregate needs NO
      exchange — a round is one in-memory edge scan + a
      partition-local aggregate;
    - round 1 never runs the general update at all: from identity
      labels on a simple graph every neighbor label is distinct, so
      every count is 1 and the most-frequent-tie-to-lowest rule
      degenerates to ``min(neighbor id)`` — a plain vectorized MIN
      with no join and no label state;
    - later rounds run count-per-(dst, label) then a max-struct
      argmax — BOTH partition-local under the dst-partitioning, both
      whole-stage-codegen HashAggregates over primitive buffers.
      Two rejected alternates, both measured at sf10 (90M pairs, 2M
      nodes, PERF.md #58): the same count+argmax as two free-standing
      aggregations shuffles near-edge-mass almost-unique keys twice
      (478 s end to end); ``mode(label, deterministic=true)`` — LPA's
      update rule as one aggregate — avoids the shuffles but its
      ObjectHashAggregate map buffers run ~3× slower than the
      codegen'd pair (61 s vs 22 s for the round);
    - label state is |V| rows, snapshotted per round by
      :func:`_rounds` and re-broadcast; the change flag is one more
      map-side probe of the same broadcast state (for vertex sets too
      big to broadcast, swap the message join to a shuffle join — the
      round structure is unchanged).
    """
    edges = _lpa_edges(pairs, n_edge_partitions)

    def step(labels: DataFrame | None) -> DataFrame:
        if labels is None:  # round 1: identity labels, all distinct ⇒ min
            return edges.groupBy("dst").agg(
                F.min("src").alias("label"), F.lit(True).alias("__changed")
            ).withColumnRenamed("dst", "node")
        lw = F.broadcast(labels)
        counts = (
            edges.join(lw, edges.src == lw.node)
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        return (
            counts.groupBy("dst")
            .agg(F.max(F.struct("__c", (-F.col("label")).alias("nl"))).alias("__m"))
            .select(F.col("dst").alias("node"), (-F.col("__m.nl")).alias("label"))
            .alias("new")
            .join(lw.alias("old"), "node")  # the message join's broadcast, reused
            .select(
                "node",
                "new.label",
                (F.col("new.label") != F.col("old.label")).alias("__changed"),
            )
        )

    return _rounds(edges, None, step, n_iter, stop=True)


_LPA_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), edges AS (
  SELECT pa AS src, pb AS dst FROM pairs
  UNION ALL
  SELECT pb AS src, pa AS dst FROM pairs
), l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
), c1 AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM edges e JOIN l0 l ON l.node = e.src
  GROUP BY e.dst, l.label
), l1 AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM c1) t
  WHERE rn = 1
), c2 AS (
  SELECT e.dst AS node, l.label, COUNT(*) AS c
  FROM edges e JOIN l1 l ON l.node = e.src
  GROUP BY e.dst, l.label
), l2 AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM c2) t
  WHERE rn = 1
)
SELECT node AS part, label AS community FROM l2
"""


@query("copurchase_communities", oracle=_LPA_ORACLE)
def copurchase_communities_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the co-purchase graph: which parts
    cluster into purchasing neighborhoods? 2 synchronous LPA rounds
    (_LPA_ITER) with min-label tie-break; the oracle unrolls the same
    rounds, so the hash match proves the Spark message/argmax
    pipeline implements the recurrence exactly.

    Scale record (PERF.md #61-62): the controlled cold/warm
    experiment shows this plan spills nothing and is insensitive to
    page-cache state at sf10; same-day replicated endpoints put the
    last decade at ~8x (work-proportional — edges grow 10x/decade).
    The apparent 19-24x in r5 was single-sample endpoints through the
    host's ~2x run-to-run compute variance."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    width = _graph_width(spark, li)
    labels, _ = label_propagation(
        copurchase_pairs(li, distinct=False, n_partitions=width),
        n_iter=_LPA_ITER,
        n_edge_partitions=width,
    )
    return labels.select(
        F.col("node").alias("part"), F.col("label").alias("community")
    )
