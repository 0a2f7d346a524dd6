"""Analytics-surface extensions the reference lacks outright.

SURVEY §2.13 lists what the reference never implements: ranking /
lag / lead / ntile windows, set operations, LIMIT/top-k, grouping
sets, non-equi joins, approximate aggregates. A user replacing the
reference with this engine gets them here, each DuckDB-verified
(or pytest-bounded where approximation makes hash equality the
wrong contract).

Hash-stability conventions follow plans/core.py: ROUND(x, 6) on
computed doubles both sides, timestamps as epoch micros, explicit
tiebreakers under every window order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prisma_migrator_spark.catalog import load_table
from prisma_migrator_spark.operators.driver_state import pin
from prisma_migrator_spark.operators.joins import interval_join
from prisma_migrator_spark.operators.ranking import topk_per_group
from prisma_migrator_spark.plans.registry import query

# --- ranking window + top-k per group (absent per SURVEY §2.13) --------

_TOP_ORDERS_ORACLE = """
SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey,
       ROUND(o_totalprice, 2) AS total_price
FROM (
  SELECT o.*, ROW_NUMBER() OVER (
      PARTITION BY o_custkey
      ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders o) t
WHERE rn <= 3
"""


@query("top_orders_per_customer", oracle=_TOP_ORDERS_ORACLE)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price — k>1 generalization of the
    reference's latest-per-key idiom (src/utils/lib.ts:303,313)."""
    orders = load_table(spark, sf_dir, "orders")
    top = topk_per_group(
        orders, ["o_custkey"], "o_totalprice", k=3, tiebreakers=["o_orderkey"]
    )
    return top.select(
        "o_custkey",
        F.col("rn").cast("int").alias("rn"),
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
    )


# --- grouping sets / rollup (absent per SURVEY §2.13) ------------------

_REVENUE_ROLLUP_ORACLE = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("revenue_rollup", oracle=_REVENUE_ROLLUP_ORACLE)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with subtotal + grand-total
    rows. Spark plans this as Expand + one hash aggregate — rows are
    replicated per grouping set map-side, partial-agg'd, one shuffle;
    no per-level rescans at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "revenue",
        )
    )


# --- set operations (absent per SURVEY §2.7) ---------------------------

_SETOPS_ORACLE = """
SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderstatus = 'F' AND YEAR(o_orderdate) = 1996
"""


@query("repeat_customers_setops", oracle=_SETOPS_ORACLE)
def repeat_customers_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT + EXCEPT chain: customers ordering in both 1995 and
    1996, minus those with a finalized 1996 order. Catalyst rewrites
    both set ops to (semi/anti) hash joins over distinct keys — each a
    single shuffle on o_custkey."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    in95 = orders.where(yr == 1995).select("o_custkey")
    in96 = orders.where(yr == 1996).select("o_custkey")
    f96 = orders.where((yr == 1996) & (F.col("o_orderstatus") == "F")).select(
        "o_custkey"
    )
    return in95.intersect(in96).exceptAll(f96.distinct())


# --- bounded interval (equi + range) join ------------------------------

_ATTRIBUTION_ORACLE = """
WITH anchors AS (
  SELECT user_id, MIN(ts) AS anchor_ts FROM events GROUP BY user_id
)
SELECT e.user_id,
       EPOCH_US(a.anchor_ts) AS anchor_us,
       CAST(COUNT(*) AS BIGINT) AS n_events_24h,
       ROUND(SUM(e.value), 6) AS value_24h
FROM events e
JOIN anchors a
  ON e.user_id = a.user_id
 AND e.ts >= a.anchor_ts
 AND e.ts < a.anchor_ts + INTERVAL 24 HOURS
GROUP BY e.user_id, a.anchor_ts
"""


@query("event_attribution_24h", oracle=_ATTRIBUTION_ORACLE)
def event_attribution_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution window: per user, activity within 24h of their
    first event — equi + range join (absent per SURVEY §2.13). The
    anchor side is one row per user (aggregated), so it broadcasts;
    the range bound is a residual predicate inside the hash join,
    never a cross product."""
    ev = load_table(spark, sf_dir, "events")
    anchors = ev.groupBy("user_id").agg(F.min("ts").alias("anchor_ts"))
    hits = interval_join(
        ev.select("user_id", "ts", "value"),
        anchors,
        on=["user_id"],
        left_ts="ts",
        right_start="anchor_ts",
        duration="24 HOURS",
        broadcast_right=True,
    )
    return hits.groupBy("user_id", "anchor_ts").agg(
        F.count("*").alias("n_events_24h"),
        F.round(F.sum("value"), 6).alias("value_24h"),
    ).select(
        "user_id",
        F.unix_micros("anchor_ts").alias("anchor_us"),
        "n_events_24h",
        "value_24h",
    )


# --- lag/lead inter-arrival gaps (absent per SURVEY §2.13) -------------

_GAPS_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(AVG(gap_us / 1e6), 6) AS avg_gap_s,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM (
  SELECT user_id,
         EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events) t
WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


@query("user_event_gaps", oracle=_GAPS_ORACLE)
def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics via LAG — one shuffle on
    user_id, per-partition sort, then a partial-agg'd groupBy on the
    same key (no second shuffle: the window's hash partitioning is
    reused by the aggregate)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.avg(F.col("gap_us") / 1e6), 6).alias("avg_gap_s"),
        F.max("gap_us").alias("max_gap_us"),
    )


# --- ntile quantile buckets (absent per SURVEY §2.13) ------------------

_QUARTILES_ORACLE = """
WITH th AS (
  SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS ts FROM orders
)
SELECT CAST(1 + LEN(LIST_FILTER(ts, t -> o_totalprice > t)) AS INT) AS q,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM orders, th
GROUP BY 1
"""


@query("order_price_quartiles", oracle=_QUARTILES_ORACLE)
def order_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price quartiles by percentile cut points, never NTILE: three
    exact quartile cuts from one scalar agg, broadcast to every task,
    bucket assignment a map-side comparison — the quality_deciles_q
    pattern. NTILE(4) would funnel the whole fact table through ONE
    task's sort (the unpartitioned-window hazard, SURVEY §7.3 #6);
    here every corpus-sized stage is parallel and only 3 doubles
    move. Contract difference vs NTILE: rows tied on price land in
    the same quartile and bucket counts can differ by one row around
    each cut — the right trade at 100 TB. ``ntile_buckets`` remains
    for report-sized frames. At 100 TB swap ``percentile`` for
    ``approx_percentile`` (t-digest sketch, identical plan shape)."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    th = orders.agg(
        F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").alias("ts")
    )
    q = (
        F.lit(1)
        + F.size(F.filter("ts", lambda t: F.col("o_totalprice") > t))
    ).cast("int")
    return (
        orders.crossJoin(F.broadcast(th))
        .groupBy(q.alias("q"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


# --- approximate aggregates (absent per SURVEY §2.13; the 100 TB path) -

# No DuckDB oracle: HLL implementations differ across engines, so hash
# equality is the wrong contract. tests/test_analytics.py bounds the
# relative error against the exact count instead (driver: rows-only).


@query("approx_distinct_parts")
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier approx_count_distinct(part) — HyperLogLog++, fixed
    ~few-KB sketch per group merged map-side, vs COUNT(DISTINCT)'s
    full key shuffle. At 100 TB this is the difference between a
    bounded-memory single pass and materializing every distinct pair."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
    )


@query("approx_event_value_quantiles")
def approx_event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type p25/p50/p75/p95 of value via percentile_approx
    (Greenwald–Khanna sketch, mergeable, bounded memory) — the
    fact-scale alternative to ntile bucketing. Accuracy bounded in
    tests/test_analytics.py against exact percentiles."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile_approx("value", [0.25, 0.5, 0.75, 0.95], 10000)
    return ev.groupBy("event_type").agg(
        pct[0].alias("p25"),
        pct[1].alias("p50"),
        pct[2].alias("p75"),
        pct[3].alias("p95"),
    )


# --- conversion funnel (absent per SURVEY §2.13) -----------------------

_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT v.user_id,
       EPOCH_US(v.t1) AS view_us,
       EPOCH_US(c.t2) AS click_us,
       EPOCH_US(p.t3) AS purchase_us,
       1 + CAST(c.user_id IS NOT NULL AS INT)
         + CAST(p.user_id IS NOT NULL AS INT) AS stage
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


@query("funnel_view_click_purchase", oracle=_FUNNEL_ORACLE)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per user,
    the FIRST view, the first click strictly after it, the first
    purchase strictly after that, and the stage reached (1-3).

    Plan: chained min-aggregations — each stage filters its event
    type, joins the (user, prev_stage_ts) anchors, takes min(ts).
    Every aggregate carries tiny fixed state (one timestamp), so a
    whale user with 10⁸ events costs nothing beyond its scan — the
    deliberate alternative to collect-sorted-events-per-user, whose
    agg buffer grows with the user's history. All joins and aggs key
    on user_id; after the first exchange the stages stay
    co-partitioned, and each stage's input shrinks (funnel
    monotonicity)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    # v and c feed BOTH the next stage and the final join; without
    # the pins each consumer recomputes the lineage and the fact is
    # scanned 6x instead of 3x. The pinned frames are user-level
    # aggregates (one timestamp per user), orders smaller than the
    # fact they summarize.
    v = pin(
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = pin(
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.unix_micros("t1").alias("view_us"),
            F.unix_micros("t2").alias("click_us"),
            F.unix_micros("t3").alias("purchase_us"),
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).alias("stage"),
        )
    )


# --- retention cohorts (absent per SURVEY §2.13) -----------------------

_RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_date
  FROM events GROUP BY user_id
)
SELECT f.cohort_date,
       datediff('day', f.cohort_date, CAST(date_trunc('day', e.ts) AS DATE))
         AS day_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


@query("retention_cohorts_daily", oracle=_RETENTION_ORACLE)
def retention_cohorts_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic DAU retention triangle: users cohorted by the day of
    their first event; for each (cohort day, day offset) the count of
    distinct users active that day.

    Plan: ONE fact scan (2 columns), ONE user-keyed shuffle whose
    map-side partial collapses events to per-user distinct-day sets
    (bounded by the calendar — a user has at most ~2 years of active
    days, so partial-agg state is small no matter how many events a
    hot user emits); cohort = array_min of the same set, map-side.
    Exploding the set yields exactly one row per (user, active day),
    so the (cohort, offset) rollup is a plain COUNT — no
    count-distinct expansion, and no join back to the fact. The r5
    scale batch measured the previous join-back form at 18.6×/decade
    at sf10 (two fact-wide shuffles + a distinct expansion over event
    rows); this shape shuffles event rows once and user-day rows
    once."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    days = ev.groupBy("user_id").agg(
        F.collect_set(F.to_date("ts")).alias("days")
    )
    return (
        days.select(
            F.array_min("days").alias("cohort_date"),
            F.explode("days").alias("day"),
        )
        .select(
            "cohort_date",
            F.datediff("day", F.col("cohort_date")).alias("day_offset"),
        )
        .groupBy("cohort_date", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- time-grid gap filling / resampling (absent per SURVEY §2.13) ------

_GAP_BUCKET_US = 6 * 3600 * 1_000_000  # 6-hour buckets

_GAPFILL_ORACLE = f"""
WITH b AS (
  SELECT user_id,
         EPOCH_US(ts) // {_GAP_BUCKET_US} * {_GAP_BUCKET_US} AS bucket_us,
         value
  FROM events
), spans AS (
  SELECT user_id, MIN(bucket_us) AS lo, MAX(bucket_us) AS hi FROM b
  GROUP BY user_id
), grid AS (
  SELECT s.user_id, g.bucket_us
  FROM spans s,
       LATERAL UNNEST(generate_series(s.lo, s.hi, {_GAP_BUCKET_US}))
         AS g(bucket_us)
), agg AS (
  SELECT user_id, bucket_us, CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 6) AS total_value
  FROM b GROUP BY user_id, bucket_us
)
SELECT grid.user_id, grid.bucket_us,
       COALESCE(agg.n_events, 0) AS n_events,
       COALESCE(agg.total_value, 0.0) AS total_value
FROM grid LEFT JOIN agg USING (user_id, bucket_us)
"""


@query("events_gapfill_6h", oracle=_GAPFILL_ORACLE)
def events_gapfill_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with zero-fill: each user's event
    stream becomes a DENSE 6-hour series from their first to last
    bucket — the shape feature pipelines and chart backends need
    (missing buckets are rows, not absences).

    Plan: bucket map-side (integer epoch arithmetic), per-user span
    aggregate, grid EXPLODE from a micros sequence (output-sized — the
    grid is rows ∝ result, never a cross join), left join the bucket
    aggregate back on (user, bucket). Every stage keys on user_id or
    (user_id, bucket): co-partitioned after the first exchange."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "user_id",
        (
            F.floor(F.unix_micros("ts") / _GAP_BUCKET_US)
            * F.lit(_GAP_BUCKET_US)
        ).alias("bucket_us"),
        "value",
    )
    agg = b.groupBy("user_id", "bucket_us").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    grid = (
        b.groupBy("user_id")
        .agg(F.min("bucket_us").alias("lo"), F.max("bucket_us").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.lit(_GAP_BUCKET_US))
            ).alias("bucket_us"),
        )
    )
    return grid.join(agg, ["user_id", "bucket_us"], "left").select(
        "user_id",
        "bucket_us",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


# --- unpivot / melt (absent per SURVEY §2.13) --------------------------

_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT r.r_name,
         CAST(COUNT(DISTINCT n.n_nationkey) AS BIGINT) AS n_nations,
         CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
         CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT) AS n_suppliers
  FROM region r
  JOIN nation n ON n.n_regionkey = r.r_regionkey
  LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
  LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
  GROUP BY r.r_name
)
SELECT r_name, metric, value
FROM wide
UNPIVOT (value FOR metric IN (n_nations, n_customers, n_suppliers))
"""


@query("region_counts_unpivot", oracle=_UNPIVOT_ORACLE)
def region_counts_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via native `unpivot` (Spark 3.4+): per-
    region entity counts melted to (region, metric, value) rows.
    Unpivot is a zero-shuffle map expansion (each input row emits
    |metrics| rows); the wide frame upstream is dimension-sized."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    wide = (
        r.join(n, n["n_regionkey"] == r["r_regionkey"])
        .join(c, c["c_nationkey"] == n["n_nationkey"], "left")
        .join(s, s["s_nationkey"] == n["n_nationkey"], "left")
        .groupBy("r_name")
        .agg(
            F.count_distinct("n_nationkey").alias("n_nations"),
            F.count_distinct("c_custkey").alias("n_customers"),
            F.count_distinct("s_suppkey").alias("n_suppliers"),
        )
    )
    return wide.unpivot(
        ["r_name"],
        ["n_nations", "n_customers", "n_suppliers"],
        "metric",
        "value",
    )


# --- CUBE grouping sets (completes the ROLLUP family) -------------------

_REVENUE_CUBE_ORACLE = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("revenue_cube", oracle=_REVENUE_CUBE_ORACLE)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^d grouping sets in
    one pass — same Expand + single hash aggregate plan as ROLLUP,
    rows replicated per set map-side with partial aggregation, one
    shuffle regardless of d."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "revenue",
        )
    )


# --- correlated scalar subquery (decorrelated) -------------------------

_ABOVE_AVG_ORACLE = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price
FROM orders o
WHERE o_totalprice > (
  SELECT AVG(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
)
"""


@query("orders_above_cust_avg", oracle=_ABOVE_AVG_ORACLE)
def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery ("orders above the customer's own
    average"), decorrelated the way Catalyst would: the per-customer
    average is a WINDOW aggregate over the same partition — one
    shuffle on o_custkey, no join, no per-row subquery execution. The
    oracle keeps the correlated form, so the hash match pins the
    decorrelation's semantics (including single-order customers, whose
    order equals the average and is excluded)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("__avg", F.avg("o_totalprice").over(w))
        .where(F.col("o_totalprice") > F.col("__avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )


# --- percent_rank within partitions (window family completeness) -------

_PCTRANK_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       ROUND(PERCENT_RANK() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank
FROM orders
"""


@query("order_pctrank_by_priority", oracle=_PCTRANK_ORACLE)
def order_pctrank_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank PARTITIONED by order priority — the scale-safe
    form of the rank-normalization family (a GLOBAL percent_rank is
    the single-partition hazard `order_price_quartiles` documents;
    partitioning bounds each sort to its group). Explicit o_orderkey
    tiebreak keeps the rank deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


# --- rolling distinct users (WAU) --------------------------------------

_WAU_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
), contrib AS (
  SELECT user_id, day + CAST(g.i AS INT) AS as_of_day
  FROM ud, LATERAL UNNEST(range(7)) AS g(i)
), days AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d FROM events)
SELECT c.as_of_day,
       CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
FROM contrib c JOIN days ON days.d = c.as_of_day
GROUP BY c.as_of_day
"""


@query("events_wau", oracle=_WAU_ORACLE)
def events_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU): each (user, day)
    activity contributes to the 7 as-of days it's visible from — the
    same map-side replicate-into-windows trick as hopping windows
    (×7 Expand on the user-day DEDUPED frame, which is orders smaller
    than the event fact), then one count-distinct per day. No
    sliding-window distinct (which can't partial-aggregate); restrict
    to days that exist in the data so the grid carries no phantom
    trailing days."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("i"),
        "day",
    ).select("user_id", F.date_add("day", F.col("i")).alias("as_of_day"))
    days = ev.select(F.to_date("ts").alias("as_of_day")).distinct()
    return (
        contrib.join(days, "as_of_day")
        .groupBy("as_of_day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )


# --- mergeable-sketch incremental distinct counting -------------------


@query("incremental_distinct_users")  # rows-only: HLL estimates are
# engine-specific (DuckDB's approx_count_distinct uses a different
# sketch); pytest pins merge-associativity and a 5% error bound
def incremental_distinct_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users via MERGEABLE HyperLogLog sketches: one Datasketches
    HLL per day, union-merged into the corpus-wide estimate — the
    incremental pattern for distinct counts at 100 TB: store a
    KB-sized sketch per partition/day, answer "distinct over any date
    range" by merging sketches, never rescanning history (the same
    maintenance shape as incremental_sessions / the rollup writer).

    Returns one row: days merged, the merged estimate, the
    single-pass estimate over all events, and the exact count.
    ``test_hll_sketch_merge_is_exact_union`` pins merged == direct
    (sketch union is lossless for HLL, not a re-approximation) and
    both within 5% of exact at lgConfigK=14."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)).alias("day"),
    )
    daily = ev.groupBy("day").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    merged = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk, true))").alias(
            "est_merged"
        ),
    )
    direct = ev.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias(
            "est_direct"
        ),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return merged.crossJoin(F.broadcast(direct))


# --- fixed-bin histogram ----------------------------------------------

_HISTOGRAM_ORACLE = """
WITH b AS (
  SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
)
SELECT CAST(LEAST(CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 20.0)) AS INT) + 1,
                  20) AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(o_totalprice), 2) AS bin_min,
       ROUND(MAX(o_totalprice), 2) AS bin_max
FROM orders, b
GROUP BY 1
"""


@query("order_price_histogram", oracle=_HISTOGRAM_ORACLE)
def order_price_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equal-width histogram of order totals — the dashboard
    primitive. Bounds are a 1-row aggregate broadcast back (the
    global-max pattern, never a sort); binning is map-side
    `width_bucket` and the count is one 20-key aggregate with
    map-side combine; the max value's overflow bin folds into the
    last one. Bin arithmetic is the same explicit float expression on
    both engines so boundary values can't straddle."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(
            # explicit arithmetic (not width_bucket): DuckDB 1.0 lacks
            # the function, and matching the oracle bit-for-bit at bin
            # boundaries requires the SAME float expression both sides
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / F.lit(20.0))
                ).cast("int")
                + F.lit(1),
                F.lit(20),
            ).cast("int").alias("bin"),
            "o_totalprice",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
    )


# --- funnel conversion-latency percentiles ----------------------------

_FUNNEL_LATENCY_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), lat AS (
  SELECT v.user_id,
         EPOCH_US(c.t2) - EPOCH_US(v.t1) AS view_to_click_us,
         EPOCH_US(p.t3) - EPOCH_US(c.t2) AS click_to_purchase_us
  FROM v JOIN c USING (user_id) JOIN p USING (user_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(QUANTILE_CONT(view_to_click_us, 0.5) / 1e6, 3) AS vc_p50_s,
       ROUND(QUANTILE_CONT(view_to_click_us, 0.9) / 1e6, 3) AS vc_p90_s,
       ROUND(QUANTILE_CONT(click_to_purchase_us, 0.5) / 1e6, 3) AS cp_p50_s,
       ROUND(QUANTILE_CONT(click_to_purchase_us, 0.9) / 1e6, 3) AS cp_p90_s
FROM lat
"""


@query("funnel_latency_percentiles", oracle=_FUNNEL_LATENCY_ORACLE)
def funnel_latency_percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentiles over the view→click→purchase
    funnel: P50/P90 of each stage gap among fully-converted users.
    The stage anchors are the same tiny per-user min-timestamp
    aggregates as funnel_view_click_purchase; the percentile is an
    exact linear-interpolation `percentile` over the CONVERTED-USER
    frame (funnel output, orders smaller than the fact) — swap to
    percentile_approx when the converted population itself is huge."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    cv = v.join(c, "user_id")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(cv.select("user_id", "t2"), "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    lat = cv.join(p, "user_id").select(
        (F.unix_micros("t2") - F.unix_micros("t1")).alias("vc"),
        (F.unix_micros("t3") - F.unix_micros("t2")).alias("cp"),
    )
    # percentile interpolation noise is relative (~1e-16 of the
    # value); epoch-microsecond magnitudes leak it past ROUND(x, 6),
    # so report seconds at millisecond precision
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(vc, 0.5) / 1e6"), 3).alias("vc_p50_s"),
        F.round(F.expr("percentile(vc, 0.9) / 1e6"), 3).alias("vc_p90_s"),
        F.round(F.expr("percentile(cp, 0.5) / 1e6"), 3).alias("cp_p50_s"),
        F.round(F.expr("percentile(cp, 0.9) / 1e6"), 3).alias("cp_p90_s"),
    )


# --- order-to-ship lag percentiles ------------------------------------

_SHIP_LAG_ORACLE = """
WITH lag AS (
  SELECT o.o_orderpriority,
         (EPOCH_US(l.l_shipdate) - EPOCH_US(o.o_orderdate)) / 86400000000.0
           AS lag_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(QUANTILE_CONT(lag_days, 0.5), 3) AS p50_days,
       ROUND(QUANTILE_CONT(lag_days, 0.9), 3) AS p90_days,
       ROUND(QUANTILE_CONT(lag_days, 0.99), 3) AS p99_days
FROM lag GROUP BY o_orderpriority
"""


@query("ship_lag_percentiles", oracle=_SHIP_LAG_ORACLE)
def ship_lag_percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency P50/P90/P99 per order priority — the SLA
    report. One fact-fact equi join on the order key (orders side
    pruned to 2 columns), lag computed map-side in days, exact
    interpolated percentiles per priority (5 groups; the group-sized
    buffer caveat and percentile_approx swap per
    event_value_mad_outliers apply)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_shipdate"
    )
    lag_days = (
        F.unix_micros("l_shipdate") - F.unix_micros("o_orderdate")
    ) / 86_400_000_000.0
    lag = (
        li.join(o, "o_orderkey")
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select("o_orderpriority", lag_days.alias("lag_days"))
    )
    return lag.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(lag_days, 0.5)"), 3).alias("p50_days"),
        F.round(F.expr("percentile(lag_days, 0.9)"), 3).alias("p90_days"),
        F.round(F.expr("percentile(lag_days, 0.99)"), 3).alias("p99_days"),
    )


# --- contribution analysis (share within group) -----------------------

_NATION_SHARE_ORACLE = """
WITH s AS (
  SELECT n.n_name, su.s_suppkey,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN supplier su ON su.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = su.s_nationkey
  GROUP BY 1, 2
), t AS (
  SELECT n_name, SUM(revenue) AS nation_rev FROM s GROUP BY 1
)
SELECT s.n_name, s.s_suppkey, s.revenue,
       ROUND(s.revenue / t.nation_rev, 6) AS nation_share
FROM s JOIN t USING (n_name)
"""


@query("supplier_nation_share", oracle=_NATION_SHARE_ORACLE)
def supplier_nation_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis: each supplier's share of its NATION's
    revenue (ratio-to-report). The denominators come from a second,
    GROUP-SIZED aggregate joined back (25 nations — broadcast), not a
    `SUM() OVER (PARTITION BY nation)` window: the window form
    re-shuffles the full supplier frame and holds partitions in the
    window buffer, the re-aggregate touches only group-level rows.
    Dims broadcast into the fact scan; one fact shuffle total."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), "n_name"
    )
    s = (
        li.join(F.broadcast(sup), "l_suppkey")
        .join(F.broadcast(nat), "s_nationkey")
        .groupBy("n_name", F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.round(F.sum("rev"), 2).alias("revenue"))
    )
    t = s.groupBy("n_name").agg(F.sum("revenue").alias("__nation_rev"))
    return s.join(F.broadcast(t), "n_name").select(
        "n_name",
        "s_suppkey",
        "revenue",
        F.round(F.col("revenue") / F.col("__nation_rev"), 6).alias("nation_share"),
    )


# --- RFM customer segmentation ----------------------------------------

_RFM_ORACLE = """
WITH rfm AS (
  SELECT o_custkey,
         MAX(EPOCH_US(o_orderdate)) AS last_us,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         ROUND(SUM(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey
), cuts AS (
  SELECT QUANTILE_DISC(last_us, 0.5) AS r_cut,
         QUANTILE_DISC(frequency, 0.5) AS f_cut,
         QUANTILE_DISC(monetary, 0.5) AS m_cut
  FROM rfm
)
SELECT o_custkey, frequency, monetary,
       CASE WHEN last_us > r_cut THEN 1 ELSE 0 END AS r_hi,
       CASE WHEN frequency > f_cut THEN 1 ELSE 0 END AS f_hi,
       CASE WHEN monetary > m_cut THEN 1 ELSE 0 END AS m_hi
FROM rfm, cuts
"""


@query("customer_rfm_segments", oracle=_RFM_ORACLE)
def customer_rfm_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: each customer's recency/frequency/monetary
    value split at the population median into 8 segments (2³ flags).
    The cuts are DISCRETE medians from ONE 1-row aggregate broadcast
    back (the quality_deciles sketch-cut pattern — never a global
    NTILE sort); exact-value cuts (quantile_disc) keep the boundary
    deterministic across engines where interpolated medians would
    float-drift on the > comparison."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.unix_micros("o_orderdate").alias("us"), "o_totalprice"
    )
    rfm = o.groupBy("o_custkey").agg(
        F.max("us").alias("last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    cuts = rfm.agg(
        F.expr("percentile_approx(last_us, 0.5, 2147483647)").alias("r_cut"),
        F.expr("percentile_approx(frequency, 0.5, 2147483647)").alias("f_cut"),
        F.expr("percentile_approx(monetary, 0.5, 2147483647)").alias("m_cut"),
    )
    return rfm.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "frequency",
        "monetary",
        (F.col("last_us") > F.col("r_cut")).cast("int").alias("r_hi"),
        (F.col("frequency") > F.col("f_cut")).cast("int").alias("f_hi"),
        (F.col("monetary") > F.col("m_cut")).cast("int").alias("m_hi"),
    )


# --- Pareto frontier (skyline) ------------------------------------------

_PARETO_ORACLE = """
SELECT p.p_partkey, ROUND(p.p_retailprice, 2) AS price, p.p_size AS size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


def pareto_frontier_2d(
    df: DataFrame,
    minimize: str,
    maximize: str,
    n_buckets: int = 64,
) -> DataFrame:
    """All rows not dominated under (``minimize`` lower-is-better,
    ``maximize`` higher-is-better); ties on both axes all survive
    (dominance requires one STRICT inequality).

    The naive form is the quadratic NOT EXISTS self-join (the oracle
    keeps it). The 2-D skyline is a prefix-max scan instead: group to
    per-``minimize``-value champions (same value, smaller ``maximize``
    is dominated), then a value is on the frontier iff its champion
    strictly exceeds the running max over all strictly-cheaper values.
    Distribution follows ``global_running_offset``'s two-level shape —
    uniform value-range buckets, per-bucket maxima composed through a
    bucket-count-bounded global window, in-bucket prefix max per task —
    so no single task ever sees more than one bucket of champions and
    the frontier-pair frame (never larger than the distinct-value
    count, usually tiny) broadcasts back into a semi join against the
    fact. Two fact scans, both column-pruned to the axis columns.

    Precondition: both axis columns must be non-null. Rows with NULL
    in either axis are silently dropped (a null ``minimize`` never
    buckets; a null champion never matches the semi join), whereas
    the SQL NOT EXISTS form would retain them — filter or impute
    nulls upstream if they carry meaning.
    """
    from prisma_migrator_spark.operators.ranking import bounded_global_window

    lo_c, hi_c = minimize, maximize
    champs = df.groupBy(lo_c).agg(F.max(hi_c).alias("__s"))

    # r10 (guide §1.2, VERDICT r9 item 8): the axis range was an EAGER
    # champs.agg(min, max).first() — a driver-blocking job recomputing
    # the fact aggregate at build time. It now rides the plan as a
    # 1-row broadcast (packing.global_running_offset's shape). Bits
    # unchanged: same cast-widen/subtract/divide double ops, and the
    # frontier is invariant to any minimize-monotone bucketing (the
    # prefix max composes across any contiguous split). Empty or
    # all-null inputs yield a NULL range, every bucket goes NULL, the
    # inner bucket join drops the rows, and the semi join returns the
    # old df.limit(0) shape.
    rng = champs.groupBy().agg(
        F.min(lo_c).cast("double").alias("__lo"),
        F.max(lo_c).cast("double").alias("__hi"),
    )
    span_raw = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    span = F.when(span_raw == 0.0, F.lit(1.0)).otherwise(span_raw)
    b = F.least(
        (F.col(lo_c) - F.col("__lo")) / span, F.lit(n_buckets - 1)
    ).cast("long")
    bucketed = (
        champs.crossJoin(F.broadcast(rng))
        .withColumn("__b", b)
        .drop("__lo", "__hi")
    )

    totals = bucketed.groupBy("__b").agg(F.max("__s").alias("__m"))
    w_b = bounded_global_window(
        F.col("__b"), anchor="__b", bound=f"n_buckets={n_buckets} bucket maxima"
    ).rowsBetween(Window.unboundedPreceding, -1)
    bases = totals.select("__b", F.max("__m").over(w_b).alias("__base"))

    w_in = (
        Window.partitionBy("__b")
        .orderBy(lo_c)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        bucketed.join(F.broadcast(bases), "__b")
        .withColumn("__prev", F.greatest(F.max("__s").over(w_in), F.col("__base")))
        .where(F.col("__prev").isNull() | (F.col("__s") > F.col("__prev")))
        .select(lo_c, F.col("__s").alias(hi_c))
    )
    return df.join(F.broadcast(frontier), [lo_c, hi_c], "left_semi")


@query("pareto_parts_price_size", oracle=_PARETO_ORACLE)
def pareto_parts_price_size_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline over parts: cheapest price per size class — no part in
    the result is beaten on BOTH axes by any other part. The shape
    behind any 'best tradeoff' screen (cost vs quality, latency vs
    recall). Oracle keeps the quadratic NOT EXISTS dominance join;
    the Spark plan is the linear prefix-max form, so the hash match
    also proves the rewrite."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    out = pareto_frontier_2d(part, minimize="p_retailprice", maximize="p_size")
    return out.select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").alias("size"),
    )
