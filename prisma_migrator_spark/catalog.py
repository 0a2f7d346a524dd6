"""Catalog / source layer.

Mirrors the reference's schema-generic behavior (`getModels` +
per-model scans, reference src/migrate.ts:27-30,48): enumerate tables
dynamically, read each with its own schema preserved. For the test
fixtures the catalog is a directory of Parquet files; the JDBC variant
lives in :mod:`prisma_migrator_spark.sources.jdbc`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: The driver-generated fixture tables (TESTDATA.md).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def list_tables(sf_dir: str) -> list[str]:
    """Enumerate tables in a parquet directory (catalog introspection,
    reference src/migrate.ts:27-30 analog)."""
    return sorted(
        f[: -len(".parquet")]
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as Parquet TIMESTAMP(NANOS), which Spark 4
    rejects outright (PARQUET_TYPE_ILLEGAL)."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    first = path
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if not parts:
            return []
        first = os.path.join(path, parts[0])
    schema = pq.read_schema(first)
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


#: Session-scoped DataFrame handle cache for :func:`read_parquet`.
#: Schema inference (``spark.read.parquet``) costs ~85-150 ms of
#: driver time and one Spark job PER CALL, and the registry re-loads
#: the same handful of fixture tables for every query. Two traced
#: ``report_suite`` runs (perfbench, seed 1, local[4] on a 4-vCPU VM)
#: with this memo and :data:`_ENSURED` both off: the pass's 21 reads
#: took 1.8-3.2 s instead of 0.01 s, plan building 3.9-8.2 s instead
#: of 1.7-1.9 s, and the pass ran 84 jobs instead of 63. Caching the
#: lazy HANDLE is pure metadata caching: no rows are materialized,
#: every action still computes from the parquet files. Keyed by
#: (session, session timezone, absolute path, content signature) so a
#: new session or a rewritten file never serves a stale plan.
_DF_CACHE: dict[tuple, DataFrame] = {}


def _path_signature(path: str) -> tuple | None:
    """Content signature for the cache key: stat of the file, or of
    EVERY file under a directory table — recursive (ADVICE r9), so a
    partitioned/nested layout (key=val subdirs) whose member is
    rewritten in place misses the cache instead of serving a stale
    handle. All files count, not just ``*.parquet``: a changed
    ``_SUCCESS``/metadata sidecar is a rewrite signal too."""
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            members = []
            for root, dirs, files in os.walk(path):
                dirs.sort()
                rel = os.path.relpath(root, path)
                members.extend(
                    (os.path.join(rel, f), *_stat_pair(os.path.join(root, f)))
                    for f in sorted(files)
                )
            return (st.st_mtime_ns, tuple(members))
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def _stat_pair(p: str) -> tuple:
    st = os.stat(p)
    return (st.st_mtime_ns, st.st_size)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that normalizes timestamp storage quirks
    so every plan downstream sees plain ``TIMESTAMP`` (instant) columns
    with the same values DuckDB reads:

    - TIMESTAMP(NANOS), which Spark 4 rejects outright
      (PARQUET_TYPE_ILLEGAL): read as raw nanos
      (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild
      TimestampType at microsecond precision — the same
      floor-truncation DuckDB applies. Integer ``DIV 1000`` (not
      ``/1000``): epoch-nanos exceed double precision and float
      division is off by ±1µs.
    - TIMESTAMP_NTZ (parquet isAdjustedToUTC=false, which Spark 4
      infers as NTZ while DuckDB reads naive-as-UTC): reinterpret the
      wall-clock value as UTC via
      ``convert_timezone('UTC', current_timezone(), c)`` + cast. The
      round trip through ``current_timezone()`` cancels the session
      zone, so the result is the same instant under ANY session TZ —
      a plain ``cast(ntz as timestamp)`` would silently shift in
      non-UTC sessions. Zero-shuffle map expression; note predicates
      on converted columns no longer push to the parquet scan (none of
      the registered plans filter on raw event time).
    """
    from pyspark.sql import functions as F

    sig = _path_signature(path)
    key = None
    if sig is not None:
        # session timezone is part of the key: timezone-aware
        # expressions (the NTZ cast below) capture it at ANALYSIS
        # time, so a handle analyzed under one zone is wrong in
        # another (pinned by the NTZ timezone-independence test)
        key = (
            spark.sparkContext.applicationId,
            spark.conf.get("spark.sql.session.timeZone"),
            os.path.abspath(path),
            sig,
        )
    if key is not None and key in _DF_CACHE:
        return _DF_CACHE[key]

    ns_cols = _nanos_timestamp_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    ntz_cols = [name for name, dtype in df.dtypes if dtype == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(
            c,
            F.expr(
                f"cast(convert_timezone('UTC', current_timezone(), `{c}`) as timestamp)"
            ),
        )
    if key is not None:
        # eviction (ADVICE r9): entries keyed to another applicationId
        # belong to a stopped/replaced session and can never hit again
        # — drop them so long-lived multi-session processes don't grow
        # the cache without bound. A same-session size bound guards the
        # rewritten-file churn case.
        app_id = key[0]
        for k in [k for k in _DF_CACHE if k[0] != app_id]:
            del _DF_CACHE[k]
        if len(_DF_CACHE) > 256:
            _DF_CACHE.clear()
        _DF_CACHE[key] = df
    return df


#: Memo for :func:`ensure_parallelism`, keyed by the input DataFrame's
#: object identity (+ the requested floor). The partition probe costs
#: 100–150 ms of driver time per call (physical planning of the scan);
#: with :data:`_DF_CACHE` handing back the SAME handle for repeated
#: loads of a table, the probe result is stable per handle — so pay it
#: once per (handle, floor). Values hold a strong ref to the input df
#: so a recycled id() can never alias a dead entry.
_ENSURED: dict[tuple[int, int | None], tuple[DataFrame, DataFrame]] = {}


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY if the plan currently has fewer
    partitions than the cluster has cores.

    CPU-heavy map-only operators (tokenization, shingling, hashing)
    inherit the scan's parallelism; a single-row-group parquet file
    scans as ONE task, serializing all that work onto one core. On a
    real cluster the input has many splits and this is a no-op —
    checked from the plan's partitioning, no job is triggered. The
    repartition moves only the rows it's given (cheap for document
    tables relative to the per-row CPU), and never runs at 100 TB
    because such inputs always have >= cores splits.
    """
    memo_key = (id(df), min_partitions)
    hit = _ENSURED.get(memo_key)
    if hit is not None and hit[0] is df:
        return hit[1]
    try:
        sc = df.sparkSession.sparkContext
        target = min_partitions or sc.defaultParallelism
        current = df.rdd.getNumPartitions()
    except Exception:
        # environments without RDD access (e.g. Spark Connect): leave
        # the plan alone rather than fail the query
        return df
    out = df if current >= min(target, 8) else df.repartition(target)
    if len(_ENSURED) > 512:  # bound driver memory on churny sessions
        _ENSURED.clear()
    _ENSURED[memo_key] = (df, out)
    return out


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Full-table scan of one fixture table (reference src/migrate.ts:48
    analog — but partitioned/columnar, never driver-materialized)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in (names or TABLES)}

