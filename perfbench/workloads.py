"""The three workloads: the report suite, a resumed migration and a
keyed snapshot taking upsert batches beside reads.

Each workload generates its inputs and the reference results its
checks need from the seed once, when it is made, outside any timing.
A set-up writes those inputs where the engine reads them (``build``)
and warms up with one op (``warm_up``). The workload then runs passes
(``run_pass``; the first is a warm-up that no figure counts) and
checks its outputs (``check``). A pass is
the unit ``pass_cpu_s`` and ``pass_s`` measure; its ops are the units
``op_p50_s`` and ``op_p90_s`` time. Book-keeping the benchmark does
between ops (resetting a destination, listing the files a write left)
is outside both.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import sys
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import fixtures
from checks import duckdb_rows, rows_mismatch, tables_mismatch

#: The report suite: ``bench.HEADLINE`` as of the commit that added
#: this benchmark, pinned here so the workload does not move with it.
HEADLINE = [
    "flagship_popularity",
    "category_difficulty",
    "latest_per_key_lineitem",
    "distinct_pair_agg",
    "semi_join_orders",
    "asof_last_order",
    "events_tumbling_hourly",
    "events_session_30m",
    "text_stats",
    "clean_corpus",
    "minhash_lsh_pairs",
    "topk_cosine_bruteforce",
    "decontaminate_eval",
    "pack_stream_512",
]


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool = True
    error: str = ""
    kind: str = "op"  # "read" for the reads that follow a merge


@dataclass
class PassResult:
    ops: list[Op]
    bytes_written: int = 0
    files_written: int = 0
    logical_bytes: int = 0
    rows_changed: int = 0
    migrate: dict[str, int] = field(default_factory=dict)

    wall: float | None = None  # set where one call runs the whole pass

    @property
    def seconds(self) -> float:
        """Wall of the pass: the call that ran it, or, where the
        benchmark calls its ops one by one, their sum, without the
        benchmark's book-keeping between them."""
        return self.wall if self.wall is not None else sum(op.seconds for op in self.ops)

    @property
    def read_seconds(self) -> list[float]:
        return [op.seconds for op in self.ops if op.kind == "read"]


class ReadLog:
    """Every ``catalog.read_parquet`` result seen in the run. A read
    hits when it returns a handle an earlier read already returned.
    Reads made while a thread has named its op (``as_op``) are also
    filed under that op's name."""

    def __init__(self):
        self._handles: dict[int, object] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self.tables_by_op: dict[str, set[str]] = defaultdict(set)

    @contextlib.contextmanager
    def as_op(self, name: str):
        self._local.op = name
        try:
            yield
        finally:
            self._local.op = None

    def __call__(self, path: str, df, seconds: float) -> dict:
        with self._lock:
            hit = self._handles.get(id(df)) is df
            self._handles[id(df)] = df
            op = getattr(self._local, "op", None)
            if op is not None:
                self.tables_by_op[op].add(os.path.basename(path).removesuffix(".parquet"))
        return {"hit": hit}


def dir_files(path: str) -> dict[str, tuple[int, int, int]]:
    """relative path -> (inode, size, mtime) of every file under path."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written_between(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, parquet data files) of the files in ``after`` that were
    not in ``before`` or changed since."""
    new = {name: meta for name, meta in after.items() if before.get(name) != meta}
    data = [n for n in new if n.endswith(".parquet") and not os.path.basename(n).startswith(".")]
    return sum(meta[1] for meta in new.values()), len(data)


def write_like_engine(table: pa.Table, path: str) -> None:
    """Parquet as the engine writes it: timestamps as INT96 instants."""
    pq.write_table(table, path, use_deprecated_int96_timestamps=True)


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _failure(name: str, t0: float, exc: BaseException, kind: str = "op") -> Op:
    _log(f"op {name} failed:\n{traceback.format_exc()}")
    return Op(name, time.perf_counter() - t0, False, f"{type(exc).__name__}: {exc}", kind)


class Workload:
    name = ""

    def __init__(self, seed: int, sf: float, reads: ReadLog):
        self.seed = seed
        self.sf = sf
        self.reads = reads
        self.tables = fixtures.make_tables(seed, sf)
        self.generate()

    def generate(self) -> None:
        """Workload-specific inputs and reference results, in memory."""

    def build(self, spark, rep_dir: str) -> float:
        """Fixture files plus layout; returns the layout step's seconds."""
        from prisma_migrator_spark.sources.layout import optimize_layout

        self.fixture_dir = os.path.join(rep_dir, "fixtures")
        fixtures.write_tables(self.tables, self.fixture_dir)
        t0 = time.perf_counter()
        self.sf_dir = optimize_layout(self.fixture_dir, cache_root=os.path.join(rep_dir, "layout"))
        layout_s = time.perf_counter() - t0
        self.prepare(spark, rep_dir)
        return layout_s

    def prepare(self, spark, rep_dir: str) -> None:
        """Workload-specific files and handles, made after the fixtures."""

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, index: int, tracer) -> PassResult:
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        raise NotImplementedError


class ReportSuite(Workload):
    """The 14 headline queries through the noop sink, in a seeded
    order that changes every pass."""

    name = "report_suite"

    #: The shortest headline query: the warm-up is part of every set-up.
    WARM_UP = "semi_join_orders"

    def warm_up(self, spark) -> None:
        from prisma_migrator_spark.plans import QUERIES

        QUERIES[self.WARM_UP](spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def generate(self) -> None:
        #: query -> (columns, rows), collected in the first pass
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

    def run_pass(self, spark, index: int, tracer) -> PassResult:
        """The queries in a seeded order. The first pass, which runs
        cold and sets no figure, collects each query's rows for the
        oracle check; the others write them to the noop sink."""
        from prisma_migrator_spark.plans import QUERIES

        order = list(HEADLINE)
        random.Random(self.seed * 1_000_003 + index).shuffle(order)
        ops = []
        for q in order:
            t0 = time.perf_counter()
            try:
                with tracer.op(q), self.reads.as_op(q):
                    with tracer.span("plans.build"):
                        df = QUERIES[q](spark, self.sf_dir)
                    if tracer.enabled:
                        with tracer.span("exec.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec.run"):
                        if index == 0:
                            self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
                        else:
                            df.write.format("noop").mode("overwrite").save()
                ops.append(Op(q, time.perf_counter() - t0))
            except Exception as exc:  # an op boundary: record it, keep going
                ops.append(_failure(q, t0, exc))
        return PassResult(ops)

    def check(self, spark) -> list[str]:
        """Each query's rows from the first pass equal its DuckDB
        oracle's on the raw fixtures. Also counts the rows of the tables
        each query read: ``rows_per_pass``."""
        from prisma_migrator_spark.plans import ORACLES

        sizes = {t: tb.num_rows for t, tb in self.tables.items()}
        self.rows_per_pass = sum(sizes[t] for q in HEADLINE for t in self.reads.tables_by_op[q])
        errors = []
        for q in HEADLINE:
            if q not in self.results:
                errors.append(f"{q}: no rows to check, its op failed in the first pass")
                continue
            o_cols, o_rows = duckdb_rows(ORACLES[q], self.fixture_dir, list(self.tables))
            why = rows_mismatch(*self.results[q], o_cols, o_rows)
            if why is None and not o_rows:
                why = "no rows on either side, so nothing was checked"
            if why:
                errors.append(f"{q}: {why}")
        return errors


class MigrateResume(Workload):
    """``migrate.migrate()`` of all ten tables into a destination that
    an interrupted earlier copy left holding a seed-chosen half of each
    table's rows."""

    name = "migrate_resume"

    #: Share of each table the interrupted copy left behind. The seed
    #: picks which rows, not how many, so every seed skips and writes
    #: the same number of rows and its pass does the same work.
    PREFILL_SHARE = 0.5

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 1])
        self.prefill: dict[str, pa.Table] = {}
        self.expected_new: dict[str, int] = {}
        self.logical_bytes = 0
        for name in sorted(self.tables):
            table = self.tables[name]
            keep = np.zeros(table.num_rows, dtype=bool)
            keep[rng.choice(table.num_rows, int(table.num_rows * self.PREFILL_SHARE), replace=False)] = True
            self.prefill[name] = table.filter(pa.array(keep))
            fresh = table.filter(pa.array(~keep))
            self.expected_new[name] = fresh.num_rows
            self.logical_bytes += fresh.nbytes
        self.rows_per_pass = sum(t.num_rows for t in self.tables.values())

    def prepare(self, spark, rep_dir: str) -> None:
        self.dst = os.path.join(rep_dir, "dst")

    def _reset(self, tables) -> None:
        shutil.rmtree(self.dst, ignore_errors=True)
        for name in tables:
            out = os.path.join(self.dst, f"{name}.parquet")
            os.makedirs(out)
            write_like_engine(self.prefill[name], os.path.join(out, "part-00000-prefill.parquet"))

    def warm_up(self, spark) -> None:
        """Copy ``orders`` into a reset destination; a failure fails the run."""
        from prisma_migrator_spark import migrate

        self._reset(["orders"])
        report = migrate.migrate(spark, self.sf_dir, self.dst, tables=["orders"], key_cols=fixtures.KEYS)
        if not report.ok:
            raise RuntimeError(f"warm-up migration failed:\n{report.summary()}")

    def run_pass(self, spark, index: int, tracer) -> PassResult:
        from prisma_migrator_spark import migrate

        original = migrate.migrate_table

        def traced_table(spark, src_dir, dst_dir, table, key_cols=None):
            with tracer.op(table):
                return original(spark, src_dir, dst_dir, table, key_cols)

        self._reset(self.prefill)
        before = dir_files(self.dst)
        migrate.migrate_table = traced_table if tracer.enabled else original
        t0 = time.perf_counter()
        try:
            report = migrate.migrate(spark, self.sf_dir, self.dst, key_cols=fixtures.KEYS)
        finally:
            wall = time.perf_counter() - t0
            migrate.migrate_table = original
        ops = []
        for t in report.tables:
            expected = (self.tables[t.table].num_rows, self.expected_new[t.table])
            error = t.error
            if not error and (t.rows_read, t.rows_written) != expected:
                error = f"read/wrote {t.rows_read}/{t.rows_written} rows, expected {expected[0]}/{expected[1]}"
            if error:
                _log(f"op {t.table} failed: {error}")
            ops.append(Op(t.table, t.seconds, not error, error))
        nbytes, nfiles = written_between(before, dir_files(self.dst))
        written = sum(t.rows_written for t in report.tables)
        return PassResult(
            ops, nbytes, nfiles, self.logical_bytes, rows_changed=written, wall=wall,
            migrate={
                "rows_read": sum(t.rows_read for t in report.tables),
                "rows_written": written,
                "failed_tables": sum(t.status == "failed" for t in report.tables),
            },
        )

    def check(self, spark) -> list[str]:
        """Each destination table equals its source as a multiset."""
        errors = []
        for name, table in self.tables.items():
            why = tables_mismatch(pq.read_table(os.path.join(self.dst, f"{name}.parquet")), table)
            if why:
                errors.append(f"{name}: {why}")
        return errors


class SnapshotUpsert(Workload):
    """Seeded batches merged into a keyed ``orders`` snapshot with
    ``writers.upsert.write_entity``, alternating DO UPDATE and DO
    NOTHING, each merge followed by one aggregate read of the table."""

    name = "snapshot_upsert"
    KEY = "o_orderkey"
    #: The reference lands a scraped set in statements of
    #: ``⌊50000 / ncols⌋`` rows (``jdbc_sink.param_batch_size``, after
    #: src/utils/lib.ts:78-79): 8,333 rows for the six ``orders``
    #: columns, 5.6 % of sf0.1 ``orders``. A batch is one such statement
    #: scaled from sf0.1 to the fixture's scale, so it keeps that share
    #: of the table.
    STATEMENT_SF = 0.1
    #: Assumed, not measured: the scraper that calls the reference's
    #: sinks is not in its repository, so nothing records how a set
    #: splits between known and new keys. A re-scrape mostly revisits
    #: known entities (5/8 updates), finds new ones at half that rate
    #: (5/16 inserts) and repeats a few rows exactly (1/16).
    UPDATE_SHARE, DUPLICATE_SHARE = 5 / 8, 1 / 16
    #: Chosen, not taken from the reference: a pass of six merges and
    #: six reads fits one run's time budget, and sixteen files spread
    #: the snapshot over many small files clustered by key.
    BATCHES = 6
    SNAPSHOT_FILES = 16

    def generate(self) -> None:
        """Batches: updates of distinct existing keys skewed toward the
        newest, inserts above the current maximum, exact duplicate
        rows. The table after each batch is also computed with a plain
        pandas merge: the reference the engine's output is checked
        against."""
        import pandas as pd

        from prisma_migrator_spark.writers.jdbc_sink import param_batch_size

        self.base = self.tables["orders"].sort_by(self.KEY)
        schema = self.base.schema
        rows = int(param_batch_size(len(schema)) * self.sf / self.STATEMENT_SF)
        n_upd = round(rows * self.UPDATE_SHARE)
        n_dup = round(rows * self.DUPLICATE_SHARE)
        n_ins = rows - n_upd - n_dup

        rng = np.random.default_rng([self.seed, 2])
        state = self.base.to_pandas()
        self.batches, self.expected, self.changed = [], [], []
        for b in range(self.BATCHES):
            top = int(state[self.KEY].max())
            age = (top - state[self.KEY]).to_numpy()
            weight = np.exp(-age / (len(state) / 10))
            keys = rng.choice(state[self.KEY].to_numpy(), n_upd, replace=False, p=weight / weight.sum())
            upd = state[state[self.KEY].isin(keys)].copy()
            upd["o_totalprice"] = np.round(1_000 + rng.random(len(upd)) * 499_000, 2)
            upd["o_orderstatus"] = rng.choice(["O", "P", "F"], len(upd))
            new = state.sample(n_ins, random_state=rng.integers(2**31)).copy()
            new[self.KEY] = np.arange(top + 1, top + 1 + n_ins)
            new["o_totalprice"] = np.round(1_000 + rng.random(n_ins) * 499_000, 2)
            batch = pd.concat([upd, new])
            batch = pd.concat([batch, batch.sample(n_dup, random_state=rng.integers(2**31))])
            batch = batch.sample(frac=1.0, random_state=rng.integers(2**31))
            self.batches.append(pa.Table.from_pandas(batch, schema=schema, preserve_index=False))

            unique = batch.drop_duplicates()
            known = unique[self.KEY].isin(state[self.KEY])
            if b % 2 == 0:  # DO UPDATE: the batch row wins
                old = state.set_index(self.KEY).loc[unique[known][self.KEY]].reset_index()
                differs = (old[unique.columns].values != unique[known].values).any(axis=1)
                changed = pd.concat([unique[~known], unique[known][differs]])
                state = pd.concat([state[~state[self.KEY].isin(unique[self.KEY])], unique])
            else:  # DO NOTHING: the existing row wins
                changed = unique[~known]
                state = pd.concat([state, changed])
            self.changed.append(
                (len(changed), pa.Table.from_pandas(changed, schema=schema, preserve_index=False).nbytes)
            )
            self.expected.append(
                (len(state), int(np.round(state["o_totalprice"] * 100).sum()), int(state[self.KEY].max()))
            )
        self.final = pa.Table.from_pandas(state, schema=schema, preserve_index=False)
        self.rows_per_pass = sum(t.num_rows for t in self.batches)

    def prepare(self, spark, rep_dir: str) -> None:
        """The snapshot's files, clustered by key, and the batch files,
        each opened once as a DataFrame."""
        self.base_dir = os.path.join(rep_dir, "snapshot_base", "orders.parquet")
        os.makedirs(self.base_dir)
        step = -(-self.base.num_rows // self.SNAPSHOT_FILES)
        for i in range(self.SNAPSHOT_FILES):
            write_like_engine(self.base.slice(i * step, step), os.path.join(self.base_dir, f"part-{i:05d}.parquet"))
        self.table_dir = os.path.join(rep_dir, "snapshot")
        self.path = os.path.join(self.table_dir, "orders.parquet")
        batch_dir = os.path.join(rep_dir, "batches")
        os.makedirs(batch_dir)
        self.batch_dfs = []
        for b, batch in enumerate(self.batches):
            path = os.path.join(batch_dir, f"batch{b}.parquet")
            write_like_engine(batch, path)
            self.batch_dfs.append(spark.read.parquet(path))

    def _reset(self) -> None:
        shutil.rmtree(self.table_dir, ignore_errors=True)
        os.makedirs(self.table_dir)
        shutil.copytree(self.base_dir, self.path)

    def _merge(self, spark, b: int) -> None:
        from prisma_migrator_spark.writers.upsert import write_entity

        write_entity(
            spark, self.batch_dfs[b], self.table_dir, "orders", [self.KEY],
            update_cols=None if b % 2 == 0 else [],
        )

    def _aggregate(self, spark) -> tuple[int, int, int]:
        from pyspark.sql import functions as F

        from prisma_migrator_spark import catalog

        row = catalog.read_parquet(spark, self.path).agg(
            F.count("*"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
            F.max(self.KEY),
        ).collect()[0]
        return tuple(int(v) for v in row)

    def warm_up(self, spark) -> None:
        self._reset()
        self._merge(spark, 0)
        if self._aggregate(spark) != self.expected[0]:
            raise RuntimeError("warm-up merge left the wrong table")

    def run_pass(self, spark, index: int, tracer) -> PassResult:
        self._reset()
        ops = []
        nbytes = nfiles = 0
        for b in range(self.BATCHES):
            name = f"merge{b}"
            before = dir_files(self.table_dir)
            t0 = time.perf_counter()
            try:
                with tracer.op(name), tracer.span("writers.merge"):
                    self._merge(spark, b)
                ops.append(Op(name, time.perf_counter() - t0))
            except Exception as exc:  # an op boundary: record it, keep going
                ops.append(_failure(name, t0, exc))
            written = written_between(before, dir_files(self.table_dir))
            nbytes += written[0]
            nfiles += written[1]

            name = f"read{b}"
            t0 = time.perf_counter()
            try:
                with tracer.op(name):
                    got = self._aggregate(spark)
                seconds = time.perf_counter() - t0
                error = "" if got == self.expected[b] else f"aggregate {got}, expected {self.expected[b]}"
                if error:
                    _log(f"op {name} failed: {error}")
                ops.append(Op(name, seconds, not error, error, kind="read"))
            except Exception as exc:  # an op boundary: record it, keep going
                ops.append(_failure(name, t0, exc, kind="read"))
        return PassResult(
            ops, nbytes, nfiles,
            logical_bytes=sum(c[1] for c in self.changed),
            rows_changed=sum(c[0] for c in self.changed),
        )

    def check(self, spark) -> list[str]:
        """The final table equals the pandas reference merge."""
        why = tables_mismatch(pq.read_table(self.path), self.final)
        return [f"orders snapshot: {why}"] if why else []


WORKLOADS = {w.name: w for w in (ReportSuite, MigrateResume, SnapshotUpsert)}
