"""Spans, job groups and the engine's status store.

The benchmark records spans from its own code, around each call it
makes into a layer, and reads Spark's in-process status stores after
the fact; the package under test is not edited. A disabled
:class:`Tracer` does nothing, so untraced passes pay for none of it.

Spans nest workload -> pass -> op -> {plans.build, catalog.read,
exec.plan, exec.run, writers.merge}. Each op runs under its own Spark
job group, which is how the stages the status store reports are
attached to the op that caused them.
"""

from __future__ import annotations

import contextlib
import os
import re
import time
from collections import defaultdict
from collections.abc import Callable, Iterator

from stats import self_time

#: Status-store figures summed per job group. Times are seconds,
#: sizes bytes.
EXEC_FIELDS = (
    "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "exchanges", "scans",
)

_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange|ReusedExchange) \(\d+\)")
_SCAN = re.compile(r"\bScan parquet\b")


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every method a
    no-op so the same workload code serves traced and untraced passes."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, name: str) -> Iterator[dict | None]:
        """An op span whose Spark jobs run under a job group of its own."""
        with self.span("op", op=name) as rec:
            if rec is None:
                yield None
                return
            sc = self.spark.sparkContext
            rec["group"] = f"perfbench-op-{rec['id']}"
            sc.setJobGroup(rec["group"], name)
            try:
                yield rec
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def descendants(self, span: dict) -> Iterator[dict]:
        for child in self.children(span["id"]):
            yield child
            yield from self.descendants(child)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in self.children(s["id"])]
            out[s["name"]] += self_time(s["start"], s["end"], kids)
        return dict(out)


@contextlib.contextmanager
def instrument_reads(on_read: Callable[[str, object, float], dict | None], tracer: Tracer | None = None):
    """Route every ``catalog.read_parquet`` call, including the ones
    the package makes internally, through a wrapper that reports
    (path, handle, seconds) to ``on_read`` and, given a tracer, opens a
    ``catalog.read`` span carrying the attributes ``on_read`` returns.
    The original function is restored on exit."""
    from prisma_migrator_spark import catalog, migrate

    original = catalog.read_parquet
    holders = [m for m in (catalog, migrate) if getattr(m, "read_parquet", None) is original]

    def read_parquet(spark, path):
        cm = tracer.span("catalog.read", table=os.path.basename(path)) if tracer else contextlib.nullcontext()
        with cm as rec:
            t0 = time.perf_counter()
            df = original(spark, path)
            attrs = on_read(path, df, time.perf_counter() - t0)
            if rec is not None and attrs:
                rec.update(attrs)
        return df

    for m in holders:
        m.read_parquet = read_parquet
    try:
        yield
    finally:
        for m in holders:
            m.read_parquet = original


def count_plan_nodes(description: str) -> tuple[int, int]:
    """(exchanges, parquet scans) in a formatted physical plan,
    counting the final adaptive plan only (the initial plan that AQE
    also prints would count every node twice)."""
    tree = description.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(tree)), len(_SCAN.findall(tree))


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def exec_by_group(spark, groups: set[str]) -> dict[str, dict[str, float]]:
    """Sum the status store's job, stage, task and plan figures per job
    group, for the given groups only. Waits for the listener bus to
    drain first, so every finished stage is counted."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = {g: dict.fromkeys(EXEC_FIELDS, 0.0) for g in groups}

    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    for job in _seq(jvm, store.jobsList(None)):
        group = job.jobGroup()
        if not group.isDefined() or group.get() not in out:
            continue
        g = group.get()
        job_group[job.jobId()] = g
        out[g]["jobs"] += 1
        for sid in _seq(jvm, job.stageIds()):
            stage_group[sid] = g

    stages = store.stageList(
        None, False, False,
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    )
    for st in _seq(jvm, stages):
        g = stage_group.get(st.stageId())
        if g is None or st.status().toString() != "COMPLETE":
            continue  # skipped stages reuse an earlier stage's output
        rec = out[g]
        rec["stages"] += 1
        rec["tasks"] += st.numCompleteTasks()
        rec["task_s"] += st.executorRunTime() / 1e3
        rec["cpu_s"] += st.executorCpuTime() / 1e9
        rec["gc_s"] += st.jvmGcTime() / 1e3
        rec["shuffle_read_bytes"] += st.shuffleReadBytes()
        rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
        rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()

    sql_store = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(jvm, sql_store.executionsList()):
        job_ids = list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(ex.jobs()).keySet())
        owners = {job_group[j] for j in job_ids if j in job_group}
        if len(owners) != 1:
            continue
        exchanges, scans = count_plan_nodes(ex.physicalPlanDescription())
        rec = out[owners.pop()]
        rec["exchanges"] += exchanges
        rec["scans"] += scans
    return out
