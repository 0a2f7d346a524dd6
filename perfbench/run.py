#!/usr/bin/env python3
"""Seeded benchmark of the engine's report, migration and upsert paths.

    python3 perfbench/run.py --workload report_suite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs from ``--seed``,
sets the engine up several times (``setup_s`` is the median), then
runs passes of the workload for ``--seconds`` (at least
``MIN_PASSES``), checks the outputs and prints one line per figure
followed by one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
The first pass finds the JIT compiler and the engine's caches cold and
is left out of every figure; the figures are medians over the rest.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes (at least three: untraced, traced,
untraced) and reports the per-layer metrics of the traced ones, plus
the tracing overhead; its spans and status-store figures go to
``.perfbench_out/``. Everything the run writes stays in
the checkout; the work directory is removed at exit. The exit code
is 0 only when every op succeeded and every output check passed.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Scale factor of the generated fixtures (lineitem ~60k rows): the
#: scale the repository's oracle parity is checked at.
SF = 0.01
SETUP_REPS = 3
#: Passes a run makes at least, however short ``--seconds`` is: a
#: warm-up pass and one that is measured.
MIN_PASSES = 2

END_TO_END = ("setup_s", "pass_cpu_s")


def declared_units() -> dict[str, str]:
    """Every metric's unit, as ``BENCHMARK.json`` declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def per_layer_names() -> list[str]:
    from spans import EXEC_FIELDS
    from workloads import HEADLINE

    return [
        "sources.layout_s", "plans.build_s",
        "catalog.reads", "catalog.read_s", "catalog.read_hits",
        "exec.plan_s", *[f"exec.{f}" for f in EXEC_FIELDS], "exec.idle_core_s",
        *[f"exec.{q}.{f}" for q in HEADLINE for f in ("stages", "task_s", "exchanges")],
        "migrate.rows_read", "migrate.rows_written", "migrate.skip_ratio", "migrate.failed_tables",
        "writers.merge_s", "writers.bytes_written", "writers.files_written", "writers.rows_changed",
        "e2e.write_amp", "e2e.read_p50_s", "trace.overhead_s",
    ]


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def read_cpu_times() -> list[int] | None:
    """The machine's aggregate CPU times in clock ticks (the ``cpu``
    line of ``/proc/stat``), or ``None`` where there is no such file."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def engine_cpu_s() -> float:
    """CPU seconds the engine's JVM (all its threads) and this process
    have run so far: user plus system time as the kernel counts it,
    which leaves out time the hypervisor stole."""
    from pyspark import SparkContext

    jvm = 0.0
    if SparkContext._gateway is not None:
        with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()  # fields[0] is field 3, state
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return jvm + time.process_time()


def pin_environment(work: str, cpus: int) -> None:
    """Core count from the host, and every temporary path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        # keep every job, stage and SQL execution of the run in the
        # status stores the traced run reads back
        "--conf spark.ui.retainedJobs=1000000",
        "--conf spark.ui.retainedStages=1000000",
        "--conf spark.sql.ui.retainedExecutions=1000000",
        "pyspark-shell",
    ])


def pin_disagreements(spark, cpus: int) -> list[str]:
    sc = spark.sparkContext
    seen = {
        "master": (sc.master, f"local[{cpus}]"),
        "defaultParallelism": (sc.defaultParallelism, cpus),
        "spark.sql.shuffle.partitions": (spark.conf.get("spark.sql.shuffle.partitions"), str(cpus)),
    }
    return [f"{k}={got!r}, expected {want!r}" for k, (got, want) in seen.items() if got != want]


def stop_engine(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def pass_layers(tracer, pass_span, result, exec_stats, cpus) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    from spans import EXEC_FIELDS
    from stats import idle_core_s, write_amp
    from workloads import HEADLINE

    spans = list(tracer.descendants(pass_span))

    def total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    ops = [s for s in spans if s["name"] == "op"]
    reads = [s for s in spans if s["name"] == "catalog.read"]

    def exec_sum(field, op_name=None):
        return sum(
            exec_stats[o["group"]][field] for o in ops if op_name is None or o["op"] == op_name
        )

    task_s = exec_sum("task_s")
    m = {
        "plans.build_s": total("plans.build"),
        "catalog.reads": len(reads),
        "catalog.read_s": total("catalog.read"),
        "catalog.read_hits": sum(bool(s.get("hit")) for s in reads),
        "exec.plan_s": total("exec.plan"),
        **{f"exec.{f}": exec_sum(f) for f in EXEC_FIELDS},
        "exec.idle_core_s": idle_core_s(cpus, sum(o["end"] - o["start"] for o in ops), task_s),
    }
    for q in HEADLINE:
        for f in ("stages", "task_s", "exchanges"):
            m[f"exec.{q}.{f}"] = exec_sum(f, q)
    mig = result.migrate
    m["migrate.rows_read"] = mig.get("rows_read", 0)
    m["migrate.rows_written"] = mig.get("rows_written", 0)
    m["migrate.skip_ratio"] = (
        (mig["rows_read"] - mig["rows_written"]) / mig["rows_read"] if mig.get("rows_read") else 0.0
    )
    m["migrate.failed_tables"] = mig.get("failed_tables", 0)
    m["writers.merge_s"] = total("writers.merge")
    m["writers.bytes_written"] = result.bytes_written
    m["writers.files_written"] = result.files_written
    m["writers.rows_changed"] = result.rows_changed
    m["e2e.write_amp"] = write_amp(result.bytes_written, result.logical_bytes) if result.logical_bytes else 0.0
    m["e2e.read_p50_s"] = statistics.median(result.read_seconds) if result.read_seconds else 0.0
    return m


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, "prisma_migrator_spark")):
        print(f"perfbench: no prisma_migrator_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    pin_environment(work, cpus)

    engine: dict = {}
    try:
        return run(args, cpus, work, engine)
    finally:
        stop_engine(engine.get("spark"))
        shutil.rmtree(work, ignore_errors=True)


def run(args, cpus: int, work: str, engine: dict) -> int:
    """The run proper; ``engine["spark"]`` always holds the live session
    so the caller can stop it however the run ends."""
    from prisma_migrator_spark.session import get_spark
    from spans import Tracer, exec_by_group, instrument_reads
    from stats import beyond, percentile, steal_share, supported_percentile, write_amp
    from workloads import WORKLOADS, ReadLog

    units = declared_units()
    reads = ReadLog()
    t_generate = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, SF, reads)  # inputs and references; untimed
    generate_s = time.perf_counter() - t_generate

    setup_s, layout_s, setup_cpu = [], [], []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
            shutil.rmtree(os.path.join(work, f"rep{rep - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        cpu0 = engine_cpu_s()
        spark = engine["spark"] = get_spark("perfbench")
        layout_s.append(wl.build(spark, os.path.join(work, f"rep{rep}")))
        wl.warm_up(spark)
        setup_s.append(time.perf_counter() - t0)
        setup_cpu.append(engine_cpu_s() - cpu0)
        if rep == 0:
            bad = pin_disagreements(spark, cpus)
            if bad:
                print("perfbench: refusing to report, core count not pinned: " + "; ".join(bad),
                      file=sys.stderr)
                return 3
    tracer = Tracer(True, spark)
    untraced = Tracer(False)
    passes = []  # (PassResult, pass span or None)
    pass_cpu = []  # engine CPU seconds of each pass
    cpu_start = read_cpu_times()
    t_start = time.perf_counter()
    with tracer.span("workload", workload=args.workload) if args.trace else contextlib.nullcontext():
        # At least MIN_PASSES passes. A traced run alternates untraced
        # and traced passes, starting and ending untraced, so the tracing
        # overhead (traced minus untraced pass time) is not skewed by warm-up.
        while (len(passes) < MIN_PASSES or time.perf_counter() - t_start < args.seconds
               or (args.trace and len(passes) % 2 == 0)):
            index = len(passes)
            cpu0 = engine_cpu_s()
            if args.trace and index % 2 == 1:
                with tracer.span("pass", index=index) as span, instrument_reads(reads, tracer):
                    passes.append((wl.run_pass(spark, index, tracer), span))
            else:
                # reads are still logged, so a traced pass can tell
                # which of its reads hit a handle an earlier pass made
                with instrument_reads(reads):
                    passes.append((wl.run_pass(spark, index, untraced), None))
            pass_cpu.append(engine_cpu_s() - cpu0)

    t_check = time.perf_counter()
    cpu_end = read_cpu_times()
    errors = wl.check(spark)
    t_end = time.perf_counter()
    ops = [op for r, _ in passes for op in r.ops]
    failed = sum(not op.ok for op in ops)
    # The first pass is a warm-up: it finds the JIT compiler and the
    # engine's caches cold (and on report_suite collects the rows the
    # check needs), so no figure counts it. Traced passes are not timed.
    untraced_passes = [(r, c) for (r, span), c in zip(passes, pass_cpu) if span is None]
    timed = [r for r, _ in untraced_passes[1:]]
    timed_cpu = [c for _, c in untraced_passes[1:]]
    lat = [op.seconds for r in timed for op in r.ops if op.kind == "op"]
    read_lat = [s for r in timed for s in r.read_seconds]
    sc = spark.sparkContext
    lines = [
        f"workload {args.workload} seed {args.seed} sf {SF} master {sc.master} "
        f"cpus {cpus} defaultParallelism {sc.defaultParallelism}",
        f"setup reps wall {', '.join(f'{s:.3f}' for s in setup_s)} s (the first includes JVM start)",
        f"passes {len(passes)} (one warm-up, {len(timed)} measured untraced), "
        f"ops attempted {len(ops)}, failed {failed}",
        f"setup cpu {', '.join(f'{c:.3f}' for c in setup_cpu)} s",
        f"pass times {', '.join(f'{r.seconds:.3f}' for r, _ in passes)} s",
        f"pass cpu {', '.join(f'{c:.3f}' for c in pass_cpu)} s",
        f"phases: generate {generate_s:.1f} s, set-up {sum(setup_s):.1f} s, "
        f"passes {t_check - t_start:.1f} s, check {t_end - t_check:.1f} s",
        "host cpu steal during the passes "
        + (f"{steal_share(cpu_start, cpu_end):.1%}" if cpu_start and cpu_end else "unknown")
        + " (time the hypervisor gave this machine's cores to others)",
        f"failed_frac {failed / len(ops):.4f} ratio",
        # wall times: printed, not bounded (see README, "Steadiness")
        f"pass_s {statistics.median(r.seconds for r in timed):.6f} s",
        f"op_p50_s {statistics.median(lat):.6f} s",
        f"rows_per_s {statistics.median(wl.rows_per_pass / r.seconds for r in timed):.6f} 1/s",
    ]
    supported = supported_percentile(len(lat))
    lines.append(
        f"op_p90_s {percentile(lat, 0.9):.6f} s (nearest rank of {len(lat)} op samples, "
        f"{beyond(len(lat), 0.9)} beyond it; highest percentile with 10 beyond: "
        + (f"p{round(supported * 100)})" if supported else "none)")
    )
    lines.append("op latencies s: " + " ".join(f"{op.name}={op.seconds:.3f}" for r in timed for op in r.ops))
    logical = sum(r.logical_bytes for r in timed)
    if logical:
        lines.append(f"write_amp {write_amp(sum(r.bytes_written for r in timed), logical):.4f} ratio")
    if read_lat:
        lines.append(f"read_p50_s {statistics.median(read_lat):.6f} s (samples {len(read_lat)})")
    for e in errors:
        lines.append(f"CHECK FAILED {e}")

    if args.trace:
        spans = [s for _, s in passes if s is not None]
        groups = {s["group"] for s in tracer.spans if s["name"] == "op"}
        exec_stats = exec_by_group(spark, groups)
        per_pass = [pass_layers(tracer, s, r, exec_stats, cpus) for r, s in passes if s is not None]
        metrics = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        metrics["sources.layout_s"] = statistics.median(layout_s)
        traced_s = statistics.median(r.seconds for r, s in passes if s is not None)
        metrics["trace.overhead_s"] = traced_s - statistics.median(r.seconds for r in timed)
        metrics = {k: metrics[k] for k in per_layer_names()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({
                "spans": tracer.spans, "exec_by_group": exec_stats,
                "self_s": tracer.self_times(), "per_pass": per_pass,
                "pass_spans": [s["id"] for s in spans],
            }, f)
    else:
        metrics = {
            # CPU time, like pass_cpu_s: the wall time of a set-up
            # follows the host's contention (see README, "Steadiness")
            "setup_s": statistics.median(setup_cpu),
            "pass_cpu_s": statistics.median(timed_cpu),
        }
    for k, v in metrics.items():
        lines.append(f"{k} {v:.6f} {units[k]}")
    print("\n".join(lines), flush=True)
    correct = not errors and failed == 0 and all(math.isfinite(v) for v in metrics.values())
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
