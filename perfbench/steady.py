#!/usr/bin/env python3
"""Steadiness and repeatability checks for the benchmark.

    python3 perfbench/steady.py --workload report_suite --seeds 1-10
    python3 perfbench/steady.py --workload migrate_resume --repeat-trace 3

The first form runs ``run.py`` once per seed (untraced) and prints, for
each end-to-end metric, its values, median and quartile spread
((Q3 - Q1) / median, quartiles of ``statistics.quantiles(n=4)``) next
to the bound ``BENCHMARK.json`` gives it. The second runs the traced
run twice on one seed and lists every count that did not repeat.
Results also go to ``.perfbench_out/``. Run from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402

#: Per-layer figures that count work rather than time it: these
#: should repeat exactly between two traced runs of one seed.
COUNTS = (".jobs", ".stages", ".tasks", ".exchanges", ".scans", ".reads", ".read_hits",
          ".rows_read", ".rows_written", ".files_written", ".rows_changed", ".failed_tables")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}")
    print("\n".join(f"  {line}" for line in lines[:-1]), flush=True)
    return json.loads(lines[-1])


def seeds_of(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--repeat-trace", type=int, metavar="SEED")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)

    if args.repeat_trace is not None:
        a, b = (run_once(args.workload, args.repeat_trace, seconds, 1)["metrics"] for _ in range(2))
        counts = [k for k in a if k.endswith(COUNTS)]
        differ = {k: (a[k]["value"], b[k]["value"]) for k in counts if a[k]["value"] != b[k]["value"]}
        for k in counts:
            print(f"{k:45s} {a[k]['value']:>14} {b[k]['value']:>14}"
                  + ("  DIFFERS" if k in differ else ""))
        print(f"{len(counts) - len(differ)}/{len(counts)} counts repeated exactly")
        name = f"repeat-{args.workload}-seed{args.repeat_trace}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump({"first": a, "second": b, "differ": differ}, f, indent=1)
        return

    values: dict[str, list[float]] = {}
    for seed in seeds_of(args.seeds):
        print(f"seed {seed}", flush=True)
        for k, v in run_once(args.workload, seed, seconds, 0)["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for k, vals in values.items():
        spread = quartile_spread(vals)
        report[k] = {"values": vals, "median": statistics.median(vals), "spread": spread,
                     "bound": bounds[k]}
        verdict = "ok" if spread < bounds[k] / 3 else ("within bound" if spread <= bounds[k] else "TOO WIDE")
        print(f"{k:12s} median {statistics.median(vals):12.4f} spread {spread:.3f} "
              f"bound {bounds[k]} ({verdict})")
    with open(os.path.join(out_dir, f"steady-{args.workload}.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
