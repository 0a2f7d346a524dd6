#!/usr/bin/env python
"""Scale rehearsal: measure the wall-time scaling CURVE of the headline
+ dedup query set across scale factors (VERDICT r3 item 1).

Every 100 TB argument in PERF.md was design reasoning measured at
sf0.1; this converts it to measurement. Fixture sets for sf>=1 come
from tools/gen_fixtures.py (same schemas/distributions, 10x/100x
rows). Usage:

    python tools/scale_bench.py <sf_dir> [query ...]

Prints one JSON line: {"sf_dir": ..., "queries": {name: sec}, ...}.
Method: the JVM/codegen warm-up pass runs the SAME query set at
sf0.001 (cheap, compiles every plan), so the timed pass at the target
SF is steady-state but still pays its own scans/shuffles cold.

Query set = bench.py's 14 headliners + the dedup family. Two
deliberate substitutions at large SF (documented in PERF.md):
`topk_cosine_bruteforce` is O(n²) BY DESIGN (it is the ANN oracle);
at sf10 the registered scale path `topk_cosine_lsh` stands in.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prisma_migrator_spark.plans import QUERIES  # noqa: E402
from prisma_migrator_spark.session import get_spark  # noqa: E402

WARMUP_DIR = "/root/testdata/sf0.001"

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

DEDUP_FAMILY = [
    "exact_dedup_groups",
    "simhash64_near_dup",
    "embedding_near_dup",
    "near_dup_clusters",
    "ngram_jaccard_prefix",
    "image_near_dup_pairs",   # r7: pHash + arity-sized banded join
    "audio_near_dup_pairs",   # r7: spectral fingerprint, same join
    "cross_corpus_dedup",
    "repeated_spans",
    "incremental_lsh_dedup",
    "embedding_near_dup_lsh",
]

# The bounded graph family (r4's two measured scale failures, reworked
# r5): exact `copurchase_triangles` stays the oracle form — its Σ deg²
# wedge mass is physics and DNFs at sf10 on one box — these are the
# registered scale paths.
GRAPH_FAMILY = [
    "part_copurchase_pagerank",
    "copurchase_triangles_capped",
    "copurchase_triangles_sampled",
]

# Round-5c additions (curves in SCALE_r05 `queries_batch3`).
R5C_FAMILY = [
    "pareto_parts_price_size",
    "copurchase_communities",
    "topk_cosine_ivf_pq",
]


def run(sf_dir: str, names: list[str]) -> dict:
    spark = get_spark("pms-scale-bench")
    for name in names:  # compile/JIT at tiny SF
        QUERIES[name](spark, WARMUP_DIR).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    timings: dict[str, float] = {}
    for name in names:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        print(f"  {name}: {timings[name]:.2f}s", file=sys.stderr, flush=True)
    spark.catalog.clearCache()
    return timings


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:] or [*HEADLINE, *DEDUP_FAMILY]
    missing = [n for n in names if n not in QUERIES]
    assert not missing, f"unknown queries: {missing}"
    legs = os.environ.get("SCALE_BENCH_CPUS_LEGS")
    if legs:
        # r10 (VERDICT r9 item 3): core-scaling legs at an SF where
        # data work dominates. The driver's own low-core probe runs at
        # sf0.1, where per-query wall is mostly fixed driver/stage
        # cost, so every ratio lands near 1 and trips
        # `suspect_cpus_ignored`; this mode re-runs the SAME in-suite
        # protocol once per core count (fresh process each, master
        # local[N] via SPARK_GRAFT_CPUS) at the caller's SF — sf1+ —
        # and prints per-query low/high ratios that measure
        # parallelism instead of the driver floor.
        import subprocess

        per_leg: dict[str, dict[str, float]] = {}
        for n_cpus in legs.split(","):
            n_cpus = n_cpus.strip()
            env = {
                k: v for k, v in os.environ.items()
                if k != "SCALE_BENCH_CPUS_LEGS"
            }
            env["SPARK_GRAFT_CPUS"] = n_cpus
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), sf_dir, *names],
                capture_output=True, text=True, env=env,
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise RuntimeError(f"leg cpus={n_cpus} failed")
            per_leg[n_cpus] = json.loads(
                proc.stdout.strip().splitlines()[-1]
            )["queries"]
            print(f"  [leg cpus={n_cpus}] total "
                  f"{sum(per_leg[n_cpus].values()):.1f}s",
                  file=sys.stderr, flush=True)
        lo, hi = min(per_leg, key=int), max(per_leg, key=int)
        ratios = {
            name: round(per_leg[lo][name] / max(per_leg[hi][name], 1e-9), 2)
            for name in names
        }
        print(json.dumps({
            "sf_dir": sf_dir,
            "cpus_legs": {k: v for k, v in per_leg.items()},
            "ratio_low_over_high": ratios,
        }))
        return
    if os.environ.get("SCALE_BENCH_ISOLATE") == "1" and len(names) > 1:
        # Fresh JVM per query: suite-order contamination (accumulated
        # GC pressure / checkpoint & broadcast blocks clearCache does
        # not free) inflated late-suite queries up to 7x at sf10
        # (text_stats 37.9s in-suite vs 5.4s isolated). Ratios across
        # SFs are only meaningful under the same isolation protocol.
        import subprocess

        env = {k: v for k, v in os.environ.items() if k != "SCALE_BENCH_ISOLATE"}
        timings = {}
        for name in names:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), sf_dir, name],
                capture_output=True, text=True, env=env,
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise RuntimeError(f"{name} failed (rc={proc.returncode})")
            out = proc.stdout.strip().splitlines()[-1]
            timings[name] = json.loads(out)["queries"][name]
            print(f"  [isolated] {name}: {timings[name]:.2f}s",
                  file=sys.stderr, flush=True)
    else:
        timings = run(sf_dir, names)
    print(json.dumps({
        "sf_dir": sf_dir,
        "total_sec": round(sum(timings.values()), 3),
        "queries": timings,
    }))


if __name__ == "__main__":
    main()
