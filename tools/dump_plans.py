#!/usr/bin/env python
"""Dump .explain('formatted') for registry queries to files.

Usage: python tools/dump_plans.py <outdir> <suffix> [query ...]
       (default queries: the bench HEADLINE set)

Writes <outdir>/<query>_<suffix>.txt with the formatted physical plan
at $SPARK_GRAFT_SF_DIR (default sf0.1 — the bench scale, so the plans
match the numbers in BENCH/OPTIMIZATION docs).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from prisma_migrator_spark.plans.registry import QUERIES  # noqa: E402
from prisma_migrator_spark.session import get_spark  # noqa: E402


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if not names:
        from bench import HEADLINE

        names = HEADLINE
    os.makedirs(outdir, exist_ok=True)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if os.environ.get("SPARK_GRAFT_OPTIMIZE_LAYOUT", "1") != "0":
        try:
            from prisma_migrator_spark.sources.layout import optimize_layout

            sf = optimize_layout(sf)
        except OSError:
            pass  # unwritable cache dir etc. -> raw fixtures still work
    spark = get_spark("dump-plans")
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    for name in names:
        df = QUERIES[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
