"""Incremental materialized rollup maintenance (additive MERGE).

At 100 TB you never recompute an aggregate table from the full fact
history; you maintain it: each arriving batch is aggregated to the
rollup's grain and ADDED into the stored table (counts/sums merge
additively — the same property streaming partial aggregation relies
on). ``upsert_parquet`` replaces matched rows; this module's merge
SUMS them, which is what additive metrics need.

Additive merge is NOT naturally idempotent — re-applying a delivered
batch double-counts — so exactly-once is restored with a batch
ledger: the set of applied batch ids lives in an underscore-prefixed
JSON INSIDE the table directory (ignored by Spark's parquet reader,
like ``_SUCCESS``), so the staged atomic-swap commits the new data
and the ledger entry in ONE rename — there is no window where the
merge landed but its batch id didn't (or vice versa). Re-delivery
becomes a no-op, and the maintained table equals the full recompute
after any prefix of batches (pinned in tests).

Scale shape: the batch aggregates map-side to its grain before
touching the table; the merge is a full-outer join on the grain keys
— rollup-sized, not fact-sized. For huge rollups the partition-pruned
/ CoW machinery of writers/upsert.py applies unchanged.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prisma_migrator_spark.operators.driver_state import observe_rows
from prisma_migrator_spark.writers.upsert import _atomic_swap

_LEDGER = "_applied_batches.json"


def applied_batches(path: str) -> set[str]:
    lp = os.path.join(path, _LEDGER)
    if not os.path.exists(lp):
        return set()
    with open(lp, encoding="utf-8") as f:
        return set(json.load(f))


def maintain_rollup(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key_cols: Sequence[str],
    sum_cols: Sequence[str],
    batch_id: str,
) -> dict:
    """Merge one batch's contribution into the rollup at ``path``.

    ``batch`` is fact-grain; it is aggregated to ``key_cols`` with
    ``sum(sum_cols)`` (count metrics: pass a literal-1 column in the
    batch). If ``batch_id`` is already in the table's ledger the call
    is a NO-OP — at-least-once delivery upstream stays exactly-once
    here, and the data+ledger commit is a single directory rename.
    """
    seen = applied_batches(path)
    if batch_id in seen:
        return {"path": path, "batch_id": batch_id, "applied": False}

    keys = list(key_cols)
    delta = batch.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        merged = (
            existing.alias("e")
            .join(delta.alias("d"), keys, "full_outer")
            .select(
                *[F.coalesce(f"e.{k}", f"d.{k}").alias(k) for k in keys],
                *[
                    (
                        F.coalesce(F.col(f"e.{c}"), F.lit(0))
                        + F.coalesce(F.col(f"d.{c}"), F.lit(0))
                    ).alias(c)
                    for c in sum_cols
                ],
            )
        )
    else:
        merged = delta
    merged, rows = observe_rows(merged)
    staged = path + ".staging"
    merged.write.mode("overwrite").parquet(staged)
    with open(os.path.join(staged, _LEDGER), "w", encoding="utf-8") as f:
        json.dump(sorted(seen | {batch_id}), f)
    _atomic_swap(staged, path)
    return {"path": path, "batch_id": batch_id, "applied": True, "rows": rows()}
