"""Delta-style conditional MERGE INTO over plain parquet tables.

``upsert_parquet`` / ``upsert_parquet_cow`` implement the reference's
ON CONFLICT shapes (full update / subset update / DO NOTHING —
src/utils/lib.ts:76-95). Real pipelines also need the richer MERGE
clauses those can't express:

    MERGE INTO target USING source ON <keys>
      WHEN MATCHED AND <cond> THEN DELETE
      WHEN MATCHED [AND <cond>] THEN UPDATE SET ...
      WHEN NOT MATCHED [AND <cond>] THEN INSERT *

This module is that statement as ONE DataFrame plan. Clause order
follows SQL MERGE: for a matched (target, source) pair the DELETE
condition is tested first, then the UPDATE condition; a matched row
satisfying neither stays as-is; a condition evaluating to NULL does
not fire its clause. Conditions are ordinary ``Column`` predicates
over the joined row — reference target columns as ``t.<col>`` and
source columns as ``s.<col>``.

Plan shape (scale-safe): the target joins the key-deduplicated source
ONCE on the keys; every matched clause is a projection/filter over
that single join — no per-clause scans, no driver loops. Inserts are
one anti-join of the (pre-filtered) source. The write goes through
the staged-dir + atomic-swap protocol shared by every writer here.
Pruning always applies: only files whose footer key range holds a
source key join and rewrite, and the rest hard-link over
byte-identical, as in ``upsert_parquet_cow``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from prisma_migrator_spark.operators.joins import anti_join
from prisma_migrator_spark.writers.upsert import (
    _dedupe,
    _files_holding_keys,
    _part_files,
    _rewrite_and_swap,
)


def _fires(cond: Column | None, default: bool) -> Column:
    """SQL MERGE clause-condition semantics: absent condition uses the
    clause default; NULL does not fire."""
    if cond is None:
        return F.lit(default)
    return F.coalesce(cond, F.lit(False))


def _merged_frame(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    when_matched_delete: Column | None,
    when_matched_update: Column | None,
    update_set: Mapping[str, Column] | None,
    when_not_matched_insert: Column | None,
    insert: bool,
) -> DataFrame:
    """Apply the MERGE semantics; output schema = target's schema."""
    cols = target.columns
    val_cols = [c for c in cols if c not in keys]
    joined = target.alias("t").join(source.alias("s"), keys, "inner")

    # WHEN MATCHED AND <del> THEN DELETE — tested first, per SQL order
    survivors = joined.where(~_fires(when_matched_delete, False))

    # WHEN MATCHED [AND <upd>] THEN UPDATE: default SET * from source
    # (shared non-key columns), overridable per column via update_set
    upd = _fires(when_matched_update, True)

    def new_value(c: str) -> Column:
        if update_set is not None and c in update_set:
            return update_set[c]
        if update_set is None and c in source.columns:
            return F.col(f"s.{c}")
        return F.col(f"t.{c}")

    matched_out = survivors.select(
        *[F.col(k) for k in keys],
        *[
            F.when(upd, new_value(c)).otherwise(F.col(f"t.{c}")).alias(c)
            for c in val_cols
        ],
    ).select(*cols)

    untouched = anti_join(target, source, keys)

    parts = [untouched, matched_out]
    if insert:
        candidates = source.alias("s").where(
            _fires(when_not_matched_insert, True)
        )
        inserts = anti_join(candidates, target, keys).select(
            *[
                (F.col(c) if c in source.columns else F.lit(None)).cast(
                    target.schema[c].dataType
                ).alias(c)
                for c in cols
            ]
        )
        parts.append(inserts)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key_cols: Sequence[str],
    when_matched_delete: Column | None = None,
    when_matched_update: Column | None = None,
    update_set: Mapping[str, Column] | None = None,
    when_not_matched_insert: Column | None = None,
    insert: bool = True,
    order_col: str | None = None,
) -> dict:
    """Execute the MERGE against the parquet table at ``target_path``.

    - ``when_matched_delete`` — matched pairs satisfying it are
      deleted (takes precedence over update, per SQL clause order).
    - ``when_matched_update`` — matched pairs satisfying it are
      updated (default: all of them). ``update_set`` maps column ->
      expression over ``t.``/``s.``; absent, SET * from the source's
      shared non-key columns.
    - ``when_not_matched_insert`` / ``insert`` — source rows with no
      target match are inserted (columns missing from the source
      become NULL), optionally gated by the condition.
    - ``order_col`` — in-source replay determinism: latest-wins
      key-dedup before the merge (same contract as the upsert family).

    Only files whose ``key_cols[0]`` footer range holds a source key
    join and rewrite; the rest hard-link over byte-identical.
    """
    keys = list(key_cols)
    src = _dedupe(source, keys, order_col)
    existing_schema = spark.read.parquet(target_path).schema
    files = _part_files(target_path)
    matched = _files_holding_keys(spark, src, files, existing_schema[keys[0]])
    report = {
        "path": target_path,
        "files_total": len(files),
        "files_rewritten": len(matched),
        "files_kept": len(files) - len(matched),
    }
    if not matched and not insert:
        return report  # no target row can match and nothing inserts

    if matched:
        target = spark.read.schema(existing_schema).parquet(*sorted(matched))
    else:
        # no file holds any source key: the merge reduces to inserts
        target = spark.createDataFrame([], existing_schema)
    result = _merged_frame(
        target,
        src,
        keys,
        when_matched_delete,
        when_matched_update,
        update_set,
        when_not_matched_insert,
        insert,
    )
    _rewrite_and_swap(
        result, target_path, [f for f in files if f not in matched], "m-"
    )
    return report
