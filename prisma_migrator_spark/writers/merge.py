"""Delta-style conditional MERGE INTO over plain parquet tables, and
the one MERGE row plan every keyed parquet writer here runs.

``upsert_parquet`` / ``upsert_parquet_cow`` / ``upsert_partitioned``
implement the reference's ON CONFLICT shapes (full update / subset
update / DO NOTHING — src/utils/lib.ts:76-95) as MERGE clauses over
:func:`_merged_frame`. Real pipelines also need the richer MERGE
clauses those can't express:

    MERGE INTO target USING source ON <keys>
      WHEN MATCHED AND <cond> THEN DELETE
      WHEN MATCHED [AND <cond>] THEN UPDATE SET ...
      WHEN NOT MATCHED [AND <cond>] THEN INSERT *

Clause order follows SQL MERGE: for a matched (target, source) pair
the DELETE condition is tested first, then the UPDATE condition; a
matched row satisfying neither stays as-is; a condition evaluating to
NULL does not fire its clause. Conditions are ordinary ``Column``
predicates over the joined row — reference target columns as
``t.<col>`` and source columns as ``s.<col>``.

Plan shape (scale-safe): the target LEFT-joins the key-deduplicated
source once on the keys, and every matched clause is a filter or
projection over that join, so matched and untouched rows come out of
one target scan. Inserts are one anti-join of the (pre-filtered)
source against the target's keys: two target scans in all, no
per-clause scans, no driver loops. The write goes through the
staged-dir + atomic-swap protocol shared by every writer here.
Pruning always applies: only files whose footer key range holds a
source key join and rewrite, and the rest hard-link over
byte-identical, as in ``upsert_parquet_cow``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from prisma_migrator_spark.operators.joins import anti_join


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
    when_matched_delete: Column | None = None,
    when_matched_update: Column | None = None,
    update_set: Mapping[str, Column] | None = None,
    when_not_matched_insert: Column | None = None,
    insert: bool = True,
) -> DataFrame:
    """Apply the MERGE semantics; output schema = target's schema.
    ``source`` holds one row per key. Every value the source gives an
    output row is cast to the target column's type, as SQL's
    assignment cast is, in every shape: a wider source type (a
    timestamp into a date column) is narrowed, never widened into the
    table.

    The general plan left-joins the target to the source, marked so a
    matched row is told from an unmatched one; the delete filter and
    the update projection act on matched rows only. When nothing
    changes a matched row (DO NOTHING: no delete clause and
    ``update_set == {}``), no output column reads the source, and
    Spark drops the left join because the deduplicated source is
    unique on the keys: the target plus the insert anti-join.

    One clause shape reduces further, because it is
    ``snapshot_upsert``'s DO UPDATE SET * plan (``write_entity`` with
    ``update_cols=None``) and must stay as cheap: when every source
    row lands whole (no clause conditions, ``update_set is None``,
    ``insert``, the source holds every target column), the output is
    the target rows the source does not match plus the source — one
    target scan instead of two.
    """
    cols = target.columns
    types = {f.name: f.dataType for f in target.schema}

    def conform(df: DataFrame) -> DataFrame:
        # the target's columns and types; NULL where ``df`` lacks one
        return df.select(
            *[
                (F.col(c) if c in df.columns else F.lit(None))
                .cast(types[c])
                .alias(c)
                for c in cols
            ]
        )

    whole_rows = (
        when_matched_delete is None
        and when_matched_update is None
        and update_set is None
        and when_not_matched_insert is None
        and insert
        and set(cols) <= set(source.columns)
    )
    if whole_rows:
        return anti_join(target, source, keys).unionByName(conform(source))

    marked = source.withColumn("__matched", F.lit(True)).alias("s")
    joined = target.alias("t").join(marked, keys, "left")
    hit = F.col("s.__matched").isNotNull()
    upd = hit & _fires(when_matched_update, True)

    def new_value(c: str) -> Column:
        # UPDATE SET: ``update_set`` if given, else SET * from the
        # source's columns; a column it does not set keeps t.<c>
        if update_set is not None:
            return update_set.get(c, F.col(f"t.{c}"))
        return F.col(f"s.{c}") if c in source.columns else F.col(f"t.{c}")

    # WHEN MATCHED AND <del> THEN DELETE — tested first, per SQL order
    out = joined.where(~(hit & _fires(when_matched_delete, False))).select(
        *[
            F.col(c)
            if c in keys
            else F.when(upd, new_value(c).cast(types[c]))
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
            for c in cols
        ]
    )
    if insert:
        candidates = source.alias("s").where(_fires(when_not_matched_insert, True))
        out = out.unionByName(conform(anti_join(candidates, target, keys)))
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
    from prisma_migrator_spark.writers.upsert import (
        _dedupe,
        _files_holding_keys,
        _part_files,
        _rewrite_and_swap,
    )

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
