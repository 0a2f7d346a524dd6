"""JDBC upsert sink: staging table + server-side ON CONFLICT (SURVEY
§2.1 S5-S6, JDBC code path).

The reference writes with two primitives, both re-expressed here:

- ``buildBulkInsertQuery`` (reference src/utils/lib.ts:76-95):
  parameter-packed ``INSERT INTO "t" (cols) VALUES ($1,...) ON
  CONFLICT (target) DO UPDATE SET col = EXCLUDED.col``, chunked so no
  statement exceeds PG's 50,000-parameter cap (lib.ts:78-79); empty
  conflict column list degrades to ``ON CONFLICT DO NOTHING``
  (lib.ts:91).
- chunked ``createMany({skipDuplicates: true})`` (reference
  src/migrate.ts:58-70): append-if-absent, 100-row batches.

Distributed shape (the 100 TB path): the reference packs VALUES
literals through one connection — a single-writer bottleneck. Here the
batch lands in a staging table via Spark's JDBC writer (every executor
inserts its own partitions with ``batchsize``-batched statements),
then ONE set-based server-side statement merges staging into the
target — the same ON CONFLICT semantics, but data movement is
parallel and the merge never round-trips rows through the driver.

No database server exists in the test container, so execution is
injected: callers pass ``run_sql`` (executes a statement server-side)
and optionally ``write_staging`` (lands a DataFrame in a staging
table). Production wiring uses :func:`spark_jdbc_staging_writer` plus
a DBAPI/JDBC ``run_sql``; tests wire both to an embedded DuckDB,
whose ``ON CONFLICT ... EXCLUDED`` dialect matches Postgres.
"""

from __future__ import annotations

import math
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from prisma_migrator_spark.operators.dedup import _orderable, latest_per_key

PG_MAX_PARAMS = 50_000  # reference src/utils/lib.ts:78


def quote_ident(name: str) -> str:
    """Double-quote an SQL identifier, doubling embedded quotes."""
    return '"' + name.replace('"', '""') + '"'


def param_batch_size(n_columns: int, max_params: int = PG_MAX_PARAMS) -> int:
    """Rows per statement so params stay under the server cap —
    ``Math.floor(PG_MAX_PARAMS / columns.length) || 1``
    (reference src/utils/lib.ts:79)."""
    return max(1, max_params // max(1, n_columns))


def build_values_upsert_sql(
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    update_cols: Sequence[str] | None,
    n_rows: int,
    placeholder: str = "pg",
) -> str:
    """The reference's exact statement shape (src/utils/lib.ts:80-93):
    ``INSERT INTO "t" (cols) VALUES (...), ... ON CONFLICT (target)
    DO UPDATE SET c = EXCLUDED.c`` — or ``DO NOTHING`` when
    ``update_cols`` is empty/None (lib.ts:91).

    ``placeholder="pg"`` numbers params ``$1..$n``; ``"qmark"`` emits
    DBAPI ``?`` (what embedded engines take). Driver-side VALUES
    packing is for result-set-sized batches only — the distributed
    path is :func:`jdbc_upsert_via_staging`.
    """
    cols = [quote_ident(c) for c in columns]
    ncol = len(columns)

    def ph(row: int, col: int) -> str:
        return "?" if placeholder == "qmark" else f"${row * ncol + col + 1}"

    values = ", ".join(
        "(" + ", ".join(ph(r, c) for c in range(ncol)) + ")"
        for r in range(n_rows)
    )
    sql = f"INSERT INTO {quote_ident(table)} ({', '.join(cols)}) VALUES {values}"
    return sql + _conflict_clause(key_cols, update_cols)


def _conflict_clause(
    key_cols: Sequence[str], update_cols: Sequence[str] | None
) -> str:
    if update_cols:
        sets = ", ".join(
            f"{quote_ident(c)} = EXCLUDED.{quote_ident(c)}" for c in update_cols
        )
        target = ", ".join(quote_ident(k) for k in key_cols)
        return f" ON CONFLICT ({target}) DO UPDATE SET {sets}"
    return " ON CONFLICT DO NOTHING"


def build_staging_merge_sql(
    table: str,
    staging: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    update_cols: Sequence[str] | None,
) -> str:
    """Set-based merge of a staging table into the target — the
    server-side statement of the distributed upsert. Same conflict
    semantics as the VALUES form, but the row source is
    ``SELECT ... FROM staging`` so one statement merges any volume."""
    cols = ", ".join(quote_ident(c) for c in columns)
    sql = (
        f"INSERT INTO {quote_ident(table)} ({cols}) "
        f"SELECT {cols} FROM {quote_ident(staging)}"
    )
    # DO NOTHING needs the conflict target named when merging
    # set-based (PG infers it for VALUES, but being explicit is valid
    # in both PG and DuckDB and keys the arbiter index deterministically).
    if not update_cols:
        target = ", ".join(quote_ident(k) for k in key_cols)
        return sql + f" ON CONFLICT ({target}) DO NOTHING"
    return sql + _conflict_clause(key_cols, update_cols)


def dedupe_batch(batch: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """One row per key, deterministically: the smallest by the other
    columns in order (``latest_per_key`` ascending, so a min-struct
    aggregate). ON CONFLICT DO UPDATE raises ``cannot affect row a
    second time`` if one statement carries duplicate keys — the
    reference never hits this only because its scraper de-dupes by
    handle upstream; the engine must not rely on that.

    A map column cannot be ordered, so it rides as payload and the
    window fallback of ``latest_per_key`` picks the row: rows that
    differ only in a map column tie, and which of them wins is not
    pinned."""
    keys = list(key_cols)
    rest = [
        f.name
        for f in batch.schema
        if f.name not in keys and _orderable(f.dataType)
    ]
    if not rest:
        return batch.dropDuplicates(keys)
    return latest_per_key(batch, keys, rest[0], rest[1:], descending=False)


def spark_jdbc_staging_writer(
    url: str, batchsize: int = 10_000, **options: str
) -> Callable[[DataFrame, str], None]:
    """Production staging writer: every executor streams its own
    partitions into ``staging`` with batched inserts — the parallel
    replacement for the reference's single-connection VALUES packing."""

    def write(df: DataFrame, staging: str) -> None:
        (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", staging)
            .option("batchsize", str(batchsize))
            .options(**options)
            .mode("overwrite")
            .save()
        )

    return write


def jdbc_upsert_via_staging(
    batch: DataFrame,
    table: str,
    key_cols: Sequence[str],
    run_sql: Callable[[str], None],
    write_staging: Callable[[DataFrame, str], None],
    update_cols: Sequence[str] | None = None,
    staging_table: str | None = None,
) -> dict:
    """Distributed ON CONFLICT upsert: dedupe → land in staging
    (parallel) → one server-side merge → drop staging.

    ``update_cols=None`` updates every non-key column (full-row
    upsert, the reference's usual call shape, lib.ts:87-90);
    ``update_cols=[]`` is DO NOTHING (lib.ts:91); a subset is a
    partial update. Returns the statement run, for logging parity
    with the reference's per-batch progress lines (migrate.ts:62-66).
    """
    staging = staging_table or f"__stg_{table}"
    deduped = dedupe_batch(batch, key_cols)
    if update_cols is None:
        update_cols = [c for c in batch.columns if c not in set(key_cols)]
    write_staging(deduped, staging)
    merge = build_staging_merge_sql(
        table, staging, deduped.columns, key_cols, update_cols
    )
    run_sql(merge)
    run_sql(f"DROP TABLE IF EXISTS {quote_ident(staging)}")
    return {"table": table, "staging": staging, "merge_sql": merge}


def values_upsert_statements(
    rows: Sequence[Sequence[object]],
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    update_cols: Sequence[str] | None,
    placeholder: str = "pg",
    max_params: int = PG_MAX_PARAMS,
) -> list[tuple[str, list[object]]]:
    """Driver-side chunked VALUES upsert — the literal re-expression
    of ``buildBulkInsertQuery``'s loop (src/utils/lib.ts:79-94):
    slice rows into param-capped batches, emit one (sql, flat_params)
    pair per batch. For result-set-sized writes only (reports,
    codebooks); bulk data goes through the staging path."""
    bs = param_batch_size(len(columns), max_params)
    out: list[tuple[str, list[object]]] = []
    for i in range(0, len(rows), bs):
        chunk = rows[i : i + bs]
        sql = build_values_upsert_sql(
            table, columns, key_cols, update_cols, len(chunk), placeholder
        )
        flat: list[object] = []
        for r in chunk:
            flat.extend(r)
        out.append((sql, flat))
    assert len(out) == math.ceil(len(rows) / bs) if rows else not out
    return out
