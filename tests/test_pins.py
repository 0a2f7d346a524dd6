"""Frames a query keeps in Spark's session cache have one owner:
``operators/driver_state.pin`` records them and the query registry
releases them before it builds the next registered query. A cached
frame must also never serve rows of a table that has since been
rewritten."""

from __future__ import annotations

import ast
import shutil
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "prisma_migrator_spark"

#: The only functions allowed to call ``.persist(``/``.cache(``: the
#: pin itself, and three that unpersist their frame in their own body.
_PERSISTERS = {
    "operators/driver_state.py": {"pin"},
    "plans/graph.py": {"_lpa_edges"},
    "plans/llm.py": {"quality_classifier_scores_q", "classifier_holdout_auc_q"},
}


def _persist_calls(path: Path) -> list[tuple[int, str | None]]:
    """(line, enclosing top-level function) of every ``.persist(`` or
    ``.cache(`` call in ``path``."""
    found = []
    for top in ast.parse(path.read_text(), filename=str(path)).body:
        name = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
            ):
                found.append((node.lineno, name))
    return found


def test_session_cache_persists_only_through_pin():
    """Spark-free: a persist anywhere else outlives its query, since
    nothing releases it."""
    offenders = [
        f"{rel}:{line} ({fn})"
        for path in sorted(PACKAGE.rglob("*.py"))
        for rel in [path.relative_to(PACKAGE).as_posix()]
        for line, fn in _persist_calls(path)
        if fn not in _PERSISTERS.get(rel, set())
    ]
    assert not offenders, f"persist outside driver_state.pin: {offenders}"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_next_registered_query_releases_every_pin(spark, sf_dir):
    """One query per pin site: after it runs, building any registered
    query leaves Spark's CacheManager empty."""
    from prisma_migrator_spark.plans import QUERIES

    left = []
    for name in (
        "copurchase_triangles",  # graph._snapshot_edges
        "simhash_near_dup",  # dedup.hamming_band_pairs
        "incremental_image_near_dup",  # dedup.hamming_band_pairs(index=)
        "funnel_view_click_purchase",
        "corpus_recipe",
    ):
        spark.catalog.clearCache()
        assert QUERIES[name](spark, sf_dir).count() > 0, name
        assert not _cache_empty(spark), f"{name} pinned nothing"
        QUERIES["semi_join_orders"](spark, sf_dir)
        if not _cache_empty(spark):
            left.append(name)
    spark.catalog.clearCache()
    assert not left, f"frames still cached after the next query: {left}"


@pytest.mark.parametrize(
    "query, table, key",
    [
        ("funnel_view_click_purchase", "events", "user_id"),
        ("corpus_recipe", "documents", "doc_id"),
    ],
)
def test_rewritten_table_is_not_served_from_cache(
    spark, sf_dir, tmp_path, query, table, key
):
    """A query that pins frames over a table, re-run after the table is
    rewritten with the rows of half its keys, returns what a cold cache
    returns — not the pinned old rows. The functions are called
    directly, so no registry release runs between the two runs."""
    from prisma_migrator_spark.plans.analytics import funnel_view_click_purchase
    from prisma_migrator_spark.plans.llm import corpus_recipe_q

    fn = {"funnel_view_click_purchase": funnel_view_click_purchase,
          "corpus_recipe": corpus_recipe_q}[query]
    src = Path(sf_dir) / f"{table}.parquet"
    dst = tmp_path / f"{table}.parquet"
    shutil.copyfile(src, dst)
    d = str(tmp_path)

    def rows():
        return sorted(tuple(r) for r in fn(spark, d).collect())

    spark.catalog.clearCache()
    before = rows()
    full = pq.read_table(src)
    pq.write_table(full.filter(pc.equal(pc.bit_wise_and(full[key], 1), 0)), dst)
    after = rows()
    spark.catalog.clearCache()
    cold = rows()
    spark.catalog.clearCache()
    assert len(cold) < len(before), "the rewrite must change the answer"
    assert after == cold
