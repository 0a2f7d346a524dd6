"""The benchmark's own arithmetic. Spark-free: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import json
import math
import os
import statistics

import pytest

from checks import rows_mismatch
from spans import Tracer, count_plan_nodes
from stats import (
    beyond, idle_core_s, percentile, quartile_spread, self_time, steal_share,
    supported_percentile, union_length, write_amp,
)


def test_percentile_is_nearest_rank():
    values = list(range(10, 0, -1))  # order must not matter
    assert percentile(values, 0.5) == 5
    assert percentile(values, 0.9) == 9
    assert percentile(values, 0.91) == 10
    assert percentile(values, 1.0) == 10
    assert percentile([7.5], 0.9) == 7.5
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1.0], 0.0)


def test_sample_count_behind_a_percentile():
    assert beyond(100, 0.9) == 10
    assert beyond(14, 0.9) == 1  # one report_suite pass: 14 queries
    assert beyond(28, 0.9) == 2
    assert beyond(28, 0.5) == 14
    assert supported_percentile(100) == 0.90
    assert supported_percentile(28) == 0.64
    assert supported_percentile(20) == 0.50
    assert supported_percentile(19) is None


def test_write_amp():
    assert write_amp(300, 100) == 3.0
    assert write_amp(50, 200) == 0.25
    assert write_amp(0, 0) == 0.0
    assert write_amp(5, 0) == math.inf
    with pytest.raises(ValueError):
        write_amp(-1, 10)


def test_idle_core_seconds():
    assert idle_core_s(4, 2.0, 5.0) == 3.0
    assert idle_core_s(4, 2.0, 8.0) == 0.0
    assert idle_core_s(4, 1.0, 5.0) == 0.0  # clamped, never negative


def test_self_time_subtracts_covered_interval_once():
    # overlapping children count once; a child running past its parent
    # is clipped to the parent
    assert union_length([(1, 3), (2, 5), (8, 12)]) == 8
    assert self_time(0, 10, [(1, 3), (2, 5), (8, 12)]) == 4
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(0, 10), (3, 4)]) == 0


def test_tracer_self_times_and_disabled_noop():
    tracer = Tracer(True)
    with tracer.span("op") as op:
        with tracer.span("plans.build") as build:
            pass
    op["start"], op["end"] = 0.0, 10.0
    build["start"], build["end"] = 2.0, 5.0
    assert tracer.self_times() == {"op": 7.0, "plans.build": 3.0}
    assert [s["name"] for s in tracer.descendants(op)] == ["plans.build"]

    off = Tracer(False)
    with off.span("op") as rec, off.op("q") as op_rec:
        assert rec is None and op_rec is None
    assert off.spans == []


def test_steal_share_of_proc_stat_readings():
    #        user nice sys idle iowait irq softirq steal guest guest_nice
    before = [100, 0, 10, 500, 5, 0, 5, 20, 50, 0]
    after = [400, 0, 40, 700, 5, 0, 15, 120, 250, 0]
    # 300 + 30 + 200 + 10 + 100 ticks passed, 100 of them stolen; guest
    # time is already inside user, so it does not count twice
    assert steal_share(before, after) == pytest.approx(100 / 640)
    assert steal_share(before, before) == 0.0


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.3]
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / med)


def test_count_plan_nodes_reads_the_final_adaptive_plan_only():
    plan = """== Physical Plan ==
OverwriteByExpression (9)
+- AdaptiveSparkPlan (8)
   +- == Final Plan ==
      ResultQueryStage (5)
      +- BroadcastHashJoin (4)
         :- Scan parquet  (1)
         +- BroadcastQueryStage (3)
            +- BroadcastExchange (2)
               +- Scan parquet  (6)
   +- == Initial Plan ==
      BroadcastHashJoin (7)
      :- Scan parquet  (1)
      +- BroadcastExchange (2)

(1) Scan parquet
Output [1]: [a#0L]

(2) BroadcastExchange
Input [1]: [b#1L]
"""
    assert count_plan_nodes(plan) == (1, 2)
    plain = "== Physical Plan ==\nExchange (2)\n+- Exchange (1)\n   +- Scan parquet  (0)\n\n(0) Scan parquet\n"
    assert count_plan_nodes(plain) == (2, 1)


def test_rows_mismatch_tolerates_sixth_decimal_rounding_only():
    cols = ["n", "score"]
    assert rows_mismatch(cols, [(1, 4971.099688)], ["score", "n"], [(4971.099687, 1)]) is None
    assert rows_mismatch(cols, [(1, 4971.0997)], cols, [(1, 4971.0996)]) is not None
    assert rows_mismatch(cols, [(1, 1.0)], ["n", "other"], [(1, 1.0)]) is not None
    assert rows_mismatch(cols, [(1, 1.0), (1, 1.0)], cols, [(1, 1.0)]) is not None
    assert rows_mismatch(cols, [(1, float("nan"))], cols, [(1, float("nan"))]) is None


def test_written_between_counts_new_and_rewritten_files(tmp_path):
    from workloads import dir_files, written_between

    (tmp_path / "part-0.parquet").write_bytes(b"x" * 10)
    (tmp_path / "keep.parquet").write_bytes(b"y" * 7)
    before = dir_files(str(tmp_path))
    os.remove(tmp_path / "part-0.parquet")
    (tmp_path / "part-1.parquet").write_bytes(b"z" * 30)
    (tmp_path / ".part-1.parquet.crc").write_bytes(b"c" * 4)
    assert written_between(before, dir_files(str(tmp_path))) == (34, 1)


def test_benchmark_json_lists_every_reported_metric():
    from run import END_TO_END, per_layer_names

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("BENCHMARK.json sits at the checkout root")
    with open(path) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()


def test_snapshot_batch_is_one_reference_statement_scaled_to_the_fixture():
    from workloads import ReadLog, SnapshotUpsert

    wl = SnapshotUpsert(1, 0.01, ReadLog())
    # 50000 // 6 columns = 8333 rows per statement at sf0.1 -> 833 at sf0.01
    assert [b.num_rows for b in wl.batches] == [833] * wl.BATCHES
    first = wl.batches[0].to_pandas()
    assert first.duplicated().sum() == round(833 / 16)
    assert (first.drop_duplicates()["o_orderkey"] > wl.base["o_orderkey"].to_numpy().max()).sum() == 260
