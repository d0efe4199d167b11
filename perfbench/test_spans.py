"""Tests of the benchmark's own arithmetic: span self time, attribution of
jobs and stages to spans, layer sums, and the reference BPE the crawl
check counts tokens with. No Spark needed:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import layer_metric  # noqa: E402
from workloads import bpe_word  # noqa: E402
from spans import (  # noqa: E402
    Span,
    attribute_stages,
    layer_sum_errors,
    layer_table,
    own_jobs,
    self_times,
    stage_record,
)


def stage(sid, cpu=0.0, run=0.0, sw=0.0, sr=0.0, spill=0.0, tasks=0.0):
    return {
        "stage_id": sid,
        "executor_cpu_s": cpu,
        "executor_run_s": run,
        "shuffle_write_mb": sw,
        "shuffle_read_mb": sr,
        "spill_mb": spill,
        "tasks": tasks,
    }


def tree():
    """root [0, 10) jobs 0..9
       a    [1, 4)  jobs 1..3
         a1 [2, 3)  job 2
       b    [5, 9)  jobs 5..7
    """
    return [
        Span(0, "root", None, 0.0, 10.0, 0, 10),
        Span(1, "a", 0, 1.0, 4.0, 1, 4),
        Span(2, "a1", 1, 2.0, 3.0, 2, 3),
        Span(3, "b", 0, 5.0, 9.0, 5, 8),
    ]


def test_self_time_subtracts_children():
    st = self_times(tree())
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0})


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 5.0),
        Span(2, "b", 0, 3.0, 7.0),
    ]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    spans = [Span(0, "root", None, 0.0, 4.0), Span(1, "a", 0, 2.0, 6.0)]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_layer_sums_match_root_wall():
    assert layer_sum_errors(tree()) == []


def test_layer_sum_error_when_child_outlives_parent():
    spans = [Span(0, "root", None, 0.0, 4.0), Span(1, "a", 0, 2.0, 6.0)]
    errs = layer_sum_errors(spans)
    assert len(errs) == 1 and errs[0].startswith("root:")


def test_own_jobs_exclude_children_windows():
    own = own_jobs(tree())
    assert own == {0: [0, 4, 8, 9], 1: [1, 3], 2: [2], 3: [5, 6, 7]}


def test_every_job_of_a_root_is_owned_exactly_once():
    owned = sorted(j for jobs in own_jobs(tree()).values() for j in jobs)
    assert owned == list(range(10))


def test_stages_attributed_to_owning_span():
    job_stages = {
        2: [stage(10, cpu=1.5, tasks=4)],
        5: [stage(11, cpu=2.0, sw=3.0, tasks=8)],
        9: [stage(12, run=0.5, tasks=1)],
    }
    ex = attribute_stages(tree(), job_stages)
    assert ex[2]["executor_cpu_s"] == 1.5 and ex[2]["tasks"] == 4
    assert ex[1]["executor_cpu_s"] == 0.0
    assert ex[3]["shuffle_write_mb"] == 3.0
    assert ex[0]["executor_run_s"] == 0.5


def test_shared_stage_counts_once_for_lowest_job():
    # a reused shuffle stage is listed by jobs 1 and 6 (skipped in 6)
    job_stages = {1: [stage(20, cpu=2.0)], 6: [stage(20, cpu=2.0), stage(21, cpu=1.0)]}
    ex = attribute_stages(tree(), job_stages)
    assert ex[1]["executor_cpu_s"] == 2.0
    assert ex[3]["executor_cpu_s"] == 1.0
    total = sum(v["executor_cpu_s"] for v in ex.values())
    assert total == 3.0


def test_layer_table_groups_calls_by_name():
    spans = [
        Span(0, "root", None, 0.0, 10.0, 0, 4),
        Span(1, "explain", 0, 1.0, 3.0, 0, 2),
        Span(2, "explain", 0, 4.0, 7.0, 2, 4),
    ]
    spans[1].counters["cached_mb"] = 1.0
    job_stages = {0: [stage(1, cpu=1.0)], 3: [stage(2, cpu=2.0)]}
    t = layer_table(spans, job_stages)
    assert t["explain"]["calls"] == 2
    assert t["explain"]["wall_s"] == pytest.approx(5.0)
    assert t["explain"]["executor_cpu_s"] == 3.0
    assert t["explain"]["cached_mb"] == 1.0
    assert t["root"]["self_s"] == pytest.approx(5.0)
    assert t["root"]["tree_cpu_s"] == 3.0
    # the layer table adds up to the root: root self + children walls
    assert t["root"]["self_s"] + t["explain"]["self_s"] == pytest.approx(10.0)


def test_stage_record_units():
    class StageData:
        def executorCpuTime(self):
            return 2_500_000_000  # ns

        def executorRunTime(self):
            return 1500  # ms

        def shuffleWriteBytes(self):
            return 3 * 1024 * 1024

        def shuffleReadBytes(self):
            return 1024 * 1024

        def memoryBytesSpilled(self):
            return 512 * 1024

        def diskBytesSpilled(self):
            return 512 * 1024

        def numCompleteTasks(self):
            return 7

    r = stage_record(5, StageData())
    assert r == stage(5, cpu=2.5, run=1.5, sw=3.0, sr=1.0, spill=1.0, tasks=7.0)


def test_derived_layer_metrics():
    table = {
        "kernel.explain_prepared": {"wall_s": 0.05, "calls": 10},
        "engine.explain": {"calls": 3},
        "pipeline.select_features": {"tree_cpu_s": 2.0},
    }
    n = 100_000
    assert layer_metric(table, "kernel.explain_prepared.ms_per_iteration", n) == pytest.approx(5.0)
    assert layer_metric(table, "engine.explain.batches", n) == 3
    assert layer_metric(table, "pipeline.select_features.cpu_us_per_turn", n) == pytest.approx(20.0)
    assert layer_metric(table, "windows.turn_features.wall_s", n) == 0.0


def test_reference_bpe_merges_in_rule_order():
    # e+r, i+n, then j+o, then jo+in
    assert bpe_word("joiner") == ["join", "er"]
    # one non-overlapping pass per rule: "aaa" has no rule, "stst" -> st st
    assert bpe_word("stst") == ["st", "st"]
    assert bpe_word("aaa") == ["a", "a", "a"]
    # m+er only fires after e+r made "er"
    assert bpe_word("mer") == ["mer"]
