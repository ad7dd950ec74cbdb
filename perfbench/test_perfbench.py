"""Tests for the benchmark's own helpers: python3 -m pytest perfbench -q"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest

from layers import _stat_fields, _thread_ticks, group_records, stage_sums
from oracle import problems
from stats import clip, median_index, quartile_spread, sum_of_medians, union_length


def test_union_merges_overlapping_and_nested_intervals():
    assert union_length([(0, 2), (1, 3), (1.5, 2.5)]) == 3
    assert union_length([(5, 6), (0, 1), (0.5, 1)]) == 2
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10


def test_union_of_touching_empty_and_no_intervals():
    assert union_length([(0, 1), (1, 2)]) == 2
    assert union_length([(3, 3), (4, 4)]) == 0
    assert union_length([]) == 0


def test_clip_cuts_to_the_window_and_drops_outsiders():
    assert clip([(0, 5), (6, 7), (9, 12), (20, 30)], 2, 10) == [(2, 5), (6, 7), (9, 10)]


def test_sum_of_medians_ignores_one_slow_pass_per_query():
    samples = {"q1": [1.0, 9.0, 1.2], "q2": [2.0, 2.2, 2.1, 50.0], "q3": []}
    assert sum_of_medians(samples) == pytest.approx(1.2 + 2.15)


def test_median_index_picks_the_lower_middle():
    assert median_index([3.0, 1.0, 2.0]) == 2
    assert median_index([4.0, 1.0, 3.0, 2.0]) == 3


def test_quartile_spread_matches_statistics_quantiles():
    med, q1, q3, spread = quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert (med, q1, q3) == (5.5, 2.75, 8.25)
    assert spread == pytest.approx(5.5 / 5.5)


def _frame(rows):
    return pd.DataFrame({"k": [r[0] for r in rows], "v": [r[1] for r in rows], "tags": [r[2] for r in rows]})


ROWS = [(1, 0.5, ["a"]), (2, 1.25, ["b", None]), (3, float("nan"), [])]


def test_oracle_compare_accepts_reordered_rows_and_float_noise():
    noisy = [(k, v * (1 + 1e-12), t) for k, v, t in ROWS]
    assert problems("q", _frame(ROWS[::-1]), _frame(ROWS)) == []
    assert problems("q", _frame(noisy), _frame(ROWS)) == []


def test_oracle_compare_catches_a_planted_wrong_row():
    wrong = list(ROWS)
    wrong[1] = (2, 1.26, ["b", None])
    found = problems("q", _frame(wrong), _frame(ROWS))
    assert found and "col=v" in found[0]
    wrong[1] = (2, 1.25, ["b", "x"])
    assert problems("q", _frame(wrong), _frame(ROWS))


def test_oracle_compare_catches_missing_rows_and_renamed_columns():
    assert "rowcount" in problems("q", _frame(ROWS[:2]), _frame(ROWS))[0]
    renamed = _frame(ROWS).rename(columns={"v": "value"})
    assert "columns" in problems("q", renamed, _frame(ROWS))[0]


def test_thread_ticks_leave_out_the_reaped_children_of_the_process():
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"],
                   check=True)
    pid = os.getpid()
    fields = _stat_fields(f"{pid}/task/{pid}")
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    assert cutime + cstime > 0  # the child's CPU, repeated in every task's stat
    assert _thread_ticks(pid, str(pid)) == utime + stime


def test_group_records_counts_a_shared_stage_once():
    jobs = [
        {"jobId": 1, "jobGroup": "1:q", "submissionTime": 2000, "completionTime": 2500, "stageIds": [1, 2]},
        {"jobId": 0, "jobGroup": "1:q", "submissionTime": 1000, "completionTime": 1500, "stageIds": [0]},
        {"jobId": 2, "jobGroup": "2:q", "submissionTime": 3000, "completionTime": 3100, "stageIds": [2, 3]},
    ]
    stage = {"executorRunTime": 100, "executorCpuTime": 5e7, "jvmGcTime": 0, "numCompleteTasks": 4,
             "inputBytes": 0, "shuffleWriteBytes": 2**20, "shuffleReadBytes": 0,
             "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "status": "COMPLETE"}
    stages = [dict(stage, stageId=i, attemptId=0) for i in range(4)]
    groups = group_records(jobs, stages)
    assert [j[0] for j in groups["1:q"]["jobs"]] == [0, 1]
    assert groups["1:q"]["jobs"][0][1:] == (1.0, 1.5)
    assert len(groups["1:q"]["stages"]) == 3 and len(groups["2:q"]["stages"]) == 1
    assert stage_sums(groups["1:q"]["stages"])["executor.shuffle_write_mb"] == 3.0
