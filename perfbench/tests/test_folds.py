"""Tests of the benchmark's own logic: the event-log fold, the progress
fold, the percentile rule and digest canonicalisation.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import digest  # noqa: E402
import folds  # noqa: E402

DATA = os.path.join(HERE, "data")


# ---- event-log fold ------------------------------------------------------

@pytest.fixture(scope="module")
def events():
    return folds.read_events(os.path.join(DATA, "eventlog.jsonl"))


@pytest.fixture(scope="module")
def groups(events):
    return folds.fold_eventlog(events)


def test_every_job_lands_in_its_group(events, groups):
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    assert sum(g.jobs for g in groups.values()) == len(starts)
    assert {"py", "shuffle", "scan", ""} <= set(groups)
    for g in groups.values():
        assert len(g.job_spans) == g.jobs
        assert all(s <= e for s, e in g.job_spans)


def test_task_and_stage_totals_match_the_log(events, groups):
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    stages = [e for e in events if e["Event"] == "SparkListenerStageCompleted"]
    assert sum(g.tasks for g in groups.values()) == len(tasks)
    assert sum(g.stages for g in groups.values()) == len(stages)
    run_s = sum(e["Task Metrics"]["Executor Run Time"] for e in tasks) / 1000
    assert sum(g.task_run_s for g in groups.values()) == pytest.approx(run_s)


def test_python_and_shuffle_attribution(groups):
    py, shuffle, scan = groups["py"], groups["shuffle"], groups["scan"]
    assert py.single_task_stages == 1
    assert py.py_run_s > 0 and py.py_sent_mb > 0 and py.py_recv_mb > 0
    assert shuffle.single_task_stages == 0 and shuffle.py_run_s == 0
    assert shuffle.shuffle_write_mb > 0 and shuffle.shuffle_read_mb > 0
    assert 0 < scan.shuffle_write_mb < shuffle.shuffle_write_mb  # count(): one-row partials
    assert scan.single_task_stages == 0 and scan.py_sent_mb == 0
    assert shuffle.stage_skew and all(s >= 1.0 for s in shuffle.stage_skew)


def test_union_of_spans():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert folds.union_s(spans, 0.0, 10.0) == 4.0
    assert folds.union_s(spans, 1.5, 5.5) == 2.0
    assert folds.union_s([], 0.0, 1.0) == 0.0


# ---- progress fold -------------------------------------------------------

def test_progress_fold_on_recorded_records():
    with open(os.path.join(DATA, "progress.json")) as f:
        progress = json.load(f)
    rows = folds.fold_progress(list(reversed(progress)))
    assert [r["batch"] for r in rows] == sorted(p["batchId"] for p in progress)
    data = [r for r in rows if r["rows"] > 0]
    assert [r["rows"] for r in data] == [5, 6, 7]
    for r, p in zip(rows, sorted(progress, key=lambda p: p["batchId"])):
        assert r["trigger_s"] == p["durationMs"]["triggerExecution"] / 1000
        assert r["commit"] == pytest.approx(r["start"] + r["trigger_s"])
    assert data[-1]["state_rows"] == 3
    assert data[-1]["state_partitions"] > 0


def test_progress_fold_times():
    rec = {"batchId": 4, "timestamp": "2026-01-02T03:04:05.250Z", "numInputRows": 9,
           "durationMs": {"triggerExecution": 1500, "latestOffset": 20, "queryPlanning": 30,
                          "walCommit": 40, "commitOffsets": 50, "addBatch": 900},
           "stateOperators": [{"commitTimeMs": 60, "allUpdatesTimeMs": 70, "numRowsTotal": 3,
                               "memoryUsedBytes": 2**20, "numShufflePartitions": 4}]}
    (row,) = folds.fold_progress([rec])
    start = dt.datetime(2026, 1, 2, 3, 4, 5, 250000, tzinfo=dt.timezone.utc).timestamp()
    assert row["start"] == start and row["commit"] == start + 1.5
    assert (row["offset_s"], row["plan_s"], row["wal_s"], row["add_batch_s"]) == (
        0.02, 0.03, 0.09, 0.9)
    assert (row["state_commit_s"], row["state_update_s"], row["state_mem_mb"]) == (
        0.06, 0.07, 1.0)


# ---- percentile rule -----------------------------------------------------

def test_interpolated_percentile():
    xs = list(range(1, 102))  # 1..101: ranks fall on samples
    assert folds.percentile(xs, 0.5) == 51
    assert folds.percentile(xs, 0.9) == 91
    assert folds.percentile(reversed(xs), 0.99) == 100
    assert folds.percentile([1.0, 2.0], 0.5) == 1.5
    assert folds.percentile([0.0, 10.0], 0.9) == pytest.approx(9.0)
    assert folds.percentile([7.0], 0.9) == 7.0
    assert folds.percentile([3, 1, 2], 0.5) == 2
    for q in (0.5, 0.9):  # agrees with the median and numpy's default
        assert folds.percentile([4, 1, 3, 2], q) == pytest.approx(
            np.percentile([4, 1, 3, 2], 100 * q))
    assert folds.percentile([4, 1, 3, 2], 0.5) == folds.median([4, 1, 3, 2])
    with pytest.raises(ValueError):
        folds.percentile([], 0.5)


def test_supported_percentile_and_median():
    assert folds.max_supported_q(100) == pytest.approx(0.9)
    assert folds.max_supported_q(1000) == pytest.approx(0.99)
    assert folds.max_supported_q(12) == 0.5
    assert folds.median([4, 1, 3, 2]) == 2.5
    assert folds.median([5, 1, 3]) == 3


# ---- digest canonicalisation ---------------------------------------------

def _t(**cols) -> pa.Table:
    return pa.table(cols)


def test_digest_ignores_row_and_column_order():
    a = _t(x=pa.array([1, 2, 3]), y=pa.array(["a", "b", "c"]))
    b = _t(y=pa.array(["c", "a", "b"]), x=pa.array([3, 1, 2]))
    assert digest.digest(a) == digest.digest(b)
    assert digest.digest(a)[1] == 3


def test_digest_forgives_encodings_of_one_type():
    assert digest.digest(_t(x=pa.array([1], pa.int32()))) == digest.digest(
        _t(x=pa.array([1], pa.int64())))
    assert digest.digest(_t(s=pa.array(["a"], pa.large_string()))) == digest.digest(
        _t(s=pa.array(["a"], pa.string())))
    spark_list = pa.list_(pa.field("element", pa.int64(), nullable=False))
    duck_list = pa.list_(pa.field("l", pa.int64()))
    assert digest.digest(_t(v=pa.array([[1, 2]], spark_list))) == digest.digest(
        _t(v=pa.array([[1, 2]], duck_list)))
    utc = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    assert digest.digest(_t(t=pa.array([utc], pa.timestamp("us", tz="UTC")))) == digest.digest(
        _t(t=pa.array([utc.replace(tzinfo=None)], pa.timestamp("ns"))))


def test_digest_is_strict_on_values_and_kinds():
    base = digest.digest(_t(x=pa.array([0.1 + 0.2])))
    assert base != digest.digest(_t(x=pa.array([0.3])))  # bitwise floats
    assert digest.digest(_t(x=pa.array([1.0], pa.float32()))) != digest.digest(
        _t(x=pa.array([1.0], pa.float64())))
    assert digest.digest(_t(x=pa.array([1]))) != digest.digest(
        _t(x=pa.array([1], pa.decimal128(10, 0))))
    assert digest.digest(_t(x=pa.array([-0.0]))) != digest.digest(_t(x=pa.array([0.0])))
    assert digest.digest(_t(x=pa.array([None], pa.int64()))) != digest.digest(
        _t(x=pa.array([0])))
    assert digest.digest(_t(x=pa.array([1, 1]))) != digest.digest(_t(x=pa.array([1])))
    assert digest.canon_value(float("nan")) == "NaN"
    assert digest.digest(_t(x=pa.array([1]))) != digest.digest(_t(y=pa.array([1])))
