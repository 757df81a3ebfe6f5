"""Folds of Spark's own records into per-layer numbers.

- ``fold_eventlog``: an uncompressed Spark event log (JSON lines) into
  per-job-group totals of jobs, stages, tasks, executor time, shuffle,
  spill, memory and Python-worker metrics. Job groups are the tags the
  benchmark sets with ``SparkContext.setJobGroup`` around each call.
- ``fold_progress``: ``StreamingQueryProgress`` records (as JSON dicts)
  into one row per micro-batch.
- ``percentile`` / ``max_supported_q``: the percentile rule the
  benchmark reports timings with.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from collections import defaultdict
from dataclasses import dataclass, field

# Spark's Python SQL metric names (PythonSQLMetrics); timings are in ms.
PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_recv_mb",
}
_PY_SCALE = {"py_boot_s": 1e-3, "py_init_s": 1e-3, "py_run_s": 1e-3,
             "py_sent_mb": 1 / 2**20, "py_recv_mb": 1 / 2**20}
_MB = 1 / 2**20


def percentile(values, q: float) -> float:
    """Percentile by linear interpolation between the closest ranks
    (numpy's default): it moves continuously as samples move, so a few
    distinct groups of samples (one per query) do not make it jump from
    one group to the next."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def max_supported_q(n: int, beyond: int = 10) -> float:
    """Highest percentile (as a share) with at least ``beyond`` samples
    above it among ``n``; 0.5 when even the median lacks them."""
    return max(0.5, 1.0 - beyond / n) if n > 0 else 0.5


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def union_s(spans, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of (start, end) spans."""
    total, cur = 0.0, lo
    for s, e in sorted(spans):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


@dataclass
class GroupFold:
    """Totals of every job tagged with one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_spans: list = field(default_factory=list)  # (start_s, end_s) epoch
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    peak_exec_mem_mb: float = 0.0
    stage_skew: list = field(default_factory=list)  # max/median task run, >=2 tasks
    single_task_stages: int = 0  # one-task stages that ran Python workers
    py_boot_s: float = 0.0
    py_init_s: float = 0.0
    py_run_s: float = 0.0
    py_sent_mb: float = 0.0
    py_recv_mb: float = 0.0


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def fold_eventlog(events: list[dict]) -> dict[str, GroupFold]:
    """Per job group (``""`` for untagged jobs) totals of the log."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    task_runs: dict[int, list[float]] = defaultdict(list)
    out: dict[str, GroupFold] = defaultdict(GroupFold)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[jid] = g
            job_start[jid] = e["Submission Time"] / 1000.0
            out[g].jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                out[job_group[jid]].job_spans.append(
                    (job_start[jid], e["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            g = out[stage_group.get(e["Stage ID"], "")]
            m = e.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            task_runs[e["Stage ID"]].append(run_s)
            g.tasks += 1
            g.task_run_s += run_s
            g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) * _MB
            g.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) * _MB
            g.spill_mb += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) * _MB
            g.peak_exec_mem_mb = max(
                g.peak_exec_mem_mb, m.get("Peak Execution Memory", 0) * _MB
            )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            g = out[stage_group.get(sid, "")]
            g.stages += 1
            runs = task_runs.get(sid, [])
            if len(runs) >= 2:
                med = median(runs)
                g.stage_skew.append(max(runs) / med if med > 0 else 1.0)
            ran_python = False
            for acc in info.get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key is None:
                    continue
                ran_python = True
                val = float(acc.get("Value") or 0) * _PY_SCALE[key]
                setattr(g, key, getattr(g, key) + val)
            if ran_python and info.get("Number of Tasks") == 1:
                g.single_task_stages += 1
    return dict(out)


def _iso_s(ts: str) -> float:
    """Epoch seconds of a progress timestamp like 2026-01-01T00:00:00.123Z."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def fold_progress(progress: list[dict]) -> list[dict]:
    """One row per micro-batch, in batch order: its start and commit
    times (epoch s), input rows and the phase durations (s) Spark
    reports, plus the first stateful operator's state metrics."""
    rows = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        d = {k: v / 1000.0 for k, v in (p.get("durationMs") or {}).items()}
        start = _iso_s(p["timestamp"])
        ops = p.get("stateOperators") or [{}]
        st = ops[0]
        rows.append(
            {
                "batch": p["batchId"],
                "start": start,
                "commit": start + d.get("triggerExecution", 0.0),
                "rows": p.get("numInputRows", 0),
                "trigger_s": d.get("triggerExecution", 0.0),
                "offset_s": d.get("latestOffset", 0.0),
                "plan_s": d.get("queryPlanning", 0.0),
                "wal_s": d.get("walCommit", 0.0) + d.get("commitOffsets", 0.0),
                "add_batch_s": d.get("addBatch", 0.0),
                "state_commit_s": st.get("commitTimeMs", 0) / 1000.0,
                "state_update_s": st.get("allUpdatesTimeMs", 0) / 1000.0,
                "state_rows": st.get("numRowsTotal", 0),
                "state_mem_mb": st.get("memoryUsedBytes", 0) * _MB,
                "state_partitions": st.get("numShufflePartitions", 0),
            }
        )
    return rows
