"""stream_live: keyed event-time streaming through the engine's public
calls, ``file_replay -> with_event_time -> keyed_process
(RunningCountProcessor) -> for_each_batch``.

Events carry Zipf-skewed keys and a share of them arrive out of order.
A run has three phases on one query:

- warm-up: a cold single-file micro-batch, then full-size ones (part
  of ``setup_s``);
- drain: a backlog of files appears at once and is processed as fast
  as the engine can (``events_per_s``, ``warm_s``);
- live: a generator in its own process writes one file per tick at a
  fixed rate, an open loop that does not slow when the engine does
  (``latency_p50_s``/``latency_p90_s``).

``RunningCountProcessor`` emits ``(key, cum)`` for every event, where
``cum`` counts the key's events so far. Files are consumed in
modification-time order, so the row ``(k, c)`` belongs to the c-th
event of key ``k`` in file order, and is emitted by the micro-batch
that read that event. That maps every output row to its event, and its
event to its scheduled creation time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import folds
import gen
from harness import Run

N_KEYS = 200
ZIPF_S = 1.1
LATE_SHARE = 0.1  # share of events whose event time lags their position
LATE_MS = 2_000  # by at most this much; far inside the watermark delay
WATERMARK_DELAY = "1 minute"
EVENT_TIME_BASE_MS = 1_704_067_200_000  # 2024-01-01; event time advances 1 ms per event
FILE_EVENTS = 250
FILES_PER_TRIGGER = 8
# Warm-up: one single-file micro-batch (the cold one), then five
# full-size batches, after which per-batch time has mostly stopped
# falling; the backlog drains in full-size batches too.
WARM_FILES = 1 + 5 * FILES_PER_TRIGGER
BACKLOG_FILES = 10 * FILES_PER_TRIGGER
LIVE_RATE = 1_000  # events per second, one file per FILE_EVENTS / LIVE_RATE s
SCHEMA = "event_id long, key long, ts timestamp, created_ms long"
WAIT_S = 60.0


def _file_table(ev: dict, created_ms: np.ndarray) -> pa.Table:
    return pa.table({
        "event_id": ev["event_id"],
        "key": ev["key"],
        "ts": pa.array(ev["ts_ms"] * 1000, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "created_ms": created_ms.astype(np.int64),
    })


def _events(seed: int, first_id: int, n: int) -> dict:
    return gen.stream_events(seed, n, N_KEYS, zipf_s=ZIPF_S, late_share=LATE_SHARE,
                             late_ms=LATE_MS, first_id=first_id, base_ms=EVENT_TIME_BASE_MS)


def _publish(staged: str, watch: str) -> None:
    os.rename(staged, os.path.join(watch, os.path.basename(staged)))


def generator_main(seed: int, first_id: int, n_files: int,
                   stage: str, watch: str, lag_path: str) -> None:
    """Open-loop generator, run in its own process. It reads the start
    time t0 from stdin; file i holds events created at t0 + k / LIVE_RATE
    and is published when its last event is due."""
    pq.write_table(_file_table(_events(seed, 0, 1), np.zeros(1)), pa.BufferOutputStream())
    t0 = float(sys.stdin.readline())
    lags = []
    for i in range(n_files):
        lo = first_id + i * FILE_EVENTS
        k = np.arange(i * FILE_EVENTS, (i + 1) * FILE_EVENTS)
        created = t0 + (k + 1) / LIVE_RATE
        due = created[-1]
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        path = os.path.join(stage, f"live-{i:05d}.parquet")
        pq.write_table(_file_table(_events(seed, lo, FILE_EVENTS), np.round(created * 1000)), path)
        _publish(path, watch)
        lags.append(time.time() - due)
    with open(lag_path, "w") as f:
        json.dump(lags, f)


class Sink:
    """foreachBatch target: keeps every output row with its batch id."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.rows: list[tuple[int, int, int]] = []  # (batch, key, cum)
        self.max_batch = -1

    def __call__(self, df, batch_id: int) -> None:
        got = [(batch_id, r["key"], r["cum"]) for r in df.collect()]
        with self.lock:
            self.rows.extend(got)
            self.max_batch = max(self.max_batch, batch_id)

    def count(self) -> int:
        with self.lock:
            return len(self.rows)


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else p)
    return out


def _wait_rows(query, sink: Sink, n: int) -> None:
    """Until ``n`` rows reached the sink and their batch committed."""
    deadline = time.time() + WAIT_S
    while sink.count() < n:
        if time.time() > deadline or query.exception() is not None:
            raise RuntimeError(f"stream stalled at {sink.count()}/{n} rows: {query.exception()}")
        time.sleep(0.01)
    while True:
        last = query.lastProgress
        last = json.loads(last.json) if hasattr(last, "json") else last
        if last is not None and last["batchId"] >= sink.max_batch:
            return
        if time.time() > deadline:
            raise RuntimeError("stream commit did not arrive")
        time.sleep(0.01)


class Replay:
    """One replay directory, its staging area and the file order."""

    def __init__(self, root: str) -> None:
        self.watch = os.path.join(root, "watch")
        self.stage = os.path.join(root, "stage")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.watch)
        os.makedirs(self.stage)

    def stage_files(self, seed: int, prefix: str, first_id: int, n_files: int) -> list[str]:
        """Write files for events ``first_id..`` with increasing
        modification times in the past, so they sort in event order
        and before any file the live generator writes later."""
        paths = []
        t_base = time.time() - 1000 + first_id / FILE_EVENTS
        for i in range(n_files):
            ev = _events(seed, first_id + i * FILE_EVENTS, FILE_EVENTS)
            path = os.path.join(self.stage, f"{prefix}-{i:05d}.parquet")
            pq.write_table(_file_table(ev, np.zeros(FILE_EVENTS)), path)
            os.utime(path, (t_base + i, t_base + i))
            paths.append(path)
        return paths

    def start(self, spark, sink: Sink):
        from flink_essentials_spark.operators.stateful import RunningCountProcessor, keyed_process
        from flink_essentials_spark.sinks.sinks import for_each_batch
        from flink_essentials_spark.sources.streaming import file_replay
        from flink_essentials_spark.streaming.watermarks import with_event_time

        src = file_replay(spark, self.watch, SCHEMA, files_per_trigger=FILES_PER_TRIGGER)
        timed = with_event_time(src, "ts", WATERMARK_DELAY)
        out = keyed_process(timed, ["key"], RunningCountProcessor(), "key long, cum long",
                            output_mode="append")
        return for_each_batch(out, sink, checkpoint=self.ckpt)


def _feed(replay: Replay, sink: Sink, query, files: list[str]) -> None:
    """Publish ``files`` as micro-batches of full size (the first one
    alone), waiting for each batch to commit."""
    groups = [files[:1]] + [files[i:i + FILES_PER_TRIGGER]
                            for i in range(1, len(files), FILES_PER_TRIGGER)]
    for group in groups:
        for path in group:
            _publish(path, replay.watch)
        _wait_rows(query, sink, sink.count() + len(group) * FILE_EVENTS)


def _drain(replay: Replay, sink: Sink, query, backlog: list[str]) -> float:
    """The whole backlog appears at once; returns when it appeared."""
    t = time.time()
    for path in backlog:
        _publish(path, replay.watch)
    _wait_rows(query, sink, sink.count() + len(backlog) * FILE_EVENTS)
    return t


def run(run: Run) -> None:
    n_live_files = max(1, int(run.seconds * LIVE_RATE / FILE_EVENTS))
    n_warm, n_back = WARM_FILES * FILE_EVENTS, BACKLOG_FILES * FILE_EVENTS
    with run.excluded():
        replay = Replay(os.path.join(run.work, "replay"))
        warm = replay.stage_files(run.seed, "warm", 0, WARM_FILES)
        backlog = replay.stage_files(run.seed, "backlog", n_warm, BACKLOG_FILES)

    spark = run.start_session()
    sink = Sink()
    query = replay.start(spark, sink)
    try:
        _feed(replay, sink, query, warm)
        run.end_setup()
        with run.timed_region():
            # the generator starts (imports) during the drain and waits for t0
            lag_path = os.path.join(run.work, "gen_lag.json")
            first_live = n_warm + n_back
            total = first_live + n_live_files * FILE_EVENTS
            proc = subprocess.Popen([
                sys.executable, "-c",
                "import json, sys, stream; stream.generator_main(*json.loads(sys.argv[1]))",
                json.dumps([run.seed, first_live, n_live_files, replay.stage, replay.watch,
                            lag_path]),
            ], stdin=subprocess.PIPE, text=True)
            try:
                t_b0 = _drain(replay, sink, query, backlog)
                t_live0 = time.time() + 0.05
                t_live_end = t_live0 + n_live_files * FILE_EVENTS / LIVE_RATE
                proc.stdin.write(f"{t_live0!r}\n")
                proc.stdin.close()
                time.sleep(max(0.0, t_live_end - time.time()))
                rows_at_end = sink.count()
                code = proc.wait(WAIT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
            if code != 0:
                raise RuntimeError(f"generator exited with {code}")
            _wait_rows(query, sink, total)
        progress = folds.fold_progress(_progress(query))
    finally:
        query.stop()

    _check_and_measure(run, replay, sink, progress, t_b0, t_live0, total, rows_at_end, lag_path)
    if run.trace:
        log_path = run.restart_session_untraced()
        replay2 = Replay(os.path.join(run.work, "replay-untraced"))
        warm2 = replay2.stage_files(run.seed, "warm", 0, WARM_FILES)
        back2 = replay2.stage_files(run.seed, "backlog", n_warm, BACKLOG_FILES)
        sink2 = Sink()
        q2 = replay2.start(run.spark, sink2)
        try:
            _feed(replay2, sink2, q2, warm2)
            t0 = _drain(replay2, sink2, q2, back2)
            drain_untraced = _commit_of(folds.fold_progress(_progress(q2)), sink2, n_warm + n_back) - t0
        finally:
            q2.stop()
        drain = run.metrics["warm_s"]
        run.layer("bench.trace_overhead_frac", drain / drain_untraced - 1.0)
        run.detail["untraced_drain_s"] = drain_untraced
        groups = folds.fold_eventlog(folds.read_events(log_path))
        _event_layers(run, groups, n_batches=len(progress))


def _commit_of(progress: list[dict], sink: Sink, n_rows: int) -> float:
    """Commit time of the batch that brought the sink to ``n_rows`` rows."""
    per_batch = defaultdict(int)
    for b, _, _ in sink.rows:
        per_batch[b] += 1
    seen, last = 0, None
    for b in sorted(per_batch):
        seen += per_batch[b]
        last = b
        if seen >= n_rows:
            break
    commit = {p["batch"]: p["commit"] for p in progress}
    return commit[last]


def _check_and_measure(run: Run, replay: Replay, sink: Sink, progress: list[dict], t_b0: float,
                       t_live0: float, total: int, rows_at_end: int, lag_path: str) -> None:
    n_warm, n_back = WARM_FILES * FILE_EVENTS, BACKLOG_FILES * FILE_EVENTS
    first_live = n_warm + n_back
    # -- outputs: every event has its row; per-key counts match DuckDB
    run.attempted += total
    con = duckdb.connect()
    counts = dict(con.sql(
        f"SELECT key, count(*) FROM read_parquet('{replay.watch}/*.parquet') GROUP BY key"
    ).fetchall())
    con.close()
    cums = defaultdict(list)
    for _, k, c in sink.rows:
        cums[k].append(c)
    for k in set(counts) | set(cums):
        got, want = sorted(cums.get(k, [])), list(range(1, counts.get(k, 0) + 1))
        if got != want:
            missing = len(set(want) - set(got))
            extra = len(got) - (len(want) - missing)
            run.fail(f"key {k}: {len(got)} rows, max cum {max(got, default=0)}, "
                     f"DuckDB count {len(want)}", n=missing + extra)
    if sum(counts.values()) != total:
        run.fail(f"DuckDB saw {sum(counts.values())} events, generated {total}")

    # -- map rows to events (file order) and batches to commit times
    files = sorted(os.listdir(replay.watch),
                   key=lambda f: os.stat(os.path.join(replay.watch, f)).st_mtime_ns)
    occ = defaultdict(list)  # key -> (event_id, created_ms) of its events in file order
    for f in files:
        t = pq.read_table(os.path.join(replay.watch, f), columns=["event_id", "key", "created_ms"])
        for eid, k, cm in zip(*(t.column(i).to_pylist() for i in range(3))):
            occ[k].append((eid, cm))
    commit = {p["batch"]: p["commit"] for p in progress}
    lat = []
    for b, k, c in sink.rows:
        eid, cm = occ[k][c - 1]
        if eid >= first_live:
            lat.append(commit[b] - cm / 1000.0)

    drain = _commit_of(progress, sink, n_warm + n_back) - t_b0
    run.metric("warm_s", drain, "s")
    run.metric("events_per_s", n_back / drain, "1/s")
    run.metric("latency_p50_s", folds.percentile(lat, 0.5), "s")
    run.metric("latency_p90_s", folds.percentile(lat, 0.9), "s")
    run.metric("cpu_s", run.region.cpu_s, "s")
    run.metric("peak_rss_mb", run.region.hwm_mb, "MB")

    with open(lag_path) as f:
        lags = json.load(f)
    live = [p for p in progress if p["start"] >= t_live0]
    med = lambda key: folds.median([p[key] for p in live])  # noqa: E731
    half = len(live) // 2
    run.layer("bench.gen_lag_s", max(lags))
    run.layer("bench.warm_drift",
              folds.median([p["trigger_s"] for p in live[:half]])
              / folds.median([p["trigger_s"] for p in live[half:]]))
    run.layer("sources.offset_s", med("offset_s"))
    run.layer("sources.rows_per_batch", med("rows"))
    run.layer("sources.backlog_end_rows", max(0, total - rows_at_end))
    run.layer("streaming.batches", len(live))
    run.layer("streaming.batch_p50_s", med("trigger_s"))
    run.layer("streaming.plan_s", med("plan_s"))
    run.layer("streaming.wal_s", med("wal_s"))
    run.layer("stateful.commit_s", med("state_commit_s"))
    run.layer("stateful.update_s", med("state_update_s"))
    run.layer("stateful.rows", live[-1]["state_rows"])
    run.layer("stateful.mem_mb", live[-1]["state_mem_mb"])
    run.layer("stateful.partitions", live[-1]["state_partitions"])
    run.layer("sinks.add_batch_s", med("add_batch_s"))
    run.detail.update(
        shape={"keys": N_KEYS, "zipf_s": ZIPF_S, "late_share": LATE_SHARE, "late_ms": LATE_MS,
               "file_events": FILE_EVENTS, "warm_files": WARM_FILES,
               "backlog_files": BACKLOG_FILES, "files_per_trigger": FILES_PER_TRIGGER,
               "live_rate": LIVE_RATE, "live_files": (total - first_live) // FILE_EVENTS},
        latency_samples=len(lat),
        latency_supported_q=folds.max_supported_q(len(lat)),
        gen_lag_s={"max": max(lags), "median": folds.median(lags)},
        batches={"total": len(progress), "live": len(live)},
        batch_trigger_s=[round(p["trigger_s"], 3) for p in progress],
    )


def _event_layers(run: Run, groups: dict, n_batches: int) -> None:
    """Per-micro-batch totals of every job in the traced session's log."""
    gs = list(groups.values())
    total = lambda attr: sum(getattr(g, attr) for g in gs) / n_batches  # noqa: E731
    for attr in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                 "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        run.layer(f"operators.{attr}", total(attr))
    skews = [s for g in gs for s in g.stage_skew]
    run.layer("operators.skew", folds.median(skews) if skews else 1.0)
    run.layer("operators.peak_exec_mem_mb", max((g.peak_exec_mem_mb for g in gs), default=0.0))
    for attr in ("single_task_stages", "py_boot_s", "py_init_s", "py_run_s",
                 "py_sent_mb", "py_recv_mb"):
        run.layer(f"functions.{attr}", total(attr))
