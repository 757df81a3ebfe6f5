"""What every workload shares: the pinned environment, the Spark
session, spans, the timed region, metric records and process cleanup.

All timing here comes from outside the engine: wall-clock spans the
benchmark takes around public calls, /proc readings of the process
tree, and (traced runs) Spark's own event log.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

import host

# Pinned Spark sizing: every run gets the same parallelism and heap
# whatever the host offers, so runs on different hosts stay comparable
# and peak RSS repeats.
SPARK_CPUS = 4
DRIVER_HEAP = "2g"

@functools.cache
def contract() -> dict:
    """The benchmark's contract, BENCHMARK.json at the checkout root:
    workload names, metric names and units."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def workloads() -> list[str]:
    return [w["name"] for w in contract()["workloads"]]


def end_to_end() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in contract()["end_to_end"]}


def per_layer() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in contract()["per_layer"]}


def process_start_epoch() -> float:
    """Wall-clock time this process was created, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str, force_distributed: bool, root: str) -> None:
    """Set before the JVM starts: sizing, and every scratch path inside
    the run's work directory."""
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(SPARK_CPUS)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    env["FES_SCRATCH_DIR"] = os.path.join(work, "scratch")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    env["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the spark-submit launcher too) keeps its temp files here
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    # Python workers import the engine and the benchmark's modules.
    here = os.path.join(root, "perfbench")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, here, env.get("PYTHONPATH")) if p
    )
    if force_distributed:
        env["FES_FORCE_DISTRIBUTED"] = "1"
    else:
        env.pop("FES_FORCE_DISTRIBUTED", None)


@dataclass
class Region:
    cpu_s: float = 0.0
    hwm_mb: float = 0.0
    steal_s: float = 0.0
    wall_s: float = 0.0


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str
    cache_dir: str
    t_proc0: float
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)  # the first few messages
    metrics: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    spark: object = None
    excluded_s: float = 0.0
    region: Region | None = None
    _gateway_proc: object = None

    # ---- records -------------------------------------------------------
    def metric(self, name: str, value: float, unit: str) -> None:
        assert end_to_end()[name] == unit, name
        self.metrics[name] = float(value)

    def layer(self, name: str, value: float) -> None:
        assert name in per_layer(), name
        self.layers[name] = float(value)

    def fail(self, msg: str, n: int = 1) -> None:
        """Count ``n`` failed operations, keeping the first messages."""
        self.failed += n
        if len(self.failures) < 20:
            self.failures.append(msg)

    @contextlib.contextmanager
    def span(self, layer: str):
        t0 = time.perf_counter()
        yield
        self.layer(layer, time.perf_counter() - t0)

    @contextlib.contextmanager
    def excluded(self):
        """Work that set-up time leaves out (input generation, oracle)."""
        t0 = time.perf_counter()
        yield
        self.excluded_s += time.perf_counter() - t0

    def end_setup(self) -> None:
        self.metric("setup_s", time.time() - self.t_proc0 - self.excluded_s, "s")

    @contextlib.contextmanager
    def timed_region(self):
        """Calibrate, then read CPU, steal and peak RSS around the body
        into ``self.region``."""
        calib = [host.calibrate()]
        region = self.region = Region()
        cpu0, steal0, t0 = host.tree_cpu_s(), host.steal_s(), time.perf_counter()
        yield
        region.wall_s = time.perf_counter() - t0
        hwm = host.tree_hwm_mb()
        region.hwm_mb = sum(mb for _, mb in hwm)
        region.cpu_s = host.tree_cpu_s() - cpu0
        region.steal_s = host.steal_s() - steal0
        calib.append(host.calibrate())
        self.layer("bench.steal_s", region.steal_s)
        self.layer("bench.calib_s", sum(calib) / 2)
        self.detail.update(calib_s=calib, steal_s=region.steal_s, region_wall_s=region.wall_s,
                           hwm_mb=sorted((name, round(mb)) for name, mb in hwm))

    # ---- session -------------------------------------------------------
    def _conf(self, eventlog: bool) -> dict:
        conf = {
            # the whole heap is committed up front, so peak RSS does not
            # depend on when the collector ran
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog:
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    @property
    def eventlog_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def start_session(self):
        from pyspark import SparkContext

        from flink_essentials_spark.session import get_spark

        with self.span("session.start_s"):
            self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=self._conf(self.trace))
        self._gateway_proc = SparkContext._gateway.proc
        self.detail["sizing"] = {
            "usable_cpus": host.usable_cpus(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "driver_heap": DRIVER_HEAP,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
        }
        return self.spark

    def restart_session_untraced(self) -> str:
        """Stop the traced session (which flushes its event log) and
        start an untraced one in the same JVM; returns the log's path."""
        from flink_essentials_spark.session import get_spark

        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=self._conf(False))
        return os.path.join(self.eventlog_dir, app_id)

    def close(self) -> None:
        """Stop Spark and wait until the JVM and every process it started
        (Python workers included) has ended."""
        started = host.tree_pids()[1:]
        if self.spark is not None:
            from pyspark import SparkContext

            with contextlib.suppress(Exception):
                self.spark.stop()
            with contextlib.suppress(Exception):
                SparkContext._gateway.shutdown()
            self.spark = None
        proc: subprocess.Popen | None = self._gateway_proc
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
            time.sleep(0.1)
        for pid in started:
            with contextlib.suppress(OSError):
                os.kill(pid, 9)
        shutil.rmtree(self.work, ignore_errors=True)
