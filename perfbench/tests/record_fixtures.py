"""Re-record the fixtures the fold tests read (needs Spark; ~30 s).

    python3 perfbench/tests/record_fixtures.py

Writes ``data/eventlog.jsonl``: the uncompressed event log of a tiny
session with three tagged job groups (a one-task Python stage, a
shuffle, and a plain count) plus an untagged job, keeping only the
event kinds the fold reads; and ``data/progress.json``: the
``StreamingQueryProgress`` records of a three-batch keyed stream.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd",
        "SparkListenerStageCompleted"}
PROPS = {"spark.jobGroup.id", "spark.job.description"}


def main() -> None:
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]
    os.makedirs(os.path.join(HERE, "..", ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="fixtures-", dir=os.path.join(HERE, "..", ".work"))
    try:
        _record(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _record(work: str) -> None:
    import harness

    harness.pin_environment(work, False, ROOT)
    from pyspark.sql import functions as F

    from flink_essentials_spark.operators.stateful import RunningCountProcessor, keyed_process
    from flink_essentials_spark.session import get_spark
    from flink_essentials_spark.sinks.sinks import for_each_batch
    from flink_essentials_spark.sources.streaming import file_replay

    logs = os.path.join(work, "ev")
    os.makedirs(logs)
    spark = get_spark("fixtures", extra_conf={
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + logs,
        "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    sc.setJobGroup("py", "single-task python")
    spark.range(0, 100, 1, 4).coalesce(1).mapInPandas(lambda it: it, "id long").collect()
    sc.setJobGroup("shuffle", "groupBy")
    spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    sc.setJobGroup("scan", "count")
    spark.range(0, 10, 1, 2).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(0, 5, 1, 1).collect()
    app = sc.applicationId
    spark.stop()  # flushes the event log; the stream runs untraced

    spark = get_spark("fixtures")

    src = os.path.join(work, "src")
    os.makedirs(src)
    for i in range(3):
        path = os.path.join(src, f"part{i}.parquet")
        pq.write_table(pa.table({"key": pa.array([k % 3 for k in range(5 + i)], pa.int64())}), path)
        os.utime(path, (1e9 + i, 1e9 + i))
    out = keyed_process(file_replay(spark, src, "key long"), ["key"], RunningCountProcessor(),
                        "key long, cum long")
    q = for_each_batch(out, lambda df, b: df.collect(), checkpoint=os.path.join(work, "ck"))
    while q.lastProgress is None or q.lastProgress.batchId < 2:
        time.sleep(0.1)
    q.stop()
    progress = [json.loads(p.json) for p in q.recentProgress]
    spark.stop()

    data = os.path.join(HERE, "data")
    os.makedirs(data, exist_ok=True)
    with open(os.path.join(logs, app)) as f, open(os.path.join(data, "eventlog.jsonl"), "w") as g:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] not in KEEP:
                continue
            if "Properties" in ev:  # keep the job tags, not the session's conf
                ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k in PROPS}
            g.write(json.dumps(ev).replace(ROOT + os.sep, "") + "\n")
    with open(os.path.join(data, "progress.json"), "w") as g:
        g.write(json.dumps(progress, indent=1).replace(ROOT + os.sep, ""))


if __name__ == "__main__":
    main()
