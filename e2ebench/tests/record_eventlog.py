"""Record the small event log the reader's test uses.

    python3 e2ebench/tests/record_eventlog.py

Runs two tagged spans on ``local[2]`` with the event log on (the same
settings as a traced benchmark run): a scan plus a pandas map, and a
shuffle aggregation. It keeps only the events and fields the reader and
its test use, and writes them with the spans to ``tests/data``.
"""

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {"SparkListenerJobStart", "SparkListenerStageCompleted", "SparkListenerTaskEnd"}


def _trim(ev: dict) -> dict:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": ev["Job ID"], "Submission Time": ev["Submission Time"],
                "Properties": {"spark.job.description":
                               (ev.get("Properties") or {}).get("spark.job.description")}}
    if kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        keep = ("Stage ID", "Stage Attempt ID", "Submission Time", "Completion Time")
        acc = [a for a in info.get("Accumulables", ()) if a.get("Name") in (
            "internal.metrics.executorCpuTime", "internal.metrics.shuffle.write.bytesWritten",
            "internal.metrics.input.bytesRead")]
        return {"Event": kind, "Stage Info": {**{k: info[k] for k in keep if k in info},
                                              "Accumulables": acc}}
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    acc = [{"Name": a["Name"], "Update": a.get("Update")} for a in info.get("Accumulables", ())
           if "Python" in str(a.get("Name"))]
    return {"Event": kind, "Stage ID": ev["Stage ID"],
            "Task Info": {"Launch Time": info["Launch Time"], "Accumulables": acc},
            "Task Metrics": {k: m[k] for k in ("Executor CPU Time", "JVM GC Time",
                                               "Shuffle Write Metrics", "Input Metrics")
                             if k in m}}


def main() -> int:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    logdir = tempfile.mkdtemp(prefix="eventlog-")
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + logdir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    data = os.path.join(logdir, "input")
    spark.range(0, 20000, numPartitions=4).write.parquet(data)
    spans = []

    def span(name, fn):
        sc.setJobDescription(name)
        t0 = time.time()
        fn()
        spans.append({"name": name, "start_ms": t0 * 1e3, "end_ms": time.time() * 1e3})
        sc.setJobDescription(None)
        time.sleep(0.5)  # keep the spans apart

    def pandas_map():
        def double(it):
            for pdf in it:
                yield pdf.assign(id=pdf["id"] * 2)
        spark.read.parquet(data).mapInPandas(double, "id long").agg(F.sum("id")).collect()

    span("map", pandas_map)
    span("shuffle", lambda: spark.read.parquet(data).groupBy(F.col("id") % 7).count().collect())
    spark.stop()

    (log,) = [os.path.join(logdir, n) for n in os.listdir(logdir) if n != "input"]
    out = os.path.join(HERE, "data")
    os.makedirs(out, exist_ok=True)
    with open(log) as src, open(os.path.join(out, "small_eventlog.jsonl"), "w") as dst:
        for line in src:
            ev = json.loads(line)
            if ev.get("Event") in KEEP:
                dst.write(json.dumps(_trim(ev)) + "\n")
    with open(os.path.join(out, "small_eventlog_spans.json"), "w") as fh:
        json.dump(spans, fh, indent=1)
    shutil.rmtree(logdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
