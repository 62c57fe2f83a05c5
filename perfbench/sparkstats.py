"""Spark-side layer metrics, read from the application's event log.

The benchmark turns the event log on for its traced runs and tags each
measured phase with a job group (``SparkContext.setJobGroup``).  After the
phase, :func:`drain` waits for the listener bus so every task-end event is
on disk, and :func:`phase_metrics` sums the task metrics of the phase's
jobs: executor run/CPU/GC time, shuffle and spill bytes, job and stage
counts, and the SQL metrics of the Arrow Python nodes (bytes sent to and
returned from the Python workers, Python worker time).

The exchange metrics belong to ``salted_repartition``'s exchange alone.
Its reader is the stage that runs the parse UDF: the only stage of every
benchmark job whose tasks report the Python SQL metrics.  The bytes that
stage fetches are the bytes the exchange's map stage wrote, and its
slowest task over its median task is the exchange's skew.  Nothing here
touches the program's code.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

# SQL metric names (PythonSQLMetrics) as they appear in task accumulables
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TOTAL = "time to run Python workers"


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def drain(spark, timeout_ms: int = 30000) -> None:
    """Block until the listener bus has delivered every queued event (the
    event-log writer flushes on job end)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _events(log_dir: str):
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        yield json.loads(line)
                    except ValueError:
                        continue  # a partly flushed last line


def phase_metrics(log_dir: str, group: str) -> dict:
    """Task-metric totals over every job launched under job group
    ``group``."""
    jobs, stages = set(), set()
    for ev in _events(log_dir):
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") == group:
                jobs.add(ev["Job ID"])
                stages.update(ev.get("Stage IDs", []))
    tot = defaultdict(float)
    run_by_stage = defaultdict(list)
    read_by_stage = defaultdict(int)
    wait_by_stage = defaultdict(float)
    python_stages = set()
    for ev in _events(log_dir):
        if ev.get("Event") != "SparkListenerTaskEnd" or ev.get("Stage ID") not in stages:
            continue
        m = ev.get("Task Metrics") or {}
        sid = ev["Stage ID"]
        run_ms = m.get("Executor Run Time", 0)
        run_by_stage[sid].append(run_ms)
        tot["executor.run_s"] += run_ms / 1e3
        tot["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        tot["executor.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        tot["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        read_by_stage[sid] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        tot["exchange.shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
        wait_by_stage[sid] += sr.get("Fetch Wait Time", 0) / 1e3
        in_bytes = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        if in_bytes:
            # a scan task: its run time less its exchange write
            tot["scan.s"] += run_ms / 1e3 - sw.get("Shuffle Write Time", 0) / 1e9
        tot["write.bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name, upd = acc.get("Name"), acc.get("Update")
            if not isinstance(upd, (int, float)) and not (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                continue
            upd = float(upd)
            if name == PY_SENT:
                python_stages.add(sid)
                tot["arrow.bytes_to_python"] += upd
            elif name == PY_RECV:
                tot["arrow.bytes_from_python"] += upd
            elif name == PY_TOTAL:
                tot["arrow.python_s"] += upd / 1e3
    skew = [
        max(run_by_stage[sid]) / statistics.median(run_by_stage[sid])
        for sid in python_stages
        if len(run_by_stage[sid]) >= 4 and statistics.median(run_by_stage[sid]) > 0
    ]
    tot["exchange.task_max_over_median"] = max(skew) if skew else 1.0
    tot["exchange.shuffle_write_bytes"] = sum(read_by_stage[sid] for sid in python_stages)
    tot["exchange.fetch_wait_s"] = sum(wait_by_stage[sid] for sid in python_stages)
    tot["spark.jobs"] = len(jobs)
    tot["spark.stages"] = len(run_by_stage)
    return dict(tot)
