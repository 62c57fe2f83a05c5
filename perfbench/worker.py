"""One fresh JVM of the benchmark: set up a Spark session at ``local[N]``,
run an untimed warm-up job, then either run the workload's job in a timed
closed loop (``--trace 0``) or, with the event log on, run it once more
followed by the untraced extract and the traced pass (``--trace 1``).
Every job's output is checked.  Prints one JSON object as its last line.

Run by ``run.py``; not meant to be called by hand.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import pbtrace  # noqa: E402
import sparkstats  # noqa: E402

# flagship_job's PageRank iteration count (its --iterations default)
ITERATIONS = 3
# --partitions of both jobs, whatever the core count: their defaults (256
# and 64) are cluster sizes, and on 4 cores the per-task Python worker cost
# of 256 tasks dwarfs the parse itself
PARTITIONS = 16


def job_call(workload: str, pages: str, out: str, warmup: bool = False):
    """The job as a user runs it: the entry point's ``main`` with argv.  The
    crawl workload's light warm-up is ``extract_job --main-content``, the
    flagship's page kernel."""
    from jobs import extract_job, flagship_job

    argv = ["--pages", pages, "--output", out, "--partitions", str(PARTITIONS)]
    if workload != "crawl_flagship":
        return extract_job.main, argv
    if warmup:
        return extract_job.main, argv + ["--main-content"]
    return flagship_job.main, argv + ["--gopher"]


def run_job(workload, pages, out, warmup: bool = False) -> tuple[float, dict]:
    """Run the job once; returns (wall seconds, its JSON report line)."""
    main, argv = job_call(workload, pages, out, warmup)
    buf = io.StringIO()
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(buf):
        main(argv)
    wall = time.perf_counter() - t0
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return wall, json.loads(lines[-1]) if lines else {}


def warm_up(spark, a, work) -> None:
    """Untimed: the job on the ``--warmup`` input.  The first job in a JVM
    pays class loading, code generation and Python worker start-up.  The
    crawl warms up with ``extract_job --main-content``: a flagship job
    costs ~30 s of first-time query compilation, more than a run can spend,
    so the crawl's timed job pays its first-time graph and curate planning.
    A traced run then also runs the untraced extract on the ``--warmup``
    input, so the untraced and the traced extract that follow are equally
    warm."""
    run_job(a.workload, a.warmup, os.path.join(work, "warmup"), warmup=True)
    shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)
    if a.trace:
        untraced_extract(spark, a, work, "warmup-untraced", a.warmup)


def _hash(*cols):
    """Row hash for the order-independent digest: xxhash64 over the columns,
    each cast to its string form so nested columns hash by value, widened
    to decimal so the digest (a sum over rows) is exact."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols])
    return h.cast("decimal(38,0)")


def _digest(df, *cols) -> str:
    from pyspark.sql import functions as F

    v = df.agg(F.sum(_hash(*cols))).first()[0]
    return str(v if v is not None else 0)


def check_output(spark, workload: str, out: str, report: dict) -> dict:
    """What the job wrote: document count, failed documents, digest, and
    (dictionary workloads) the detected-format histogram or (crawl) the
    curate funnel."""
    from pyspark.sql import functions as F

    if workload == "crawl_flagship":
        ex = spark.read.parquet(os.path.join(out, "extract", "data"))
        row = ex.agg(F.count("*"), F.count_if(F.col("main_text").isNull())).first()
        cu = spark.read.parquet(os.path.join(out, "curate", "docs"))
        stage = report.get("stages", {}).get("curate", {})
        return {
            "docs": int(row[0]),
            "failed": int(row[1]),
            "digest": _digest(ex, "url", "warc_ts", "main_text", "outlinks") + ":"
            + _digest(cu, "doc_id", "text", "split"),
            "funnel": {k: stage.get(k) for k in ("docs_in", "after_quality_filter", "after_dedup")},
        }
    res = spark.read.parquet(os.path.join(out, "data"))
    rows = res.groupBy("fmt").agg(
        F.count("*").alias("n"),
        F.count_if(F.col("error").isNotNull()).alias("failed"),
        F.sum(_hash("url", "extracted_text", "entries")).alias("digest"),
    ).collect()
    return {
        "docs": sum(r["n"] for r in rows),
        "failed": sum(r["failed"] for r in rows),
        "digest": str(sum(r["digest"] for r in rows)),
        "fmt": {r["fmt"]: int(r["n"]) for r in rows},
    }


def python_worker_peak_rss_mb() -> float:
    """The largest VmHWM (peak RSS, kept by the kernel) among this
    process's Python worker descendants: the pyspark daemon and its forked
    workers, which the session reuses for every task."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    me, peak_kb = os.getpid(), 0
    for pid in parent:
        p, depth = pid, 0
        while p in parent and p != me and depth < 8:
            p, depth = parent[p], depth + 1
        if p != me or pid == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024


def timed_loop(spark, a, work) -> dict:
    """Closed loop, one client: run the job back to back until the time
    budget would be exceeded by one more median-length job."""
    walls, checks, crashed = [], [], None
    t_end = time.time() + a.seconds
    while True:
        out = os.path.join(work, f"job{len(walls)}")
        try:
            wall, report = run_job(a.workload, a.pages, out)
        except Exception as e:  # a crashed job fails every document
            crashed = f"{type(e).__name__}: {str(e)[:500]}"
            break
        walls.append(wall)
        checks.append(check_output(spark, a.workload, out, report))
        shutil.rmtree(out, ignore_errors=True)
        # at least three jobs (the median then ignores the first job's
        # remaining warm-up), unless one job alone outlasts the budget
        if time.time() + statistics.median(walls) > t_end and (len(walls) >= 3 or wall > a.seconds):
            break
    return {"walls": walls, "checks": checks, "crashed": crashed, "rss_mb": python_worker_peak_rss_mb()}


def untraced_extract(spark, a, work, group: str, pages: str) -> float:
    """The traced pass's extract step over ``pages`` with the program's own
    kernel and no timers, under job group ``group``; returns its wall."""
    out = os.path.join(work, group)
    t0 = time.perf_counter()
    if a.workload == "crawl_flagship":
        pbtrace.crawl_extract(spark, pages, out, None, PARTITIONS, group)
    else:
        pbtrace.traced_dict_pass(spark, pages, out, None, PARTITIONS, pbtrace.Spans(), group)
    wall = time.perf_counter() - t0
    shutil.rmtree(out, ignore_errors=True)
    return wall


def traced_run(spark, a, work) -> dict:
    """After the warm-up: the job (its wall and its Spark-side layer
    metrics), the untraced extract, then the traced pass."""
    evdir = os.path.join(work, "eventlog")
    sc = spark.sparkContext
    out = os.path.join(work, "job")
    sc.setJobGroup("job", "timed job")
    wall_u, report = run_job(a.workload, a.pages, out)
    sc.setJobGroup("checks", "output checks")
    job_check = check_output(spark, a.workload, out, report)
    shutil.rmtree(out, ignore_errors=True)
    sparkstats.drain(spark)
    job_metrics = sparkstats.phase_metrics(evdir, "job")

    wall_x = untraced_extract(spark, a, work, "untraced", a.pages)
    trace_dir = os.path.join(work, "kernel-trace")
    os.makedirs(trace_dir, exist_ok=True)
    tout = os.path.join(work, "traced")
    spans = pbtrace.Spans()
    t0 = time.perf_counter()
    if a.workload == "crawl_flagship":
        funnel = pbtrace.traced_crawl_pass(spark, a.pages, tout, trace_dir, PARTITIONS, spans, "traced",
                                           iterations=ITERATIONS)
    else:
        pbtrace.traced_dict_pass(spark, a.pages, tout, trace_dir, PARTITIONS, spans, "traced")
        funnel = None
    wall_t = time.perf_counter() - t0
    sc.setJobGroup("checks", "output checks")
    tcheck = check_output(spark, a.workload, tout, {"stages": {"curate": funnel}} if funnel else {})
    sparkstats.drain(spark)
    extract_phase = sparkstats.phase_metrics(evdir, "traced")
    kt, kn = pbtrace.read_kernel(trace_dir)
    return {
        "wall_job": wall_u,
        "wall_untraced_extract": wall_x,
        "wall_traced": wall_t,
        "checks": [job_check],
        "traced_check": tcheck,
        "job_metrics": job_metrics,
        "extract_phase": extract_phase,
        "spans": dict(spans.s),
        "kernel_s": dict(kt),
        "kernel_n": dict(kn),
        "iterations": ITERATIONS if a.workload == "crawl_flagship" else 0,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--warmup", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--eventlog", action="store_true", help="Spark event log on (always on with --trace 1)")
    a = ap.parse_args()
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))
    work = os.path.abspath(a.work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # workers import the package from the checkout, whatever the cwd
        "spark.executorEnv.PYTHONPATH": os.pathsep.join([ROOT, HERE]),
    }
    if a.trace or a.eventlog:
        conf.update(sparkstats.event_log_conf(os.path.join(work, "eventlog")))
    from html_parser_spark.spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{a.cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.sparkContext.setJobGroup("warmup", "warm-up")
        warm_up(spark, a, work)
        setup_s = time.time() - t_start
        result = traced_run(spark, a, work) if a.trace else timed_loop(spark, a, work)
        result["setup_s"] = setup_s
    finally:
        spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
