"""Extraction benchmark for html-parser-spark.

    python3 perfbench/run.py --workload dict_a --seed 1 --seconds 10 --trace 0

Generates the workload's ``pages(url, warc_ts, html, text, lang)`` parquet
table from ``--seed`` (perfbench/gen.py), then runs the workload's batch
job in fresh JVMs, one job at a time (closed loop, one client):

* ``--trace 0``: one JVM at ``local[4]``, set up, warmed up on a slice of
  the input, then the job back to back for ``--seconds`` (at least three
  jobs, unless one job outlasts it).  Prints the end-to-end metrics.
* ``--trace 1``: one JVM at ``local[4]`` with the Spark event log on that
  warms up (the dictionary workloads on the full input), then runs the
  job, the untraced extract and the traced pass (perfbench/pbtrace.py); for
  dict_a, one JVM at ``local[1]`` with the same settings then runs the
  job twice for the 1->4 scaling efficiency.  Prints the per-layer
  metrics, the tracing overhead and the part of the traced wall no layer
  explains.

perfbench/METRICS.md describes the workloads, metrics and layer
predictions.

Every job's output is checked: documents out == documents in, no document
with an error, the same order-independent digest from every job of the run
(and the digest recorded in expected.json for this workload and seed, when
there is one), the planned format mix (dictionary workloads) or the exact
curate funnel (crawl workload).  A failed check prints ``"correct": false``
and exits 1.  Each distinct digest of the run is printed on a ``digest``
line, to be pasted into expected.json when a change to the program
legitimately changes its output.  The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")
CORES = 4
# the whole command must end within 180 s, result printed
DEADLINE_S = 165
# share of the input in the warm-up slice
WARMUP_FRACTION = 0.5


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_checkout() -> None:
    for rel in ("html_parser_spark/kernel.py", "jobs/extract_job.py", "jobs/flagship_job.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found under {ROOT}: run from a checkout of the repository")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        fail("pyspark is not installed")


def spawn(args: list[str], work: str, cores: int, deadline: float) -> dict:
    """Run worker.py in its own process group (its JVM and Python workers
    included) and return its JSON result; the group is killed afterwards,
    or at ``deadline`` (a ``time.time()`` value) if it is still running."""
    env = dict(os.environ)
    env.update(
        PERFBENCH_T0=repr(time.time()),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY="2g",
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONUNBUFFERED="1",
        # every JVM the worker starts (spark-submit's launcher and the
        # driver) keeps its temporary files in the work directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    env.pop("PYTHONPATH", None)  # workers get their import path from the benchmark
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--work", work, "--cores", str(cores), *args]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, err = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return {"crashed": "worker still running at the deadline"}
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = "\n".join(err.strip().splitlines()[-15:])
        return {"crashed": f"worker exited {proc.returncode}: {tail}"}
    return json.loads(lines[-1])


def load_expected() -> dict:
    try:
        with open(EXPECTED) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def verify(workload: str, seed: int, plan: dict, n_docs: int, checks: list[dict]) -> list[str]:
    """Output checks of every job of the run; returns the failures."""
    errors = []
    digests = {c["digest"] for c in checks}
    if len(digests) > 1:
        errors.append(f"digest differs between jobs of one run: {sorted(digests)}")
    recorded = load_expected().get(workload, {}).get(str(seed))
    if recorded is not None and digests and digests != {recorded}:
        errors.append(f"digest {sorted(digests)} != recorded {recorded}")
    for c in checks:
        if c["docs"] != n_docs:
            errors.append(f"docs out {c['docs']} != docs in {n_docs}")
        if c["failed"]:
            errors.append(f"{c['failed']} documents failed")
        if "fmt" in plan and c.get("fmt") != plan["fmt"]:
            errors.append(f"detected formats {c.get('fmt')} != planned {plan['fmt']}")
        if "funnel" in plan:
            want = {k: plan["funnel"][k] for k in c["funnel"]}
            if c["funnel"] != want:
                errors.append(f"curate funnel {c['funnel']} != planned {want}")
    return sorted(set(errors))


def tally(runs: list[dict], n_docs: int) -> tuple[list, int, int, list]:
    """(checks, attempted, failed, crashes) over worker results; a crashed
    job fails every document of its attempt."""
    checks, attempted, failed, crashed = [], 0, 0, []
    for r in runs:
        for c in r.get("checks", []):
            checks.append(c)
            attempted += n_docs
            failed += c["failed"] + abs(n_docs - c["docs"])
        if r.get("crashed"):
            crashed.append(r["crashed"])
            attempted += n_docs
            failed += n_docs
    return checks, attempted, failed, crashed


def end_to_end(a, work, pages, warmup, n_docs, html_bytes):
    """Timed jobs in one fresh JVM at local[4]."""
    r = spawn(["--workload", a.workload, "--pages", pages, "--warmup", warmup,
               "--seconds", str(a.seconds), "--trace", "0"],
              os.path.join(work, "jvm"), CORES, a.deadline)
    checks, attempted, failed, crashed = tally([r], n_docs)
    if crashed:
        return {}, checks, attempted, failed, crashed
    wall = statistics.median(r["walls"])
    print(f"# timed job walls at local[{CORES}]: {['%.3f' % w for w in r['walls']]}", file=sys.stderr)
    metrics = {
        "wall_s": (wall, "s"),
        "docs_per_s": (n_docs / wall, "1/s"),
        "mb_per_s": (html_bytes / 1e6 / wall, "MB/s"),
        "setup_s": (r["setup_s"], "s"),
        "py_worker_peak_rss_mb": (r["rss_mb"], "MB"),
    }
    return metrics, checks, attempted, failed, []


def per_layer(a, work, pages, warmup, n_docs):
    """The traced run in a fresh JVM at local[4]; for dict_a also the job
    in a fresh JVM at local[1], for the 1->4 scaling efficiency (the
    ROADMAP north rule, placed at 1->4 cores on the fastscan hot path).
    The dictionary workloads warm up on the full input, so their job walls
    (both sides of the scaling efficiency) come from the second full-size
    job of a JVM with the event log on.  The crawl warms up on the slice:
    a second full-size flagship job does not fit in a run."""
    if a.workload != "crawl_flagship":
        warmup = pages
    r = spawn(["--workload", a.workload, "--pages", pages, "--warmup", warmup, "--trace", "1"],
              os.path.join(work, "jvm-trace"), CORES, a.deadline)
    runs = [r]
    if a.workload == "dict_a" and not r.get("crashed"):
        one = spawn(["--workload", a.workload, "--pages", pages, "--warmup", warmup,
                     "--seconds", "0", "--trace", "0", "--eventlog"],
                    os.path.join(work, "jvm-1core"), 1, a.deadline)
        runs.append(one)
    checks, attempted, failed, crashed = tally(runs, n_docs)
    if crashed:
        return {}, checks, attempted, failed, crashed
    print(f"# local[{CORES}]: set-up {r['setup_s']:.1f} s, job {r['wall_job']:.2f} s, untraced extract "
          f"{r['wall_untraced_extract']:.2f} s, traced pass {r['wall_traced']:.2f} s", file=sys.stderr)
    if len(runs) > 1:
        print(f"# local[1]: set-up {runs[1]['setup_s']:.1f} s, job {runs[1]['walls'][0]:.2f} s", file=sys.stderr)
    jm, ep, sp, kt, kn = r["job_metrics"], r["extract_phase"], r["spans"], r["kernel_s"], r["kernel_n"]
    k_sum = sum(kt.values())
    py_s = ep.get("arrow.python_s", 0.0)
    exch_s = ep.get("exchange.shuffle_write_s", 0.0) + ep.get("exchange.fetch_wait_s", 0.0)
    scan_s = ep.get("scan.s", 0.0)
    run_s = ep.get("executor.run_s", 0.0)
    # executor-side layers are slot-seconds: they explain run_s / cores of
    # the extract span; driver-side spans explain their own wall
    explained = run_s / CORES + sum(v for k, v in sp.items() if k != "extract")
    wall_t, wall_j = r["wall_traced"], r["wall_job"]
    # the timers sit in the extract step only; the driver-side spans cost
    # one clock read each
    overhead = sp["extract"] - r["wall_untraced_extract"]
    tf = r["traced_check"].get("funnel") or {}
    job_check = r["checks"][0]
    jf = job_check.get("funnel") or {}
    m = {
        "scan.s": (scan_s, "s"),
        "exchange.s": (exch_s, "s"),
        "exchange.shuffle_write_bytes": (jm.get("exchange.shuffle_write_bytes", 0), "bytes"),
        "exchange.task_max_over_median": (jm.get("exchange.task_max_over_median", 1.0), "ratio"),
        "arrow.bytes_to_python": (jm.get("arrow.bytes_to_python", 0), "bytes"),
        "arrow.bytes_from_python": (jm.get("arrow.bytes_from_python", 0), "bytes"),
        "arrow.batches": (kn.get("arrow.batches", 0), "count"),
        "arrow.python_overhead.s": (py_s - k_sum, "s"),
        "executor.run_s": (jm.get("executor.run_s", 0.0), "s"),
        "executor.cpu_s": (jm.get("executor.cpu_s", 0.0), "s"),
        "executor.gc_s": (jm.get("executor.gc_s", 0.0), "s"),
        "spill.bytes": (jm.get("spill.bytes", 0), "bytes"),
    }
    for layer in ("decode", "detect", "fastscan", "dom_parse", "textflat", "format_a", "format_b",
                  "format_c", "format_d", "postprocess", "boilerplate", "meta"):
        m[f"kernel.{layer}.s"] = (kt.get(layer, 0.0), "s")
    m["kernel.fastscan.fallback_frac"] = (kn.get("fastscan.fallback", 0) / max(1, kn.get("docs.A", 0)), "ratio")
    for fmt in ("A", "B", "C", "D", "generic"):
        m[f"kernel.docs.{fmt}"] = (kn.get(f"docs.{fmt}", 0), "count")
    for name in ("graph.host_edges.s", "graph.pagerank.s", "curate.prepare.s", "curate.repetition_stats.s",
                 "curate.gopher.s", "curate.dedup_survivors.s", "curate.assign_split.s", "curate.write.s"):
        m[name] = (sp.get(name, 0.0), "s")
    m["graph.iterations"] = (r["iterations"], "count")
    if tf.get("docs_in"):
        m["curate.keep_frac"] = (tf["after_dedup"] / tf["docs_in"], "ratio")
        m["curate.dedup_drop_frac"] = (1 - tf["after_dedup"] / tf["after_quality_filter"], "ratio")
    else:
        m["curate.keep_frac"] = (0.0, "ratio")
        m["curate.dedup_drop_frac"] = (0.0, "ratio")
    m.update({
        "write.s": (run_s - scan_s - exch_s - py_s, "s"),
        "write.bytes": (jm.get("write.bytes", 0), "bytes"),
        "spark.jobs": (jm.get("spark.jobs", 0), "count"),
        "spark.stages": (jm.get("spark.stages", 0), "count"),
        "trace.wall_s": (wall_t, "s"),
        "trace.untraced_wall_s": (wall_t - overhead, "s"),
        "trace.overhead_s": (overhead, "s"),
        "job.wall_s": (wall_j, "s"),
        "job.outside_mirror_s": (wall_j - (wall_t - overhead), "s"),
        "trace.explained_s": (explained, "s"),
        "trace.unexplained_s": (wall_t - explained, "s"),
        "trace.unexplained_frac": ((wall_t - explained) / wall_t, "ratio"),
        "trace.digest_match": (int(r["traced_check"]["digest"] == job_check["digest"] and tf == jf), "bool"),
        "scale.eff_1to4": (statistics.median(runs[1]["walls"]) / (CORES * wall_j) if len(runs) > 1 else 0.0,
                           "ratio"),
    })
    return m, checks, attempted, failed, []


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    a.deadline = time.time() + DEADLINE_S
    check_checkout()

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rows, plan = gen.GENERATORS[a.workload](a.seed)
        pages = os.path.join(work, "pages")
        warmup = os.path.join(work, "warmup")
        gen.write_pages(rows, pages)
        gen.write_pages(rows[: max(1, int(len(rows) * WARMUP_FRACTION))], warmup, n_files=1)
        n_docs = len(rows)
        html_bytes = sum(len(r[2]) for r in rows)
        del rows
        if a.trace:
            metrics, checks, attempted, failed, crashed = per_layer(a, work, pages, warmup, n_docs)
        else:
            metrics, checks, attempted, failed, crashed = end_to_end(a, work, pages, warmup, n_docs, html_bytes)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    errors = crashed + verify(a.workload, a.seed, plan, n_docs, checks)
    if a.trace and metrics.get("trace.digest_match", (1,))[0] != 1:
        errors.append("traced pass output differs from the job's output")
    correct = not errors and bool(checks)
    for e in errors:
        print(f"# CHECK FAILED: {e}", file=sys.stderr)
    for d in sorted({c["digest"] for c in checks}):
        print(f"{a.workload}  {'digest':32s} {d}")
    for name, (value, unit) in metrics.items():
        print(f"{a.workload}  {name:32s} {value:>16.6g} {unit}")
    print(f"{a.workload}  {'failed_frac':32s} {failed / max(1, attempted):>16.6g} ratio")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
