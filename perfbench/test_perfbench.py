"""The benchmark's own tests: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import sparkstats  # noqa: E402


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(workload):
    make = gen.GENERATORS[workload]
    a, plan_a = make(7, 120)
    b, plan_b = make(7, 120)
    c, _ = make(8, 120)
    assert a == b and plan_a == plan_b
    assert [r[2] for r in a] != [r[2] for r in c]
    assert gen.to_table(a).schema == gen.SCHEMA


def test_dict_a_pages_have_the_synthetic_pages_shape():
    rows, plan = gen.gen_dict_a(3, 50)
    assert plan == {"fmt": {"A": 50}}
    mean = sum(len(r[2]) for r in rows) / len(rows)
    assert 6000 < mean < 9000


def test_dict_mixed_plan_matches_detect_format():
    from html_parser_spark.dom import decode_html_bytes
    from html_parser_spark.formats.detect import detect_format

    rows, plan = gen.gen_dict_mixed(5, 400)
    detected = {}
    for url, _, html, _, _ in rows:
        fmt = detect_format(decode_html_bytes(html))
        assert fmt == plan["fmt_by_url"][url]
        detected[fmt] = detected.get(fmt, 0) + 1
    assert detected == plan["fmt"]
    assert set(detected) == {"A", "B", "C", "D", "generic"}


def test_dict_mixed_sizes_are_heavy_tailed():
    rows, _ = gen.gen_dict_mixed(2, 2000)
    sizes = sorted(len(r[2]) for r in rows)
    big = sum(s >= 400 * 1024 for s in sizes)  # targets are 0.5-1 MB of markup, approximately
    assert big == 20  # 1% of 2000
    assert 5000 <= sizes[len(sizes) // 2] <= 20000


def test_crawl_plan_structure():
    rows, plan = gen.gen_crawl_flagship(4, 300)
    urls = [r[0] for r in rows]
    assert len(urls) - len(set(urls)) == plan["repeat_captures"] == 30
    assert sum(b'content="noindex' in r[2] for r in rows) >= 3
    f = plan["funnel"]
    assert f["after_dedup"] == f["docs_in"] - plan["near_duplicates"]


def test_crawl_curate_funnel_keeps_majority_and_drops_near_duplicates(tmp_path):
    """The flagship job on a generated crawl keeps a clear majority of its
    documents through the curate gates and drops exactly the planted
    near-duplicates (a corpus whose text the quality gates reject would
    leave nothing to measure)."""
    from html_parser_spark.spark.session import get_spark
    from jobs import flagship_job

    rows, plan = gen.gen_crawl_flagship(11, 200)
    pages = str(tmp_path / "pages")
    gen.write_pages(rows, pages, n_files=2)
    spark = get_spark(master="local[2]", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.local.dir": str(tmp_path / "tmp"),
                                  "spark.executorEnv.PYTHONPATH": ROOT})
    out = str(tmp_path / "out")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        flagship_job.main(["--pages", pages, "--output", out, "--gopher", "--partitions", "4"])
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    cur = report["stages"]["curate"]
    want = plan["funnel"]
    assert report["pages_in"] == want["pages_in"]
    assert {k: cur[k] for k in ("docs_in", "after_quality_filter", "after_dedup")} == {
        k: want[k] for k in ("docs_in", "after_quality_filter", "after_dedup")
    }
    assert cur["after_dedup"] > 0.6 * report["pages_in"]
    assert cur["after_quality_filter"] - cur["after_dedup"] > 0


def _task(stage, run_ms, sent=None, input_bytes=0, read=0):
    accs = [] if sent is None else [{"Name": sparkstats.PY_SENT, "Update": sent}]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": accs},
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                         "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
                         "Input Metrics": {"Bytes Read": input_bytes},
                         "Shuffle Read Metrics": {"Remote Bytes Read": read, "Local Bytes Read": read,
                                                  "Fetch Wait Time": 2},
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 100,
                                                   "Shuffle Write Time": 10**6}},
    }


def _job(job, stages, group):
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group}}


def test_event_log_reader_sums_task_metrics(tmp_path):
    events = [
        _job(0, [0, 1], "g"),
        _job(1, [2], "other"),
        _task(0, 100, input_bytes=10),
        *[_task(1, ms, 1000, read=50) for ms in (100, 100, 100, 500)],
        _task(2, 999, 999, read=999),
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n{partial")
    m = sparkstats.phase_metrics(str(tmp_path), "g")
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2
    assert m["executor.run_s"] == pytest.approx(0.9)
    assert m["arrow.bytes_to_python"] == 4000
    assert m["spill.bytes"] == 25
    assert m["exchange.task_max_over_median"] == pytest.approx(5.0)
    assert m["exchange.shuffle_write_bytes"] == 400
    assert m["exchange.fetch_wait_s"] == pytest.approx(0.008)
    assert m["scan.s"] == pytest.approx(0.099)


def test_exchange_metrics_come_from_the_parse_stage_only(tmp_path):
    """Skew and bytes of salted_repartition's exchange are read from the
    stage that runs the Python UDF, not from a more skewed scan stage or an
    unrelated shuffle of the same job."""
    events = [
        _job(0, [0, 1, 2], "g"),
        *[_task(0, ms, input_bytes=10) for ms in (100, 100, 100, 900)],
        *[_task(1, ms, 1000, read=50) for ms in (100, 100, 100, 200)],
        *[_task(2, ms, read=7000) for ms in (10, 10, 10, 800)],
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    m = sparkstats.phase_metrics(str(tmp_path), "g")
    assert m["exchange.task_max_over_median"] == pytest.approx(2.0)
    assert m["exchange.shuffle_write_bytes"] == 400


def test_run_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    nonzero and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dict_a", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
