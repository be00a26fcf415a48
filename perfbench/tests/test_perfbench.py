"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

* Reading the status store and tagging the jobs of an operation
  launches no Spark job of its own, and every job of the operation is
  tagged.
* A traced run records a span for every layer its workload calls, and
  the workloads in BENCHMARK.json together cover every layer.
* BENCHMARK.json names exactly the metrics run.py reports.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH_DIR)

import run as bench  # noqa: E402
from spans import StatusReader, covered_s, parse_sql_metric  # noqa: E402
from workloads import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
BENCH_WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def test_spec_names_the_reported_metrics():
    assert [m["name"] for m in SPEC["end_to_end"]] == list(bench.END_TO_END)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == bench.per_layer_units()
    assert set(BENCH_WORKLOADS) <= set(workloads())


def test_benchmark_workloads_cover_every_layer():
    wls = workloads()
    covered = {layer for name in BENCH_WORKLOADS for layer in wls[name].layers}
    assert covered == set(bench.LAYERS)


def test_parse_sql_metric():
    assert parse_sql_metric("12,345") == 12345
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n2.5 s (0 ms, 1 ms)") == 2.5
    assert parse_sql_metric("total (min, med, max)\n1.5 KiB (1 B, 2 B)") == 1536
    assert parse_sql_metric("total (min, med, max)\n40 ms (1 ms, 2 ms)") == pytest.approx(0.04)


def test_covered_s_merges_overlaps_and_clips():
    assert covered_s([(0, 2), (1, 3), (5, 6), (9, 12)], 0.5, 10) == pytest.approx(2.5 + 1 + 1)
    assert covered_s([], 0, 1) == 0


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = bench.start_session(work, 2)
    yield spark, work
    spark.stop()


def _total_jobs(reader: StatusReader) -> int:
    return reader.store.jobsList(None).size()


@pytest.mark.parametrize("name", BENCH_WORKLOADS)
def test_reader_launches_no_jobs(session, name):
    spark, work = session
    wl = workloads(scale=0.05)[name]
    data = os.path.join(work, name)
    wl.generate(spark, data, seed=3)
    wl.load(spark, data)
    reader = StatusReader(spark)

    def op(k):
        tmp = os.path.join(work, f"{name}-op{k}")
        os.makedirs(tmp)
        try:
            wl.check(wl.op(spark, tmp), tmp)
        finally:
            shutil.rmtree(tmp)

    op(0)  # warm: plans and caches settle
    before = _total_jobs(reader)
    op(1)
    off = _total_jobs(reader) - before

    before = _total_jobs(reader)
    with reader.tagged(f"perfbench-test-{name}"):
        op(2)
    ids = reader.job_ids(f"perfbench-test-{name}")
    totals = reader.jobs(ids)
    reader.sql_metrics(ids, 0)
    reader.cache_bytes()
    reader.gc_s(), reader.jit_s()
    on = _total_jobs(reader) - before

    assert on == off
    assert totals["jobs"] == len(ids) == on  # every job of the op carries the tag


@pytest.mark.parametrize("name", BENCH_WORKLOADS)
def test_traced_run_records_every_layer(name):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", name, "--seed", "5",
         "--seconds", "1", "--trace", "1", "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(bench.per_layer_units())
    record = proc.stdout.split("record=", 1)[1].split()[0]
    with open(record) as f:
        spans = json.load(f)["spans"]
    os.remove(record)
    assert {s["layer"] for s in spans} == set(workloads()[name].layers)
    for layer in workloads()[name].layers:
        assert result["metrics"][f"{layer}.wall_s"]["value"] > 0
