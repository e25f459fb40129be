"""Tests of the benchmark itself: the event-log fold, metric and
workload names against BENCHMARK.json, and a one-cycle traced smoke
run of every workload at a small size with no failed op.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, REPO)

import eventlog  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
# per-layer metrics main() adds: latencies in ms of the untraced half
FROM_MAIN = {
    "error_ratio",
    *report.class_metrics(report.by_class([])),
    *report.raw([], 0.0),
}


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture
def clean_env():
    saved = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(saved)


def test_names_match_benchmark_json(spec):
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    e2e = report.end_to_end([], 1.0, 1.0)
    assert [m["name"] for m in spec["end_to_end"]] == list(e2e)
    assert [m["unit"] for m in spec["end_to_end"]] == [u for _, u in e2e.values()]


def test_union_ms():
    spans = [(0, 10), (5, 15), (20, 30), (25, 26)]
    assert eventlog.union_ms(spans, 0, 100) == 25
    assert eventlog.union_ms(spans, 8, 22) == 9
    assert eventlog.union_ms([], 0, 10) == 0


def test_fold_spark_event_log(tmp_path, clean_env):
    """A log written by a real session: two job groups, one of them
    with a shuffle, and one untagged job."""
    run.hermetic_env(str(tmp_path))
    from vfs_spark.session import get_spark

    conf = run.spark_conf(str(tmp_path), traced=True)
    spark = get_spark("perfbench-test", cpus=2, extra_conf=conf)
    try:
        sc = spark.sparkContext
        sc.setJobGroup("o0.call", "x")
        spark.range(100, numPartitions=2).collect()
        sc.setJobGroup("o0.collect", "x")
        spark.range(1000, numPartitions=2).selectExpr("id % 7 AS k").groupBy(
            "k"
        ).count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()
    finally:
        run.stop_spark(spark)
    jobs = eventlog.fold(str(tmp_path / "eventlog"))
    call = [j for j in jobs if j.group == "o0.call"]
    collect = [j for j in jobs if j.group == "o0.collect"]
    assert len(call) == 1 and call[0].tasks == 2
    assert call[0].shuffle_write_bytes == 0
    assert collect and sum(j.tasks for j in collect) >= 3
    assert sum(j.shuffle_write_bytes for j in collect) > 0
    assert [j for j in jobs if j.group == ""]
    for j in jobs:
        assert j.end_ms >= j.submit_ms > 0
        assert j.executor_run_ms >= 0 and j.executor_cpu_ms >= 0


def test_attribute_untagged_jobs_by_time():
    """A job without an op tag goes to the op whose window holds it."""
    from tracing import OpRecord

    def rec(op_id, start, end, call_ms):
        return OpRecord(op_id, "query", "s", "core", start, end,
                        {"call": call_ms, "collect": 0.0}, None, lambda r: True)

    ok = [rec(0, 10.0, 11.0, 400.0), rec(1, 12.0, 13.0, 500.0)]
    jobs = [
        eventlog.JobRow(0, "o0.call", 10_100, 10_200),
        eventlog.JobRow(1, "stream-run-id", 10_600, 10_700),
        eventlog.JobRow(2, "", 12_100, 12_200),
        eventlog.JobRow(3, "setup", 12_300, 12_400),
        eventlog.JobRow(4, "", 20_000, 20_100),
    ]
    by_op = report.attribute(jobs, ok)
    assert [j.job_id for j in by_op[0]["call"]] == [0]
    assert [j.job_id for j in by_op[0]["collect"]] == [1]
    assert [j.job_id for j in by_op[1]["call"]] == [2]
    assert "collect" not in by_op[1]


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_workload_smoke(name, spec, tmp_path, monkeypatch, clean_env):
    """One traced cycle at a small size: every op checks out and the
    metrics reported are exactly the declared ones."""
    monkeypatch.setattr(workloads.VectorIngest, "store_rows", 300)
    monkeypatch.setattr(run, "WORK", str(tmp_path))
    root = str(tmp_path / "root")
    run.hermetic_env(root)
    args = types.SimpleNamespace(workload=name, seed=7, seconds=0.0, trace=1)
    res = run.run_workload(args, root, traced=True)
    assert res["attempted"] > 0
    assert res["failed"] == 0, res["detail"]["mismatches"]
    assert set(res["e2e"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(v > 0 for v, _ in res["e2e"].values())
    declared = {m["name"] for m in spec["per_layer"]}
    assert set(res["per_layer"]) == declared - FROM_MAIN
    assert res["per_layer"]["spark.jobs_per_op"] > 0
    if name == "registry_suite":
        assert res["per_layer"]["engine.get.jobs"] == 0
        assert res["per_layer"]["queries.text.plan_ms"] > 0
    else:
        assert res["per_layer"]["engine.get.jobs"] > 0
        assert res["per_layer"]["queries.core.plan_ms"] == 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "vector_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
