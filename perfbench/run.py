#!/usr/bin/env python3
"""perfbench — the repository benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload vector_ingest --seed 1 --seconds 8 --trace 0

Workloads are described in ``workloads.py`` and ``BENCHMARK.json``. One
run starts a ``local[nproc]`` Spark session, sets the workload up from
the seed, then repeats whole op cycles with one closed-loop client until
``--seconds`` have passed, timing a near-empty Spark job (the job floor)
before every op; end-to-end op latencies are ratios to it (see
``report.end_to_end``). Outputs are checked after the measured
window; every op that raised or returned a wrong result counts as
failed. The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it (``# perfbench {...}``) records nproc, the effective Spark
settings, sample counts and the per-verb latency split.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` starts the
session with Spark's event log on, measures half of ``--seconds``
untraced and then half traced (job groups per op phase, spans, CPU and
persisted-RDD counters), and reports the per-layer metrics, including
the tracing overhead (traced minus untraced median op latency). Spans
are written to ``.perfbench/trace-<workload>-seed<seed>.jsonl``.

Each run works in a fresh directory under ``.perfbench/`` (store, Spark
local and warehouse dirs, event log, TMPDIR, the ANN index store) and
deletes it on exit. The driver-twin guard variables
(``VFS_*_DRIVER_MAX_*``, ``VFS_EMBED_VERIFY_GATHER_MAX_BYTES``) are
removed from the environment so the default dispatch is measured.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench")
DRIVER_MEMORY = "2g"
DRIVER_HEAP_MIN = "1g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def hermetic_env(root: str) -> None:
    """Point every scratch location at ``root`` and drop settings that
    would change what is measured."""
    for sub in ("tmp", "local", "index"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["VFS_SPARK_INDEX_DIR"] = os.path.join(root, "index")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONHASHSEED"] = "0"  # the same set and dict order in every run
    # one BLAS thread per Python worker: nproc task slots already use
    # every CPU, more threads would only contend
    for key in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[key] = "1"
    for key in list(os.environ):
        if (key.startswith("VFS_") and "_DRIVER_MAX_" in key) or key in (
            "VFS_EMBED_VERIFY_GATHER_MAX_BYTES",
            "SPARK_MASTER",
            "VFS_DRIVER_MEMORY",
        ):
            del os.environ[key]


def spark_conf(root: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(root, "local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')} -Xms{DRIVER_HEAP_MIN}"
        ),
    }
    if traced:
        os.makedirs(os.path.join(root, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(root, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _status_kb(pid: int, field: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def process_tree(root_pid: int) -> list[int]:
    from vfs_spark.metrics import _descendants

    return _descendants(root_pid)


def rss_hwm_mb(jvm: int) -> dict[str, float]:
    """High-water RSS of the JVM, of its Python workers together and of
    this process."""
    workers = set(process_tree(jvm)) - {jvm, os.getpid()}
    return {
        "jvm": _status_kb(jvm, "VmHWM") / 1024.0,
        "workers": sum(_status_kb(p, "VmHWM") for p in workers) / 1024.0,
        "driver": _status_kb(os.getpid(), "VmHWM") / 1024.0,
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both the
    JVM and its worker processes to end."""
    from pyspark import SparkContext

    from vfs_spark.metrics import jvm_pid

    kids = process_tree(jvm_pid(spark))
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)


def measure(workload, rec, seconds: float) -> tuple[float, int]:
    """Whole cycles until ``seconds`` have passed, with the job floor
    timed before every op; returns the wall seconds and the number of
    ops that raised."""
    raised = 0
    t0 = time.perf_counter()
    while True:
        for op in workload.cycle():
            rec.time_floor()
            try:
                rec.run(op)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                raised += 1
                print(f"op {op.kind}:{op.label} raised {type(e).__name__}: {e}", file=sys.stderr)
        if time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0, raised


def check_all(records) -> list:
    bad = []
    for r in records:
        try:
            ok = bool(r.check(r.result))
        except Exception as e:  # noqa: BLE001 — a check that raises is a mismatch
            print(f"check {r.kind}:{r.label} raised {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            bad.append(r)
    return bad


def run_workload(args, root: str, traced: bool) -> dict:
    """One run in this process. Returns the numbers both output modes
    are made from. A traced run measures two halves of ``--seconds``
    in one session: the first untraced, for the per-verb latencies and
    the tracing overhead, the second traced."""
    import report
    from tracing import Recorder
    from workloads import WORKLOADS

    t_start = time.perf_counter()
    from vfs_spark.metrics import cpu_delta_s, jvm_pid, tree_cpu_snapshot
    from vfs_spark.session import get_spark

    conf = spark_conf(root, traced)
    spark = get_spark(f"perfbench-{args.workload}", cpus=nproc(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_start
    try:
        rec = Recorder(spark, traced)
        wl = WORKLOADS[args.workload](args.seed)
        rec.setup_group(True)
        wl.setup(spark, root, rec)
        rec.setup_group(False)
        setup_s = time.perf_counter() - t_start
        plain_wall_s, plain_raised = 0.0, 0
        if traced:
            rec.traced = False
            plain_wall_s, plain_raised = measure(wl, rec, args.seconds / 2)
            rec.traced = True
        n_plain = len(rec.records)
        jvm = jvm_pid(spark)
        cpu0 = tree_cpu_snapshot(jvm)
        wall_s, raised = measure(wl, rec, args.seconds / 2 if traced else args.seconds)
        cpu_s = cpu_delta_s(cpu0, tree_cpu_snapshot(jvm))
        raised += plain_raised
        held_rdds = rec.persisted()
        rss = rss_hwm_mb(jvm)
        effective = {k: spark.conf.get(k) for k in sorted(conf) + [
            "spark.master",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
        ]}
        bad = check_all(rec.records)
    finally:
        stop_spark(spark)
    bad_ids = {r.op_id for r in bad}
    ok = [r for r in rec.records[n_plain:] if r.op_id not in bad_ids]
    plain = [r for r in rec.records[:n_plain] if r.op_id not in bad_ids]
    # the untraced half of a traced run gives the latencies in ms
    raw = report.raw(plain, plain_wall_s) if traced else report.raw(ok, wall_s)
    out = {
        "attempted": len(rec.records) + raised,
        "failed": len(bad) + raised,
        "e2e": report.end_to_end(ok, setup_s, sum(rss.values())),
        "raw": raw,
        "classes": report.by_class(plain if traced else ok),
        "detail": {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc(),
            "spark_conf": effective,
            "wall_s": wall_s,
            "cpu_s": cpu_s,
            "rss_hwm_mb": rss,
            "ops": len(ok),
            "mismatches": sorted({f"{r.kind}:{r.label}" for r in bad}),
            "op_ms": [[f"{r.kind}:{r.label}", r.wall_ms, r.floor_ms] for r in ok],
        },
    }
    if traced:
        from eventlog import fold

        out["per_layer"] = report.per_layer(
            ok,
            fold(os.path.join(root, "eventlog")),
            rec.spans,
            {
                "session.start_s": session_s,
                "process.jvm_rss_mb": rss["jvm"],
                "process.python_rss_mb": rss["driver"],
                "spark.persisted_rdds": held_rdds,
                "trace.overhead_p50_ms": report.median([r.wall_ms for r in ok])
                - report.median([r.wall_ms for r in plain]),
                **wl.store_metrics(),
            },
        )
        write_spans(args, rec.spans)
    return out


def write_spans(args, spans) -> None:
    path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps(dataclasses.asdict(s)) + "\n")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(1, REPO)
    try:
        import vfs_spark.engine  # noqa: F401
        import vfs_spark.queries  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        hermetic_env(root)
        res = run_workload(args, root, traced=bool(args.trace))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    import report

    attempted, failed = res["attempted"], res["failed"]
    detail = dict(res["detail"], classes=res["classes"], **res["raw"])
    if args.trace:
        metrics = dict(res["per_layer"])
        metrics.update(report.class_metrics(res["classes"]))
        metrics.update(res["raw"])
        metrics["error_ratio"] = failed / attempted
        units = declared_units()
    else:
        metrics = {k: v for k, (v, _) in res["e2e"].items()}
        units = {k: u for k, (_, u) in res["e2e"].items()}
    print("# perfbench " + json.dumps(detail, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())
                },
            }
        )
    )
    return 0


def declared_units() -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
