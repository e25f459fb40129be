"""Metrics from a run's op records.

``end_to_end`` gives the numbers a user of the system sees; every
workload reports all of them. ``raw`` gives the op latencies in ms.
``by_class`` splits op latency by verb class. ``per_layer`` folds the
traced run's spans, Spark event log and process counters into
per-layer rows; a layer that does no work in a workload reports 0.
"""

from __future__ import annotations

import re
import statistics

import numpy as np

from eventlog import JobRow, union_ms
from tracing import OpRecord, Span

VERBS = ("get", "search_exact", "search_ann", "search_batch", "insert")
MODULES = (
    "core",
    "relational",
    "tpch_ext",
    "text",
    "similarity",
    "graph",
    "streaming_queries",
)
# verb class -> the op kinds it covers
CLASSES = {
    "lookup": ("get",),
    "search_exact": ("search_exact",),
    "search_ann": ("search_ann",),
    "search_batch": ("search_batch",),
    "insert": ("insert",),
    "query": ("query",),
}
PERCENTILE = 90
TAIL = 75  # the op tail in ms: about five of a run's 18-19 ops lie beyond it


def pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def median(values) -> float:
    return float(statistics.median(values)) if len(values) else 0.0


def mean(values) -> float:
    return float(statistics.fmean(values)) if len(values) else 0.0


def end_to_end(
    ok: list[OpRecord], setup_s: float, peak_rss_mb: float
) -> dict[str, tuple[float, str]]:
    """Op latency is given in multiples of the job floor timed just
    before the op (unit ``x``): on a shared host whole stretches of a
    run speed up and slow down together, and the ratio cancels that.
    The geometric mean stands for the typical op: a run's 18-19 ops
    fall in a few cost classes, and the median jumps between them."""
    ratios = [r.wall_ms / r.floor_ms for r in ok]
    return {
        "setup_s": (setup_s, "s"),
        "op_gmean_x": (statistics.geometric_mean(ratios) if ratios else 0.0, "x"),
        "op_mean_x": (mean(ratios), "x"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def raw(ok: list[OpRecord], wall_s: float) -> dict[str, float]:
    """The latencies in ms, the throughput and the job floor."""
    walls = [r.wall_ms for r in ok]
    return {
        "ops_per_s": len(ok) / wall_s if wall_s else 0.0,
        "op_p50_ms": median(walls),
        f"op_p{TAIL}_ms": pct(walls, TAIL),
        "spark.job_floor_ms": median([r.floor_ms for r in ok]),
    }


def by_class(ok: list[OpRecord]) -> dict[str, dict]:
    """Latency per verb class: median, p90 and sample count."""
    out = {}
    for name, kinds in CLASSES.items():
        walls = [r.wall_ms for r in ok if r.kind in kinds]
        out[name] = {
            "p50_ms": median(walls),
            f"p{PERCENTILE}_ms": pct(walls, PERCENTILE),
            "n": len(walls),
        }
    return out


def attribute(jobs: list[JobRow], ok: list[OpRecord]) -> dict[int, dict[str, list[JobRow]]]:
    """op id -> phase -> the jobs it ran. A job tagged ``o<op>.<phase>``
    belongs there. A job started by a thread that carries no op tag (a
    streaming micro-batch, for one) belongs to the op whose window holds
    its submission, in the phase running at that moment."""
    out: dict[int, dict[str, list[JobRow]]] = {r.op_id: {} for r in ok}
    tag = re.compile(r"o(\d+)\.(\w+)")
    for job in jobs:
        m = tag.fullmatch(job.group)
        if m:
            op_id, phase = int(m.group(1)), m.group(2)
        elif job.group == "setup":
            continue
        else:
            at = job.submit_ms / 1000.0
            r = next((r for r in ok if r.start <= at <= r.end), None)
            if r is None:
                continue
            op_id = r.op_id
            phase = "call" if at <= r.start + r.phase_ms["call"] / 1000.0 else "collect"
        if op_id in out:
            out[op_id].setdefault(phase, []).append(job)
    return out


def _jobs(by_op, r: OpRecord, phase: str | None = None) -> list[JobRow]:
    phases = by_op[r.op_id]
    if phase is not None:
        return phases.get(phase, [])
    return [j for js in phases.values() for j in js]


def _sum(jobs: list[JobRow], attr: str) -> float:
    return float(sum(getattr(j, attr) for j in jobs))


def per_layer(
    ok: list[OpRecord],
    jobs: list[JobRow],
    spans: list[Span],
    extra: dict[str, float],
) -> dict[str, float]:
    m: dict[str, float] = dict(extra)
    by_op = attribute(jobs, ok)

    def call_self_ms(r: OpRecord) -> float:
        return r.phase_ms["call"] - sum(r.children_ms.values())

    for verb in VERBS:
        rs = [r for r in ok if r.kind == verb]
        m[f"engine.{verb}.call_ms"] = median([call_self_ms(r) for r in rs])
        m[f"engine.{verb}.collect_ms"] = median([r.phase_ms["collect"] for r in rs])
        m[f"engine.{verb}.jobs"] = mean([len(_jobs(by_op, r)) for r in rs])
        m[f"engine.{verb}.tasks"] = mean([_sum(_jobs(by_op, r), "tasks") for r in rs])

    ann = [r for r in ok if r.kind == "search_ann"]
    # a fit persists the index it builds; a cache hit persists nothing
    fits = [r for r in ann if r.persisted_delta > 0]
    m["engine.index_fits"] = float(len(fits))
    m["engine.index_fit_ms"] = mean([r.phase_ms["call"] for r in fits])
    m["engine.index_hit_ratio"] = (len(ann) - len(fits)) / len(ann) if ann else 0.0
    compacts = [s.ms for s in spans if s.name == "compact"]
    m["engine.compactions"] = float(len(compacts))
    m["engine.compact_ms"] = mean(compacts)

    for mod in MODULES:
        rs = [r for r in ok if r.kind == "query" and r.module == mod]
        m[f"queries.{mod}.plan_ms"] = median([r.phase_ms["call"] for r in rs])
        m[f"queries.{mod}.exec_ms"] = median([r.phase_ms["collect"] for r in rs])
        m[f"queries.{mod}.eager_jobs"] = mean(
            [len(_jobs(by_op, r, "call")) for r in rs]
        )
        m[f"queries.{mod}.tasks"] = mean([_sum(_jobs(by_op, r), "tasks") for r in rs])

    per_op = [_jobs(by_op, r) for r in ok]
    m["spark.jobs_per_op"] = mean([len(g) for g in per_op])
    m["spark.tasks_per_op"] = mean([_sum(g, "tasks") for g in per_op])
    m["spark.driver_gap_ms"] = median(
        [
            r.wall_ms
            - union_ms([(j.submit_ms, j.end_ms) for j in g], r.start * 1000.0, r.end * 1000.0)
            for r, g in zip(ok, per_op)
        ]
    )
    for attr in (
        "executor_run_ms",
        "executor_cpu_ms",
        "gc_ms",
        "shuffle_write_bytes",
        "spill_bytes",
    ):
        m[f"spark.{attr}"] = mean([_sum(g, attr) for g in per_op])
    m["process.cpu_s_per_op"] = mean([r.cpu_s for r in ok])
    m["trace.op_self_ms"] = median(
        [r.wall_ms - r.phase_ms["call"] - r.phase_ms["collect"] for r in ok]
    )
    return m


def class_metrics(classes: dict[str, dict]) -> dict[str, float]:
    """The per-verb latencies under the names the per-layer list uses."""
    out = {}
    for name, c in classes.items():
        out[f"{name}_p50_ms"] = c["p50_ms"]
        out[f"{name}_p{PERCENTILE}_ms"] = c[f"p{PERCENTILE}_ms"]
    return out
