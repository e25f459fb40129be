"""Op and phase timing, and the traced run's span and counter records.

One op is one call into a layer's public function plus the action that
materializes its result. The recorder times the op and its phases
(``call``, then ``collect``) in every run. In a traced run it also:

- tags the Spark jobs of each phase with the job group ``o<op>.<phase>``
  so the event log can be folded per op and phase (``eventlog.py``);
- keeps one span per op and per phase, each with its op id and parent;
- snapshots process-tree CPU (``vfs_spark.metrics``) around each op;
- counts the RDDs each op leaves persisted.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field


@dataclass
class Op:
    kind: str  # get, search_exact, search_ann, search_batch, insert, query
    label: str  # metric, index kind or registry slug
    call: Callable[[], object]
    collect: Callable[[object], object] | None = None
    check: Callable[[object], bool] = lambda result: True
    module: str = ""  # registry module of a query op


@dataclass
class Span:
    name: str
    op_id: int
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class OpRecord:
    op_id: int
    kind: str
    label: str
    module: str
    start: float
    end: float
    phase_ms: dict[str, float]
    result: object
    check: Callable[[object], bool]
    cpu_s: float = 0.0
    floor_ms: float = 0.0  # the job floor timed just before the op
    persisted_delta: int = 0  # RDDs persisted during the op, net
    children_ms: dict[str, float] = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Recorder:
    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.records: list[OpRecord] = []
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._floor_ms = 0.0
        self._next_id = 0
        self._jvm = None
        if traced:
            from vfs_spark.metrics import jvm_pid

            self._jvm = jvm_pid(spark)

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        """A phase of the current op. In a traced run its Spark jobs
        carry the group ``o<op>.<name>``; the enclosing phase's group
        is restored when it ends."""
        op_id = self._next_id
        parent = self._open[-1] if self._open else None
        s = Span(name, op_id, parent.name if parent else None, time.time())
        self._open.append(s)
        if self.traced:
            self._set_group(f"o{op_id}.{name}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if self.traced:
                self._set_group(
                    f"o{op_id}.{parent.name}" if parent and parent.name != "op" else None
                )
                self.spans.append(s)

    def setup_group(self, active: bool) -> None:
        """Tag (or stop tagging) set-up jobs with the group ``setup``."""
        if self.traced:
            self._set_group("setup" if active else None)

    def run(self, op: Op) -> OpRecord:
        try:
            return self._run(op)
        finally:
            self._next_id += 1

    def _run(self, op: Op) -> OpRecord:
        op_id = self._next_id
        if self.traced:
            cpu0, rdds0 = self._cpu(), self.persisted()
        with self.span("op") as whole:
            with self.span("call") as c:
                obj = op.call()
            if op.collect is not None:
                with self.span("collect") as k:
                    result = op.collect(obj)
                collect_ms = k.ms
            else:
                result, collect_ms = obj, 0.0
        rec = OpRecord(
            op_id=op_id,
            kind=op.kind,
            label=op.label,
            module=op.module,
            start=whole.start,
            end=whole.end,
            phase_ms={"call": c.ms, "collect": collect_ms},
            result=result,
            check=op.check,
            floor_ms=self._floor_ms,
        )
        if self.traced:
            from vfs_spark.metrics import cpu_delta_s

            rec.cpu_s = cpu_delta_s(cpu0, self._cpu())
            rec.persisted_delta = self.persisted() - rdds0
            for s in self.spans:
                if s.op_id == op_id and s.parent not in (None, "op"):
                    rec.children_ms[s.name] = rec.children_ms.get(s.name, 0.0) + s.ms
        self.records.append(rec)
        return rec

    def time_floor(self) -> None:
        """Time one near-empty Spark job, the job floor that every op
        pays at least once; the next op record keeps it. Timed just
        before each op, it slows and speeds up with the host as the op
        does."""
        slots = self.spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        self.spark.range(2 * slots, numPartitions=slots).count()
        self._floor_ms = (time.perf_counter() - t0) * 1000.0

    def persisted(self) -> int:
        """RDDs currently persisted in the session."""
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def _cpu(self):
        from vfs_spark.metrics import tree_cpu_snapshot

        return tree_cpu_snapshot(self._jvm)
