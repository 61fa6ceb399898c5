"""In-memory span tracer with Spark job accounting (traced runs only).

A span records name, start, end, parent span and operation id. Each
span sets its own Spark job group, so the jobs a layer launches from
the calling thread are attributed to it exactly; jobs launched from
engine-internal worker threads carry no group and are attributed to
the operation whose interval contains their submission. Job, stage and
task figures are read from the SparkContext's status store after the
timed region, so reading them costs the measured operations nothing.

Layers are traced from outside the engine: :meth:`Tracer.patch`
replaces a public function or method with a wrapper that opens a span,
everywhere the engine's modules refer to it, and :meth:`Tracer.close`
puts the originals back.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.reference import percentile, self_time, union_length


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    thread: int


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float
    stages: list[int]
    n_stages: int
    n_tasks: int


@dataclass
class StageStats:
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    task_s: list[float] = field(default_factory=list)


class NullTracer:
    """The untraced run: spans cost one no-op context manager."""

    enabled = False

    @contextmanager
    def span(self, name: str, *, op: bool = False):
        yield None


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        # time spent inside the tracer's own bookkeeping while an
        # operation is open (py4j job-group calls included)
        self.overhead_s = 0.0

    # --- spans ----------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(str(span.id), span.name)

    @contextmanager
    def span(self, name: str, *, op: bool = False):
        t_in = time.time()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(len(self.spans), name, 0.0, None, None, None, 0)
            self.spans.append(s)
        s.parent = parent.id if parent else None
        s.thread = threading.get_ident()
        if op:
            self._op = s.id
        s.op = self._op
        stack.append(s)
        self._set_group(s)
        s.start = time.time()
        busy = s.start - t_in
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(parent)
            if op:
                self._op = None
            if s.op is not None or op:
                self.overhead_s += busy + (time.time() - s.end)

    # --- wrapping the engine's public entry points -----------------------
    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class method) in
        a span named ``name``. For a module function, every
        ``cdc_spark`` module that imported the same object by name is
        patched too, so call sites that bound it at import see it."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        wrapper.__name__ = getattr(orig, "__name__", attr)
        wrapper.__doc__ = getattr(orig, "__doc__", None)
        owners = [owner]
        if not isinstance(owner, type):
            owners += [
                m
                for n, m in list(sys.modules.items())
                if n.startswith("cdc_spark") and m is not owner
                and getattr(m, attr, None) is orig
            ]
        for o in owners:
            self._patches.append((o, attr, orig))
            setattr(o, attr, wrapper)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

    # --- Spark accounting -------------------------------------------------
    def spark_jobs(self) -> tuple[list[Job], dict[int, StageStats]]:
        """Every job the status store retains, and per-stage stats of
        the stages they ran."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        jobs = []
        seq = store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
                continue
            group = j.jobGroup()
            sids = j.stageIds()
            jobs.append(
                Job(
                    id=j.jobId(),
                    group=group.get() if group.isDefined() else None,
                    submit=j.submissionTime().get().getTime() / 1000.0,
                    end=j.completionTime().get().getTime() / 1000.0,
                    stages=[sids.apply(k) for k in range(sids.size())],
                    n_stages=j.numCompletedStages(),
                    n_tasks=j.numCompletedTasks(),
                )
            )
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stages: dict[int, StageStats] = {}
        for sid in sorted({s for j in jobs for s in j.stages}):
            st = StageStats()
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for a in range(attempts.size()):
                d = attempts.apply(a)
                if d.status().toString() != "COMPLETE":
                    continue
                st.executor_run_s += d.executorRunTime() / 1000.0
                st.shuffle_read_bytes += d.shuffleReadBytes()
                st.shuffle_write_bytes += d.shuffleWriteBytes()
                tasks = store.taskList(sid, d.attemptId(), 100_000)
                for t in range(tasks.size()):
                    dur = tasks.apply(t).duration()
                    if dur.isDefined():
                        st.task_s.append(dur.get() / 1000.0)
            stages[sid] = st
        return jobs, stages


def _median(xs: list[float]) -> float:
    return percentile(xs, 50)["value"] if xs else 0.0


def layer_report(
    spans: list[Span],
    jobs: list[Job],
    stages: dict[int, StageStats],
    op_names: set[str],
    layers: tuple[str, ...],
) -> dict[str, dict]:
    """Per-operation layer figures, as ``metric -> {"value", "n"}``.

    ``op_names`` selects the operations reported on. Per operation
    each span name in ``layers`` gets ``<name>_s`` (self time),
    ``_calls``, and ``_jobs`` / ``_tasks``
    (Spark work launched under its job group). Values are medians over
    the selected operations that entered the layer; ``n`` is that
    number of operations. ``jobs`` and ``stages`` come from
    :meth:`Tracer.spark_jobs`."""
    spans = [s for s in spans if s.end is not None]
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_group = {}
    for j in jobs:
        if j.group is not None:
            by_group.setdefault(j.group, []).append(j)
    ops = [s for s in spans if s.name in op_names and s.parent is None]
    per_op: dict[str, list[float]] = {}

    def add(metric: str, value: float) -> None:
        per_op.setdefault(metric, []).append(value)

    for op in ops:
        inner = [s for s in spans if s.op == op.id and s.id != op.id]
        self_s: dict[str, float] = {}
        calls: dict[str, int] = {}
        group_jobs: dict[str, list[Job]] = {}
        for s in inner:
            kids = [(c.start, c.end) for c in children.get(s.id, [])]
            self_s[s.name] = self_s.get(s.name, 0.0) + self_time(
                s.start, s.end, kids
            )
            calls[s.name] = calls.get(s.name, 0) + 1
            group_jobs.setdefault(s.name, []).extend(by_group.get(str(s.id), []))
        for name in layers:
            if name in self_s:
                add(f"{name}_s", self_s[name])
                add(f"{name}_calls", calls[name])
                add(f"{name}_jobs", len(group_jobs[name]))
                add(f"{name}_tasks", sum(j.n_tasks for j in group_jobs[name]))
        op_jobs = [
            j for j in jobs if op.start - 0.002 <= j.submit <= op.end + 0.002
        ]
        wall = op.end - op.start
        job_wall = union_length(
            (max(j.submit, op.start), min(j.end, op.end)) for j in op_jobs
        )
        op_stages = [stages[sid] for j in op_jobs for sid in j.stages if sid in stages]
        task_s = [t for st in op_stages for t in st.task_s]
        add("spark.jobs", len(op_jobs))
        add("spark.stages", sum(j.n_stages for j in op_jobs))
        add("spark.tasks", sum(j.n_tasks for j in op_jobs))
        add("spark.job_wall_s", job_wall)
        add("driver_only_s", wall - job_wall)
        add("spark.executor_run_s", sum(st.executor_run_s for st in op_stages))
        add("spark.shuffle_read_bytes", sum(st.shuffle_read_bytes for st in op_stages))
        add("spark.shuffle_write_bytes", sum(st.shuffle_write_bytes for st in op_stages))
        if task_s:
            add("spark.task_skew", max(task_s) / max(_median(task_s), 1e-3))
    return {m: {"value": _median(v), "n": len(v)} for m, v in per_op.items()}
