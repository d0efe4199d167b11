"""Span tracing for the benchmark: spans around calls into the library's
layers, attribution of Spark jobs and stages to spans, and the per-layer
table.

A span records a name, its parent, a wall interval and the window of Spark
job ids submitted while it was open (``nextJobId`` read at entry and at
exit). The driver is single-threaded, so every job submitted inside a span
has an id inside that window; a span *owns* the ids of its window that no
child's window covers. Each span also sets a Spark job group
(``perfbench:<id>``) so its jobs carry a label. Jobs are attributed by id
window and not by group, because the library relabels the jobs of an
explain batch itself (``powershap/<phase>``).

The arithmetic (self time, own jobs, layer sums) is plain Python over
``Span`` records and is unit-tested without Spark; only ``Tracer`` and
``read_stage_metrics`` talk to the JVM.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

# executor metrics summed per span, from Spark's StageData
STAGE_FIELDS = (
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "tasks",
)
LAYER_FIELDS = ("wall_s", "self_s", "calls") + STAGE_FIELDS

# the layers of one root must add up to its wall time within this share
LAYER_SUM_TOL = 0.01

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    job_lo: int = 0
    job_hi: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {s.span_id: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return kids


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of half-open intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its wall time minus the part of its interval
    that its children cover (children clipped to the parent's interval)."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        clipped = [(max(c.start, s.start), min(c.end, end)) for c in kids[s.span_id]]
        out[s.span_id] = s.wall - _covered(clipped)
    return out


def own_jobs(spans: list[Span]) -> dict[int, list[int]]:
    """Job ids in a span's window that no child's window covers."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        taken = set()
        for c in kids[s.span_id]:
            taken.update(range(c.job_lo, c.job_hi))
        out[s.span_id] = [j for j in range(s.job_lo, s.job_hi) if j not in taken]
    return out


def roots(spans: list[Span]) -> list[Span]:
    return [s for s in spans if s.parent is None]


def subtree(spans: list[Span], root_id: int) -> list[Span]:
    kids = children_of(spans)
    out, todo = [], [root_id]
    by_id = {s.span_id: s for s in spans}
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(c.span_id for c in kids[sid])
    return out


def layer_sum_errors(spans: list[Span], tol: float = LAYER_SUM_TOL) -> list[str]:
    """For each root, the self times of every span in its tree must add up
    to the root's wall time within ``tol`` of it. They do by construction
    unless a child outlives its parent or siblings overlap; an error names
    the root and the gap."""
    st = self_times(spans)
    errs = []
    for r in roots(spans):
        total = sum(st[s.span_id] for s in subtree(spans, r.span_id))
        if abs(total - r.wall) > tol * max(r.wall, 1e-9):
            errs.append(f"{r.name}: layers sum to {total:.6f}s, root wall {r.wall:.6f}s")
    return errs


def attribute_stages(
    spans: list[Span], job_stages: dict[int, list[dict]]
) -> dict[int, dict]:
    """Sum stage metrics over each span's own jobs. ``job_stages`` maps a
    job id to its stages' metric dicts (each with a ``stage_id``); a stage
    listed by several jobs (a reused shuffle) counts once, for the span
    that owns the lowest such job id."""
    owner_of_job = {}
    for sid, jobs in own_jobs(spans).items():
        for j in jobs:
            owner_of_job[j] = sid
    out = {s.span_id: {k: 0.0 for k in STAGE_FIELDS} for s in spans}
    seen = set()
    for j in sorted(job_stages):
        sid = owner_of_job.get(j)
        if sid is None:
            continue
        for st in job_stages[j]:
            if st["stage_id"] in seen:
                continue
            seen.add(st["stage_id"])
            for k in STAGE_FIELDS:
                out[sid][k] += st[k]
    return out


def layer_table(spans: list[Span], job_stages: dict[int, list[dict]]) -> dict[str, dict]:
    """One row per span name: wall and self seconds, calls, the executor
    metrics of the jobs its spans own, and its summed counters. Root rows
    also get ``tree_cpu_s``, the executor CPU of their whole tree."""
    st = self_times(spans)
    ex = attribute_stages(spans, job_stages)
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s.name, {k: 0.0 for k in LAYER_FIELDS})
        row["wall_s"] += s.wall
        row["self_s"] += st[s.span_id]
        row["calls"] += 1
        for k in STAGE_FIELDS:
            row[k] += ex[s.span_id][k]
        for k, v in s.counters.items():
            row[k] = row.get(k, 0.0) + v
    for r in roots(spans):
        row = table[r.name]
        tree = subtree(spans, r.span_id)
        row["tree_cpu_s"] = row.get("tree_cpu_s", 0.0) + sum(
            ex[s.span_id]["executor_cpu_s"] for s in tree
        )
    return table


def stage_record(stage_id: int, sd) -> dict:
    """Metric dict of one Spark StageData (py4j proxy or test double)."""
    return {
        "stage_id": stage_id,
        "executor_cpu_s": sd.executorCpuTime() / 1e9,
        "executor_run_s": sd.executorRunTime() / 1e3,
        "shuffle_write_mb": sd.shuffleWriteBytes() / _MB,
        "shuffle_read_mb": sd.shuffleReadBytes() / _MB,
        "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB,
        "tasks": float(sd.numCompleteTasks()),
    }


def read_stage_metrics(jsc, job_ids) -> dict[int, list[dict]]:
    """Stages of each job from Spark's in-process status store (readable
    with the UI disabled). Raises if a job is no longer retained."""
    store = jsc.statusStore()
    out = {}
    for j in job_ids:
        it = store.job(int(j)).stageIds().iterator()
        stages = []
        while it.hasNext():
            sid = int(it.next())
            stages.append(stage_record(sid, store.lastStageAttempt(sid)))
        out[int(j)] = stages
    return out


def next_job_id(jsc) -> int:
    return int(jsc.dagScheduler().nextJobId())


def cached_mb(jsc) -> float:
    """Memory plus disk size of every cached RDD, in MB."""
    return sum(r.memSize() + r.diskSize() for r in jsc.getRDDStorageInfo()) / _MB


class Tracer:
    """Records spans in memory; ``sc`` is the SparkContext whose jobs the
    spans label and whose job ids they window."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            name=name,
            parent=parent.span_id if parent else None,
            start=time.perf_counter(),
            job_lo=next_job_id(self.jsc),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"perfbench:{s.span_id}", name)
        try:
            yield s
        finally:
            s.job_hi = next_job_id(self.jsc)
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench:{parent.span_id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str):
        """``fn`` with every call inside a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def resolve(self) -> dict[str, dict]:
        """Layer table of the recorded spans, reading the stages of every
        job their windows hold from the status store."""
        jobs = sorted({j for s in self.spans for j in range(s.job_lo, s.job_hi)})
        return layer_table(self.spans, read_stage_metrics(self.jsc, jobs))
