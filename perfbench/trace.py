"""In-memory spans around the benchmark's calls into navgraph_osm_spark.

A traced pass opens one span per call into a layer's public function.  Each
span sets its own Spark job group, so after the pass the jobs (and through
them the stages) a span started can be read back from Spark's status store;
that works with the web UI disabled.  The span's DataFrame output is
counted inside the span, and normally persisted first (``Tracer.out``), so
the span covers the layer's own work and later spans read the cached result.

The arithmetic (self time, stage attribution, per-layer roll-up) is pure
Python so it can be tested without Spark; ``StatusStore`` is the only part
that talks to the JVM.
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field

LAYERS = (
    "session",
    "sources.tables",
    "sources.codec",
    "cells",
    "operators.spatial_join",
    "operators.knn",
    "sources.pbf",
    "operators.relations",
    "operators.graph_build",
    "operators.turn_expand",
    "operators.export",
    "plans.checkpoint",
)
SPAN_METRICS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("busy_s", "s"),
    ("tasks", "count"),
    ("shuffle_bytes", "B"),
    ("spill_bytes", "B"),
    ("task_skew", "ratio"),
    ("rows_out", "rows"),
    ("exchanges", "count"),
)


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    trace_id: str
    parent: int | None = None
    end: float | None = None
    rows_out: int = 0
    exchanges: int = 0
    counters: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans.

    Children may overlap each other; the covered part is the length of the
    union of their intervals, clipped to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


def attribute_stages(
    span_jobs: dict[int, list[int]], job_stages: dict[int, list[int]]
) -> dict[int, list[int]]:
    """Stage ids per span.  A stage runs in the first job that needs it and
    shows up again (skipped) in later jobs that reuse its output, so each
    stage goes to the span owning the lowest job id that lists it."""
    owner: dict[int, tuple[int, int]] = {}
    for span_id, jobs in span_jobs.items():
        for jid in jobs:
            for sid in job_stages.get(jid, ()):
                if sid not in owner or jid < owner[sid][0]:
                    owner[sid] = (jid, span_id)
    out: dict[int, list[int]] = {sid: [] for sid in span_jobs}
    for sid, (_jid, span_id) in sorted(owner.items()):
        out[span_id].append(sid)
    return out


def aggregate_stages(stages: list[dict]) -> dict:
    """Roll status-store stage records up into span counters.

    Skipped stages (their output was reused) did no work and are left out.
    ``task_skew`` is max/median task duration of the stage with the most
    executor run time — the stage a skew fix would have to move."""
    ran = [s for s in stages if s["status"] != "SKIPPED" and s["tasks"] > 0]
    out = {
        "busy_s": sum(s["run_ms"] for s in ran) / 1000.0,
        "tasks": sum(s["tasks"] for s in ran),
        "shuffle_bytes": sum(s["shuffle_write"] for s in ran),
        "spill_bytes": sum(s["spill_disk"] for s in ran),
        "task_skew": 0.0,
        "heaviest_run_ms": 0,
    }
    if ran:
        heavy = max(ran, key=lambda s: s["run_ms"])
        out["heaviest_run_ms"] = heavy["run_ms"]
        if heavy["dur_median"] > 0:
            out["task_skew"] = heavy["dur_max"] / heavy["dur_median"]
    return out


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in LAYERS (zero where no span
    of that layer ran).  Sums over the layer's spans, except task_skew,
    which is taken from the layer's heaviest stage."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.name == layer]
        acc = dict.fromkeys((m for m, _u in SPAN_METRICS), 0.0)
        heaviest = -1
        for s in mine:
            acc["wall_s"] += s.end - s.start
            acc["self_s"] += selfs[s.span_id]
            acc["rows_out"] += s.rows_out
            acc["exchanges"] += s.exchanges
            c = s.counters
            for k in ("busy_s", "tasks", "shuffle_bytes", "spill_bytes"):
                acc[k] += c.get(k, 0)
            if c.get("heaviest_run_ms", 0) > heaviest:
                heaviest = c["heaviest_run_ms"]
                acc["task_skew"] = c.get("task_skew", 0.0)
        for m, _u in SPAN_METRICS:
            out[f"{layer}.{m}"] = acc[m]
    return out


_EXCHANGE = re.compile(r"^[\s:+\-*()]*(?:Shuffle|Broadcast)?Exchange\b", re.M)


def count_exchanges(plan_text: str) -> int:
    """Exchange nodes (shuffle and broadcast, not reused ones) in a plan."""
    return len(_EXCHANGE.findall(plan_text))


class StatusStore:
    """Reads job, stage and task counters from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has applied every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stages(self, jid: int) -> list[int]:
        info = self.sc.statusTracker().getJobInfo(jid)
        return list(info.stageIds) if info is not None else []

    def stage(self, sid: int) -> dict:
        sd = self._store.lastStageAttempt(sid)
        rec = {
            "stage_id": sid,
            "status": sd.status().toString(),
            "tasks": sd.numCompleteTasks(),
            "run_ms": sd.executorRunTime(),
            "shuffle_write": sd.shuffleWriteBytes(),
            "shuffle_read": sd.shuffleReadBytes(),
            "spill_disk": sd.diskBytesSpilled(),
            "dur_median": 0.0,
            "dur_max": 0.0,
        }
        if rec["tasks"] > 0:
            q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = self._store.taskSummary(sid, sd.attemptId(), q)
            if summary.isDefined():
                dur = summary.get().duration()
                rec["dur_median"], rec["dur_max"] = dur.apply(0), dur.apply(1)
        return rec


class Tracer:
    """Records spans for one traced pass (``trace_id``).

    ``span(name)`` is a context manager; ``out(df)`` materializes a layer's
    output inside the current span and returns the cached frame."""

    enabled = True

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._cached = []

    @contextlib.contextmanager
    def span(self, name: str, start: float | None = None):
        """``start`` backdates the span, e.g. to before the session existed."""
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(self._next_id, name, start or time.perf_counter(), self.trace_id, parent)
        self._next_id += 1
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", self._group(s))
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            s.end = time.perf_counter()
            self.spans.append(s)

    def _group(self, s: Span) -> str:
        return f"{self.trace_id}/{s.span_id}"

    def out(self, df, cache: bool = True):
        """Count ``df`` inside the current span.  With ``cache`` the result
        is persisted first, so later spans read it instead of recomputing
        it; pass ``cache=False`` where a consumer must see the frame's own
        lineage (e.g. checkpoint fingerprints of file-backed inputs)."""
        s = self._stack[-1]
        # planned before persist: afterwards the plan would read the cache
        s.exchanges += count_exchanges(
            df._jdf.queryExecution().executedPlan().toString()
        )
        if cache:
            df = df.persist()
            self._cached.append(df)
        s.rows_out += df.count()
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def collect_counters(self, store: StatusStore) -> None:
        """Attach status-store counters to every finished span."""
        store.drain()
        span_jobs = {s.span_id: store.jobs(self._group(s)) for s in self.spans}
        job_stages = {
            jid: store.job_stages(jid) for jobs in span_jobs.values() for jid in jobs
        }
        per_span = attribute_stages(span_jobs, job_stages)
        for s in self.spans:
            s.counters = aggregate_stages([store.stage(sid) for sid in per_span[s.span_id]])


class NullTracer:
    """The untraced pass: spans cost nothing and outputs stay lazy."""

    enabled = False

    def span(self, name: str, start: float | None = None):
        return contextlib.nullcontext()

    def out(self, df, cache: bool = True):
        return df

    def release(self) -> None:
        pass
