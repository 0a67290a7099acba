"""Span recorder for the traced run.

Spans are recorded from the benchmark's own code, around each call into
a layer of ``datamunging_spark`` (a module under ``operators`` or
``sources``). A span has a name, a layer, start and end times, its
parent span and the id of the operation (pipeline pass or request) it
belongs to. Each span runs its Spark jobs under its own job group, so the
jobs, tasks and failed tasks it caused are read back from
``SparkContext.statusTracker()`` when it closes.

Spans stay in memory; ``dump`` writes them once, at the end. With tracing
off every method is a plain pass-through, so the untraced run pays
nothing but a function call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = (
    "sources", "quality", "sampling", "relational", "sketch", "ml", "text",
    "pipeline", "dedup", "spandedup", "bloom", "trainset", "retrieval",
    "similarity", "versioned",
)
LAYER_FIELDS = ("call_s", "action_s", "jobs", "tasks", "failed_tasks")


@dataclass
class Span:
    id: int
    name: str
    layer: str | None  # None for an operation root
    kind: str  # "call", "action" or "op"
    op_id: str
    parent: int | None
    start: float
    end: float = 0.0
    job_group: str = ""
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    children_s: float = field(default=0.0)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


class Tracer:
    """Records spans when ``enabled``; otherwise only runs the calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = ""
        self._sc = None
        self.overhead_s = 0.0  # bookkeeping time spent inside the tracer
        self.extra: dict[str, tuple] = {}  # ratios measured at a boundary

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def op(self, op_id: str):
        """Root span of one pipeline pass or one request."""
        prev = self._op
        self._op = op_id
        with self._span(op_id, None, "op"):
            yield
        self._op = prev

    def call(self, layer: str, fn, *args, **kwargs):
        """Time a public function of ``layer`` until it returns."""
        with self._span(getattr(fn, "__name__", "call"), layer, "call"):
            return fn(*args, **kwargs)

    def action(self, layer: str, thunk, name: str = "action"):
        """Time the action that forces ``layer``'s result."""
        with self._span(name, layer, "action"):
            return thunk()

    @contextmanager
    def _span(self, name: str, layer, kind: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, layer, kind, self._op,
                    parent.id if parent else None, 0.0)
        span.job_group = f"bench-{span.id}"
        self.spans.append(span)
        self._stack.append(span)
        self._sc.setJobGroup(span.job_group, f"{layer}.{name}")
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._count_jobs(span)
            if parent is not None:
                parent.children_s += span.end - span.start
                self._sc.setJobGroup(parent.job_group, "")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - span.end

    def _count_jobs(self, span: Span) -> None:
        st = self._sc.statusTracker()
        for jid in st.getJobIdsForGroup(span.job_group):
            job = st.getJobInfo(jid)
            if job is None:
                continue
            span.jobs += 1
            for sid in job.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    span.tasks += stage.numTasks
                    span.failed_tasks += stage.numFailedTasks

    def layer_totals(self, n_ops: int) -> dict:
        """Per-layer ``LAYER_FIELDS``, summed over spans and divided by the
        number of operations, so runs of different length compare."""
        out = {f"{l}.{f}": 0.0 for l in LAYERS for f in LAYER_FIELDS}
        for s in self.spans:
            if s.layer is None:
                continue
            key = "call_s" if s.kind == "call" else "action_s"
            out[f"{s.layer}.{key}"] += s.self_s
            out[f"{s.layer}.jobs"] += s.jobs
            out[f"{s.layer}.tasks"] += s.tasks
            out[f"{s.layer}.failed_tasks"] += s.failed_tasks
        return {k: v / max(1, n_ops) for k, v in out.items()}

    def op_jobs(self) -> dict[str, int]:
        """Jobs caused by each operation: the sum over all its spans."""
        per: dict[str, int] = {}
        for s in self.spans:
            per[s.op_id] = per.get(s.op_id, 0) + s.jobs
        return per

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
