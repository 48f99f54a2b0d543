"""In-memory span tracer that wraps the engine's public callables from
outside the engine.

``Tracer.install()`` replaces each callable listed in :data:`TRACED` with a
wrapper that opens a span around the call; ``uninstall()`` puts the
originals back, so untraced iterations run the unmodified functions. Every
span records name, start, end, parent and iteration id, and runs its Spark
jobs under a job group of its own, so ``statusTracker()`` yields the exact
jobs, stages and tasks each span launched. Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import importlib
import time
from contextlib import contextmanager
from dataclasses import dataclass

# (module, attribute-path, span name). Functions are wrapped where the
# CALLER looks them up: a name imported with ``from x import f`` is a
# separate binding in the importing module, so e.g. ``materialize`` is
# wrapped in every operator module that holds it as well as in
# functions.iterate (where swap/swap_observed_* look it up).
TRACED = [
    ("graftlouvain.sources.edges", "file_table", "sources.edges.file_table"),
    ("graftlouvain.operators.graph", "LinkGraph.from_edges", "operators.graph.from_edges"),
    ("graftlouvain.operators.louvain", "louvain", "operators.louvain.louvain"),
    ("graftlouvain.operators.louvain", "louvain_level", "operators.louvain.louvain_level"),
    ("graftlouvain.operators.louvain", "coarsen", "operators.louvain.coarsen"),
    ("graftlouvain.operators.louvain", "swap_observed_multi",
     "operators.louvain.swap_observed_multi"),
    ("graftlouvain.operators.louvain", "swap", "operators.louvain.swap"),
    ("graftlouvain.operators.pagerank", "pagerank", "operators.pagerank.pagerank"),
    ("graftlouvain.operators.components", "components", "operators.components.components"),
    ("graftlouvain.operators.labelprop", "label_propagation",
     "operators.labelprop.label_propagation"),
    ("graftlouvain.operators.triangles", "triangles_per_vertex",
     "operators.triangles.triangles_per_vertex"),
] + [
    (mod, "materialize", "functions.iterate.materialize")
    for mod in (
        "graftlouvain.functions.iterate",
        "graftlouvain.operators.louvain",
        "graftlouvain.operators.pagerank",
        "graftlouvain.operators.components",
        "graftlouvain.operators.labelprop",
    )
]


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``. Read it
    right after the group's work: the status tracker keeps a bounded number
    of finished jobs."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stages += 1
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), stages, tasks


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    iteration: str
    start: float
    end: float = 0.0
    result: object = None  # return value, kept for per-layer stats
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, iteration: str | None = None):
        parent = self._stack[-1] if self._stack else None
        it = iteration if iteration is not None else (parent.iteration if parent else "")
        sp = Span(len(self.spans), name, parent.sid if parent else None, it, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"span-{sp.sid}", name)
        sp.start = time.monotonic()
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"span-{top.sid}", top.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, fn, name):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                sp.result = fn(*args, **kwargs)
                return sp.result

        traced.__wrapped__ = fn
        return traced

    # -- patching ----------------------------------------------------------

    def install(self) -> None:
        for mod_name, path, name in TRACED:
            owner = importlib.import_module(mod_name)
            *head, attr = path.split(".")
            for part in head:
                owner = getattr(owner, part)
            raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, raw))
            if isinstance(raw, classmethod):
                new = classmethod(self._wrap(raw.__func__, name))
            else:
                new = self._wrap(raw, name)
            setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, raw = self._saved.pop()
            setattr(owner, attr, raw)

    # -- accounting --------------------------------------------------------

    def collect_jobs(self, spans: list[Span]) -> None:
        """Fill jobs/stages/tasks of ``spans``, right after they close."""
        for sp in spans:
            sp.jobs, sp.stages, sp.tasks = group_counts(self.sc, f"span-{sp.sid}")

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_time(self, sp: Span) -> float:
        return sp.dur - sum(c.dur for c in self.children(sp))

    def totals(self, sp: Span) -> tuple[int, int, int]:
        """(jobs, stages, tasks) launched inside ``sp`` and its descendants."""
        sub = self.subtree(sp)
        return (sum(s.jobs for s in sub), sum(s.stages for s in sub),
                sum(s.tasks for s in sub))
