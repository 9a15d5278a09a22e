"""Per-layer ledger of the traced run: spans recorded around calls into
the engine's public functions, and the Spark event log folded onto
those spans with the standard ``json`` module.

A span sets the Spark job description, so every job it starts (and the
broadcast and adaptive sub-jobs of the same SQL execution, which
inherit it) carries the span's name into the event log.
"""

from __future__ import annotations

import ast
import functools
import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PREFIX = "pb:"
DESCRIPTION = "spark.job.description"


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None


class Tracer:
    """Records spans.  With a SparkContext it also labels the jobs each
    span starts; without one (the untraced run) it only keeps times."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if self.sc is not None:
            self.sc.setJobDescription(PREFIX + name)
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent))
            if self.sc is not None:
                self.sc.setJobDescription(PREFIX + parent if parent else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span."""
        inner = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(owner, attr, traced)

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total_ms(self, name: str) -> float:
        return sum((s.end - s.start) * 1000.0 for s in self.of(name))


# ------------------------------------------------------------- event log


def read_events(log_dir: str):
    """Events of every application log under ``log_dir``, from Spark
    4's rolling ``eventlog_v2_*/events_<n>_*`` files in roll order.
    Logs must be written uncompressed."""
    paths = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        rolled = glob.glob(os.path.join(app, "events_*"))
        paths += sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


@dataclass
class Totals:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "Totals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    job_id: int
    submit_ms: int
    description: str | None
    execution: str | None
    callsite: str | None
    totals: Totals = field(default_factory=Totals)


@dataclass
class Fold:
    jobs: dict[int, Job]
    # accumulator id → (plan node name, node simpleString, metric name)
    plan_metrics: dict[int, tuple[str, str, str]]
    # accumulator id → job id (None: updated outside a task) → summed updates
    accum: dict[int, dict[int | None, float]]

    def totals(self, pred) -> Totals:
        out = Totals()
        for job in self.jobs.values():
            if pred(job):
                out.add(job.totals)
        return out

    def node_rows(self, node_name: str, needle: str, pred=None) -> int:
        """'number of output rows' summed over every plan node named
        ``node_name`` whose description contains ``needle``, counting
        the tasks of jobs that satisfy ``pred`` (all when ``None``).
        A node evaluated twice counts its rows twice."""
        ids = {
            aid
            for aid, (node, text, metric) in self.plan_metrics.items()
            if node == node_name and needle in text and metric == "number of output rows"
        }
        total = 0.0
        for aid in ids:
            for job_id, value in self.accum.get(aid, {}).items():
                if pred is None or (job_id in self.jobs and pred(self.jobs[job_id])):
                    total += value
        return int(total)


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], node["simpleString"], m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def fold_events(events) -> Fold:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    exec_desc: dict[str, str] = {}
    plan_metrics: dict[int, tuple[str, str, str]] = {}
    accum: dict[int, dict[int | None, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            root = props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id")
            job = Job(
                e["Job ID"], e["Submission Time"], props.get(DESCRIPTION), root,
                props.get("callSite.short"),
            )
            jobs[job.job_id] = job
            for sid in e["Stage IDs"]:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerTaskEnd":
            job_id = stage_job.get(e["Stage ID"])
            job = jobs.get(job_id)
            m = e.get("Task Metrics")
            if job is not None and m:
                t = job.totals
                t.tasks += 1
                t.run_ms += m["Executor Run Time"]
                t.cpu_ms += m["Executor CPU Time"] / 1e6
                t.gc_ms += m["JVM GC Time"]
                t.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                t.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    accum[a["ID"]][job_id] += float(a["Update"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(e["sparkPlanInfo"], plan_metrics)
            if e.get("description") and "executionId" in e:
                root = str(e.get("rootExecutionId", e["executionId"]))
                exec_desc.setdefault(root, e["description"])
        elif kind.endswith("DriverAccumUpdates"):
            for aid, value in e["accumUpdates"]:
                accum[aid][None] += float(value)
    # a job without a description of its own (some sub-jobs) takes
    # that of its root SQL execution
    for job in jobs.values():
        if job.description is None and job.execution in exec_desc:
            job.description = exec_desc[job.execution]
        job.totals.jobs = 1
    return Fold(jobs, plan_metrics, {aid: dict(v) for aid, v in accum.items()})


# --------------------------------------------------------- call sites

_CALLSITE = re.compile(r"^(\w+) at (.+):(\d+)$")


@functools.lru_cache(maxsize=1024)
def enclosing_function(path: str, line: int) -> str | None:
    """Qualified name of the innermost function of ``path`` that holds
    ``line``, so a call site keeps its meaning when lines shift."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    best: tuple[int, str] | None = None

    def visit(node, prefix: str) -> None:
        nonlocal best
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = f"{prefix}{child.name}"
                if child.lineno <= line <= child.end_lineno and not isinstance(child, ast.ClassDef):
                    if best is None or child.lineno >= best[0]:
                        best = (child.lineno, name)
                visit(child, name + ".")
            else:
                visit(child, prefix)

    visit(tree, "")
    return best[1] if best else None


def resolve_callsite(callsite: str | None) -> str | None:
    """``'collect at /x/frontier/store.py:418'`` →
    ``'store.py:FrontierStore.max_seq'``; ``None`` when the call site
    names no readable Python file (e.g. JVM-side writes)."""
    if not callsite:
        return None
    m = _CALLSITE.match(callsite)
    if not m or not m.group(2).endswith(".py") or not os.path.exists(m.group(2)):
        return None
    fn = enclosing_function(m.group(2), int(m.group(3)))
    return f"{os.path.basename(m.group(2))}:{fn}" if fn else None
