"""Spans, Spark counters and the event-log reader of the traced run.

A span is opened by the benchmark around each call it makes into a
layer (``pipeline`` import helpers, ``run_transform`` per group, each
exporter, each headline query).  While a span is open its Spark jobs
run under a job group named after it, so ``statusTracker`` and the
event log attribute every job, stage and task to exactly one span.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass, field

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}.{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder that tags Spark jobs with the open span."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.run_id, time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(_GROUP_KEY, s.group)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                _GROUP_KEY, self._stack[-1].group if self._stack else None)

    def wrap(self, module, attr: str, name: str, path_arg: int | None = None):
        """Replace ``module.attr`` by a spanned call; returns an undo.
        ``path_arg``: the positional argument naming the output path,
        kept on the span."""
        inner = getattr(module, attr)

        def spanned(*args, **kwargs):
            attrs = {} if path_arg is None else {"path": args[path_arg]}
            with self.span(name, **attrs):
                return inner(*args, **kwargs)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, inner)

    # -- tree helpers -------------------------------------------------------

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def self_seconds(self, s: Span) -> float:
        """Duration minus the part of it the child spans cover."""
        return s.seconds - _covered(
            [(c.start, c.end) for c in self.children(s)], s.start, s.end)

    def job_counts(self, s: Span) -> dict[str, int]:
        """Jobs, stages that ran, and tasks run, from ``statusTracker``."""
        st = self.sc.statusTracker()
        jobs: set[int] = set()
        for sub in self.subtree(s):
            jobs.update(st.getJobIdsForGroup(sub.group))
        stages: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = tasks = 0
        for sid in stages:
            info = st.getStageInfo(sid)
            if info is not None and info.numCompletedTasks + \
                    info.numFailedTasks > 0:
                ran += 1
                tasks += info.numCompletedTasks + info.numFailedTasks
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks}

    def dump(self, path: str) -> None:
        recs = [{**asdict(s), "self_s": self.self_seconds(s)}
                for s in self.spans]
        with open(path, "w") as f:
            json.dump(recs, f)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---------------------------------------------------------------------------
# plan census
# ---------------------------------------------------------------------------

CENSUS = ("scans", "exchanges", "reused_exchanges", "joins",
          "nested_loop_joins", "python_nodes")


def plan_census(plan: dict) -> dict[str, int]:
    """Node counts of a ``sparkPlanInfo`` tree (the executed plan)."""
    out = dict.fromkeys(CENSUS, 0)
    todo = [plan]
    while todo:
        node = todo.pop()
        todo.extend(node.get("children", []))
        name = node.get("nodeName", "")
        if name.startswith("Scan "):
            out["scans"] += 1
        elif name in ("Exchange", "BroadcastExchange"):
            out["exchanges"] += 1
        elif name == "ReusedExchange":
            out["reused_exchanges"] += 1
        elif name.endswith("Join") or name == "CartesianProduct":
            out["joins"] += 1
            if name in ("BroadcastNestedLoopJoin", "CartesianProduct"):
                out["nested_loop_joins"] += 1
        elif "Python" in name or "InPandas" in name or "InArrow" in name:
            out["python_nodes"] += 1
    return out


def _plan_size(plan: dict) -> int:
    return 1 + sum(_plan_size(c) for c in plan.get("children", []))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

# per-span Spark metrics reported for each phase
SPARK_METRICS = ("executor_run_s", "executor_cpu_s", "gc_s",
                 "shuffle_write_bytes", "shuffle_read_bytes", "task_failures",
                 "python_udf_s", "arrow_bytes_to_python",
                 "arrow_bytes_from_python")
SPARK_FIELDS = SPARK_METRICS + ("records_written",)

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


class EventLog:
    """Per-job-group task metrics, job intervals and final SQL plans read
    from a local ``spark.eventLog.dir`` once the session has stopped."""

    def __init__(self, log_dir: str):
        self.by_group: dict[str, dict[str, float]] = {}
        self.jobs: dict[str, list[tuple[float, float]]] = {}
        self.plans: dict[str, list[dict]] = {}
        stage_group: dict[int, str] = {}
        job_group: dict[int, tuple[str, float]] = {}
        exec_group: dict[int, str] = {}
        exec_plan: dict[int, dict] = {}
        files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))
                       + glob.glob(os.path.join(log_dir, "local-*")))
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), stage_group, job_group,
                                exec_group, exec_plan)
        for eid, plan in exec_plan.items():
            g = exec_group.get(eid)
            if g:
                self.plans.setdefault(g, []).append(plan)

    def _event(self, e, stage_group, job_group, exec_group, exec_plan):
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get(_GROUP_KEY)
            if g:
                stage_group[e["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(_GROUP_KEY)
            if g:
                job_group[e["Job ID"]] = (g, e["Submission Time"] / 1000.0)
        elif kind == "SparkListenerJobEnd":
            g, start = job_group.pop(e["Job ID"], (None, None))
            if g:
                self.jobs.setdefault(g, []).append(
                    (start, e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            if g:
                self._task(e, self.by_group.setdefault(
                    g, dict.fromkeys(SPARK_FIELDS, 0.0)))
        elif kind.endswith("SQLExecutionStart"):
            if e.get("jobGroupId"):
                exec_group[e["executionId"]] = e["jobGroupId"]
            exec_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            exec_plan[e["executionId"]] = e["sparkPlanInfo"]

    @staticmethod
    def _task(e, acc):
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            acc["task_failures"] += 1
        m = e.get("Task Metrics") or {}
        acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                       ).get("Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + \
            rd.get("Local Bytes Read", 0)
        acc["records_written"] += (m.get("Output Metrics") or {}
                                   ).get("Records Written", 0)
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            name = a.get("Name")
            if name not in (_PY_TIME, _PY_SENT, _PY_RECV):
                continue
            try:  # SQL metric updates are logged as strings
                upd = float(a.get("Update"))
            except (TypeError, ValueError):
                continue
            if name == _PY_TIME:  # a timing metric, in ms
                acc["python_udf_s"] += upd / 1e3
            elif name == _PY_SENT:
                acc["arrow_bytes_to_python"] += upd
            elif name == _PY_RECV:
                acc["arrow_bytes_from_python"] += upd

    def totals(self, groups) -> dict[str, float]:
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        for g in groups:
            for k, v in self.by_group.get(g, {}).items():
                out[k] += v
        return out

    def job_seconds(self, groups, lo: float, hi: float) -> float:
        """Wall time within [lo, hi] during which a job of ``groups`` ran."""
        return _covered([iv for g in groups for iv in self.jobs.get(g, [])],
                        lo, hi)

    def census(self, groups) -> dict[str, int]:
        """Census of the largest executed plan among ``groups``."""
        plans = [p for g in groups for p in self.plans.get(g, [])]
        if not plans:
            return dict.fromkeys(CENSUS, 0)
        return plan_census(max(plans, key=_plan_size))
