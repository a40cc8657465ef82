"""Spans around the package's public calls, tagged as Spark job groups, and
the per-layer numbers read back from Spark's own event log.

Nothing inside the package changes: ``Tracer.patched()`` wraps the public
functions for the duration of one traced run and restores them after.

Two kinds of span:

* a *call* span covers one call (``RuleSet.from_yaml``,
  ``ValidationEngine.validate``, the first ``CompiledPlan.fused_projection``
  of a plan, which the traced run materializes with ``count()`` so the scan
  is timed apart from the table rules that read it);
* a *phase* span opens at a call that returns a lazy DataFrame
  (``sorted_violations``, ``summary``, ``grouped_by_subject``) and stays
  open while the caller runs the action on it, until the next phase opens
  or the enclosing call span ends.

Every span sets the Spark job group ``<workload>/<span>``, so each job,
stage and task in the event log belongs to exactly one span.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass, field
from pathlib import Path

# the spans of one validate CLI run, and the isolated single-rule plans
CLI_SPANS = ("plans.cli", "rules.load", "compiler.compile", "compiler.fused_scan",
             "engine.output_write", "engine.summary", "engine.grouped_report")
TABLE_RULES = ("doc_id_unique", "source_known", "tokens_match_reference", "ntok_drift")
CURATE_SPANS = ("operators.ngram_dedup", "operators.pack")
ALL_SPANS = CLI_SPANS + tuple(f"table_rule.{r}" for r in TABLE_RULES) + CURATE_SPANS

# the suffixes every span reports, with their units
SPAN_SUFFIXES = {"s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
                 "exec_cpu_s": "s", "core_util": "ratio", "shuffle_write_bytes": "bytes",
                 "spill_bytes": "bytes"}

# name -> (unit, better) of every per-layer metric a traced run prints
PER_LAYER = {
    **{f"{span}.{suf}": (unit, "higher" if suf == "core_util" else "lower")
       for span in ALL_SPANS for suf, unit in SPAN_SUFFIXES.items()},
    "compiler.fused_scan.input_bytes": ("bytes", "lower"),
    "compiler.fused_scan.cached_bytes": ("bytes", "lower"),
    "equality.bad_keys": ("count", "lower"),
    "equality.tier": ("tier", "lower"),
    "equality.useful_ratio": ("ratio", "higher"),
    "arrow.bytes_to_python": ("bytes", "lower"),
    "arrow.bytes_from_python": ("bytes", "lower"),
    "arrow.rows_to_python": ("rows", "lower"),
    "arrow.python_run_s": ("s", "lower"),
    "engine.output_write.rows": ("rows", "lower"),
    "run.jobs": ("count", "lower"),
    "run.seq_scans": ("count", "lower"),
    "run.ref_scans": ("count", "lower"),
    "run.cached_mb": ("MB", "lower"),
    "operators.ngram_dedup.windows": ("count", "lower"),
    "operators.ngram_dedup.dup_window_share": ("ratio", "lower"),
    "operators.pack.max_task_s": ("s", "lower"),
    "operators.pack.task_skew": ("ratio", "lower"),
    "setup.session_s": ("s", "lower"),
    "setup.generate_s": ("s", "lower"),
    "host.steal_pct": ("%", "lower"),
    "jvm.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def storage_bytes(spark) -> int:
    """Block-storage bytes (memory + disk) of every cached RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    phase: bool = False
    end: float | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, spark, workload: str) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._absorb = 0  # >0 inside a span that swallows nested spans
        self.tracked = []  # DataFrames the package registered with cache.track
        self.fused_cached_bytes = 0

    # -- span bookkeeping ---------------------------------------------------

    def group(self, name: str) -> str:
        return f"{self.workload}/{name}"

    def _set_group(self) -> None:
        if self._stack:
            name = self.spans[self._stack[-1]].name
            self.sc.setJobGroup(self.group(name), name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _open(self, name: str, phase: bool) -> None:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, phase))
        idx = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self._set_group()

    def _close_top(self) -> None:
        self.spans[self._stack.pop()].end = time.perf_counter()

    def _close_phases(self) -> None:
        while self._stack and self.spans[self._stack[-1]].phase:
            self._close_top()

    @contextlib.contextmanager
    def span(self, name: str, absorb: bool = False):
        if self._absorb:
            yield
            return
        self._open(name, phase=False)
        self._absorb += absorb
        try:
            yield
        finally:
            self._absorb -= absorb
            self._close_phases()
            self._close_top()
            self._set_group()

    def phase(self, name: str) -> None:
        if self._absorb:
            return
        self._close_phases()
        self._open(name, phase=True)

    # -- wrapping the package's public calls ------------------------------

    @contextlib.contextmanager
    def patched(self):
        from fs_schema_validator_spark import engine
        from fs_schema_validator_spark.compiler import plan
        from fs_schema_validator_spark.functions import cache
        from fs_schema_validator_spark.rules import loader

        tracer = self
        saved = []

        def patch(owner, attr, make):
            raw = owner.__dict__[attr]
            saved.append((owner, attr, raw))
            setattr(owner, attr, make(raw))

        def call_span(name):
            def make(fn):
                @functools.wraps(fn)
                def wrapped(*a, **kw):
                    with tracer.span(name):
                        return fn(*a, **kw)
                return wrapped
            return make

        def phase_span(name):
            def make(fn):
                @functools.wraps(fn)
                def wrapped(*a, **kw):
                    tracer.phase(name)
                    return fn(*a, **kw)
                return wrapped
            return make

        def from_yaml(raw):
            return classmethod(call_span("rules.load")(raw.__func__))

        def fused_projection(fn):
            @functools.wraps(fn)
            def wrapped(self_plan, *a, **kw):
                if self_plan._fused is not None or tracer._absorb:
                    return fn(self_plan, *a, **kw)
                with tracer.span("compiler.fused_scan"):
                    fused = fn(self_plan, *a, **kw)
                    before = storage_bytes(fused.sparkSession)
                    fused.count()
                    tracer.fused_cached_bytes += storage_bytes(fused.sparkSession) - before
                    return fused
            return wrapped

        def track(fn):
            @functools.wraps(fn)
            def wrapped(df):
                if not tracer._absorb:
                    tracer.tracked.append(df)
                return fn(df)
            return wrapped

        patch(cache, "track", track)
        patch(loader.RuleSet, "from_yaml", from_yaml)
        patch(engine.ValidationEngine, "validate", call_span("compiler.compile"))
        patch(plan.CompiledPlan, "fused_projection", fused_projection)
        patch(engine.ValidationResult, "sorted_violations", phase_span("engine.output_write"))
        patch(engine.ValidationResult, "summary", phase_span("engine.summary"))
        patch(engine.ValidationResult, "grouped_by_subject", phase_span("engine.grouped_report"))
        try:
            yield self
        finally:
            for owner, attr, raw in reversed(saved):
                setattr(owner, attr, raw)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([s.__dict__ for s in self.spans], indent=1))


# -- the event log --------------------------------------------------------


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _rows_metric(node: dict) -> int | None:
    """Accumulator id of the nearest 'number of output rows' below a node
    (down the first-child chain, through WholeStageCodegen wrappers)."""
    while node.get("children"):
        node = node["children"][0]
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                return m["accumulatorId"]
    return None


class EventLog:
    """Jobs, stages, tasks and SQL metrics of one application's
    uncompressed event log."""

    def __init__(self, path: Path) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.stage_accums: dict[int, dict[int, float]] = {}
        # accumulator id -> (plan node, metric name, metric type, scan location)
        self.accums: dict[int, tuple[str, str, str, str]] = {}
        self.arrow_input_rows: set[int] = set()
        self.driver_accums: dict[int, dict[int, float]] = {}  # execution -> id -> value
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            execution = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "execution": int(execution) if execution is not None else None,
            }
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            self.tasks.setdefault(e["Stage ID"], []).append(e.get("Task Metrics") or {})
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stage_accums[info["Stage ID"]] = {
                a["ID"]: float(a["Value"]) for a in info.get("Accumulables", [])
                if str(a.get("Value", "")).lstrip("-").isdigit()
            }
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            for node in _plan_nodes(e["sparkPlanInfo"]):
                name = node.get("nodeName", "")
                loc = node.get("metadata", {}).get("Location", "")
                for m in node.get("metrics", []):
                    self.accums[m["accumulatorId"]] = (name, m["name"], m["metricType"], loc)
                if name == "MapInArrow":
                    rows = _rows_metric(node)
                    if rows is not None:
                        self.arrow_input_rows.add(rows)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            acc = self.driver_accums.setdefault(e["executionId"], {})
            for aid, value in e["accumUpdates"]:
                acc[aid] = acc.get(aid, 0) + value

    # -- queries --------------------------------------------------------

    def group_jobs(self, group: str) -> list[int]:
        return [j for j, info in self.jobs.items() if info["group"] == group]

    def job_stages(self, jobs: list[int]) -> list[int]:
        """Stages that ran under these jobs (a stage shared by several
        jobs belongs to the first job that listed it)."""
        js = set(jobs)
        return sorted(s for s, j in self.stage_job.items() if j in js and s in self.tasks)

    def span_counts(self, group: str) -> dict:
        jobs = self.group_jobs(group)
        stages = self.job_stages(jobs)
        tasks = [t for s in stages for t in self.tasks[s]]
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "run_s": sum(t.get("Executor Run Time", 0) for t in tasks) / 1e3,
            "exec_cpu_s": sum(t.get("Executor CPU Time", 0) for t in tasks) / 1e9,
            "shuffle_write_bytes": sum(
                t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) for t in tasks),
            "spill_bytes": sum(t.get("Disk Bytes Spilled", 0) for t in tasks),
            "stages": stages,
        }

    def files_read_bytes(self, jobs: list[int]) -> float:
        """'size of files read' of every parquet scan in the SQL
        executions these jobs ran for."""
        executions = {self.jobs[j]["execution"] for j in jobs} - {None}
        return sum(v for ex in executions for aid, v in self.driver_accums.get(ex, {}).items()
                   if self.accums.get(aid, ("", ""))[1] == "size of files read")

    def stages_reading(self, stages: list[int], needle: str) -> int:
        ids = {aid for aid, (node, _, _, loc) in self.accums.items()
               if node.startswith("Scan parquet") and needle in loc}
        return sum(1 for s in stages if ids & set(self.stage_accums.get(s, {})))

    def arrow(self, stages: list[int]) -> dict[str, float]:
        """MapInArrow SQL metrics summed over stages, plus the rows that
        entered the Arrow boundary (``rows to Python``)."""
        out: dict[str, float] = {}
        for s in stages:
            for aid, value in self.stage_accums.get(s, {}).items():
                node, name, _, _ = self.accums.get(aid, ("", "", "", ""))
                if node == "MapInArrow":
                    out[name] = out.get(name, 0.0) + value
                if aid in self.arrow_input_rows:
                    out["rows to Python"] = out.get("rows to Python", 0.0) + value
        return out

    def task_times(self, stages: list[int]) -> list[float]:
        return [t.get("Executor Run Time", 0) / 1e3 for s in stages for t in self.tasks[s]]


def span_metrics(tracer: Tracer, log: EventLog, cores: int) -> dict[str, float]:
    """``<span>.<suffix>`` for every span in ALL_SPANS that ran; a span
    that ran several times sums."""
    out: dict[str, float] = {}
    for name in ALL_SPANS:
        mine = [s for s in tracer.spans if s.name == name]
        if not mine:
            continue
        wall = sum(s.end - s.start for s in mine)
        child = sum(tracer.spans[c].end - tracer.spans[c].start for s in mine for c in s.children)
        c = log.span_counts(tracer.group(name))
        out.update({
            f"{name}.s": wall,
            f"{name}.self_s": wall - child,
            f"{name}.jobs": c["jobs"],
            f"{name}.tasks": c["tasks"],
            f"{name}.exec_cpu_s": c["exec_cpu_s"],
            f"{name}.core_util": c["run_s"] / (wall * cores) if wall > 0 else 0.0,
            f"{name}.shuffle_write_bytes": c["shuffle_write_bytes"],
            f"{name}.spill_bytes": c["spill_bytes"],
        })
    return out
