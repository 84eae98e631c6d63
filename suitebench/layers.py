"""Spans around the benchmark's calls into the library, and the reader
that turns one traced run (Spark event log + spans) into the per-layer
metrics named in ``BENCHMARK.json``.

Spans are kept in memory and written out once, at the end of a run.
Jobs are attributed to the innermost span that contains their
submission time: the threads of ``CheckSuite.run``'s Phase-1 pool do
not inherit job descriptions, so a description cannot be used. Stages
and tasks follow their job.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

CORES = 4


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    rep: int | None


@dataclass
class Spans:
    """In-memory span recorder; ``with spans.span("run", rep=3):``."""

    items: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, rep: int | None = None):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.items.append(Span(name, start, time.time(), parent, rep))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.items], f)


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    input_rows: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    fetch_wait_s: float
    spill_bytes: int
    output_bytes: int
    python_s: float
    python_rows: int
    python_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, dict]  # job id -> {"submit", "end", "stages"}
    tasks: list[Task]
    # stages with a PythonRDD: their tasks hand rows through a Python
    # worker (e.g. a DataFrame made from a driver-side Python list)
    python_stages: set[int]


# SQL metrics the Arrow/pandas-UDF exec nodes report per task
# (PythonSQLMetrics): worker run time in ms, bytes sent to the workers;
# their "number of output rows" counts rows the workers returned
PY_TIME = "time to run Python workers"
PY_BYTES = "data sent to Python workers"
ROWS = "number of output rows"


def _python_row_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the output-row counters of the Python exec
    nodes in a SQL plan tree (the nodes that report ``PY_BYTES``)."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_BYTES in metrics and ROWS in metrics:
        out.add(metrics[ROWS])
    for child in plan.get("children", []):
        _python_row_ids(child, out)


def _accum(info: dict, py_rows: set[int]) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in info.get("Accumulables", []):
        name = a.get("Name")
        try:
            # SQL metric updates are logged as strings
            upd = float(a.get("Update"))
        except (TypeError, ValueError):
            continue
        if name == ROWS:
            name = "python rows" if a.get("ID") in py_rows else None
        if name:
            out[name] = out.get(name, 0) + upd
    return out


def read_event_log(path: str) -> EventLog:
    jobs: dict[int, dict] = {}
    tasks: list[Task] = []
    py_rows: set[int] = set()
    python_stages: set[int] = set()
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if "sparkPlanInfo" in e:
                # SQL execution start and AQE re-plans carry the tree
                _python_row_ids(e["sparkPlanInfo"], py_rows)
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                if any(r["Name"] == "PythonRDD" for r in info["RDD Info"]):
                    python_stages.add(info["Stage ID"])
            elif kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"] / 1000,
                    "end": None,
                    "stages": list(e["Stage IDs"]),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd" and "Task Metrics" in e:
                info, m = e["Task Info"], e["Task Metrics"]
                acc = _accum(info, py_rows)
                sr = m["Shuffle Read Metrics"]
                tasks.append(
                    Task(
                        stage=e["Stage ID"],
                        launch=info["Launch Time"] / 1000,
                        finish=info["Finish Time"] / 1000,
                        run_s=m["Executor Run Time"] / 1000,
                        cpu_s=m["Executor CPU Time"] / 1e9,
                        gc_s=m["JVM GC Time"] / 1000,
                        input_bytes=m["Input Metrics"]["Bytes Read"],
                        input_rows=m["Input Metrics"]["Records Read"],
                        shuffle_write_bytes=m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        shuffle_read_bytes=sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                        fetch_wait_s=sr["Fetch Wait Time"] / 1000,
                        spill_bytes=m["Disk Bytes Spilled"],
                        output_bytes=m["Output Metrics"]["Bytes Written"],
                        python_s=acc.get(PY_TIME, 0) / 1000,
                        python_rows=int(acc.get("python rows", 0)),
                        python_bytes=int(acc.get(PY_BYTES, 0)),
                    )
                )
    return EventLog(jobs, tasks, python_stages)


# counted per repetition by a workload that writes; 0 on the others
AUDIT_COUNTERS = (
    "plans.audit.bytes_written",
    "plans.audit.files_written",
    "plans.manifest.pending",
)
# spans whose wall time is spent inside a library call
CALL_SPANS = ("run", "main:1", "main:2")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if a >= b:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def rep_metrics(
    log: EventLog, spans: list[Span], rep: int, counters: dict[str, float]
) -> dict[str, float]:
    """Per-layer metrics of one repetition: from the event log and the
    spans, plus ``counters``, what the workload measured itself (audit
    bytes, pending days and rows, pinned state). A job belongs to the
    repetition when it was submitted inside the repetition's span; a
    stage belongs to the first job that lists it (later jobs list it
    again only when they skip it)."""
    root = next(s for s in spans if s.name == "rep" and s.rep == rep)
    wall = root.end - root.start
    # job submit times are whole milliseconds
    lo, hi = root.start - 0.001, root.end + 0.001
    stage_job: dict[int, int] = {}
    for jid in sorted(log.jobs):
        for sid in log.jobs[jid]["stages"]:
            stage_job.setdefault(sid, jid)
    jobs = {j for j, v in log.jobs.items() if lo <= v["submit"] <= hi}
    tasks = [t for t in log.tasks if stage_job.get(t.stage) in jobs]
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_s)
    # stages whose median task is under 10 ms measure scheduling noise
    skew = max(
        (
            max(runs) / statistics.median(runs)
            for runs in by_stage.values()
            if len(runs) >= CORES and statistics.median(runs) >= 0.01
        ),
        default=1.0,
    )
    writing = {stage_job[t.stage] for t in tasks if t.output_bytes > 0}
    main2 = [s for s in spans if s.name == "main:2" and s.rep == rep]
    read_2 = sum(
        t.input_rows
        for t in tasks
        for s in main2
        if s.start - 0.001 <= log.jobs[stage_job[t.stage]]["submit"] <= s.end + 0.001
    )
    run_s = sum(t.run_s for t in tasks)
    py_rdd = [t for t in tasks if t.stage in log.python_stages]
    mine = [s for s in spans if s.rep == rep]
    counters = dict(counters)
    pending_rows = counters.pop("pending_rows", 0.0)
    audit = {k: counters.pop(k, 0.0) for k in AUDIT_COUNTERS}
    return counters | audit | {
        "sources.input_bytes": float(sum(t.input_bytes for t in tasks)),
        "sources.input_rows": float(sum(t.input_rows for t in tasks)),
        "sources.scan_task_s": float(
            sum(t.run_s for t in tasks if t.input_rows or t.input_bytes)
        ),
        "operators.exec_run_s": run_s,
        "operators.exec_cpu_s": sum(t.cpu_s for t in tasks),
        "operators.gc_s": sum(t.gc_s for t in tasks),
        "operators.shuffle_write_bytes": float(sum(t.shuffle_write_bytes for t in tasks)),
        "operators.shuffle_read_bytes": float(sum(t.shuffle_read_bytes for t in tasks)),
        "operators.fetch_wait_s": sum(t.fetch_wait_s for t in tasks),
        "operators.spill_bytes": float(sum(t.spill_bytes for t in tasks)),
        "operators.tasks": float(len(tasks)),
        "operators.task_skew": skew,
        "python.udf_s": float(sum(t.python_s for t in tasks)),
        "python.rows_returned": float(sum(t.python_rows for t in tasks)),
        "python.bytes_sent": float(sum(t.python_bytes for t in tasks)),
        "python.rdd_task_s": float(sum(t.run_s for t in py_rdd)),
        "python.rdd_tasks": float(len(py_rdd)),
        "plans.suite.call_s": float(
            sum(s.end - s.start for s in mine if s.name in CALL_SPANS)
        ),
        "plans.suite.force_s": float(
            sum(s.end - s.start for s in mine if s.name.startswith("force:"))
        ),
        "plans.suite.jobs": float(len(jobs)),
        "plans.suite.stages": float(len(by_stage)),
        "plans.suite.driver_gap_s": wall
        - _covered([(t.launch, t.finish) for t in tasks], root.start, root.end),
        "plans.suite.core_busy_frac": run_s / (CORES * wall),
        "plans.audit.write_s": float(
            sum(log.jobs[j]["end"] - log.jobs[j]["submit"] for j in writing)
        ),
        "plans.resume.useful_read_frac": pending_rows / read_2 if read_2 else 0.0,
    }


def layer_report(
    log: EventLog,
    spans: list[Span],
    reps: list[int],
    counters: dict[int, dict[str, float]],
) -> dict[str, float]:
    """Median over ``reps`` of every per-layer metric."""
    rows = [rep_metrics(log, spans, r, counters.get(r, {})) for r in reps]
    return {name: statistics.median(row[name] for row in rows) for name in rows[0]}
