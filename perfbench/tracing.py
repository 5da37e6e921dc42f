"""Traced runs: spans around the benchmark's calls into the program, Spark
jobs read back from Spark's own event log, and per-layer self time.

Nothing here reaches into the program. Three sources are combined:

* **Spans** — the benchmark records one span (name, layer, start, end) around
  each public call it makes, and tags the call's jobs with ``setJobGroup``.
* **Call sites** — :class:`CallSiteTagger` wraps py4j's ``JavaMember.__call__``
  so that before a JVM call from inside the program it stores the innermost
  program frame, as ``<file>:<function>``, in the local property
  ``perfbench.site``; Spark copies local properties onto every job it starts,
  so the site reaches the event log.  Function names, never line numbers,
  identify a site.
* **The event log** — :func:`read_event_logs` turns job, stage, task and
  SQL-execution events into :class:`Job` records with their task metrics.

:func:`attribute` then splits each span's wall time into self time per
category: every instant with no Spark job running is the span layer's
``driver`` time; an instant with jobs running is shared equally among the
categories the workload's classifier gives those jobs.  The categories of a
span therefore add up to its wall time exactly.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

SITE_KEY = "perfbench.site"
UNATTRIBUTED = "unattributed"


@dataclass
class Span:
    name: str
    layer: str
    t0: float  # epoch seconds
    t1: float
    op: str = ""  # the operation this span belongs to, for per-op counts
    jobs: list = field(default_factory=list)
    self_s: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


def _active_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Spans:
    """In-memory span recorder; tags each span's jobs with a job group."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []

    def record(self, name: str, layer: str, fn, op: str = ""):
        sc = _active_context()
        sc.setJobGroup(f"{self.run_id}:{len(self.spans)}", name)
        t0 = time.time()
        try:
            return fn()
        finally:
            self.spans.append(Span(name, layer, t0, time.time(), op or name))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


class CallSiteTagger:
    """Stores the innermost program frame of each JVM call as a Spark local
    property, so every job carries the program function that started it."""

    def __init__(self, root: str) -> None:
        self.prefixes = (
            os.path.join(root, "patito_spark") + os.sep,
            os.path.join(root, "__spark_entry__.py"),
        )
        self.root = root
        self._local = threading.local()
        self._sites: dict = {}
        self._original = None

    def reset(self) -> None:
        """Forget the sites set so far: a new SparkContext starts without them."""
        self._local = threading.local()

    def _site(self, frame) -> str:
        while frame is not None:
            code = frame.f_code
            site = self._sites.get(code)
            if site is None:
                fn = code.co_filename
                site = ""
                if fn.startswith(self.prefixes):
                    site = f"{os.path.relpath(fn, self.root)}:{code.co_qualname}"
                self._sites[code] = site
            if site:
                return site
            frame = frame.f_back
        return ""

    def install(self) -> None:
        from py4j.java_gateway import JavaMember

        original = JavaMember.__call__
        tagger = self

        def __call__(member, *args):
            state = tagger._local
            if not getattr(state, "busy", False):
                site = tagger._site(sys._getframe(1))
                if site != getattr(state, "site", None):
                    state.busy = True
                    try:
                        _active_context()._jsc.setLocalProperty(SITE_KEY, site or None)
                    finally:
                        state.busy = False
                    state.site = site
            return original(member, *args)

        self._original = original
        JavaMember.__call__ = __call__

    def uninstall(self) -> None:
        if self._original is not None:
            from py4j.java_gateway import JavaMember

            JavaMember.__call__ = self._original
            self._original = None


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    t0: float  # epoch seconds
    t1: float
    site: str
    group: str
    stage_name: str
    sql_id: int | None
    stage_ids: list
    sql_description: str = ""
    sql_plan: str = ""
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0


_SKIP_EVENTS = (
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptive',
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerDriverAccum',
    '{"Event":"SparkListenerTaskStart"',
    '{"Event":"SparkListenerBlockUpdated"',
)


def read_event_logs(log_dir: str) -> list[Job]:
    """Jobs of every SparkContext that logged to *log_dir* (one file each)."""
    jobs = []
    for name in sorted(os.listdir(log_dir)):
        jobs += _read_event_log(os.path.join(log_dir, name))
    return sorted(jobs, key=lambda j: (j.t0, j.job_id))


def _read_event_log(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, tuple] = {}
    with open(path) as fh:
        for line in fh:
            if line.startswith(_SKIP_EVENTS):
                continue
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                infos = e.get("Stage Infos") or []
                sql_id = props.get("spark.sql.execution.id")
                job = Job(
                    job_id=e["Job ID"],
                    t0=e["Submission Time"] / 1000.0,
                    t1=e["Submission Time"] / 1000.0,
                    site=props.get(SITE_KEY) or "",
                    group=props.get("spark.jobGroup.id") or "",
                    stage_name=infos[-1]["Stage Name"] if infos else "",
                    sql_id=int(sql_id) if sql_id is not None else None,
                    stage_ids=list(e.get("Stage IDs") or []),
                )
                jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job.setdefault(sid, job.job_id)
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]].t1 = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"]))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.run_s += m.get("Executor Run Time", 0) / 1e3
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1e3
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                inp = m.get("Input Metrics") or {}
                job.input_bytes += inp.get("Bytes Read", 0)
                job.input_records += inp.get("Records Read", 0)
                job.output_bytes += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0
                )
                job.spill_bytes += m.get("Disk Bytes Spilled", 0)
            elif ev.endswith("SparkListenerSQLExecutionStart"):
                sql[e["executionId"]] = (
                    e.get("description") or "",
                    e.get("physicalPlanDescription") or "",
                )
    for job in jobs.values():
        if job.sql_id in sql:
            job.sql_description, job.sql_plan = sql[job.sql_id]
    return list(jobs.values())


# ---------------------------------------------------------------------------
# Attribution
# ---------------------------------------------------------------------------


def attribute(spans: list[Span], jobs: list[Job], classify) -> None:
    """Fill ``span.jobs`` and ``span.self_s``; ``classify(job, span)`` names
    a job's category (``UNATTRIBUTED`` when the classifier cannot)."""
    for span in spans:
        # event-log times have millisecond resolution
        mine = [j for j in jobs if span.t0 - 0.002 <= j.t0 <= span.t1]
        span.jobs = mine
        cuts = sorted(
            {span.t0, span.t1}
            | {min(max(t, span.t0), span.t1) for j in mine for t in (j.t0, j.t1)}
        )
        cats = {id(j): classify(j, span) for j in mine}
        self_s: dict[str, float] = {}
        for a, b in zip(cuts, cuts[1:]):
            if b <= a:
                continue
            active = [j for j in mine if j.t0 <= a and j.t1 >= b]
            if not active:
                key = f"{span.layer}.driver"
                self_s[key] = self_s.get(key, 0.0) + (b - a)
                continue
            share = (b - a) / len(active)
            for j in active:
                key = cats[id(j)]
                self_s[key] = self_s.get(key, 0.0) + share
        span.self_s = self_s


def totals(spans: list[Span]) -> dict:
    """Whole-trace sums over spans and their jobs."""
    self_s: dict[str, float] = {}
    for s in spans:
        for k, v in s.self_s.items():
            self_s[k] = self_s.get(k, 0.0) + v
    jobs = [j for s in spans for j in s.jobs]
    wall = sum(s.wall_s for s in spans)
    driver = sum(v for k, v in self_s.items() if k.endswith(".driver"))
    unattributed = sum(v for k, v in self_s.items() if k.endswith(UNATTRIBUTED))
    return {
        "wall_s": wall,
        "self_s": self_s,
        "self_sum_s": sum(self_s.values()),
        "driver_s": driver,
        "job_s": wall - driver,
        "attributed_share": (wall - unattributed) / wall if wall else 0.0,
        "jobs": len(jobs),
        "tasks": sum(j.tasks for j in jobs),
        "exec_run_s": sum(j.run_s for j in jobs),
        "exec_cpu_s": sum(j.cpu_s for j in jobs),
        "task_gc_s": sum(j.gc_s for j in jobs),
        "shuffle_mb": sum(j.shuffle_write_bytes for j in jobs) / 1e6,
        "scan_mb": sum(j.input_bytes for j in jobs) / 1e6,
        "records_read": sum(j.input_records for j in jobs),
        "written_mb": sum(j.output_bytes for j in jobs) / 1e6,
        "spill_mb": sum(j.spill_bytes for j in jobs) / 1e6,
    }


def is_write(job: Job) -> bool:
    return "InsertIntoHadoopFsRelationCommand" in job.sql_plan
