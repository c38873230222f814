"""Layer spans for the traced run.

The benchmark times the engine from outside: every span wraps one call
into a public function of one engine module. In the traced pass each
span runs under its own Spark job group; when the call returns, the
span reads its job, stage and task counts off Spark's public
StatusTracker for that group. After the session stops, the event log
(enabled through the launch configuration) supplies the task metrics
and the job intervals of each group, from which the driver's own time
per call (wall minus the union of the call's job time) follows.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from .agg import interval_union


def event_files(log_dir: str) -> list[str]:
    """Event-log files in write order: a single-file log, or the
    `events_<n>_<app>` parts of a rolling (v2) log directory."""
    out = []
    for d, _, files in os.walk(log_dir):
        for name in files:
            if name.startswith("events_"):
                out.append((int(name.split("_")[1]), os.path.join(d, name)))
            elif name.startswith(("app-", "local-")):
                out.append((0, os.path.join(d, name)))
    return [p for _, p in sorted(out)]


@dataclass
class Span:
    layer: str
    group: str
    start: float          # epoch seconds
    end: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_s: float = 0.0    # union of the group's job intervals (event log)
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    recording: bool = False
    _seq: int = 0

    @contextmanager
    def span(self, layer: str):
        """Times the body; while recording, also tags it with a job
        group and collects its StatusTracker counts."""
        if not self.recording:
            yield
            return
        self._seq += 1
        group = f"perfbench-{self._seq}-{layer}"
        self.sc.setJobGroup(group, layer)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(self._counts(Span(layer, group, start, end)))

    def _counts(self, s: Span) -> Span:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(s.group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue   # skipped stage (shuffle output reused)
                s.stages += 1
                s.tasks += si.numCompletedTasks
                s.failed_tasks += si.numFailedTasks
        return s

    def add_event_log(self, log_dir: str) -> None:
        """Fold the event log's job intervals and task metrics into the
        recorded spans, by job group."""
        by_group = {s.group: s for s in self.spans}
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        job_start: dict[int, float] = {}
        intervals: dict[str, list] = {}
        for path in event_files(log_dir):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if g in by_group:
                            jid = ev["Job ID"]
                            job_group[jid] = g
                            job_start[jid] = ev["Submission Time"] / 1000.0
                            for sid in ev.get("Stage IDs", []):
                                stage_group.setdefault(sid, g)
                    elif kind == "SparkListenerJobEnd":
                        jid = ev["Job ID"]
                        if jid in job_group:
                            intervals.setdefault(job_group[jid], []).append(
                                (job_start[jid], ev["Completion Time"] / 1000.0))
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics")
                        if g is None or not m:
                            continue
                        s = by_group[g]
                        s.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                        r = m.get("Shuffle Read Metrics", {})
                        s.shuffle_read_bytes += (r.get("Remote Bytes Read", 0)
                                                 + r.get("Local Bytes Read", 0))
                        w = m.get("Shuffle Write Metrics", {})
                        s.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
                        s.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
        for g, iv in intervals.items():
            by_group[g].job_s = interval_union(iv)

    def layer_seconds(self, layer: str) -> float:
        return sum(s.wall for s in self.spans if s.layer == layer)

    def totals(self) -> dict[str, float]:
        keys = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
        out = {k: sum(getattr(s, k) for s in self.spans) for k in keys}
        out["driver_self_s"] = sum(max(0.0, s.wall - s.job_s)
                                   for s in self.spans)
        return out
