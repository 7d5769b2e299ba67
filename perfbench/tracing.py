"""Spans around each layer call, and Spark's own counts attributed to them.

A ``Tracer`` keeps spans in memory: op id, layer, start, end and parent.
Each span tags the Spark jobs it submits with a job group named after
it.  After the traced phase, ``attribute`` reads the Spark event log and
assigns every job, stage and task to the span whose group it carries;
jobs from threads the span does not own (a streaming query's micro-batch
thread sets its own group) fall to the innermost span open at their
submission time.  Micro-batches are counted by a
``StreamingQueryListener`` the benchmark attaches for the traced phase.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench."


@dataclass
class Span:
    op: int
    layer: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    # Spark work attributed to this span by the event log
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_s: float = 0.0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    sched_delay_s: float = 0.0
    input_b: int = 0
    output_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    plan_phases: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.op}.{self.layer}"

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def record(self, self_s: float) -> dict:
        return {
            "op": self.op, "layer": self.layer, "start": self.start,
            "end": self.end, "parent": self.parent, "self_s": self_s,
            "jobs": self.jobs, "stages": self.stages, "tasks": self.tasks,
            "job_s": self.job_s, "output_b": self.output_b,
            "plan_phases": self.plan_phases,
        }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, op: int, layer: str, parent: str | None = "op"):
        s = Span(op, layer, time.time(), 0.0, parent)
        if parent is not None:
            self.sc.setJobGroup(s.group, f"perfbench op {op} {layer}")
        try:
            yield s
        finally:
            s.end = time.time()
            self.spans.append(s)
            if parent is None:  # untag the untraced work that follows
                self.sc.setJobGroup(GROUP_PREFIX + "untraced", "untraced")

    def write(self, path: str) -> None:
        """Write the spans as JSON lines, each with its self time: an op's
        wall minus its layer spans, a layer's span minus its Spark jobs."""
        layers: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                layers[s.op] = layers.get(s.op, 0.0) + s.seconds
        with open(path, "w") as f:
            for s in self.spans:
                busy = s.job_s if s.parent is not None else layers.get(s.op, 0.0)
                f.write(json.dumps(s.record(s.seconds - busy)) + "\n")


def plan_phases(df) -> dict[str, float]:
    """Force the physical plan and return Catalyst's phase times (s)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def _event_log(events_dir: str, app_id: str) -> str:
    hits = glob.glob(os.path.join(events_dir, app_id + "*"))
    if len(hits) != 1:
        raise RuntimeError(f"expected one event log for {app_id}, found {hits}")
    return hits[0]


def attribute(spans: list[Span], events_dir: str, app_id: str) -> int:
    """Add the event log's jobs, stages and tasks to ``spans``.  Returns
    the number of jobs submitted during a traced op that fell outside
    every layer span."""
    by_group = {s.group: s for s in spans if s.parent is not None}
    layer_spans = sorted(by_group.values(), key=lambda s: s.start)
    roots = [s for s in spans if s.parent is None]

    def owner(props: dict, t_ms: float) -> Span | None:
        s = by_group.get((props or {}).get("spark.jobGroup.id", ""))
        if s is not None:
            return s
        t = t_ms / 1000.0
        inside = [x for x in layer_spans if x.start <= t <= x.end]
        return inside[-1] if inside else None

    jobs: dict[int, tuple[Span | None, float]] = {}
    stage_owner: dict[tuple[int, int], Span | None] = {}
    orphans = 0
    with open(_event_log(events_dir, app_id)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                s = owner(ev.get("Properties"), ev["Submission Time"])
                jobs[ev["Job ID"]] = (s, ev["Submission Time"])
                if s is None:
                    t = ev["Submission Time"] / 1000.0
                    orphans += any(r.start <= t <= r.end for r in roots)
                else:
                    s.jobs += 1
            elif kind == "SparkListenerJobEnd":
                s, t0 = jobs.get(ev["Job ID"], (None, 0))
                if s is not None:
                    s.job_s += (ev["Completion Time"] - t0) / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                s = owner(ev.get("Properties"), info.get("Submission Time", 0))
                stage_owner[(info["Stage ID"], info["Stage Attempt ID"])] = s
                if s is not None:
                    s.stages += 1
            elif kind == "SparkListenerTaskEnd":
                s = stage_owner.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if s is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                s.tasks += 1
                s.failed_tasks += bool(info.get("Failed")) or bool(info.get("Killed"))
                run_ms = m.get("Executor Run Time", 0)
                overhead = m.get("Executor Deserialize Time", 0) + m.get(
                    "Result Serialization Time", 0
                )
                busy = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                s.task_run_s += run_ms / 1000.0
                s.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                s.sched_delay_s += max(0, busy - run_ms - overhead
                                       - info.get("Getting Result Time", 0)) / 1000.0
                s.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                s.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                s.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                s.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                s.spill_b += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return orphans


def stream_listener(spark):
    """Attach a listener that records every micro-batch's (start time in
    epoch seconds, trigger duration in ms); returns (listener, batches)."""
    import datetime as dt

    from pyspark.sql.streaming import StreamingQueryListener

    batches: list[tuple[float, float]] = []

    class _Batches(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = dt.datetime.fromisoformat(p.timestamp).timestamp()
            batches.append((start, float(p.durationMs.get("triggerExecution", 0))))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Batches()
    spark.streams.addListener(listener)
    return listener, batches
