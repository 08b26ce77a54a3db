"""Spans, in-loop boundaries and Spark event-log attribution.

Everything here wraps public entry points of ``graphina_spark`` from the
outside; no library file changes.

- :class:`Recorder` keeps spans (name, start, end, parent) and per-name
  timestamp marks in memory; a traced run writes them out when it ends.
- :func:`instrument` wraps ``AdjShards.gather``, ``CheckpointManager.save``,
  the label-propagation argmax and the components materialize step, so each
  call leaves a mark.  Successive marks are superstep boundaries taken inside
  the loop, not differences between runs of different length.
- :func:`layer_events` reads a Spark event log and sums task metrics per job
  group, plus the time inside a layer's span in which none of its jobs ran
  (``driver_gap_s``).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.marks: dict[str, list[float]] = defaultdict(list)
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        start = time.time()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": start, "end": time.time(), "parent": parent}
            )

    def mark(self, name: str) -> None:
        self.marks[name].append(time.time())

    def last(self, name: str) -> dict:
        return [s for s in self.spans if s["name"] == name][-1]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def steps(self, mark: str, span: dict) -> list[float]:
        """Durations between successive ``mark`` timestamps inside ``span``;
        the last step ends where the span ends."""
        ts = [t for t in self.marks[mark] if span["start"] <= t <= span["end"]]
        return [b - a for a, b in zip(ts, ts[1:] + [span["end"]])]


def instrument(rec: Recorder) -> None:
    """Make the superstep kernels leave marks in ``rec``.  Wraps class and
    module attributes for the life of the process."""
    from graphina_spark.operators import components, lpa
    from graphina_spark.plans.checkpoint import CheckpointManager
    from graphina_spark.plans.shards import AdjShards

    gather = AdjShards.gather

    def traced_gather(self, *a, **kw):
        rec.mark("gather")
        with rec.span("shards.gather_plan"):
            return gather(self, *a, **kw)

    save = CheckpointManager.save

    def traced_save(self, *a, **kw):
        with rec.span("checkpoint.save"):
            return save(self, *a, **kw)

    argmax = lpa.argmax_long

    def traced_argmax(*a, **kw):
        rec.mark("lpa.round")
        return argmax(*a, **kw)

    mat = components._mat

    def traced_mat(*a, **kw):
        rec.mark("components.materialize")
        return mat(*a, **kw)

    AdjShards.gather = traced_gather
    CheckpointManager.save = traced_save
    lpa.argmax_long = traced_argmax
    components._mat = traced_mat


# reported per layer; disk spill is never populated at the benchmark's size
EVENT_FIELDS = {  # field -> unit
    "jobs": "count", "tasks": "count", "failed_tasks": "count", "task_s": "s",
    "gc_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "max_task_ms": "ms", "median_task_ms": "ms", "driver_gap_s": "s",
}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _event_lines(log_dir: str):
    """Lines of the single application log in ``log_dir``: one file, or a
    rolling-log directory of ``events_<n>_<app>`` files."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    files = [path]
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n)
                 for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    for fn in files:
        with open(fn) as f:
            yield from f


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """(jobs, tasks_by_job) from the application log in ``log_dir``.
    jobs: id -> {group, start, end}; times in seconds."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            tasks[jid].append({
                "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
                "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "read_b": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                "write_b": wr.get("Shuffle Bytes Written", 0),
            })
    return jobs, tasks


def layer_events(log_dir: str, layer_spans: dict[str, list[dict]]) -> dict[str, dict]:
    """Per layer (= job group): summed task metrics over its jobs, and
    ``driver_gap_s``: the time inside the layer's spans during which none of
    its jobs was running."""
    jobs, tasks = read_event_log(log_dir)
    out = {}
    for layer, spans in layer_spans.items():
        jids = [j for j, v in jobs.items() if v["group"] == layer]
        ts = [t for j in jids for t in tasks.get(j, [])]
        ms = sorted(t["ms"] for t in ts)
        busy = 0.0
        for s in spans:
            clipped = [
                (max(jobs[j]["start"], s["start"]), min(jobs[j]["end"] or s["end"], s["end"]))
                for j in jids
            ]
            busy += _union_length([(a, b) for a, b in clipped if b > a])
        span_s = sum(s["end"] - s["start"] for s in spans)
        out[layer] = {
            "jobs": len(jids),
            "tasks": len(ts),
            "failed_tasks": sum(t["failed"] for t in ts),
            "task_s": sum(t["run_ms"] for t in ts) / 1000.0,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1000.0,
            "shuffle_read_mb": sum(t["read_b"] for t in ts) / 1e6,
            "shuffle_write_mb": sum(t["write_b"] for t in ts) / 1e6,
            "max_task_ms": float(ms[-1]) if ms else 0.0,
            "median_task_ms": float(statistics.median(ms)) if ms else 0.0,
            "driver_gap_s": span_s - busy,
        }
    return out
