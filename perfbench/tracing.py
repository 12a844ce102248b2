"""Spans around the benchmark's calls into the engine, and the per-layer table.

A span is (id, name, parent, start, end), kept in memory by :class:`Tracer`
and written out once at the end of a run. Start and end are epoch seconds
taken from one monotonic clock, so they line up with the timestamps of
Spark's event log. When the tracer is given a SparkContext it also sets a
Spark job group per span; :func:`layer_table` then folds the event log's
job, stage and task records into ten columns per layer.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# The engine calls the benchmark wraps, named module.function.
LAYERS = (
    "graph.from_edges",
    "louvain.louvain_level",
    "louvain.coarsen",
    "louvain.louvain",
    "pagerank.pagerank",
    "components.components",
    "labelprop.label_propagation",
    "metrics.kcore",
    "triangles.triangles_per_vertex",
    "triangles.clustering_coefficients",
)
COLUMNS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("driver_gap_s", "s"),
    ("exec_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
_GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self):
        self.sc = None  # a SparkContext here makes every span a Spark job group
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._epoch0 = time.time()
        self._mono0 = time.perf_counter()

    def now(self) -> float:
        return self._epoch0 + (time.perf_counter() - self._mono0)

    def _set_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"{_GROUP_PREFIX}{rec['id']}", rec["name"])

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": self.now(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


def read_event_log(path) -> dict:
    """Jobs (group, interval, stages) and per-stage task totals of one
    uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_runs: dict[int, int] = defaultdict(int)
    tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stage_runs[ev["Stage Info"]["Stage ID"]] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                t = tasks[ev["Stage ID"]]
                t["tasks"] += 1
                t["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                t["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stage_runs": stage_runs, "tasks": tasks}


def layer_table(log: dict, spans: list[dict]) -> dict[str, dict[str, float]]:
    """Ten columns for every layer in :data:`LAYERS` (zeros for a layer the
    run did not call). A layer called more than once gets, per column, the
    median over its calls, so a row describes one call whatever the number
    of repetitions. A stage is charged to the first job that lists it --
    later jobs that list it skip it."""
    span_of_group = {f"{_GROUP_PREFIX}{s['id']}": s for s in spans}
    stage_owner: dict[int, int] = {}
    for jid in sorted(log["jobs"]):
        for sid in log["jobs"][jid]["stages"]:
            stage_owner.setdefault(sid, jid)
    jobs_of_span: dict[int, list[int]] = defaultdict(list)
    for jid, job in log["jobs"].items():
        span = span_of_group.get(job["group"])
        if span is not None:
            jobs_of_span[span["id"]].append(jid)

    calls: dict[str, list[dict[str, float]]] = defaultdict(list)
    for span in spans:
        if span["name"] not in LAYERS or span["end"] is None:
            continue
        row = {c: 0.0 for c, _ in COLUMNS}
        jids = set(jobs_of_span.get(span["id"], []))
        wall = span["end"] - span["start"]
        busy = _union_within(
            [(log["jobs"][j]["start"], log["jobs"][j]["end"] or span["end"]) for j in jids],
            span["start"], span["end"],
        )
        row["wall_s"] = wall
        row["jobs"] = len(jids)
        row["driver_gap_s"] = wall - busy
        for sid, jid in stage_owner.items():
            if jid not in jids:
                continue
            row["stages"] += log["stage_runs"].get(sid, 0)
            for col, v in log["tasks"].get(sid, {}).items():
                row[col] += v
        calls[span["name"]].append(row)
    return {
        layer: {c: (statistics.median(r[c] for r in calls[layer]) if calls[layer] else 0.0)
                for c, _ in COLUMNS}
        for layer in LAYERS
    }


def exec_cpu_total(log: dict) -> float:
    return sum(t["exec_cpu_s"] for t in log["tasks"].values())
