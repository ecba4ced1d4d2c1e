"""Spans around the benchmark's calls into each layer, and the per-layer
numbers of a traced run.

A span is kept in memory for every layer call (name, start, end, parent,
workload, seed, rep) and written out with the run record.  In a traced run
each span also sets a Spark job group named after the layer, and the
per-stage numbers come from Spark's status REST API on the driver
(``/api/v1/applications/<id>/jobs`` and ``/stages``), which is only enabled
in traced runs.  The event log is not used: it grows by gigabytes on long
runs.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from datetime import datetime, timezone

#: layer calls the benchmark makes, in pipeline order
LAYERS = (
    "session",
    "sources.repos",
    "sources.ingest.roundtrip",
    "sources.ingest.extract",
    "sources.ingest.resolve",
    "functions.entropy",
    "functions.multilayer",
    "functions.ngd",
    "functions.distance_complexity",
    "plans.pagerank",
    "plans.components",
    "plans.labelprop",
    "plans.triangles",
    "plans.superstep.checkpoint",
    "plans.yearly",
    "plans.subjects",
    "operators.graph.ladder",
    "operators.dedup.exact",
    "operators.dedup.candidates",
    "operators.dedup.clusters",
)

#: layers called during set-up rather than in the timed section
SETUP_LAYERS = ("session", "sources.repos")

#: layers that also report GC time and spill
HEAVY = (
    "plans.pagerank",
    "plans.components",
    "plans.labelprop",
    "plans.yearly",
    "plans.subjects",
    "operators.dedup.clusters",
)

#: (suffix, unit) reported for every layer, then for the heavy ones
LAYER_FIELDS = (
    ("busy_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
)
HEAVY_FIELDS = (("gc_s", "s"), ("spill_mb", "MB"))


class Tracer:
    """Records spans; in a traced run also labels Spark jobs per span."""

    def __init__(self, workload: str, seed: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.traced = traced
        self.spans: list[dict] = []
        self.rep = 0  # 0 = set-up, 1.. = timed repetitions
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "seed": self.seed,
            "rep": self.rep,
        }
        rec["group"] = f"{name}#{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, rec: dict | None) -> None:
        if self.traced and self._sc is not None:
            if rec is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(rec["group"], rec["name"])

    def busy(self, name: str, rep: int) -> float:
        """Summed wall seconds of the spans ``name`` in repetition ``rep``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["rep"] == rep
        )


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return (
        datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def fetch_status(spark, settle_s: float = 60.0) -> tuple[list, list]:
    """All jobs and stages from the status REST API, once the listener bus
    has caught up (no running job and an unchanged job count)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + settle_s
    prev = None
    while True:
        jobs = _get(f"{base}/jobs")
        running = any(j["status"] in ("RUNNING", "UNKNOWN") for j in jobs)
        if (not running and prev == len(jobs)) or time.time() > deadline:
            break
        prev = len(jobs)
        time.sleep(0.2)
    stages = _get(f"{base}/stages")
    return jobs, stages


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


def layer_metrics(spans: list[dict], jobs: list, stages: list, rep: int) -> dict:
    """``<layer>.<field>`` -> value for every layer in ``LAYERS``, from the
    spans of repetition ``rep`` (set-up layers from the first set-up).
    Idle layers report zeros."""
    complete = {}
    for st in stages:
        if st.get("status") == "COMPLETE":
            complete.setdefault(st["stageId"], []).append(st)
    # a stage listed by several jobs (shuffle reuse) counts for the first
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            owner.setdefault(sid, j["jobId"])
    by_group: dict[str, list] = {}
    for j in jobs:
        if j.get("jobGroup"):
            by_group.setdefault(j["jobGroup"], []).append(j)

    out: dict[str, float] = {}
    for layer in LAYERS:
        # set-up layers run once per set-up repetition: report the first
        want = 0 if layer in SETUP_LAYERS else rep
        mine = [
            s for s in spans if s["name"] == layer and s["rep"] == want and "end" in s
        ]
        if layer in SETUP_LAYERS:
            mine = mine[:1]
        busy = driver = cpu_ns = shuffle_b = gc_ms = spill_b = 0.0
        n_jobs = 0
        for s in mine:
            js = by_group.get(s["group"], [])
            n_jobs += len(js)
            covered = []
            for j in js:
                a, b = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
                if a is not None and b is not None:
                    covered.append((max(a, s["start"]), min(b, s["end"])))
                for sid in j.get("stageIds", []):
                    if owner.get(sid) != j["jobId"]:
                        continue
                    for st in complete.get(sid, []):
                        cpu_ns += st.get("executorCpuTime", 0)
                        shuffle_b += st.get("shuffleWriteBytes", 0)
                        gc_ms += st.get("jvmGcTime", 0)
                        spill_b += st.get("memoryBytesSpilled", 0)
            wall = s["end"] - s["start"]
            busy += wall
            driver += wall - _union_length([c for c in covered if c[1] > c[0]])
        out[f"{layer}.busy_s"] = busy
        out[f"{layer}.driver_s"] = driver
        out[f"{layer}.jobs"] = n_jobs
        out[f"{layer}.cpu_s"] = cpu_ns / 1e9
        out[f"{layer}.shuffle_write_mb"] = shuffle_b / 1e6
        if layer in HEAVY:
            out[f"{layer}.gc_s"] = gc_ms / 1e3
            out[f"{layer}.spill_mb"] = spill_b / 1e6
    return out
