"""In-memory span recorder and Spark stage counters for the traced run.

A span is one call from the benchmark into a layer's public function. It
records name, start, end, parent span and operation id, plus whatever the
workload attaches (``call_s``, ``action_s``). While a span is open its
Spark jobs carry the job group ``span-<id>``, so the stage counters of the
Spark UI REST API can be attributed to it once the run is over. Nothing is
written or fetched while the workload is being timed.

With tracing off every method is a cheap no-op, so the untraced run pays
for no bookkeeping.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import urllib.request
from datetime import datetime

# The eight layer spans the per-layer metrics are reported for.
LAYER_SPANS = (
    "index.build_sketch_store",
    "search.join",
    "search.union",
    "search.subset",
    "search.vector_topk",
    "ingest.quality_score",
    "ingest.ingest_dedup_commit",
    "ingest.compact_signature_store",
)
SPAN_FIELDS = (
    "calls", "call_s", "action_s", "self_s", "jobs", "stages", "tasks", "input_mb",
    "shuffle_write_mb", "spill_mb", "executor_busy_s", "driver_gap_s",
)


class Tracer:
    def __init__(self, spark, available: bool):
        self.sc = spark.sparkContext
        self.available = available  # traced run: Spark UI is on
        self.enabled = False  # toggled per operation
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_id = 0
        self.attributed = False

    @contextlib.contextmanager
    def span(self, name: str, op_id: int):
        """Record one span; yields a dict the caller may annotate."""
        if not self.enabled:
            yield {}
            return
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "name": name,
            "op": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span-{self._stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def wrap(self, fn, name: str, op_of):
        """Wrap a module function so each call is a span (traced ops only)."""

        def wrapped(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, op_of()):
                return fn(*args, **kwargs)

        return wrapped

    # ------------------------------------------------------------------
    # post-run attribution

    def _api(self, path: str):
        with urllib.request.urlopen(self.sc.uiWebUrl + path, timeout=30) as r:
            return json.loads(r.read())

    def _settled_jobs(self, timeout_s: float = 30.0) -> list[dict]:
        """Jobs list once the UI store has caught up: listener events land
        after the job returns, so poll until two reads agree and nothing
        is running."""
        app = self.sc.applicationId
        prev = None
        deadline = time.time() + timeout_s
        while True:
            jobs = self._api(f"/api/v1/applications/{app}/jobs")
            key = sorted((j["jobId"], j["status"]) for j in jobs)
            if key == prev and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.time() > deadline:
                return jobs
            prev = key
            time.sleep(0.3)

    def attribute_stages(self) -> None:
        """Attach Spark job/stage counters to every recorded span; a
        span's counters include those of its descendants."""
        if self.attributed or not self.spans:
            return
        self.attributed = True
        app = self.sc.applicationId
        jobs = self._settled_jobs()
        stages: dict[int, list[dict]] = {}
        for s in self._api(f"/api/v1/applications/{app}/stages"):
            stages.setdefault(s["stageId"], []).append(s)
        by_group: dict[str, list[dict]] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        children: dict[int, list[int]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp["id"])

        def subtree(sid: int) -> list[int]:
            out = [sid]
            for c in children.get(sid, []):
                out += subtree(c)
            return out

        by_id = {sp["id"]: sp for sp in self.spans}
        for sp in self.spans:
            sp_jobs = [j for sid in subtree(sp["id"]) for j in by_group.get(f"span-{sid}", [])]
            run = [
                a
                for j in sp_jobs
                for sid in j["stageIds"]
                for a in stages.get(sid, [])
                if a["status"] != "SKIPPED"
            ]
            windows = sorted(
                (max(_ts(a["submissionTime"]), sp["start"]), min(_ts(a["completionTime"]), sp["end"]))
                for a in run
                if a.get("submissionTime") and a.get("completionTime")
            )
            wall = sp["end"] - sp["start"]
            kids = [by_id[c] for c in children.get(sp["id"], [])]
            sp.update(
                jobs=len(sp_jobs),
                stages=len(run),
                tasks=sum(a["numTasks"] for a in run),
                input_mb=sum(a.get("inputBytes", 0) for a in run) / 1e6,
                input_rows=sum(a.get("inputRecords", 0) for a in run),
                shuffle_write_mb=sum(a.get("shuffleWriteBytes", 0) for a in run) / 1e6,
                spill_mb=sum(a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0) for a in run) / 1e6,
                executor_busy_s=sum(a.get("executorRunTime", 0) for a in run) / 1e3,
                driver_gap_s=max(wall - _union_length(windows), 0.0),
                self_s=wall - sum(k["end"] - k["start"] for k in kids),
            )

    def layer_metrics(self) -> dict[str, float]:
        """Per-call medians for each layer span (0 for spans this workload
        never calls), plus the call count."""
        out: dict[str, float] = {}
        for name in LAYER_SPANS:
            recs = [s for s in self.spans if s["name"] == name]
            out[f"{name}.calls"] = float(len(recs))
            for f in SPAN_FIELDS[1:]:
                vals = [float(r.get(f, 0.0)) for r in recs]
                out[f"{name}.{f}"] = statistics.median(vals) if vals else 0.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=0)


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_length(windows: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in windows:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
