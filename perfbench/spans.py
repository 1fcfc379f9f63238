"""In-memory spans around calls into the library, and the Spark event-log
fold that attributes tasks, queueing, shuffle and Python-boundary bytes
to each span through the job group the span sets.

A span is a dict: id, name, parent, pass, start, end (perf_counter
seconds), group (the Spark job group id, or None when untraced) and
rows (the row count the benchmark observed, or None).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class Tracer:
    """Records spans. With ``sc`` set, each span runs its Spark jobs under
    its own job group so the event log can be folded per span; without
    it (the untraced run) spans are plain timers."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, pass_id: int | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "pass": pass_id if pass_id is not None else (parent["pass"] if parent else None),
            "start": time.perf_counter(), "end": None, "group": None, "rows": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval that its direct
    children cover (children may overlap each other; their union counts
    once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "queue_s": 0.0, "shuffle_mb": 0.0, "py_mb": 0.0}


def fold_event_log(lines) -> dict[str | None, dict]:
    """Fold Spark event-log JSON lines by job group.

    Per group: jobs, tasks (task ends), queue_s (task launch minus its
    stage's submission, summed), shuffle_mb (shuffle bytes written) and
    py_mb (the SQL metrics for data sent to plus returned from Python
    workers). Jobs without a group fold under ``None``.
    """
    stage_group: dict[int, str | None] = {}
    submitted: dict[tuple[int, int], int] = {}
    out: dict[str | None, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # a line cut short by a log still being written
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            out.setdefault(group, _empty())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if info.get("Submission Time") is not None:
                submitted[(info["Stage ID"], info["Stage Attempt ID"])] = info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            agg = out.setdefault(group, _empty())
            agg["tasks"] += 1
            info = ev.get("Task Info", {})
            sub = submitted.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
            if sub is not None and info.get("Launch Time") is not None:
                agg["queue_s"] += max(info["Launch Time"] - sub, 0) / 1000.0
            metrics = ev.get("Task Metrics") or {}
            written = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            agg["shuffle_mb"] += written / 1e6
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in (PY_SENT, PY_RETURNED):
                    agg["py_mb"] += float(acc.get("Update", 0)) / 1e6
    return out
