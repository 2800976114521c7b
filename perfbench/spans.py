"""In-memory span tracer with Spark job-group attribution.

A span is (id, name, start, end, parent, request). Spans that can run
Spark work set a job group of their own for their duration and restore
the parent's on exit, so every job lands in exactly one span and job and
task counts are read back from ``statusTracker()`` after the run.

Tracing is installed from the benchmark's side only: ``install`` swaps
public entry points of the package for wrappers that open a span, and
``uninstall`` puts the originals back. Nothing in the package changes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.enabled = False
        self.request: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------- recording
    @contextlib.contextmanager
    def span(self, name: str, *, spark: bool = True):
        if not self.enabled:
            yield None
            return
        sid = self._next
        self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            "start": time.perf_counter(),
            "end": None,
            "group": None,
            "error": False,
        }
        if spark and self.sc is not None:
            rec["group"] = f"perfbench-{sid}"
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        try:
            yield rec
        except BaseException:
            rec["error"] = True
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if rec["group"] is not None:
                outer = next((s["group"] for s in reversed(self._stack) if s["group"]), None)
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(outer, outer)
            self.spans.append(rec)

    def wrap(self, owner: object, attr: str, name: str, *, spark: bool = True, result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``.
        ``result(out, *args, **kwargs)`` maps the return value and the
        call's arguments to a value kept on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, spark=spark) as rec:
                out = orig(*args, **kwargs)
                if rec is not None and result is not None:
                    rec["result"] = result(out, *args, **kwargs)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ analysis
    def resolve_jobs(self) -> None:
        """Attach ``jobs`` and ``tasks`` (completed tasks of the stages the
        span's own jobs ran first) to every span that set a job group."""
        if self.sc is None:
            return
        drain_listener_bus(self.sc)
        tracker = self.sc.statusTracker()
        owner_of_stage: dict[int, int] = {}
        by_job: dict[int, dict] = {}
        for rec in self.spans:
            rec["jobs"] = []
            rec["tasks"] = 0
            if rec["group"] is None:
                continue
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["group"]))
            for j in rec["jobs"]:
                by_job[j] = rec
        for j in sorted(by_job):
            info = tracker.getJobInfo(j)
            for st in info.stageIds if info is not None else []:
                if st in owner_of_stage:
                    continue  # a skipped stage: its tasks ran in an earlier job
                owner_of_stage[st] = j
                sinfo = tracker.getStageInfo(st)
                if sinfo is not None:
                    by_job[j]["tasks"] += sinfo.numCompletedTasks

    def children(self) -> dict[int | None, list[dict]]:
        kids: dict[int | None, list[dict]] = defaultdict(list)
        for rec in self.spans:
            kids[rec["parent"]].append(rec)
        return kids

    def annotate(self) -> None:
        """Add ``self_s`` and inclusive ``jobs_incl``/``tasks_incl``."""
        kids = self.children()
        for rec in self.spans:
            rec["self_s"] = self_time(
                rec["start"], rec["end"], [(c["start"], c["end"]) for c in kids[rec["id"]]]
            )
        for rec in self.spans:  # appended on exit, so children come first
            rec["jobs_incl"] = len(rec.get("jobs", [])) + sum(c["jobs_incl"] for c in kids[rec["id"]])
            rec["tasks_incl"] = rec.get("tasks", 0) + sum(c["tasks_incl"] for c in kids[rec["id"]])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps({k: v for k, v in rec.items() if k != "group"}) + "\n")


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of [start, end] its children cover
    (overlapping children are counted once)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def drain_listener_bus(sc) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status tracker knows all jobs and stage task counts."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:
        time.sleep(1.0)
