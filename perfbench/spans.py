"""Span recorder for the traced run.

Spans are recorded from the benchmark's side only: :meth:`Recorder.wrap`
replaces a public entry point of the package with a wrapper that opens a
span around the call, and the workloads open spans around their own calls
into each layer. Nothing in the package is edited; the wrappers exist only
in a traced run.

Each span holds its name, start, end, parent span and thread. A span that
may run Spark work gets its own job group, so the Spark jobs it starts are
attributed to it; at span end the status tracker gives their job, stage and
task counts. At the end of the run the Spark REST API (enabled for traced
runs) adds per-stage shuffle-write bytes, input records and the wait from
stage submission to first task launch. Spans stay in memory until the run
ends and are then written out in one file.
"""

from __future__ import annotations

import datetime as dt
import functools
import itertools
import json
import statistics
import sys
import threading
import time
import urllib.parse
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable, Iterator

JOB_GROUP = "spark.jobGroup.id"


class Span:
    __slots__ = ("id", "name", "parent", "thread", "start", "end", "group", "jobs", "stages", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None, group: str | None) -> None:
        self.id = sid
        self.name = name
        self.parent = parent
        self.thread = threading.get_ident()
        self.group = group
        self.start = self.end = 0.0
        self.jobs: list[int] = []
        self.stages: list[tuple[int, int]] = []  # (stage id, task count)
        self.attrs: dict[str, Any] = {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    """Collects spans from every thread; one instance per traced run."""

    def __init__(self) -> None:
        self.sc = None  # set once the SparkContext exists
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, *, spark: bool = True) -> Iterator[Span]:
        """Record one span. ``spark=False`` skips the job-group bookkeeping
        for layers that never start Spark work (cache, monitor)."""
        stack = self._stack()
        sid = next(self._ids)
        sc = self.sc if spark else None
        sp = Span(sid, name, stack[-1].id if stack else None, f"perfbench-{sid}" if sc else None)
        if sc is not None:
            sc.setLocalProperty(JOB_GROUP, sp.group)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sc is not None:
                outer = next((s.group for s in reversed(stack) if s.group), None)
                sc.setLocalProperty(JOB_GROUP, outer)
                self._count_jobs(sp)
            with self._lock:
                self.spans.append(sp)

    def _count_jobs(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        for job in sorted(tracker.getJobIdsForGroup(sp.group)):
            info = tracker.getJobInfo(job)
            sp.jobs.append(job)
            for stage in info.stageIds if info else ():
                si = tracker.getStageInfo(stage)
                sp.stages.append((stage, si.numTasks if si else 0))

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        *,
        spark: bool = True,
        on_result: Callable[[Span, tuple, Any], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args: Any, **kwargs: Any) -> Any:
            with self.span(name, spark=spark) as sp:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, result)
                return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def wrap_function(self, module: Any, attr: str, name: str, *, spark: bool = True) -> None:
        """Wrap a module-level function in its defining module and in every
        loaded module of the same package that imported it by name."""
        orig = getattr(module, attr)
        package = module.__name__.split(".")[0]
        for mod in list(sys.modules.values()):
            if (
                mod is not None
                and getattr(mod, "__name__", "").split(".")[0] == package
                and getattr(mod, attr, None) is orig
            ):
                self.wrap(mod, attr, name, spark=spark)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------------
    # after the run

    def stage_details(self) -> dict[int, dict[str, Any]]:
        """Per-stage figures from the REST API of the running application
        (always on this host: only the UI port is taken from the context)."""
        if self.sc is None or not self.sc.uiWebUrl:
            return {}
        port = urllib.parse.urlsplit(self.sc.uiWebUrl).port
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/stages"
        opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
        with opener.open(url, timeout=30) as resp:
            stages = json.load(resp)
        out: dict[int, dict[str, Any]] = {}
        for s in sorted(stages, key=lambda s: s.get("attemptId", 0)):
            sub, first = _rest_time(s.get("submissionTime")), _rest_time(s.get("firstTaskLaunchedTime"))
            out[s["stageId"]] = {
                "shuffle_write_bytes": s.get("shuffleWriteBytes", 0),
                "input_records": s.get("inputRecords", 0),
                "stage_wait_s": (first - sub) if sub is not None and first is not None else 0.0,
            }
        return out

    def summary(self) -> tuple[list[dict[str, Any]], dict[str, dict[str, Any]]]:
        """(span records, per-name aggregates). Self time is a span's
        duration minus its children's; job, task and stage figures are the
        span's own (jobs started while it was the innermost span), with
        ``*_incl`` totals over the span and all its descendants."""
        stages = self.stage_details()
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        # a later job can list an earlier job's (skipped) shuffle stage: each
        # stage belongs only to the first span that ran it
        claimed: set[int] = set()
        own_stages: dict[int, list[tuple[int, int]]] = {}
        for sp in sorted(self.spans, key=lambda s: s.end):
            own_stages[sp.id] = [(st, n) for st, n in sp.stages if st not in claimed]
            claimed.update(st for st, _ in sp.stages)

        def own(sp: Span) -> dict[str, float]:
            d = {"jobs": len(sp.jobs), "tasks": 0, "shuffle_write_bytes": 0, "input_records": 0, "stage_wait_s": 0.0}
            for st, n in own_stages[sp.id]:
                d["tasks"] += n
                for k, v in stages.get(st, {}).items():
                    d[k] += v
            return d

        cache: dict[int, dict[str, float]] = {}

        def incl(sp: Span) -> dict[str, float]:
            if sp.id not in cache:
                d = own(sp)
                for c in children.get(sp.id, ()):
                    for k, v in incl(c).items():
                        d[k] += v
                cache[sp.id] = d
            return cache[sp.id]

        records = []
        by_name: dict[str, list[dict[str, Any]]] = defaultdict(list)
        t0 = min((sp.start for sp in self.spans), default=0.0)
        for sp in sorted(self.spans, key=lambda s: s.start):
            rec = {
                "id": sp.id,
                "name": sp.name,
                "parent": sp.parent,
                "thread": sp.thread,
                "start": sp.start - t0,
                "end": sp.end - t0,
                "self_s": sp.duration - sum(c.duration for c in children.get(sp.id, ())),
                **own(sp),
                **{f"{k}_incl": v for k, v in incl(sp).items()},
                **sp.attrs,
            }
            records.append(rec)
            by_name[sp.name].append(rec)
        agg = {}
        for name, recs in by_name.items():
            durs = [r["end"] - r["start"] for r in recs]
            agg[name] = {
                "calls": len(recs),
                "total_s": sum(durs),
                "median_s": statistics.median(durs),
                "self_total_s": sum(r["self_s"] for r in recs),
                "median_self_s": statistics.median(r["self_s"] for r in recs),
                **{k: sum(r[k] for r in recs) for k in ("jobs", "tasks", "shuffle_write_bytes", "input_records", "stage_wait_s")},
                **{f"{k}_incl": sum(r[f"{k}_incl"] for r in recs) for k in ("jobs", "tasks", "shuffle_write_bytes", "input_records", "stage_wait_s")},
            }
        return records, agg


def _rest_time(s: str | None) -> float | None:
    """'2026-01-01T00:00:00.123GMT' → POSIX seconds."""
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
