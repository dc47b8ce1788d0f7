"""Spans around the calls into each engine module, joined with Spark's
event log.

The benchmark opens a span around every request it sends and around the
``collect`` that materializes a result. With tracing on, ``Tracer.install``
also wraps the public functions of ``session``, ``build``, ``deletes``,
``query`` and ``append`` (every module attribute bound to them, so calls
between engine modules are caught too). Spark jobs are attributed to the
innermost span whose wall-clock window holds the job's submission time;
with one client thread the windows never overlap.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import sys
import time
from dataclasses import dataclass, field

# (module, function) -> span name; span names are the per-layer prefixes
WRAPPED = (
    ("session", "get_spark", "session.get_spark"),
    ("build", "build_index", "build.build_index"),
    ("build", "load_index", "build.load_index"),
    ("deletes", "load_tombstones", "deletes.load_tombstones"),
    ("query", "plan_queries", "query.plan_queries"),
    ("query", "search", "query.search"),
    ("query", "bool_search", "query.bool_search"),
    ("query", "phrase_search", "query.phrase_search"),
    ("query", "search_mining", "query.search_mining"),
    ("append", "append_index", "append.append_index"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled=False`` records only what the untraced run
    needs (request walls), through the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time()))
        sid = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def install(self) -> None:
        """Wrap the engine's public functions (tracing on only)."""
        if not self.enabled:
            return
        for mod_name, _fn, _span in WRAPPED:
            importlib.import_module(f"elastichash_spark.{mod_name}")
        mods = [m for n, m in list(sys.modules.items())
                if n == "elastichash_spark" or n.startswith("elastichash_spark.")]
        for mod_name, fn_name, span_name in WRAPPED:
            orig = getattr(sys.modules[f"elastichash_spark.{mod_name}"], fn_name)
            wrapper = self._wrap(orig, span_name)
            for mod in mods:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        self._undo.append((mod, attr, orig))
                        setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._undo):
            setattr(mod, attr, orig)
        self._undo.clear()

    def _wrap(self, fn, name: str):
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    # ---- event log -----------------------------------------------------

    def attribute_jobs(self, event_log_dir: str) -> int:
        """Read the (uncompressed, single-file) event log and hang every job,
        with its stages' task metrics, on the innermost covering span.
        Returns the number of jobs no span covers."""
        jobs = read_event_log(event_log_dir)
        loose = 0
        for job in jobs:
            sid = self._innermost(job["submit"])
            if sid is None:
                loose += 1
            else:
                self.spans[sid].jobs.append(job)
        return loose

    def _innermost(self, t: float) -> int | None:
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t <= s.end and (best is None or s.start >= self.spans[best].start):
                best = i
        return best

    def subtree_jobs(self, sid: int) -> list[dict]:
        out = list(self.spans[sid].jobs)
        for c in self.spans[sid].children:
            out.extend(self.subtree_jobs(c))
        return out

    def find(self, name: str, under: int | None = None) -> list[int]:
        """Ids of spans called ``name`` (inside span ``under`` if given)."""
        if under is None:
            return [i for i, s in enumerate(self.spans) if s.name == name]
        out = []
        for c in self.spans[under].children:
            if self.spans[c].name == name:
                out.append(c)
            out.extend(self.find(name, c))
        return out


def read_event_log(event_log_dir: str) -> list[dict]:
    """Jobs of the newest application log in ``event_log_dir``: submit and
    end times (epoch seconds), description, and per-job sums over the
    tasks of its stages."""
    logs = sorted(glob.glob(os.path.join(event_log_dir, "*")), key=os.path.getmtime)
    if not logs:
        raise RuntimeError(f"no Spark event log in {event_log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(logs[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0, "end": None,
                    "stages": set(), "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                    "shuffle_write": 0, "spill": 0,
                }
                for st in ev.get("Stage IDs", []):
                    stage_job[st] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                job = jobs[jid]
                job["stages"].add(ev["Stage ID"])
                job["tasks"] += 1
                job["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                sw = tm.get("Shuffle Write Metrics") or {}
                job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                job["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j["submit"])


def job_sums(jobs: list[dict]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "stages": sum(len(j["stages"]) for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "run_s": sum(j["run_s"] for j in jobs),
        "cpu_s": sum(j["cpu_s"] for j in jobs),
        "shuffle_write": sum(j["shuffle_write"] for j in jobs),
        "spill": sum(j["spill"] for j in jobs),
    }


def busy_union(jobs: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    iv = sorted((max(j["submit"], start), min(j["end"] or end, end)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
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
