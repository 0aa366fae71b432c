"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, parent and the operation it belongs
to; spans of one operation share the operation's index. Each span runs
its Spark jobs under a job group of its own, read back through
``statusTracker()`` once the operation has finished, so every span
knows the jobs and tasks it caused. Wrappers go on the module
attribute a caller actually resolves (``runner.upsert_parquet`` is an
imported name, distinct from ``merge.upsert_parquet``), and are removed
again by :meth:`Tracer.uninstall`.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from typing import Any, Callable


def listing(path: str) -> dict[str, tuple[int, int]]:
    """``{name: (size, mtime_ns)}`` of the files directly under ``path``
    (empty when the directory does not exist yet)."""
    try:
        with os.scandir(path) as it:
            return {
                e.name: (e.stat().st_size, e.stat().st_mtime_ns)
                for e in it
                if e.is_file()
            }
    except FileNotFoundError:
        return {}


def parquet_files(lst: dict[str, tuple[int, int]]) -> dict[str, tuple[int, int]]:
    return {n: v for n, v in lst.items() if n.endswith(".parquet")}


class Tracer:
    """Collects spans while :attr:`active`; a no-op otherwise, so the
    same workload code serves the untraced run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.op: int | None = None
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._undo: list[tuple[Any, str, Any]] = []
        self._next_id = 0

    # ------------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; yields the span record (or
        ``None`` when tracing is off) so callers can attach counts."""
        if not self.active:
            yield None
            return
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "group": f"perfbench-{self._next_id}",
            "attrs": dict(attrs),
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setJobGroup(None, None)
            self.spans.append(rec)

    def resolve_jobs(self, before_op: int | None = None) -> None:
        """Attach job and completed-task counts to every span not yet
        resolved, optionally only those of operations before
        ``before_op``: an operation's counts are read once the next one
        starts, and the rest after the run, so the status store has seen
        every job (its listener runs asynchronously)."""
        jsc_tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "jobs" in rec or (before_op is not None and rec["op"] >= before_op):
                continue
            job_ids = jsc_tracker.getJobIdsForGroup(rec["group"]) or []
            tasks = 0
            for jid in job_ids:
                info = jsc_tracker.getJobInfo(jid)
                for sid in info.stageIds if info is not None else []:
                    st = jsc_tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += int(st.numCompletedTasks)
            rec["jobs"], rec["tasks"] = len(job_ids), tasks

    def resolve_observations(self) -> None:
        """Read the row counts that :func:`workloads._count_probe`
        attached; only after an operation succeeded, as an Observation
        whose job never ran would block."""
        for rec in self.spans:
            obs = rec["attrs"].pop("observation", None)
            if obs is not None:
                rec["attrs"]["rows"] = int(obs.get["n"])

    def discard_observations(self) -> None:
        for rec in self.spans:
            rec["attrs"].pop("observation", None)

    # --------------------------------------------------------------- wrappers
    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        probe: Callable[..., Any] | None = None,
    ) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a
        wrapper that records span ``name`` while tracing is on.
        ``probe(rec, args, kwargs)`` runs before the call and returns a
        callback ``after(result) -> result`` run after it."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                after = probe(rec, args, kwargs) if probe is not None else None
                out = orig(*args, **kwargs)
                return after(out) if after is not None else out

        if is_dict:
            owner[attr] = wrapper
        else:
            setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._undo.clear()

    # ------------------------------------------------------------- summaries
    def by_op(self, name: str) -> dict[int, list[dict[str, Any]]]:
        """Spans called ``name`` grouped by operation, leaving out those
        nested in a span of the same name (a wrapper inside the
        benchmark's span around the same call)."""
        names = {rec["id"]: rec["name"] for rec in self.spans}
        out: dict[int, list[dict[str, Any]]] = {}
        for rec in self.spans:
            if rec["name"] == name and names.get(rec["parent"]) != name:
                out.setdefault(rec["op"], []).append(rec)
        return out

    def self_time(self, rec: dict[str, Any]) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def inclusive(self, rec: dict[str, Any], key: str) -> int:
        """``rec[key]`` summed over the span and all its descendants."""
        total = rec.get(key, 0)
        for c in self.spans:
            if c["parent"] == rec["id"]:
                total += self.inclusive(c, key)
        return total

    def per_op_median(self, name: str, value: Callable[[dict[str, Any]], float]) -> float:
        """Median over the operations that entered span ``name`` of the
        per-operation sum of ``value(span)``; 0.0 when no operation did
        (the layer is idle on this workload)."""
        per_op = [sum(value(r) for r in recs) for recs in self.by_op(name).values()]
        return float(statistics.median(per_op)) if per_op else 0.0

    def attr_sum(self, name: str, key: str) -> float:
        return float(
            sum(r["attrs"].get(key, 0) for recs in self.by_op(name).values() for r in recs)
        )
