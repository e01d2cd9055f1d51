"""Span recorder for the traced run.

Spans are recorded by the benchmark's own code: around the calls it makes
into each layer, and around calls between layers by swapping a module
attribute for a wrapper (``Tracer.instrument``) for the life of the run.
Nothing in the package changes.  Each span gets its own Spark job group,
so its jobs, stages, tasks and failed tasks are read back through
pyspark's ``StatusTracker`` after the timed region, never inside it.

A wrapper marked ``materialize`` checkpoints the DataFrame(s) its function
returns before the span closes, so lazily planned work runs inside the
layer that planned it instead of inside whichever later action pulls it.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False  # spans are recorded only while set
        self.request: str | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "request": self.request,
            "group": f"perfbench-{sid}",
        }
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    def instrument(self, module, fname: str, layer: str, materialize: bool = False, on_result=None) -> None:
        """Replace ``module.fname`` by a span-recording wrapper until
        ``restore``.  ``on_result(out, rec)`` records counts at the boundary."""
        fn = getattr(module, fname)
        tracer = self
        name = f"{module.__name__.rsplit('.', 1)[-1]}.{fname}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if materialize:
                    out = _materialize(out, rec)
                if on_result is not None:
                    on_result(out, rec)
            return out

        self._patched.append((module, fname, fn))
        setattr(module, fname, wrapper)

    def restore(self) -> None:
        for module, fname, fn in reversed(self._patched):
            setattr(module, fname, fn)
        self._patched.clear()

    # -- read-back, after the timed region ---------------------------------
    def collect_spark_counts(self) -> None:
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = stages = tasks = failed = 0
            for jid in st.getJobIdsForGroup(rec["group"]):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    s = st.getStageInfo(sid)
                    if s is not None and s.numTasks:
                        stages += 1
                        tasks += s.numTasks
                        failed += s.numFailedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its (sequential) children cover."""
        child: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] = child.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
        return {r["id"]: r["end"] - r["start"] - child.get(r["id"], 0.0) for r in self.spans}

    def layer_self_s(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for r in self.spans:
            out[r["layer"]] = out.get(r["layer"], 0.0) + st[r["id"]]
        return out

    def find(self, name: str, request_prefix: str | None = None) -> list[dict]:
        return [
            r
            for r in self.spans
            if r["name"] == name and (request_prefix is None or (r["request"] or "").startswith(request_prefix))
        ]

    def subtree(self, rec: dict) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for r in self.spans:
            kids.setdefault(r["parent"], []).append(r)
        out, todo = [], [rec]
        while todo:
            r = todo.pop()
            out.append(r)
            todo.extend(kids.get(r["id"], ()))
        return out

    def total(self, rec: dict, key: str) -> int:
        return sum(r.get(key, 0) for r in self.subtree(rec))

    def dump(self) -> list[dict]:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        st = self.self_times()
        return [
            {**r, "start": round(r["start"] - t0, 6), "end": round(r["end"] - t0, 6), "self_s": round(st[r["id"]], 6)}
            for r in sorted(self.spans, key=lambda r: r["start"])
        ]


def _materialize(out, rec: dict):
    if isinstance(out, DataFrame):
        out = out.localCheckpoint()
        rec["rows"] = out.count()
        return out
    if isinstance(out, tuple) and any(isinstance(o, DataFrame) for o in out):
        done = tuple(o.localCheckpoint() if isinstance(o, DataFrame) else o for o in out)
        rec["rows"] = [o.count() if isinstance(o, DataFrame) else None for o in done]
        return done
    return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
