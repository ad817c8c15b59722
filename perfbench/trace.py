"""In-memory spans for the traced run.

A span records one call into a layer's public API, made from the
benchmark's own code: its name, start, end, parent span and the unit
operation it belongs to. While a span is open its id is the Spark job
group, so the jobs the call schedules are read back afterwards through
``statusTracker().getJobIdsForGroup`` and the event log maps every task
to a span. Spans stay in memory and are written out once, when the run
ends.

With tracing off, ``span`` yields a throwaway record and touches
neither the clock nor Spark, so the untraced run measures the program
alone. With tracing on, the tracer adds up the time it spends on its
own: span bookkeeping (job groups, ``statusTracker``) and the probes a
span takes beside the call (file listings, snapshot reads). That sum is
the tracing overhead of the operations it traced.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from typing import Any, Dict, Iterator, List, Optional

from perfbench.checks import parquet_files


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: List[Dict[str, Any]] = []
        self._stack: List[int] = []
        self.op_id: Optional[int] = None
        #: seconds spent on tracing itself while enabled
        self.cost_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Dict[str, Any]]:
        rec: Dict[str, Any] = dict(attrs)
        if not self.enabled:
            yield rec
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append(rec)
        rec.update(id=sid, name=name, op=self.op_id,
                   parent=self._stack[-1] if self._stack else None)
        group = self.group(sid)
        self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.time()
        self.cost_s += time.perf_counter() - t0
        try:
            yield rec
        except BaseException as exc:
            rec["error"] = type(exc).__name__
            raise
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            rec["jobs"] = list(self.sc.statusTracker().getJobIdsForGroup(group))
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(self.group(parent), self.spans[parent]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.cost_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def probe(self) -> Iterator[None]:
        """Count the block as tracing cost: a measurement a span takes
        beside the call it wraps."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cost_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def files_written(self, path: str, rec: Dict[str, Any]) -> Iterator[None]:
        """Record in ``rec`` the parquet files that appear under ``path``
        while the block runs (``files_written``, ``bytes_written``); the
        listings are probes. Does nothing with tracing off."""
        if not self.enabled:
            yield
            return
        with self.probe():
            before = parquet_files(path)
        yield
        with self.probe():
            new = parquet_files(path) - before
            rec["files_written"] = len(new)
            rec["bytes_written"] = sum(os.path.getsize(f) for f in new)

    @staticmethod
    def group(span_id: int) -> str:
        return f"perfbench-{span_id}"

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def self_times(spans: List[Dict[str, Any]]) -> Dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    child spans cover (children of one parent run one after another
    here, but overlapping children are merged all the same)."""
    children: Dict[int, List[Dict[str, Any]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            [(c["start"], c["end"]) for c in children.get(s["id"], [])],
            s["start"], s["end"],
        )
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def inclusive_jobs(spans: List[Dict[str, Any]]) -> Dict[int, List[int]]:
    """Span id -> the jobs scheduled while it or any descendant was the
    innermost open span."""
    by_id = {s["id"]: s for s in spans}
    out: Dict[int, List[int]] = {s["id"]: list(s.get("jobs", ())) for s in spans}
    for s in spans:
        p = s.get("parent")
        while p is not None:
            out[p].extend(s.get("jobs", ()))
            p = by_id[p].get("parent")
    return out


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


class Traced:
    """Proxy that wraps the named methods of a layer object in spans and
    passes every other attribute through, so a caller holding the proxy
    (for example ``PipelineRunner``'s ingestor or writer) is traced
    without any change to the program."""

    def __init__(self, target, tracer: Tracer, methods: Dict[str, str], hook=None):
        self.__dict__["_target"] = target
        self.__dict__["_tracer"] = tracer
        self.__dict__["_methods"] = methods
        self.__dict__["_hook"] = hook

    def __getattr__(self, attr):
        value = getattr(self._target, attr)
        name = self._methods.get(attr)
        if name is None or not self._tracer.enabled:
            return value

        def call(*args, **kwargs):
            with self._tracer.span(name) as rec:
                if self._hook is None:
                    return value(*args, **kwargs)
                with self._hook(attr, rec, args, kwargs):
                    return value(*args, **kwargs)

        return call

    def __setattr__(self, attr, value):
        setattr(self._target, attr, value)
