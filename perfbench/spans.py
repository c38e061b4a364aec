"""Spans around the calls the benchmark makes into each layer, and the
Spark REST reads that attribute jobs, stages and cached blocks to them.

Untraced, :meth:`Tracer.call` only times the call.  Traced, every call
runs under its own Spark job tag; after it returns, the tag's
jobs and stages are read from the status REST API (polled until two
reads agree, because the UI store marks stages complete asynchronously)
and stored on the span.  For the layers that call into Python workers
(``PYTHON_LAYERS``) the ``MapInPandas`` nodes of the tag's SQL
executions are read too.  The time the tracer spends on its own reads is
kept apart, so ``trace.overhead_pct`` can be reported.
"""

from __future__ import annotations

import itertools
import json
import re
import time
import urllib.request
from dataclasses import dataclass, field

from box import tree_cpu_s

MB = 1024 * 1024
PYTHON_LAYERS = {"operators.dedup"}
# SQL metric name of the Python-worker metrics -> span stat
PYTHON_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_mb_sent",
    "data returned from Python workers": "py_mb_received",
}
_SCALE = {"B": 1 / MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0**2,
          "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_VALUE = re.compile(r"(-?[\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|min|m|h)\b")


def sql_metric_value(text: str) -> float:
    """The total of a SQL UI metric string, in MB or ms: either a bare
    value (``"1.5 KiB"``) or a ``"total (min, med, max ...)"`` header
    line followed by the values, total first (``"3.0 s (...)"``)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    hit = _VALUE.search(line)
    if not hit:
        return 0.0
    return float(hit.group(1).replace(",", "")) * _SCALE[hit.group(2)]


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    cpu_s: float = 0.0  # CPU seconds of the whole process tree inside the span
    stats: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval covered by its
    children (overlapping children counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in clipped:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.span_id] = s.seconds - covered
    return out


class Tracer:
    """Records spans; when ``enabled`` also tags jobs and reads the REST API."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._sc = None
        self._api = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext
        if self.enabled:
            url = self._sc.uiWebUrl
            if not url:
                raise RuntimeError("traced run needs spark.ui.enabled=true")
            self._api = f"{url}/api/v1/applications/{self._sc.applicationId}"

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def call(self, name: str, layer: str, fn):
        """Run ``fn()`` inside a span; return (result, span)."""
        with self.span(name, layer) as sp:
            result = fn()
        return result, sp

    # -- REST reads ---------------------------------------------------------

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=10) as r:
            return json.load(r)

    def _tag_jobs(self, tag: str) -> list[dict]:
        return [j for j in self._get("/jobs") if tag in (j.get("jobTags") or [])]

    def _read_stable(self, tag: str) -> list[dict]:
        cur = self._tag_jobs(tag)
        for _ in range(8):
            time.sleep(0.1)
            nxt = self._tag_jobs(tag)
            if nxt == cur and all(j.get("status") != "RUNNING" for j in cur):
                break
            cur = nxt
        return cur

    def _python_stats(self, job_ids: set[int]) -> dict:
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        for ex in self._get("/sql?details=true&planDescription=false&length=1000000"):
            ids = {*ex.get("successJobIds", []), *ex.get("failedJobIds", []),
                   *ex.get("runningJobIds", [])}
            if not ids & job_ids:
                continue
            for node in ex.get("nodes", []):
                if node.get("nodeName") != "MapInPandas":
                    continue
                for met in node.get("metrics", []):
                    key = PYTHON_METRICS.get(met.get("name"))
                    if key:
                        out[key] += sql_metric_value(met.get("value", ""))
        return out

    def _collect(self, tag: str, layer: str) -> dict:
        jobs = self._read_stable(tag)
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        stages = [s for s in self._get("/stages") if s["stageId"] in stage_ids
                  and s.get("status") in ("COMPLETE", "FAILED")]
        rdds = self._get("/storage/rdd")
        py = {}
        if layer in PYTHON_LAYERS:
            py = self._python_stats({j["jobId"] for j in jobs})
        return py | {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "exec_ms": sum(s.get("executorRunTime", 0) for s in stages),
            "cpu_ms": sum(s.get("executorCpuTime", 0) for s in stages) / 1e6,
            "gc_ms": sum(s.get("jvmGcTime", 0) for s in stages),
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / MB,
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / MB,
            "spill_mb": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                            for s in stages) / MB,
            "rdds_left": len(rdds),
            "cached_mb": sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / MB,
        }


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self) -> Span:
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.sp = Span(next(t._ids), self.name, self.layer, parent, t.run_id, 0.0)
        t.spans.append(self.sp)
        t._stack.append(self.sp.span_id)
        # job tags are additive, so a job run inside a nested span
        # carries its parent's tag too: each span's stats are inclusive
        self.tag = f"{t.run_id}-{self.sp.span_id}"
        if t.enabled:
            t._sc.addJobTag(self.tag)
        self.cpu0 = tree_cpu_s()
        self.sp.start = time.perf_counter()
        return self.sp

    def __exit__(self, exc_type, *_) -> None:
        t = self.t
        self.sp.end = time.perf_counter()
        self.sp.cpu_s = tree_cpu_s() - self.cpu0
        t._stack.pop()
        if t.enabled:
            t._sc.removeJobTag(self.tag)
            if exc_type is None:
                a = time.perf_counter()
                self.sp.stats = t._collect(self.tag, self.layer)
                t.overhead_s += time.perf_counter() - a
