"""Span recorder for traced benchmark runs.

The launcher calls ``install()`` before it builds the server. It wraps
public functions of the package from the outside (nothing inside the
package is instrumented) and keeps every span in memory; ``dump()``
writes them out when the launcher exits.

A span is ``[name, start, end, parent, request_id, extra]``: ``start`` and
``end`` are ``time.perf_counter()`` seconds, ``parent`` is the index of
the enclosing span on the same thread (or -1), ``request_id`` is the
client's ``X-Bench-Id`` header for spans under an HTTP request (or the
sweep id for a sweep; none for a changelog fold), and ``extra`` holds
per-span facts such as Spark planning phases and job/task counts.
"""

from __future__ import annotations

import functools
import json
import threading
import time

_spans: list[list] = []
_lock = threading.Lock()
_local = threading.local()


def _stack() -> list[int]:
    stack = getattr(_local, "stack", None)
    if stack is None:
        stack = _local.stack = []
    return stack


def set_request(rid: str | None) -> None:
    _local.rid = rid


def current_request() -> str | None:
    return getattr(_local, "rid", None)


def open_span(name: str) -> int:
    stack = _stack()
    parent = stack[-1] if stack else -1
    with _lock:
        idx = len(_spans)
        _spans.append([name, time.perf_counter(), None, parent, current_request(), None])
    stack.append(idx)
    return idx


def close_span(idx: int, extra: dict | None = None) -> None:
    _spans[idx][2] = time.perf_counter()
    if extra:
        _spans[idx][5] = extra
    stack = _stack()
    if stack and stack[-1] == idx:
        stack.pop()


def wrap(owner, attr: str, name: str, after=None) -> None:
    """Replace ``owner.attr`` with a timed wrapper. ``after(result, args)``
    may return a dict stored on the span (called only on success)."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def timed(*args, **kwargs):
        idx = open_span(name)
        extra = None
        try:
            result = fn(*args, **kwargs)
            if after is not None:
                try:
                    extra = after(result, args)
                except Exception as exc:  # a probe must never fail the call
                    extra = {"probe_error": repr(exc)}
            return result
        finally:
            close_span(idx, extra)

    setattr(owner, attr, timed)


def _planning_phases(_result, args) -> dict:
    """Optimization + planning milliseconds from the executed plan's
    QueryPlanningTracker (the phases are recorded even with the UI off)."""
    df = args[0]
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = int(kv._2().durationMs())
    return {"phases": out}


def install(spark) -> None:
    """Wrap the layer boundaries named in the benchmark README."""
    from pyspark.sql.classic.dataframe import DataFrame

    from nnanalytics_spark.core import url
    from nnanalytics_spark.inode import render
    from nnanalytics_spark.inode.engine import INodeEngine
    from nnanalytics_spark.web import server

    wrap(DataFrame, "collect", "spark.collect", after=_planning_phases)
    wrap(DataFrame, "toLocalIterator", "spark.toLocalIterator")
    wrap(url, "parse_url", "url.parse_url")
    for name in (
        "filter_sum", "dump_paths", "find_extremum", "histogram", "histogram2",
        "divide", "content_summary", "dump_inode", "info",
    ):
        wrap(INodeEngine, name, f"engine.{name}")
    for name in ("to_json", "to_csv", "two_level_to_json", "to_chart_js_json"):
        wrap(render, name, f"render.{name}")
    wrap(server.AnalyticsWebServer, "handle", "web.handle")
    _wrap_handler(server, spark)


def _wrap_handler(server_mod, spark) -> None:
    """Tag each HTTP request with the client's X-Bench-Id, put its Spark
    jobs in a job group named after it, and record the whole serve
    (handle + body write) plus its job and task counts."""
    make = server_mod._make_handler
    sc = spark.sparkContext

    def traced_make(server):
        base = make(server)

        class Traced(base):
            def _serve(self, method):
                rid = self.headers.get("X-Bench-Id")
                set_request(rid)
                if rid:
                    sc.setLocalProperty("spark.jobGroup.id", rid)
                idx = open_span("web.serve")
                try:
                    super()._serve(method)
                finally:
                    close_span(idx)
                    if rid:
                        _spans[idx][5] = job_counts(sc, rid)
                        sc.setLocalProperty("spark.jobGroup.id", None)
                    set_request(None)

        return Traced

    server_mod._make_handler = traced_make


def job_counts(sc, group: str) -> dict:
    """Spark jobs and tasks run under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in list(info.stageIds) if info else []:
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return {"jobs": len(jobs), "tasks": tasks}


def dump(path: str) -> None:
    with _lock:
        spans = [s for s in _spans if s[2] is not None]
    with open(path, "w") as fh:
        json.dump(spans, fh)
