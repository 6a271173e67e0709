"""Spans around the benchmark's own calls into linkgraph, and the Spark
stages and jobs that ran inside each span.

Spans are recorded in both modes (the end-to-end timings are read off them)
and kept in memory.  The traced run additionally reads Spark's status store
once, after the timed region, and assigns every job and stage to the
innermost span that was open when it was submitted.  Nothing here runs
inside the engine: the benchmark only times its own calls and reads what
Spark recorded about them.
"""

from __future__ import annotations

import contextlib
import io
import json
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    rep: int
    start_ms: float  # epoch ms, comparable with Spark's stage timestamps
    wall_s: float = 0.0
    stages: list[dict] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)

    @property
    def end_ms(self) -> float:
        return self.start_ms + self.wall_s * 1000.0


class Tracer:
    """Flat list of spans; a span's children are the spans that start inside
    it.  ``overhead_s`` is the time spent in span bookkeeping itself."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.rep = 0
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        s = Span(name, self.rep, time.time() * 1000.0)
        self.spans.append(s)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.wall_s = t1 - t0
            self.overhead_s += time.perf_counter() - t1

    def find(self, name: str, rep: int) -> Span | None:
        return next((s for s in self.spans if s.name == name and s.rep == rep), None)


_STAGE_KEYS = (
    "stageId", "status", "numTasks", "numFailedTasks", "submissionTime",
    "completionTime", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "shuffleWriteBytes", "outputBytes",
)


def read_status_store(sc) -> tuple[list[dict], list[dict]]:
    """All completed stages and jobs the status store holds, as dicts.

    One JSON serialization per list on the JVM side (Spark's own Jackson +
    Scala module) instead of one Py4J round trip per field.  Stage summaries
    are requested with the single quantile 1.0, which gives the longest task
    of each stage."""
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    store = sc._jsc.sc().statusStore()
    every = jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(jvm.double, 1)
    quantiles[0] = 1.0
    raw_stages = json.loads(
        mapper.writeValueAsString(store.stageList(every, False, True, quantiles, every))
    )
    stages = []
    for st in raw_stages:
        if st.get("submissionTime") is None or st.get("completionTime") is None:
            continue  # skipped stage: its output was reused, it never ran
        rec = {k: st.get(k) or 0 for k in _STAGE_KEYS}
        dist = st.get("taskMetricsDistributions") or {}
        rec["maxTaskRunTime"] = (dist.get("executorRunTime") or [0])[0]
        stages.append(rec)
    jobs = [
        {"jobId": j["jobId"], "submissionTime": j.get("submissionTime") or 0}
        for j in json.loads(mapper.writeValueAsString(store.jobsList(every)))
        if j.get("submissionTime") is not None
    ]
    return stages, jobs


def attribute(spans: list[Span], stages: list[dict], jobs: list[dict]) -> None:
    """Give each stage and job to the innermost span open at its submission.

    Spans of one rep either nest or follow each other, so the open span that
    started last is the innermost one.  Spark's timestamps have millisecond
    resolution, hence the 1 ms slack on both sides."""
    ordered = sorted(spans, key=lambda s: s.start_ms)

    def owner(t_ms: float) -> Span | None:
        best = None
        for s in ordered:
            if s.start_ms - 1.0 > t_ms:
                break
            if t_ms <= s.end_ms + 1.0:
                best = s
        return best

    for st in stages:
        s = owner(st["submissionTime"])
        if s is not None:
            s.stages.append(st)
    for j in jobs:
        s = owner(j["submissionTime"])
        if s is not None:
            s.jobs.append(j)


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span of its rep that starts inside it."""
    return [
        s for s in spans
        if s.rep == root.rep and root.start_ms <= s.start_ms and s.end_ms <= root.end_ms + 1.0
    ]


def covered_s(intervals: list[tuple[float, float]], lo_ms: float, hi_ms: float) -> float:
    """Length in seconds of the union of ``intervals`` (ms) clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo_ms), min(b, hi_ms)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


_TREE_NODE = re.compile(r"^[\s:+\-|]*([A-Za-z][\w ]*?) \((\d+)\)\s*$")
_PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapCoGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapGroupsInPandas",
    "MapInArrow", "MapInPandas", "PythonMapInArrow",
)


def plan_shape(df) -> tuple[int, int]:
    """(Exchanges, Arrow/Python nodes) in the physical plan tree of ``df``.

    Reads the tree section of ``explain("formatted")`` and counts each
    numbered operator once (the details section repeats every node)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    nodes: dict[str, str] = {}
    for line in buf.getvalue().splitlines():
        if not line.strip():
            if nodes:
                break  # the tree ends at the first blank line after it
            continue
        m = _TREE_NODE.match(line)
        if m:
            nodes[m.group(2)] = m.group(1)
    names = list(nodes.values())
    exchanges = sum(1 for n in names if n.endswith("Exchange"))
    python = sum(1 for n in names if n in _PYTHON_NODES)
    return exchanges, python
