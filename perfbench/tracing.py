"""Spans around the program's public calls, and Spark's own accounting.

Spans are recorded by the benchmark only: ``Tracer.patch`` swaps a module
or class attribute for a wrapper that opens a span, and ``unpatch_all``
puts the originals back. Each span sets a Spark job group (its own id),
so every job Spark runs is attributed to the innermost open span; jobs
are read back from the status store after the run, which works with the
UI disabled. Spans live in memory and are reported as self time
(duration minus the time covered by child spans).

With tracing off, ``Tracer(enabled=False)`` keeps the same call sites but
records nothing, patches nothing and touches no Spark state.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0


@dataclass
class Tracer:
    enabled: bool = False
    sc: object = None                       # SparkContext, for job groups
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    # time spent in the tracer's own bookkeeping inside spans
    overhead_s: float = 0.0
    _stack: list[Span] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(str(span.sid), span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - b0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.end - s.start
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - s.end

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``. ``after`` is
        called with the call's arguments once it has returned."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                b0 = time.perf_counter()
                after(*args, **kwargs)
                tracer.overhead_s += time.perf_counter() - b0
            return out

        wrapper.__wrapped__ = orig
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def self_time(self) -> dict[str, float]:
        """Self seconds per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start
                                                  - s.children_s)
        return out

    def total_time(self, name: str) -> float:
        """Inclusive seconds of outermost spans called ``name``."""
        ids = {s.sid: s for s in self.spans}

        def nested(s: Span) -> bool:
            p = s.parent
            while p is not None:
                if ids[p].name == name:
                    return True
                p = ids[p].parent
            return False

        return sum(s.end - s.start for s in self.spans
                   if s.name == name and not nested(s))


# ---------------------------------------------------------------------------
# Spark status store (jobs, stages, SQL plan metrics)
# ---------------------------------------------------------------------------

def _seq(gw, scala_seq) -> list:
    return list(gw.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        scala_seq))


@dataclass
class JobStats:
    job_id: int
    group: str | None
    submitted: float            # epoch seconds
    tasks: int = 0
    run_s: float = 0.0          # executor run time
    cpu_s: float = 0.0          # executor CPU time
    gc_s: float = 0.0
    shuffle_write_b: int = 0


def spark_jobs(sc) -> list[JobStats]:
    """Every retained job with the summed metrics of its stages."""
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    stages = {}
    for st in _seq(gw, store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None)):
        stages[(st.stageId(), st.attemptId())] = st
    by_stage: dict[int, list] = {}
    for (sid, _), st in stages.items():
        by_stage.setdefault(sid, []).append(st)
    out = []
    for j in _seq(gw, store.jobsList(None)):
        grp = j.jobGroup()
        sub = j.submissionTime()
        js = JobStats(
            job_id=j.jobId(),
            group=grp.get() if grp.isDefined() else None,
            submitted=sub.get().getTime() / 1000.0 if sub.isDefined()
            else 0.0)
        for sid in _seq(gw, j.stageIds()):
            for st in by_stage.get(sid, ()):
                js.tasks += st.numCompleteTasks()
                js.run_s += st.executorRunTime() / 1000.0
                js.cpu_s += st.executorCpuTime() / 1e9
                js.gc_s += st.jvmGcTime() / 1000.0
                js.shuffle_write_b += st.shuffleWriteBytes()
        out.append(js)
    return out


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^\s*([0-9][0-9,.]*)\s*([A-Za-z]+)?")


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: the first line after Spark's
    ``total (min, med, max ...)`` header, or the value itself."""
    lines = text.strip().splitlines()
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") \
        else lines[0]
    m = _TOTAL_RE.match(body)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return val * _SIZE.get(unit, _TIME.get(unit, 1.0))


def python_udf_metrics(spark, t0: float, t1: float) -> dict[str, float]:
    """Summed SQL metrics of every plan node that hands rows to Python
    workers (ArrowEvalPython, FlatMapGroupsInPandas, ...), over the SQL
    executions started between epoch seconds ``t0`` and ``t1``: bytes each
    way, worker start and run time. Units: bytes and seconds."""
    sc = spark.sparkContext
    gw = sc._gateway
    store = spark._jsparkSession.sharedState().statusStore()
    wanted = {
        "data sent to Python workers": "bytes_to_py",
        "data returned from Python workers": "bytes_from_py",
        "time to start Python workers": "start_s",
        "time to run Python workers": "run_s",
    }
    out = {v: 0.0 for v in wanted.values()}
    for ex in _seq(gw, store.executionsList()):
        if not t0 <= ex.submissionTime() / 1000.0 <= t1:
            continue
        eid = ex.executionId()
        values = None
        for node in _seq(gw, store.planGraph(eid).allNodes()):
            if not any(k in node.name() for k in ("Python", "Pandas",
                                                   "Arrow")):
                continue
            for m in _seq(gw, node.metrics()):
                key = wanted.get(m.name())
                if key is None:
                    continue
                if values is None:
                    values = store.executionMetrics(eid)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += _metric_total(v.get())
    return out
