"""Out-of-process tracing: spans around calls into the engine, joined
with the per-stage metrics Spark's status store keeps.

Spans carry wall-clock epoch times so they line up with the job and
stage submission times the JVM records. A job or stage belongs to the
innermost span open when it was submitted, whichever thread submitted
it: the engine runs some jobs from its own thread pools, which inherit
no thread-local job group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# a JVM timestamp is truncated to the millisecond; a job submitted in
# the first millisecond of a span may read as just before it
_CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    name: str
    start: float
    parent: "Span | None"
    end: float = 0.0
    cpu_start: float = 0.0
    cpu_end: float = 0.0
    attrs: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def cpu_s(self) -> float:
        return self.cpu_end - self.cpu_start


class Tracer:
    """Records nested spans from the single client thread, each with its
    wall-clock interval and the CPU seconds ``cpu_clock`` counted over
    it. Disabled, a span costs one generator step and records nothing."""

    def __init__(self, enabled: bool, cpu_clock):
        self.enabled = enabled
        self.cpu_clock = cpu_clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent, cpu_start=self.cpu_clock(), attrs=attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.cpu_end = self.cpu_clock()
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.children.append(sp)
            self.spans.append(sp)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class TracedProxy:
    """Stands in for an engine object handed to ``CdcRunner``.

    Every attribute is forwarded, so the capability probes the runner
    makes with ``getattr`` (``supports_range``, ``prebucketed``,
    ``spark``, ``pruned_dir``, ``max_lsn``) see the wrapped object's
    answers. The methods named in ``spans`` run inside a span; a value
    there is a span name or a function of the call's arguments giving
    one. The call's arguments and result are kept on the span."""

    def __init__(self, target, tracer: Tracer, spans: dict):
        self.__dict__["_target"] = target
        self.__dict__["_tracer"] = tracer
        self.__dict__["_spans"] = spans

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        namer = self._spans.get(name)
        if namer is None:
            return attr

        def call(*args, **kwargs):
            label = namer(*args, **kwargs) if callable(namer) else namer
            with self._tracer.span(label, args=args) as sp:
                out = attr(*args, **kwargs)
                sp.attrs["result"] = out
                return out

        return call

    def __setattr__(self, name, value):
        setattr(self._target, name, value)

    def __call__(self, *args, **kwargs):
        return self.__getattr__("__call__")(*args, **kwargs)


FORWARDED = ("supports_range", "prebucketed", "spark", "pruned_dir", "max_lsn")


def check_forwarding(proxy: TracedProxy) -> None:
    """Raise unless the proxy answers every capability probe exactly as
    the object it wraps: a lossy wrapper would silently send the runner
    down the full-scan or shuffle path."""
    missing = object()
    for name in FORWARDED:
        want = getattr(proxy._target, name, missing)
        got = getattr(proxy, name, missing)
        if (want is missing) != (got is missing) or (
            want is not missing and not callable(want) and got != want
        ):
            raise RuntimeError(f"timing proxy does not forward {name!r}")


# ------------------------------------------------------- status store

@dataclass
class Job:
    job_id: int
    start: float
    end: float


@dataclass
class Stage:
    stage_id: int
    start: float
    executor_s: float
    gc_s: float
    input_bytes: int
    input_records: int
    output_bytes: int
    output_records: int
    shuffle_write_bytes: int


def _epoch(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def collect_spark_work(spark, since: float) -> tuple[list[Job], list[Stage]]:
    """Jobs and stage attempts submitted at or after ``since`` (epoch
    seconds), read from the JVM status store; the UI may be off."""
    jsc = spark.sparkContext._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # an internal API: fall back to letting the bus drain
        time.sleep(1.0)
    store = jsc.statusStore()
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        start, end = _epoch(j.submissionTime()), _epoch(j.completionTime())
        if start is not None and start >= since - _CLOCK_SLACK_S:
            jobs.append(Job(j.jobId(), start, end if end is not None else start))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = []
    for s in conv.asJava(
        store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
    ):
        start = _epoch(s.submissionTime())
        if start is None or start < since - _CLOCK_SLACK_S:
            continue
        stages.append(
            Stage(
                s.stageId(), start, s.executorRunTime() / 1000.0,
                s.jvmGcTime() / 1000.0, s.inputBytes(), s.inputRecords(),
                s.outputBytes(), s.outputRecords(), s.shuffleWriteBytes(),
            )
        )
    return jobs, stages


# ---------------------------------------------------------- attribution

def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start - _CLOCK_SLACK_S <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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
    return total


class Attribution:
    """Spark jobs and stages assigned to the spans they ran under."""

    def __init__(self, tracer: Tracer, jobs: list[Job], stages: list[Stage]):
        self.jobs = jobs
        self._own_jobs: dict[int, list[Job]] = {}
        self._own_stages: dict[int, list[Stage]] = {}
        for j in jobs:
            sp = _innermost(tracer.spans, j.start)
            if sp is not None:
                self._own_jobs.setdefault(id(sp), []).append(j)
        for st in stages:
            sp = _innermost(tracer.spans, st.start)
            if sp is not None:
                self._own_stages.setdefault(id(sp), []).append(st)

    def subtree(self, sp: Span):
        yield sp
        for c in sp.children:
            yield from self.subtree(c)

    def jobs_in(self, sp: Span) -> list[Job]:
        return [j for s in self.subtree(sp) for j in self._own_jobs.get(id(s), [])]

    def stages_in(self, sp: Span) -> list[Stage]:
        return [st for s in self.subtree(sp) for st in self._own_stages.get(id(s), [])]

    def stage_sum(self, sp: Span, attr: str) -> float:
        return sum(getattr(st, attr) for st in self.stages_in(sp))

    def self_s(self, sp: Span) -> float:
        """Span time not covered by a child span."""
        return sp.duration - _covered([(c.start, c.end) for c in sp.children], sp.start, sp.end)

    def driver_s(self, sp: Span) -> float:
        """Span time during which no Spark job was running."""
        return sp.duration - _covered([(j.start, j.end) for j in self.jobs], sp.start, sp.end)
