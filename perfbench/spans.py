"""Spans, self time, percentiles and Spark job attribution for the benchmark.

Tracing is done from outside the engine: :class:`Tracer` wraps the public
functions of each layer (``cdc.pipeline``, ``cdc.merge``, ``cdc.dedup``,
``lake.table``, ``singer.protocol``, ``evolution.drift``) while it is
installed and restores them afterwards, so untraced runs execute the
engine's code unmodified. Spans stay in memory and are written out by
:meth:`Tracer.dump` when the run ends.

Each span also sets the Spark job group ``pwspan:<id>`` on its thread, so
every job Spark runs inside it can be attributed to the innermost span from
the JVM status store after the run (:func:`spark_jobs`). Jobs that carry no
such group -- e.g. submitted by a thread no wrapper ran on -- are attributed
to the batch whose wall interval holds their submission time.
"""

from __future__ import annotations

import functools
import json
import math
import threading
import time
from dataclasses import dataclass, field


# --------------------------------------------------------------- statistics


class TooFewSamples(ValueError):
    """A percentile was asked for that fewer than ``min_beyond`` samples
    lie beyond."""


def percentile(values, q: float, *, weights=None, min_beyond: int = 10) -> float:
    """Nearest-rank ``q``-quantile (``0 < q < 1``) of ``values``, optionally
    weighted (a weight is the number of samples a value stands for).

    A timing is only reported at a percentile that has at least
    ``min_beyond`` samples beyond it: with ``n`` samples the nearest rank is
    ``ceil(q * n)`` and ``n - ceil(q * n)`` samples lie above it. Fewer
    raises :class:`TooFewSamples` instead of returning a number that one
    outlier decides."""
    if not 0 < q < 1:
        raise ValueError(f"q must be in (0, 1), got {q}")
    if weights is None:
        weights = [1] * len(values)
    if len(weights) != len(values):
        raise ValueError("values and weights differ in length")
    if any(w < 0 for w in weights):
        raise ValueError("negative weight")
    pairs = sorted(zip(values, weights))
    n = sum(w for _, w in pairs)
    rank = math.ceil(q * n - 1e-9)
    if n - rank < min_beyond:
        raise TooFewSamples(
            f"p{q * 100:g} of {n} samples has {n - rank} beyond it, "
            f"needs {min_beyond}"
        )
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return v
    return pairs[-1][0]


def median(values) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no values")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -------------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    batch: str | None
    thread: str
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of its interval its
    child spans cover. Children running in parallel threads (the
    multi-stream fan-out) count once, as the union of their intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        out[s.id] = s.dur - covered(kids.get(s.id, []), s.start, s.end)
    return out


class Tracer:
    """In-memory span recorder. ``span()`` is a context manager; spans
    opened on a thread with no open span (the fan-out's pool threads) take
    ``self.adopt`` -- the fan-out span -- as parent, so per-stream work
    stays under its micro-batch."""

    JOB_GROUP = "spark.jobGroup.id"

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.adopt: Span | None = None
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def span(self, name: str, *, batch: str | None = None, **counts):
        return _SpanCtx(self, name, batch, counts)

    def _open(self, name, batch, counts) -> tuple[Span, str | None]:
        stack = self._stack()
        parent = stack[-1] if stack else self.adopt
        with self._lock:
            sid = self._next
            self._next += 1
        s = Span(
            sid, name, time.time(), None,
            parent.id if parent is not None else None,
            batch if batch is not None else (parent.batch if parent else None),
            threading.current_thread().name, dict(counts),
        )
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(self.JOB_GROUP)
            self.sc.setLocalProperty(self.JOB_GROUP, f"pwspan:{sid}")
        return s, prev

    def _close(self, s: Span, prev: str | None) -> None:
        s.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is s:
            stack.pop()
        if self.sc is not None:
            self.sc.setLocalProperty(self.JOB_GROUP, prev)

    # ------------------------------------------------------------ wrapping

    def wrap(self, owner, attr: str, name: str, *, on_result=None,
             batch_arg: str | None = None, adopt: bool = False) -> None:
        """Replace ``owner.attr`` with a traced version until
        :meth:`uninstall`. ``on_result(span, args, kwargs, result)`` may
        record counts; ``batch_arg`` names the keyword carrying the
        micro-batch id; ``adopt`` makes the span the parent of spans opened
        on threads without one."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            batch = kwargs.get(batch_arg) if batch_arg else None
            with tracer.span(name, batch=None if batch is None else str(batch)) as s:
                if adopt:
                    tracer.adopt = s
                try:
                    result = fn(*args, **kwargs)
                finally:
                    if adopt:
                        tracer.adopt = None
                if on_result is not None:
                    on_result(s, args, kwargs, result)
                return result

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": [s.__dict__ for s in self.spans], **(extra or {})},
                fh, default=str,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name, batch, counts):
        self.t, self.args = tracer, (name, batch, counts)

    def __enter__(self) -> Span:
        self.s, self.prev = self.t._open(*self.args)
        return self.s

    def __exit__(self, *exc) -> bool:
        self.t._close(self.s, self.prev)
        return False


# ------------------------------------------------------- spark status store


@dataclass
class Job:
    group: str | None
    submitted: float
    completed: float
    tasks: int
    run_s: float
    shuffle_read: int
    shuffle_write: int
    input_bytes: int


def spark_jobs(sc) -> list[Job]:
    """Every job the JVM status store retained, with the summed metrics of
    its completed stages. Read once, after the measured work."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    empty = gw.jvm.java.util.ArrayList
    stages_seq = store.stageList(empty(), False, False, gw.new_array(gw.jvm.double, 0), empty())
    stages = {}
    for i in range(stages_seq.size()):
        st = stages_seq.apply(i)
        if str(st.status()) != "COMPLETE":
            continue
        stages[st.stageId()] = (
            st.numTasks(), st.executorRunTime() / 1000.0, st.shuffleReadBytes(),
            st.shuffleWriteBytes(), st.inputBytes(),
        )
    jobs_seq = store.jobsList(None)
    out = []
    for i in range(jobs_seq.size()):
        j = jobs_seq.apply(i)
        sub, comp, grp = j.submissionTime(), j.completionTime(), j.jobGroup()
        if not sub.isDefined() or not comp.isDefined():
            continue
        ids = j.stageIds()
        agg = [0, 0.0, 0, 0, 0]
        for k in range(ids.size()):
            for n, v in enumerate(stages.get(ids.apply(k), (0, 0.0, 0, 0, 0))):
                agg[n] += v
        out.append(Job(
            grp.get() if grp.isDefined() else None,
            sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0,
            *agg,
        ))
    return out


def attribute_jobs(jobs: list[Job], spans: list[Span], batch_names: set[str]) -> dict[int, list[Job]]:
    """Map each job to a span id: the span named by its ``pwspan:`` job
    group, else the batch span (one of ``batch_names``) whose interval holds
    its submission time. Jobs outside every span are dropped."""
    by_id = {s.id: s for s in spans}
    batches = [s for s in spans if s.name in batch_names and s.end is not None]
    out: dict[int, list[Job]] = {}
    for j in jobs:
        sid = None
        if j.group and j.group.startswith("pwspan:"):
            sid = int(j.group.split(":", 1)[1])
            if sid not in by_id:
                sid = None
        if sid is None:
            for b in batches:
                if b.start <= j.submitted <= b.end:
                    sid = b.id
                    break
        if sid is not None:
            out.setdefault(sid, []).append(j)
    return out
