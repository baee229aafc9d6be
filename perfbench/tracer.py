"""Spans around calls into the archiver's layers, kept in memory.

A span records its name, start, end, parent and operation id. Each
span has an attribution key (``"sink.write"``, ``"verify.gate"``, ...):
its self time -- its duration minus the time its child spans cover --
is credited to that key, and while it is the innermost span the Spark
job group is ``"<key>|<op>[|<detail>]"``, so the event log attributes
task metrics to the same key. A span opened with ``key=None`` inherits
its parent's key (for calls that only build a DataFrame lazily). The
outermost span may switch its key part-way
(:meth:`Tracer.set_root_phase`); the archive job uses that to credit
the time after the sink write to verification.

:func:`install` patches the archiver's public entry points with spans
and returns a function that undoes the patches. Without tracing, the
benchmark uses :class:`NullTracer`, whose spans cost nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

GROUP_PROPERTY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    op: str
    start: float
    parent: int | None
    detail: str = ""
    end: float | None = None
    # (time, key) at which the attribution key took effect
    phases: list[tuple[float, str]] = field(default_factory=list)

    def key_at(self, t: float) -> str:
        key = self.phases[0][1]
        for since, k in self.phases:
            if since <= t:
                key = k
        return key


class NullTracer:
    """Tracing off: spans and counters do nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, key: str | None = None, op: str | None = None,
             detail: str = ""):
        yield

    def set_root_phase(self, key: str) -> None:
        pass

    def count(self, name: str, value: float) -> None:
        pass


class Tracer:
    """Records spans and per-operation counters in memory. ``set_group``
    receives the Spark job-group string (or ``None``) whenever the
    innermost span changes."""

    enabled = True

    def __init__(self, set_group: Callable[[str | None], None]):
        self._set_group = set_group
        self.spans: list[Span] = []
        self.counters: dict[tuple[str, str], float] = {}
        self._stack: list[int] = []
        # time spent in the tracer's own bookkeeping, per operation
        self.bookkeeping_s: dict[str, float] = {}

    def _group(self) -> str | None:
        if not self._stack:
            return None
        s = self.spans[self._stack[-1]]
        key = s.phases[-1][1]
        return f"{key}|{s.op}|{s.detail}" if s.detail else f"{key}|{s.op}"

    def _charge(self, op: str, since: float) -> None:
        self.bookkeeping_s[op] = self.bookkeeping_s.get(op, 0.0) + time.perf_counter() - since

    @contextmanager
    def span(self, name: str, key: str | None = None, op: str | None = None,
             detail: str = ""):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            p = self.spans[parent]
            op = op if op is not None else p.op
            detail = detail or p.detail
            key = key if key is not None else p.phases[-1][1]
        if op is None or key is None:
            raise ValueError("a root span needs a key and an op")
        span = Span(name, op, t, parent, detail, phases=[(t, key)])
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        self._set_group(self._group())
        self._charge(op, t)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._group())
            self._charge(op, span.end)

    def set_root_phase(self, key: str) -> None:
        """Credit the outermost open span's remaining self time, and its
        Spark jobs once it is innermost again, to ``key``."""
        t = time.perf_counter()
        span = self.spans[self._stack[0]]
        span.phases.append((t, key))
        self._charge(span.op, t)

    def count(self, name: str, value: float) -> None:
        op = self.spans[self._stack[-1]].op
        self.counters[(op, name)] = self.counters.get((op, name), 0.0) + value

    def self_times(self) -> dict[tuple[str, str], float]:
        """Self seconds per ``(op, key)``, over all finished spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[tuple[str, str], float] = {}
        for i, s in enumerate(self.spans):
            if s.end is None:
                continue
            cursor = s.start
            gaps: list[tuple[float, float]] = []
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                if c.start > cursor:
                    gaps.append((cursor, c.start))
                cursor = max(cursor, c.end if c.end is not None else s.end)
            if s.end > cursor:
                gaps.append((cursor, s.end))
            bounds = [t for t, _ in s.phases[1:]]
            for lo, hi in gaps:
                cuts = [lo] + [b for b in bounds if lo < b < hi] + [hi]
                for a, b in zip(cuts, cuts[1:]):
                    k = (s.op, s.key_at(a))
                    out[k] = out.get(k, 0.0) + (b - a)
        return out

    def durations(self, name: str) -> dict[tuple[str, str], float]:
        """Total duration of the spans called ``name``, per ``(op, detail)``."""
        out: dict[tuple[str, str], float] = {}
        for s in self.spans:
            if s.name == name and s.end is not None:
                k = (s.op, s.detail)
                out[k] = out.get(k, 0.0) + (s.end - s.start)
        return out


def _wrap(tracer: Tracer, fn, name: str, key: str | None,
          after: Callable | None = None):
    def traced(*args, **kwargs):
        with tracer.span(name, key=key):
            result = fn(*args, **kwargs)
            if after is not None:
                after(result)
        return result

    traced.__wrapped__ = fn
    return traced


def install(tracer: Tracer) -> Callable[[], None]:
    """Patch the archiver's entry points with spans; returns the undo."""
    from bend_archiver_spark import job, postsync, verify
    from bend_archiver_spark.sources import jdbc

    def after_write(_result) -> None:
        # everything the job does after the write, outside other
        # spans, is the verification count
        tracer.set_root_phase("verify.count")

    patches = [
        (job, "check_idempotency_gate", "verify.gate", "verify.gate", None),
        (job, "write_batch", "sink.write", "sink.write", after_write),
        (job, "read_target", "job.read_target", None, None),
        (verify, "content_fingerprint", "verify.fingerprint", "verify.fingerprint", None),
        (jdbc.JdbcSource, "probe_bounds", "sources.jdbc.probe", "sources.jdbc.probe", None),
        (jdbc.JdbcSource, "count", "sources.jdbc.count", "sources.jdbc.count", None),
        (jdbc.JdbcSource, "read", "sources.jdbc.read", None, None),
        (jdbc, "plan_jdbc_partitions", "planner.plan", None,
         lambda plan: tracer.count("planner.partitions", plan.num_partitions)),
        (postsync, "delete_after_sync", "postsync.delete", "postsync.delete",
         lambda n: tracer.count("postsync.deleted_rows", n)),
    ]
    undo: list[tuple[object, str, object]] = []
    for owner, attr, name, key, after in patches:
        original = getattr(owner, attr)
        undo.append((owner, attr, original))
        setattr(owner, attr, _wrap(tracer, original, name, key, after))

    def restore() -> None:
        for owner, attr, original in reversed(undo):
            setattr(owner, attr, original)

    return restore
