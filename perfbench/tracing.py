"""Spans around the program's layer entry points, for the traced run.

A :class:`Tracer` keeps spans in memory. :meth:`Tracer.install` wraps the
public entry points of each layer in place (module attributes and class
methods), and :meth:`Tracer.uninstall` puts the originals back; no
program module is edited. Each span sets the Spark job description to
its path (``parent/name#id``), so the event log attributes every job to
the spans that caused it.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    path: str
    parent: int | None
    phase: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000

    @property
    def token(self) -> str:
        return f"{self.name}#{self.id}"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.phase = "setup"
        #: set by a closed-loop client before each request; server-side
        #: spans record it, which ties them to the request that caused them
        self.request: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        token = f"{name}#{sid}"
        path = f"{parent.path}/{token}" if parent else token
        if self.request is not None and "request" not in attrs:
            attrs["request"] = self.request
        s = Span(sid, name, path, parent.id if parent else None, self.phase,
                 time.perf_counter(), attrs=attrs)
        prev = self.sc.getLocalProperty(_DESC)
        self.sc.setLocalProperty(_DESC, path)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_DESC, prev)
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str, capture=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span.

        ``capture(args, kwargs, result)`` may return attributes to store
        on the span (counts the layer hands back).
        """
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = original(*args, **kwargs)
                if capture is not None:
                    s.attrs.update(capture(args, kwargs, result) or {})
                return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the entry points whose spans a per-layer metric reads.

        Entry points that only build a lazy plan are left alone: their
        span would end before any Spark job of theirs runs.
        """
        from linkedspending_spark import jobs, rest, sparql
        from linkedspending_spark.sources.manifest import ManifestStore
        from linkedspending_spark.sources.metrics import MetricsStore

        w = self.wrap
        w(jobs, "run_transcripts_job", "jobs.convert")
        w(jobs, "run_canonicalize_job", "jobs.canonicalize")
        w(jobs, "write_triples", "io.write")
        w(ManifestStore, "record_many", "manifest.record")
        w(MetricsStore, "event", "metrics.event")
        w(MetricsStore, "record", "metrics.record",
          capture=lambda a, k, r: {"stage": a[2], **a[3]})
        w(sparql, "parse_select", "sparql.parse")
        w(sparql, "select_text", "sparql.build")
        w(rest, "bgp_stats", "serve.stats")
        w(rest.RestService, "_bounded_rows", "serve.execute")
        w(rest.RestService, "sparql", "rest.sparql")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- queries over the recorded spans --------------------------------

    def measured(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.phase == "measure" and s.name == name]

    def descendants(self, root: Span) -> list[Span]:
        prefix = root.path + "/"
        return [s for s in self.spans if s.path.startswith(prefix)]


def self_ms(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its direct children cover."""
    direct = sorted(
        (c.start, c.end) for c in children if c.parent == span.id
    )
    covered, cur_start, cur_end = 0.0, None, None
    for a, b in direct:
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span.end - span.start - covered) * 1000
