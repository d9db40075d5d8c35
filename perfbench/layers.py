"""Per-layer metrics of a traced run, from its spans and its event log.

Every metric is reported on every workload; a layer the workload does
not reach reads 0. Values are per operation (median over the run's
operations) unless the name says otherwise, so they do not depend on how
many operations fit in the run.
"""

from __future__ import annotations

import statistics

from .eventlog import Reduced
from .inputs import QUERY_CLASSES
from .tracing import Span, Tracer, self_ms

#: (name, unit) of every per-layer metric, in report order
METRICS: list[tuple[str, str]] = [
    ("transcripts.window_shuffle_bytes", "bytes"),
    ("convert.exec_ms", "ms"),
    ("convert.cpu_ms", "ms"),
    ("convert.gc_ms", "ms"),
    ("convert.rows_out", "count"),
    ("convert.shuffle_write_bytes", "bytes"),
    ("convert.spill_bytes", "bytes"),
    ("convert.core_util", "ratio"),
    ("mentions.triples", "count"),
    ("mentions.python_bytes_sent", "bytes"),
    ("mentions.python_bytes_returned", "bytes"),
    ("io.write_ms", "ms"),
    ("io.bytes_written", "bytes"),
    ("io.files_written", "count"),
    ("manifest.resolve_ms", "ms"),
    ("manifest.record_ms", "ms"),
    ("manifest.files", "count"),
    ("metrics.events", "count"),
    ("metrics.event_ms", "ms"),
    ("metrics.files", "count"),
    ("jobs.convert.spark_jobs", "count"),
    ("jobs.convert.self_ms", "ms"),
    ("jobs.canonicalize.spark_jobs", "count"),
    ("jobs.canonicalize.self_ms", "ms"),
    ("canon.alias_edges", "count"),
    ("canon.merged_nodes", "count"),
    ("canon.exec_ms", "ms"),
    ("canon.shuffle_write_bytes", "bytes"),
    ("canon.spill_bytes", "bytes"),
    ("canon.spark_jobs", "count"),
    ("canon.core_util", "ratio"),
    ("linking.candidate_pairs", "count"),
    ("linking.verified_pairs", "count"),
    ("linking.verify_ratio", "ratio"),
    ("linking.exec_ms", "ms"),
    ("linking.shuffle_write_bytes", "bytes"),
    ("linking.core_util", "ratio"),
    ("sparql.parse_ms", "ms"),
    ("sparql.build_ms", "ms"),
    ("serve.execute_ms", "ms"),
    ("serve.spark_jobs_per_query", "count"),
    ("serve.rows_scanned_per_row_returned", "ratio"),
    ("serve.stats_ms", "ms"),
    *[(f"serve.{c}.latency_ms", "ms") for c in QUERY_CLASSES],
    ("rest.serialize_ms", "ms"),
    ("rest.http_ms", "ms"),
    ("trace.op_p50_ms", "ms"),
    ("jvm.peak_rss_mb", "MB"),
]

# spans of bookkeeping layers inside a job: their Spark work is not the
# operator's execution
_BOOKKEEPING = ("metrics.", "manifest.")
# plan nodes that sit between an operator and the exchange feeding it
_PASS_THROUGH = ("Sort", "ShuffleQueryStage", "AQEShuffleRead", "InputAdapter")


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class _Log:
    """The reduced event log, queried by span."""

    def __init__(self, reduced: Reduced):
        self.r = reduced

    @staticmethod
    def _under(path: str, tokens: set[str], skip=()) -> bool:
        parts = path.split("/")
        hit = False
        for i, p in enumerate(parts):
            if p in tokens:
                hit = True
                # a bookkeeping span below the matched one excludes the job
                if skip and any(q.startswith(skip) for q in parts[i + 1 :]):
                    return False
        return hit

    def stages(self, tokens, skip=()):
        return [s for s in self.r.stages if self._under(s.span, tokens, skip)]

    def jobs(self, tokens, skip=()) -> int:
        return sum(self._under(p, tokens, skip) for p in self.r.jobs.values())

    def sql(self, tokens, name: str, node=None):
        return [
            m for m in self.r.sql
            if m.name == name and self._under(m.span, tokens)
            and (node is None or node(m))
        ]

    def exec_ms_directly_in(self, token: str) -> float:
        """Wall time of SQL executions submitted by the span itself, not
        by one of its child spans."""
        return sum(
            end - start for span, start, end in self.r.executions.values()
            if span.split("/")[-1] == token
        )


def _nearest(m) -> tuple[str, str]:
    for name, text in m.ancestors:
        if not name.startswith(_PASS_THROUGH) and not name.startswith("WholeStageCodegen"):
            return name, text
    return "", ""


def _stage_totals(rows) -> dict[str, float]:
    return {
        k: sum(getattr(s, k) for s in rows)
        for k in ("run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes",
                  "output_rows")
    }


def _child(tracer: Tracer, span: Span, name: str) -> Span | None:
    return next((s for s in tracer.spans if s.parent == span.id and s.name == name), None)


def _within(tracer: Tracer, span: Span, name: str) -> list[Span]:
    return [s for s in tracer.descendants(span) if s.name == name]


def _write_metrics(log: _Log, writes: list[Span]) -> dict[str, float]:
    tokens = {w.token for w in writes}

    def total(name):
        return sum(m.value for m in log.sql(tokens, name))

    return {
        "io.write_ms": total("task commit time") + total("job commit time"),
        "io.bytes_written": total("written output"),
        "io.files_written": total("number of written files"),
    }


def _build(tracer: Tracer, log: _Log, wl, cpus: int) -> dict[str, float]:
    per_cycle: list[dict[str, float]] = []
    converts = tracer.measured("build.convert")
    resumes = tracer.measured("build.resume")
    canons = tracer.measured("build.canonicalize")
    for i, (c, r, k) in enumerate(zip(converts, resumes, canons)):
        row: dict[str, float] = {}
        jc, jr, jk = (_child(tracer, s, n) for s, n in
                      ((c, "jobs.convert"), (r, "jobs.convert"), (k, "jobs.canonicalize")))
        writes = _within(tracer, jc, "io.write")
        wt = {w.token for w in writes}
        st = _stage_totals(log.stages(wt))
        wall = sum(w.ms for w in writes)
        row.update({
            "convert.exec_ms": st["run_ms"],
            "convert.cpu_ms": st["cpu_ms"],
            "convert.gc_ms": st["gc_ms"],
            "convert.rows_out": st["output_rows"],
            "convert.shuffle_write_bytes": st["shuffle_write_bytes"],
            "convert.spill_bytes": st["spill_bytes"],
            "convert.core_util": st["run_ms"] / (wall * cpus) if wall else 0.0,
        })

        def under_row_number_window(m):
            name, text = _nearest(m)
            return (m.node == "Exchange" and name == "Window"
                    and "row_number" in text and "user_id" in text)

        row["transcripts.window_shuffle_bytes"] = sum(
            m.value for m in log.sql(wt, "shuffle bytes written", under_row_number_window)
        )
        jt = {jc.token}
        row["mentions.python_bytes_sent"] = sum(
            m.value for m in log.sql(jt, "data sent to Python workers"))
        row["mentions.python_bytes_returned"] = sum(
            m.value for m in log.sql(jt, "data returned from Python workers"))
        all_writes = writes + _within(tracer, jk, "io.write")
        row.update(_write_metrics(log, all_writes))
        row["manifest.resolve_ms"] = log.exec_ms_directly_in(jr.token)
        row["manifest.record_ms"] = sum(
            s.ms for j in (jc, jr, jk) for s in _within(tracer, j, "manifest.record"))
        events = [e for s in (c, r, k) for e in _within(tracer, s, "metrics.event")]
        row["metrics.events"] = len(events)
        row["metrics.event_ms"] = sum(e.ms for e in events)
        parts = wl.ops[i].parts or {}
        row["manifest.files"] = parts.get("manifest_files", 0)
        row["metrics.files"] = parts.get("metrics_files", 0)
        row["jobs.convert.spark_jobs"] = log.jobs({jc.token})
        row["jobs.convert.self_ms"] = self_ms(jc, tracer.descendants(jc))
        row["jobs.canonicalize.spark_jobs"] = log.jobs({jk.token})
        row["jobs.canonicalize.self_ms"] = self_ms(jk, tracer.descendants(jk))
        ct = {jk.token}
        cst = _stage_totals(log.stages(ct, skip=_BOOKKEEPING))
        row.update({
            "canon.exec_ms": cst["run_ms"],
            "canon.shuffle_write_bytes": cst["shuffle_write_bytes"],
            "canon.spill_bytes": cst["spill_bytes"],
            "canon.spark_jobs": log.jobs(ct, skip=_BOOKKEEPING),
            "canon.core_util": cst["run_ms"] / (jk.ms * cpus),
        })
        recorded = [s.attrs for s in _within(tracer, jk, "metrics.record")
                    if s.attrs.get("stage") == "canonicalize"]
        if recorded:
            row["canon.alias_edges"] = recorded[0]["alias_edges"]
            row["canon.merged_nodes"] = recorded[0]["merged_nodes"]
        per_cycle.append(row)
    out = {k: _median(r.get(k, 0.0) for r in per_cycle) for k in per_cycle[0]} if per_cycle else {}
    out["mentions.triples"] = wl.counts.get("mentions.triples", 0)
    return out


def _sparql(tracer: Tracer, log: _Log, wl, cpus: int) -> dict[str, float]:
    by_req: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if "request" in s.attrs and s.name != "sparql.request":
            by_req.setdefault(s.attrs["request"], []).append(s)
    rows = []
    tokens: set[str] = set()
    for client in tracer.measured("sparql.request"):
        spans = by_req.get(client.attrs["request"], [])
        top = [s for s in spans if s.name == "rest.sparql"]
        tokens.update(s.token for s in top)

        def total(name):
            return sum(s.ms for s in spans if s.name == name)

        served = total("rest.sparql")
        rows.append({
            "kind": client.attrs["kind"],
            "latency": client.ms,
            "sparql.parse_ms": total("sparql.parse"),
            "sparql.build_ms": total("sparql.build"),
            "serve.execute_ms": total("serve.execute"),
            "rest.serialize_ms": sum(self_ms(s, spans) for s in top),
            "rest.http_ms": client.ms - served,
        })
    out = {
        k: _median(r[k] for r in rows)
        for k in ("sparql.parse_ms", "sparql.build_ms", "serve.execute_ms",
                  "rest.serialize_ms", "rest.http_ms")
    }
    for c in QUERY_CLASSES:
        out[f"serve.{c}.latency_ms"] = _median(r["latency"] for r in rows if r["kind"] == c)
    out["serve.spark_jobs_per_query"] = log.jobs(tokens) / len(rows) if rows else 0.0
    scanned = sum(m.value for m in log.sql(tokens, "number of output rows",
                                          lambda m: m.node.startswith("Scan ")))
    returned = wl.counts.get("rows_returned", 0)
    out["serve.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0
    return out


def _link(tracer: Tracer, log: _Log, wl, cpus: int) -> dict[str, float]:
    rows = []
    for call in tracer.measured("link.call"):
        st = _stage_totals(log.stages({call.token}))
        rows.append({
            "linking.exec_ms": st["run_ms"],
            "linking.shuffle_write_bytes": st["shuffle_write_bytes"],
            "linking.core_util": st["run_ms"] / (call.ms * cpus),
        })
    out = {k: _median(r[k] for r in rows) for k in rows[0]} if rows else {}
    candidates = wl.counts.get("linking.candidate_pairs", 0)
    verified = wl.counts.get("linking.verified_pairs", 0)
    out.update({
        "linking.candidate_pairs": candidates,
        "linking.verified_pairs": verified,
        "linking.verify_ratio": verified / candidates if candidates else 0.0,
    })
    return out


def per_layer(wl, tracer: Tracer, reduced: Reduced, cpus: int,
              rss_mb: float) -> dict[str, tuple[float, str]]:
    log = _Log(reduced)
    if wl.name == "build":
        values = _build(tracer, log, wl, cpus)
    else:
        values = {**_sparql(tracer, log, wl, cpus), **_link(tracer, log, wl, cpus)}
    # set-up work of the serving layer, whichever workload built a service
    values["serve.stats_ms"] = sum(s.ms for s in tracer.spans if s.name == "serve.stats")
    values["trace.op_p50_ms"] = _median(wl.samples_ms())
    values["jvm.peak_rss_mb"] = rss_mb
    return {name: (float(values.get(name, 0.0)), unit) for name, unit in METRICS}
