"""The two workloads: build and serve.

Each workload sets up once (untimed warm passes included), then runs one
operation per :meth:`step` call and checks every output in :meth:`check`.
An operation is what a user waits for:

* build: one build cycle — ``run_transcripts_job``, a no-op resubmit of
  the same job, then ``run_canonicalize_job``, each on fresh stores and
  with ``metrics_path`` set, as the REST job binding runs them;
* serve: one round over a landed store — a W3C ``GET /sparql`` request of
  each query class from a closed-loop client, then one
  ``fuzzy_link_best(...).collect()``.

The program is always called through its module attributes, so the
traced run's wrappers see every call.
"""

from __future__ import annotations

import http.client
import inspect
import json
import shutil
import statistics
import threading
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path
from urllib.parse import urlencode

import duckdb

from linkedspending_spark import jobs, model, rest, transcripts
from linkedspending_spark.operators import mentions
from linkedspending_spark.sources import io

from . import inputs

N_BUCKETS = 64
#: untimed build cycles before the measured ones: the first cycle of a
#: fresh session runs about 2x slower while Spark compiles and caches code
WARM_CYCLES = 1
#: untimed serve rounds before the measured ones
WARM_ROUNDS = 2


@dataclass(frozen=True)
class Scale:
    events: int  # of the events table that build converts and serve lands
    link_labels: int
    link_candidates: int


#: the measured sizes (sf0.001 events), chosen so one run fits a 4-core
#: host in about a minute
BENCH = Scale(events=1_000, link_labels=10, link_candidates=200)
#: the self-test's sizes: the same events, a smaller link dictionary
SMOKE = Scale(events=1_000, link_labels=10, link_candidates=100)


@dataclass
class Op:
    kind: str
    seconds: float
    failed: bool = False
    parts: dict | None = None


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int, scale: Scale, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.ops: list[Op] = []
        self.problems: list[str] = []
        self.counts: dict[str, float] = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def samples_ms(self) -> list[float]:
        """Latencies, one per measured operation, that ``op_p50_ms`` is
        the median of."""
        return [op.seconds * 1000 for op in self.ops]

    def fail(self, op: Op, problem: str) -> None:
        op.failed = True
        self.problems.append(problem)

    def close(self) -> None:
        pass


# --- build ---------------------------------------------------------------------


def _data_files(path: Path) -> int:
    """Data files of a parquet store (no checksums or commit markers)."""
    return sum(1 for f in path.rglob("*") if f.is_file() and not f.name.startswith((".", "_")))


def _parquet(path: Path) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


# property URIs minted per dataset merge into these global anchors
# (operators.canon.property_alias_edges, fields role/text/tool)
_ALIAS_RE = "^" + model.PREFIX_ONTOLOGY.replace(".", "\\.") + "(.+)-(role|text|tool)$"


def _canon_sql(col: str) -> str:
    return (
        f"CASE WHEN regexp_matches({col}, '{_ALIAS_RE}') THEN "
        f"'{model.PREFIX_ONTOLOGY}transcripts-' || regexp_extract({col}, '{_ALIAS_RE}', 2) "
        f"ELSE {col} END"
    )


class Build(Workload):
    name = "build"

    def setup(self) -> None:
        self.src = self.work / "input"
        self.n_users = inputs.write_events(str(self.src), self.scale.events, self.seed)
        self.transcripts = transcripts.transcripts_from_events(self.spark, str(self.src))
        for i in range(WARM_CYCLES):
            warm = self.work / f"warm{i}"
            self._cycle(warm)
            shutil.rmtree(warm)
        self.first: dict | None = None

    def _cycle(self, d: Path) -> dict:
        out, man, met, canon = (str(d / x) for x in ("out", "manifests", "metrics", "canon"))
        t0 = time.perf_counter()
        with self.span("build.convert"):
            conv = jobs.run_transcripts_job(
                self.spark, self.transcripts, out, man, n_buckets=N_BUCKETS, metrics_path=met
            )
        t1 = time.perf_counter()
        with self.span("build.resume"):
            noop = jobs.run_transcripts_job(
                self.spark, self.transcripts, out, man, n_buckets=N_BUCKETS, metrics_path=met
            )
        t2 = time.perf_counter()
        with self.span("build.canonicalize"):
            can = jobs.run_canonicalize_job(self.spark, out, canon, man, metrics_path=met)
        t3 = time.perf_counter()
        return {
            "dir": d,
            "convert_s": t1 - t0,
            "resume_noop_s": t2 - t1,
            "canonicalize_s": t3 - t2,
            "reports": (conv, noop, can),
        }

    def step(self) -> None:
        d = self.work / f"cycle{len(self.ops)}"
        c = self._cycle(d)
        parts = {k: c[k] for k in ("convert_s", "resume_noop_s", "canonicalize_s")}
        parts["manifest_files"] = _data_files(d / "manifests")
        parts["metrics_files"] = _data_files(d / "metrics")
        op = Op("cycle", sum(c[k] for k in ("convert_s", "resume_noop_s", "canonicalize_s")),
                parts=parts)
        self.ops.append(op)
        conv, noop, can = c["reports"]
        if conv.state != "FINISHED" or can.state != "FINISHED":
            self.fail(op, f"job states {conv.state}/{can.state}")
        if noop.skipped != N_BUCKETS or noop.converted_triples != 0 or noop.pending:
            self.fail(op, f"no-op resubmit skipped {noop.skipped}, converted {noop.converted_triples}")
        if self.first is None:
            self.first = {"dir": d, "convert": conv.converted_triples,
                          "canonicalize": can.converted_triples, "op": op}
        else:
            # every cycle lands the same store as the deeply checked first one
            if (conv.converted_triples, can.converted_triples) != (
                self.first["convert"], self.first["canonicalize"]
            ):
                self.fail(op, "triple counts differ between cycles")
            shutil.rmtree(d)

    def check(self) -> None:
        """Deep checks of the first cycle's stores, against DuckDB and the
        golden row-at-a-time converter."""
        from linkedspending_spark.operators.convert_transcripts_golden import golden_triples
        from linkedspending_spark.sources.dictionaries import country_pairs, currency_pairs

        if self.first is None:
            return  # no cycle completed: every one is already counted failed
        first, op = self.first, self.first["op"]
        out, canon = first["dir"] / "out", first["dir"] / "canon"
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW t AS SELECT * FROM {_parquet(out)}")
            con.execute(f"CREATE VIEW c AS SELECT * FROM {_parquet(canon)}")
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.src}/events.parquet')"
            )
            n_out = con.execute("SELECT count(*) FROM t").fetchone()[0]
            if n_out != first["convert"]:
                self.fail(op, f"convert reported {first['convert']} triples, landed {n_out}")
            if con.execute("SELECT count(DISTINCT bucket) FROM t").fetchone()[0] > N_BUCKETS:
                self.fail(op, "more bucket partitions than buckets")
            self.counts["mentions.triples"] = con.execute(
                "SELECT count(*) FROM t WHERE p IN (?, ?)",
                [model.DBO_CURRENCY, model.SDMX_REF_AREA],
            ).fetchone()[0]
            # golden oracle on a seeded sample of conversations
            sample = sorted({f"conv-{(self.seed * 7 + k * 31) % self.n_users}" for k in range(4)})
            marks = ", ".join("?" * len(sample))
            pdf = con.execute(
                f"SELECT * FROM ({transcripts.TRANSCRIPTS_FROM_EVENTS_SQL}) "
                f"WHERE conv_id IN ({marks})",
                sample,
            ).fetchdf()
            expected = golden_triples(pdf, dict(currency_pairs()), dict(country_pairs()))
            actual = set(
                con.execute(f"SELECT s, p, o FROM t WHERE dataset IN ({marks})", sample).fetchall()
            )
            if actual != expected:
                self.fail(op, f"convert differs from the golden converter on {sample}: "
                              f"{len(actual - expected)} extra, {len(expected - actual)} missing")
            # canonicalize: every per-dataset property URI rewritten to its
            # global anchor, then statement-set dedup
            n_canon = con.execute("SELECT count(*) FROM c").fetchone()[0]
            if n_canon != first["canonicalize"]:
                self.fail(op, f"canonicalize reported {first['canonicalize']}, landed {n_canon}")
            con.execute(
                "CREATE VIEW expect AS SELECT DISTINCT "
                f"{_canon_sql('s')} AS s, {_canon_sql('p')} AS p, "
                f"CASE WHEN o_kind = 'uri' THEN {_canon_sql('o')} ELSE o END AS o FROM t"
            )
            diff = con.execute(
                "SELECT (SELECT count(*) FROM (SELECT * FROM expect EXCEPT SELECT s, p, o FROM c)),"
                " (SELECT count(*) FROM (SELECT s, p, o FROM c EXCEPT SELECT * FROM expect)),"
                " (SELECT count(*) FROM expect)"
            ).fetchone()
            if diff[0] or diff[1] or diff[2] != n_canon:
                self.fail(op, f"canonicalize differs from the rewrite oracle: {diff}")
        finally:
            con.close()

    def named(self) -> dict[str, tuple[float, str]]:
        parts = [op.parts for op in self.ops if op.parts] or [
            dict.fromkeys(("convert_s", "resume_noop_s", "canonicalize_s"), float("nan"))
        ]
        return {
            k: (statistics.median(p[k] for p in parts), "s")
            for k in ("convert_s", "resume_noop_s", "canonicalize_s")
        }


# --- serve ---------------------------------------------------------------------


def _rows_of_w3c(payload: dict) -> Counter:
    names = payload["head"]["vars"]
    return Counter(
        tuple(b.get(v, {}).get("value") for v in names)
        for b in payload["results"]["bindings"]
    )


def trigram_jaccard(a: str, b: str) -> float:
    """Distinct lowercase character-trigram Jaccard, as ``char_ngrams``
    defines the grams (a string shorter than 3 is one gram)."""
    def grams(s: str) -> set[str]:
        s = s.lower()
        return {s[i : i + 3] for i in range(max(len(s) - 2, 1))}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


class Serve(Workload):
    """The read side of a landed store: SPARQL over REST, and entity linking.

    A round is one W3C ``GET /sparql`` request of each query class from a
    closed-loop client, then one ``fuzzy_link_best(...).collect()``.
    """

    name = "serve"
    threshold = 0.5

    def setup(self) -> None:
        src, out, man = (self.work / x for x in ("input", "out", "manifests"))
        self.n_users = inputs.write_events(str(src), self.scale.events, self.seed)
        t = transcripts.transcripts_from_events(self.spark, str(src))
        jobs.run_transcripts_job(self.spark, t, str(out), str(man), n_buckets=N_BUCKETS)
        self.service = rest.RestService(self.spark, io.read_triples(self.spark, str(out)),
                                        manifest_path=str(man))
        self.server = rest.make_server(self.service)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.port = self.server.server_address[1]
        self.duck = duckdb.connect()
        self.duck.execute(f"CREATE VIEW t AS SELECT * FROM {_parquet(out)}")
        self.battery = inputs.query_battery(self.n_users, self.seed)
        self.answers: list[tuple[Op, str, int, bytes]] = []

        labels, cands, self.planted = inputs.link_inputs(
            self.scale.link_labels, self.scale.link_candidates, self.seed
        )
        self.label_of = dict(zip(labels["label_key"], labels["label"]))
        self.clabel_of = dict(zip(cands["uri"], cands["clabel"]))
        self.labels = self.spark.createDataFrame(labels)
        self.cands = self.spark.createDataFrame(cands)
        self.rounds_ms: list[float] = []

        # warm rounds, untimed and unchecked: latency falls over the first
        # rounds of a fresh session
        warm = inputs.query_battery(self.n_users, self.seed + 1)
        for _ in range(WARM_ROUNDS):
            for _ in inputs.QUERY_CLASSES:
                self._get(next(warm)[1])
            self._link_call()

    def _get(self, query: str) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request(
                "GET",
                "/sparql?" + urlencode({"query": query}),
                headers={"Accept": "application/sparql-results+json"},
            )
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _link_call(self) -> list:
        return mentions.fuzzy_link_best(self.labels, self.cands, threshold=self.threshold).collect()

    def step(self) -> None:
        first = len(self.ops)
        for _ in inputs.QUERY_CLASSES:
            self._request()
        self._link()
        self.rounds_ms.append(sum(op.seconds for op in self.ops[first:]) * 1000)

    def _request(self) -> None:
        kind, query, sql = next(self.battery)
        request = len(self.ops)
        if self.tracer:
            self.tracer.request = request
        with self.span("sparql.request") as s:
            t0 = time.perf_counter()
            status, body = self._get(query)
            dt = time.perf_counter() - t0
        if self.tracer:
            self.tracer.request = None
            s.attrs.update(request=request, kind=kind)
        op = Op(kind, dt)
        self.ops.append(op)
        self.answers.append((op, sql, status, body))

    def _link(self) -> None:
        with self.span("link.call"):
            t0 = time.perf_counter()
            rows = self._link_call()
            dt = time.perf_counter() - t0
        op = Op("link", dt)
        self.ops.append(op)
        by_label = {r["label_key"]: r for r in rows}
        if len(by_label) != len(rows):
            self.fail(op, "more than one row for a label")
        for key, uri in self.planted.items():
            r = by_label.get(key)
            if r is None or r["sim"] != 1.0:
                self.fail(op, f"planted match {key} missing or below 1.0")
            elif r["uri"] != uri and not (
                r["uri"] < uri and trigram_jaccard(self.clabel_of[r["uri"]], self.label_of[key]) == 1.0
            ):
                self.fail(op, f"planted match {key} linked to {r['uri']}, not {uri}")
        for r in rows:
            sim = round(trigram_jaccard(self.label_of[r["label_key"]], self.clabel_of[r["uri"]]), 6)
            if r["sim"] != sim or sim < self.threshold:
                self.fail(op, f"{r['label_key']}→{r['uri']} sim {r['sim']}, expected {sim}")

    def samples_ms(self) -> list[float]:
        """Wall time of each whole round: five requests and one link call."""
        return self.rounds_ms or [op.seconds * 1000 for op in self.ops]

    def check(self) -> None:
        """SPARQL answers against DuckDB; each link call is checked as it
        returns. The traced run also counts the pairs LSH blocking hands
        to verification.

        The program verifies inside the band join, so its plan has no
        operator whose row count is the candidate set. The count comes
        from the same public join with the threshold at 0, where every
        colliding pair passes.
        """
        returned = 0
        for op, sql, status, body in self.answers:
            if status != 200:
                self.fail(op, f"HTTP {status} for a {op.kind} query")
                continue
            got = _rows_of_w3c(json.loads(body))
            returned += sum(got.values())
            want = Counter(
                tuple(None if v is None else str(v) for v in row)
                for row in self.duck.execute(sql).fetchall()
            )
            if got != want:
                self.fail(op, f"{op.kind} answer differs from DuckDB ({sum(got.values())} vs "
                              f"{sum(want.values())} rows)")
        self.counts["rows_returned"] = returned
        if self.tracer is None:
            return
        from linkedspending_spark.operators import linking

        # the LSH parameters fuzzy_link_best blocks with
        params = inspect.signature(mentions.fuzzy_link_best).parameters

        def pairs(threshold: float) -> int:
            return linking.minhash_lsh_join(
                self.labels, self.cands, "label_key", "label", "uri", "clabel",
                threshold=threshold,
                n_hashes=params["n_hashes"].default,
                bands=params["bands"].default,
            ).count()

        self.counts["linking.candidate_pairs"] = pairs(0.0)
        self.counts["linking.verified_pairs"] = pairs(self.threshold)

    def named(self) -> dict[str, tuple[float, str]]:
        ms = [op.seconds * 1000 for op in self.ops if op.kind != "link"] or [float("nan")]
        links = [op.seconds for op in self.ops if op.kind == "link"] or [float("nan")]
        return {"query_p50_ms": (statistics.median(ms), "ms"),
                "query_p90_ms": (percentile(ms, 90), "ms"),
                "link_s": (statistics.median(links), "s")}

    def close(self) -> None:
        if hasattr(self, "thread"):
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
        if hasattr(self, "duck"):
            self.duck.close()


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


WORKLOADS = {w.name: w for w in (Build, Serve)}
