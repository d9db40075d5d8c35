"""Self-test of the benchmark.

    python3 perfbench/selftest.py

The reducer runs on a small canned event log whose totals are known. The
smoke runs execute both workloads at sf0.001 size, traced and with
every output check on, and check that each workload drives its own layers
and leaves the others at 0.
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import eventlog, layers  # noqa: E402
from perfbench.tracing import Span, self_ms  # noqa: E402

DESC = "build.convert#1/jobs.convert#2/io.write#5"


def check(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


def test_reducer() -> None:
    r = eventlog.read_event_log(HERE / "testdata" / "canned_eventlog.jsonl")
    check(r.jobs == {0: DESC, 1: DESC, 2: ""}, f"job spans {r.jobs}")
    by_stage = {s.stage: s for s in r.stages}
    check(sorted(by_stage) == [0, 2, 3], f"stages {sorted(by_stage)}")
    s0 = by_stage[0]
    check((s0.span, s0.tasks, s0.run_ms, s0.gc_ms) == (DESC, 2, 220, 5), f"stage 0 {s0}")
    check(abs(s0.cpu_ms - 120.0) < 1e-9, f"stage 0 cpu {s0.cpu_ms}")
    check((s0.shuffle_write_bytes, s0.spill_bytes) == (500, 64), f"{s0}")
    s2 = by_stage[2]
    check((s2.span, s2.output_rows, s2.output_bytes) == (DESC, 25, 4096), f"stage 2 {s2}")
    check(by_stage[3].span == "", "a job without a description belongs to no span")
    sql = {(m.node, m.name): m for m in r.sql}
    shuffle = sql[("Exchange", "shuffle bytes written")]
    check(shuffle.value == 500, f"shuffle bytes {shuffle.value}")
    # the adaptive plan put a query stage between the window and its exchange
    check(layers._nearest(shuffle)[0] == "Window", f"ancestors {shuffle.ancestors}")
    check(sql[("Scan parquet ", "number of output rows")].value == 25, "scan rows")
    # task updates plus the driver-side update of a metric the adaptive
    # re-plan added
    check(sql[("", "task commit time")].value == 12, "adaptive metric update")
    check(r.executions == {0: (DESC, 1000, 1750)}, f"executions {r.executions}")
    log = layers._Log(r)
    check(len(log.stages({"jobs.convert#2"})) == 2, "stages under a span")
    check(log.jobs({"build.convert#1"}) == 2, "jobs under a span")
    check(log.jobs({"jobs.convert#2"}, skip=("io.",)) == 0, "bookkeeping skip")
    check(log.exec_ms_directly_in("io.write#5") == 750, "execution wall time")
    check(log.exec_ms_directly_in("jobs.convert#2") == 0, "executions of child spans")


def test_self_ms() -> None:
    parent = Span(1, "p", "p#1", None, "measure", 0.0, 10.0)
    kids = [
        Span(2, "a", "p#1/a#2", 1, "measure", 1.0, 4.0),
        Span(3, "b", "p#1/b#3", 1, "measure", 3.0, 5.0),  # overlaps a
        Span(4, "c", "p#1/b#3/c#4", 3, "measure", 3.5, 4.5),  # grandchild
        Span(5, "d", "p#1/d#5", 1, "measure", 8.0, 9.0),
    ]
    check(abs(self_ms(parent, kids) - 5000.0) < 1e-6, f"self time {self_ms(parent, kids)}")


# layer metrics each workload must drive, and ones it must leave at 0
_ACTIVE = {
    "build": ("convert.rows_out", "transcripts.window_shuffle_bytes", "io.files_written",
              "manifest.resolve_ms", "metrics.events", "canon.alias_edges",
              "jobs.canonicalize.spark_jobs", "mentions.triples"),
    "serve": ("sparql.parse_ms", "sparql.build_ms", "serve.execute_ms", "serve.stats_ms",
              "serve.spark_jobs_per_query", "rest.http_ms",
              "linking.candidate_pairs", "linking.verified_pairs", "linking.exec_ms"),
}
_IDLE = {
    "build": ("linking.exec_ms", "serve.execute_ms", "sparql.parse_ms"),
    "serve": ("convert.exec_ms", "canon.exec_ms", "jobs.canonicalize.spark_jobs"),
}


def smoke() -> None:
    from perfbench import run, workloads

    names = {n for n, _ in layers.METRICS}
    for wl in ("build", "serve"):
        rec = run.run(wl, seed=1, seconds=1, trace=True, scale=workloads.SMOKE)
        res = rec["result"]
        check(res["correct"] and res["failed"] == 0, f"{wl}: {rec['problems']}")
        got = {k: v["value"] for k, v in res["metrics"].items()}
        check(set(got) == names, f"{wl}: metric names {set(got) ^ names}")
        for k in _ACTIVE[wl]:
            check(got[k] > 0, f"{wl}: {k} is {got[k]}")
        for k in _IDLE[wl]:
            check(got[k] == 0, f"{wl}: {k} is {got[k]} on a workload that bypasses it")
        print(f"smoke {wl}: ok ({res['attempted']} operations)", flush=True)
    rec = run.run("serve", seed=2, seconds=1, trace=False, scale=workloads.SMOKE)
    check(set(rec["result"]["metrics"]) == {"setup_s", "op_p50_ms"}, "end-to-end metric names")
    check(rec["result"]["correct"], f"untraced serve: {rec['problems']}")
    print("smoke serve untraced: ok", flush=True)


def main() -> int:
    test_reducer()
    print("reducer: ok")
    test_self_ms()
    print("self time: ok")
    smoke()
    return 0


if __name__ == "__main__":
    sys.exit(main())
