"""Host-sized benchmark for build, and for SPARQL serving with entity linking.

Run from the root of a checkout::

    python3 perfbench/run.py --workload build|serve --seed N \\
        --seconds S --trace 0|1

One process, one Spark session on ``local[nproc]``. The run sets up the
workload (timed as ``setup_s``), repeats the workload's operation for
``--seconds`` seconds, checks every output, and prints the named metrics
followed, as the last line, by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run wraps the layers' entry points in spans, records
Spark's event log, and reports the per-layer metrics instead.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

# the program under test; outside a full checkout this import fails and
# the run exits non-zero before printing a result
import linkedspending_spark  # noqa: E402,F401

from perfbench import host, layers, workloads  # noqa: E402


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: workloads.Scale = workloads.BENCH) -> dict:
    """One benchmark run; returns the result record."""
    calib_start = host.calibrate_ms()
    t_start = time.perf_counter()
    work = ROOT / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    try:
        spark, stamp = host.start_session(work, trace)
        proc = host.jvm_process(spark)
        try:
            tracer = None
            if trace:
                from perfbench.tracing import Tracer

                tracer = Tracer(spark)
                tracer.install()
            wl = workloads.WORKLOADS[workload](spark, work, seed, scale, tracer)
            try:
                wl.setup()
                setup_s = time.perf_counter() - t_start
                if tracer:
                    tracer.phase = "measure"
                t0 = time.perf_counter()
                steps: list[float] = []
                # a step starts only if it would end nearer the deadline than
                # half a step past it, so build's 10-s cycles do not overrun
                # the window by a whole cycle
                while not steps or (time.perf_counter() - t0
                                    + statistics.median(steps) / 2 < seconds):
                    t = time.perf_counter()
                    try:
                        wl.step()
                    except Exception as e:  # a raising operation counts as failed
                        op = workloads.Op("error", time.perf_counter() - t)
                        wl.ops.append(op)
                        wl.fail(op, f"{type(e).__name__}: {e}")
                    steps.append(time.perf_counter() - t)
                measured_s = time.perf_counter() - t0
                if tracer:
                    tracer.phase = "check"
                wl.check()
            finally:
                wl.close()
                if tracer:
                    tracer.uninstall()
            rss = host.peak_rss_mb(proc.pid)
        finally:
            host.stop_session(spark, proc)
        calib_end = host.calibrate_ms()
        reduced = None
        if trace:
            from perfbench.eventlog import read_event_log

            (log,) = (work / "eventlog").iterdir()
            reduced = read_event_log(log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()

    failed = sum(op.failed for op in wl.ops)
    named = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "error_rate": (failed / len(wl.ops), "ratio"),
        **wl.named(),
    }
    if trace:
        metrics = layers.per_layer(wl, tracer, reduced, stamp["cpus"], rss)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(wl.samples_ms()), "ms"),
        }
    return {
        "workload": workload,
        "stamp": {**stamp, "seed": seed, "trace": int(trace),
                  "calib_ms": [round(calib_start, 2), round(calib_end, 2)]},
        "measured_s": measured_s,
        "op_ms": [round(v, 1) for v in wl.samples_ms()],
        "named": named,
        "problems": wl.problems,
        "result": {
            "correct": failed == 0,
            "attempted": len(wl.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def main(argv=None) -> int:
    a = _args(argv)
    rec = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps({"stamp": rec["stamp"], "measured_s": round(rec["measured_s"], 3),
                      "op_ms": rec["op_ms"]}))
    for name, (value, unit) in rec["named"].items():
        print(f"{rec['workload']} {name} = {value:.6g} {unit}")
    for p in rec["problems"][:20]:
        print(f"check failed: {p}")
    print(json.dumps(rec["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
