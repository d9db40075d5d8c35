"""Host sizing, the benchmark's Spark session, and the record stamp.

The session is sized from this host, never from the library default:
``local[nproc]`` and a driver heap taken from available memory, so the
16 GB ``get_spark`` default never applies on a small host.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_mem_gb(avail_gb: float) -> int:
    # a quarter of what is free, 1-4 GB: the inputs are host-sized, and
    # other processes on a shared host keep their memory
    return max(1, min(4, int(avail_gb // 4)))


def session_conf(work: Path, trace: bool, mem_gb: int) -> dict[str, str]:
    conf = {
        "spark.driver.memory": f"{mem_gb}g",
        "spark.local.dir": str(work / "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                # plain JSON lines, one file: reducible with stdlib json
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(work: Path, trace: bool):
    """Start the benchmark's session; returns (spark, stamp)."""
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # Python-side temp files (pandas → Arrow, py4j) stay in the checkout too
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    n, avail = cpus(), mem_available_gb()
    mem = driver_mem_gb(avail)
    from linkedspending_spark.session import get_spark

    spark = get_spark(n, app_name="perfbench", extra_conf=session_conf(work, trace, mem))
    import pyspark

    stamp = {
        "cpus": n,
        "mem_gb": round(avail, 1),
        "driver_mem_gb": mem,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": git_sha(),
    }
    return spark, stamp


def git_sha() -> str:
    """The checked-out commit; a plain source tree without git reads "unknown"."""
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def calibrate_ms(reps: int = 7) -> float:
    """Median time of a fixed single-core pure-Python loop, in ms.

    The loop does the same work on every host and every run, so its time
    tracks how fast this host is at that moment. Each run records it at
    start and end: a shift in the workload figures between two sets of
    runs that the loop shows too is the host's, not the program's.
    """
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


def jvm_process(spark) -> subprocess.Popen:
    """The driver JVM that pyspark launched for this session."""
    return spark.sparkContext._gateway.proc


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size of a process (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def stop_session(spark, proc: subprocess.Popen) -> None:
    """Stop Spark and wait for the driver JVM to exit.

    The gateway JVM exits when its stdin closes; waiting on it means no
    process of this run outlives the run.
    """
    from pyspark import SparkContext

    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
