"""Shared pieces of a benchmark run: isolation, the Spark session, the
operation tally and metric helpers."""

from __future__ import annotations

import argparse
import math
import os
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def driver_memory_mb() -> int:
    """A sixth of physical memory, at most 2 GiB: the box is shared and the
    workloads' data is small."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(2048, total_kb // 1024 // 6))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def gmean(values: list[float]) -> float:
    """Geometric mean of positive timings: each query weighs the same
    whatever its size, and one slow execution moves it by its own share."""
    return statistics.geometric_mean(values)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


class Run:
    """One benchmark run: its directories, Spark session, tracer and tally."""

    def __init__(self, args: argparse.Namespace, tmp: str):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.toy = args.size == "toy"
        self.tmp = tmp
        self.attempted = 0
        self.failed = 0
        self.end_to_end: dict[str, tuple[float, str]] = {}
        self.per_layer: dict[str, tuple[float, str]] = {}
        self.spark = None
        self.tracer = None

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted operation; a false *ok* counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def start_spark(self) -> float:
        """Start the program's tuned session; returns seconds taken."""
        from id3c_spark.session import get_spark
        from tracing import Tracer

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        elapsed = time.perf_counter() - t0
        self.tracer = Tracer(bool(self.args.trace), self.spark)
        return elapsed

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus its JVM."""
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

    def heap_retained_mb(self) -> float:
        """JVM heap still in use after a full collection: what the session
        keeps (cached data, broadcasts, plan and status caches). The
        listener bus is drained first, and the heap is collected twice so
        that state the context cleaner releases after the first collection
        is gone too. Softly reachable caches survive a collection or not
        depending on timing, so this varies by about a third from run to
        run, as the peak does."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        lang = sc._jvm.java.lang
        lang.System.gc()
        time.sleep(0.5)
        lang.System.gc()
        rt = lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def memory_metrics(self) -> None:
        """Record the memory figures; call right after the timed phases.
        Both vary too much from run to run to carry a bound, so they are
        per-layer metrics, taken in traced runs only."""
        if not self.tracer.enabled:
            return
        self.per_layer["process.peak_rss_mb"] = (self.peak_rss_mb(), "MB")
        self.per_layer["jvm.heap_retained_mb"] = (self.heap_retained_mb(), "MB")

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM process to exit."""
        if self.spark is None:
            return
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        try:
            self.spark.stop()
        except (Py4JError, KeyError) as e:   # the JVM already exited
            print(f"perfbench: stopping Spark: {e!r}", file=sys.stderr)
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()   # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None


def isolate(tmp: str) -> None:
    """Point every scratch location of Spark, Python and the program at
    *tmp*, and make the checkout's own ``id3c_spark`` the code under test
    (driver and Python workers alike)."""
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_ANN_CACHE"] = os.path.join(tmp, "ann_cache")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_mb()}m"
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp directory from either JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = tmp
    sys.dont_write_bytecode = True
    sys.path.insert(0, str(ROOT))
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"])


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
