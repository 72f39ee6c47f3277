"""Shared plumbing: paths, process environment, statistics, box state."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
INPUTS = os.path.join(WORK, "inputs")
RESULTS = os.path.join(WORK, "results")


def prepare_process(run_dir: str, trace: bool) -> None:
    """Environment for this process and the JVM and Python workers it starts.
    Must run before pyspark is imported: every temporary file, Spark local
    directory and JVM scratch file lands inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # JVM options split on whitespace: prefer the (space-free) relative path
    rel = os.path.relpath(tmp)
    jvm_tmp = tmp if any(c.isspace() for c in rel) else rel
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData"
    # the REST API that gives per-stage shuffle bytes needs the UI, which
    # the package turns on through its own switch; untraced runs keep it off
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:  # keep every job of the run visible to the status tracker
        conf += ["--conf", "spark.ui.retainedJobs=100000", "--conf", "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def stop_spark() -> None:
    """Stop the active Spark context, if any, and wait for the JVM that
    pyspark launched to exit. Safe to call more than once."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssGrowth:
    """Peak resident set of this (driver) process during a region, minus its
    resident set when the region began, in MiB. The kernel's high-water mark
    is reset at the start (``/proc/self/clear_refs``), so memory the process
    used before the region, such as the set-up's, does not count."""

    def __enter__(self) -> "RssGrowth":
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")  # reset VmHWM to the current VmRSS
        self.start_kb = _status_kb("VmRSS")
        self.mb = 0.0
        return self

    def __exit__(self, *exc: Any) -> None:
        self.mb = (_status_kb("VmHWM") - self.start_kb) / 1024.0


def _status_kb(field: str) -> int:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


@dataclass
class Timing:
    """One latency series with its sample count."""

    samples: list[float] = field(default_factory=list)

    def add(self, v: float) -> None:
        self.samples.append(v)

    def stats(self, scale: float, unit: str, quantiles: tuple[float, ...] = ()) -> dict[str, Any]:
        n = len(self.samples)
        if not n:
            return {"n": 0, "unit": unit}
        out = {"n": n, "unit": unit, "p50": statistics.median(self.samples) * scale}
        for q in quantiles:
            out[f"p{q * 100:g}"] = quantile(self.samples, q) * scale
            out[f"p{q * 100:g}_supported"] = n * (1 - q) >= 10
        return out


@dataclass
class Ops:
    """Operation counts: ``failed``/``attempted`` is op_error_rate. A failed
    operation raised or returned a wrong or stale result; any failure makes
    the run incorrect."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, ok: bool, what: Callable[[], str] | None = None) -> None:
        """Count one operation; ``what`` describes a failure (built lazily)."""
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.failures) < 50:
                    self.failures.append(what() if what else "unspecified")


def describe(e: BaseException) -> str:
    """An exception for the failure list: its class and the root Java cause
    (or first Java exception line), which a Py4J error's repr leaves out."""
    lines = [ln.strip() for ln in str(e).splitlines()]
    causes = [ln for ln in lines if ln.startswith("Caused by:")]
    java = causes[-1] if causes else next((ln for ln in lines if "Exception:" in ln), "")
    return f"{type(e).__name__}: {java or str(e)}"[:300]


def box_state() -> dict[str, Any]:
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg()), "steal_s": cpu_steal_s()}


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (``/proc/stat``); 0 where the kernel does not report it."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def calibration_s(spark: Any) -> float:
    """Fixed, data-independent query time on the warm session (diagnostic
    only: never used to scale a metric)."""
    for _ in range(2):  # the second run is the one kept
        t = time.perf_counter()
        spark.range(0, 4_000_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()
        last = time.perf_counter() - t
    return last
