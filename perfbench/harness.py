"""Host, calibration and run-record helpers shared by the
workloads. Importing this module starts nothing; the Spark-facing
helpers take the session as an argument."""

from __future__ import annotations

import math
import os
import platform
import resource
import subprocess
import time

# A fixed JVM job (twice) and a fixed pure-Python loop (three times), run
# before every timed op and recorded with it. An op's probe time is the
# geometric mean of the two probes' mean times: both workloads spend
# their time in the JVM and in Python (Arrow workers, DBC decode), and
# interference that slows the op slows the probes' mean alike. Over five
# seeds per workload on a 4-vCPU VM this divisor left op time less
# spread than the JVM probe alone did (README.md has the figures).
CALIB_JVM_ROWS = 200_000_000
CALIB_JVM_REPEATS = 2
CALIB_PY_ITERS = 500_000
CALIB_PY_REPEATS = 3


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mib() -> int:
    """A quarter of host memory, between 1 and 4 GiB: the whole sf0.1
    working set fits in well under 1 GiB of heap, and the machine is
    shared."""
    return max(1024, min(4096, host_mem_mib() // 4))


def configure_env(repo: str, work: str) -> dict[str, str]:
    """Environment the engine and its Python workers read; must be set
    before the JVM starts. Returns what was set, for the run record."""
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mib()}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # executor-side Python workers import the engine and this package
        "PYTHONPATH": os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.environ.update(env)
    return env


class Calibrator:
    """Runs the two host probes a few times each; returns every
    repetition's time (``jvm``, ``py``)."""

    def __init__(self, spark) -> None:
        self.spark = spark

    def run(self) -> dict:
        self.spark.sparkContext.setJobGroup("calibration", "host probe")
        jvm = []
        for _ in range(CALIB_JVM_REPEATS):
            t0 = time.perf_counter()
            self.spark.range(CALIB_JVM_ROWS).selectExpr("sum(id) AS s").collect()
            jvm.append(time.perf_counter() - t0)
        py = []
        for _ in range(CALIB_PY_REPEATS):
            t0 = time.perf_counter()
            acc = 0
            for i in range(CALIB_PY_ITERS):
                acc += i * i
            py.append(time.perf_counter() - t0)
        return {"jvm": jvm, "py": py}


def probe_means(events: list[dict]) -> dict[str, float]:
    """An op's probe times over its probe events: each probe's mean, and
    their geometric mean ``calib_s``, the divisor of the ``*_rel``
    metrics."""
    jvm = [x for e in events for x in e["jvm"]]
    py = [x for e in events for x in e["py"]]
    out = {"calib_jvm_s": sum(jvm) / len(jvm), "calib_py_s": sum(py) / len(py)}
    out["calib_s"] = math.sqrt(out["calib_jvm_s"] * out["calib_py_s"])
    return out


def _vm_hwm_kib(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def memory_mib(spark) -> dict[str, float]:
    """Peak RSS (VmHWM) of the driver JVM and of this Python process,
    and the JVM heap still in use after a full collection."""
    pid = jvm_pid()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {
        "jvm_hwm": (_vm_hwm_kib(pid) if pid is not None else 0) / 1024.0,
        "python_hwm": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "jvm_heap_live": heap.getHeapMemoryUsage().getUsed() / float(1 << 20),
    }


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM it runs in, and wait for
    the JVM to exit so no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _git_sha(repo: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", repo, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def host_record(spark, repo: str, env: dict[str, str]) -> dict:
    """What a reader needs to compare this run with another."""
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "cpus": host_cpus(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "host_mem_mib": host_mem_mib(),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "spark": pyspark.__version__,
        "jdk": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        # the benchmark usually runs from an export with no .git
        "git_sha": _git_sha(repo),
        "platform": platform.platform(),
    }
