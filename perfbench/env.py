"""The benchmark's own environment: one work root inside the checkout,
a SparkSession sized to this host, JVM teardown, and run provenance.

Every path the run writes (Spark local dirs, warehouse, JVM and Python
temp files, checkpoints, the event log, results) sits under
``<checkout>/.perfbench_work/``.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of this host's memory, 1g to 4g: the driver JVM is also the
    executor in local mode, and the host is shared."""
    gb = mem_total_kb() // (1024 * 1024)
    return f"{max(1, min(4, gb // 4))}g"


class Workdir:
    """Scratch tree of one run, wiped when the run starts and ends; the
    ``results`` dir is kept."""

    SUBDIRS = ("tmp", "spark_local", "warehouse", "eventlog", "data")

    def __init__(self, workload: str):
        self.root = WORK / workload
        self.results = WORK / "results"
        self.tmp, self.spark_local, self.warehouse, self.eventlog, self.data = (
            str(self.root / sub) for sub in self.SUBDIRS
        )

    def reset(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in self.SUBDIRS:
            (self.root / sub).mkdir(parents=True)
        self.results.mkdir(parents=True, exist_ok=True)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def own_process_env(work: Workdir) -> None:
    """Make the package importable in Spark's Python workers and keep every
    temp file under the work root.  Must run before the JVM starts."""
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = work.tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.spark_local
    # every JVM spark-submit starts: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work.tmp}"
    # engine A/B knobs from the caller's shell would silently change the
    # measured configuration
    for var in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_CPUS"):
        os.environ.pop(var, None)


def start_session(work: Workdir, event_log: bool):
    """SparkSession with the engine defaults on ``local[nproc]``."""
    from dachshund_spark.session import get_spark

    cpus = host_cpus()
    extra = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": work.spark_local,
        "spark.sql.warehouse.dir": work.warehouse,
        "spark.ui.enabled": "false",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        extra["spark.eventLog.dir"] = "file://" + work.eventlog
        extra["spark.eventLog.compress"] = "false"
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (the executor too, in local
    mode)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_peak_rss_mb() -> float:
    """Peak resident set of the JVM the gateway launched (VmHWM)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # the gateway server exits on EOF of its stdin
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest() -> str:
    """sha256 over the package's Python sources: identifies the code under
    test where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = ROOT / "dachshund_spark"
    for path in sorted(pkg.rglob("*.py")):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()


def provenance(spark, workload: str, seed: int, trace: bool) -> dict:
    import pyarrow

    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "git_sha": _git_sha(),
        "source_sha256": source_digest(),
        "nproc": host_cpus(),
        "mem_total_kb": mem_total_kb(),
        "driver_memory": driver_memory(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "unix_time": time.time(),
    }
