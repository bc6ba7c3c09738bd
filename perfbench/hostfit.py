"""Host-fit Spark session settings, defined once for every workload.

The session runs on ``local[N]`` with N half the host's cores (at
most 4) and shuffle partitions tied to N, a driver heap sized from the
host's memory, and every scratch directory inside the benchmark's work
directory.  The event log is switched on only for traced passes.
"""

from __future__ import annotations

import os
import platform
from dataclasses import dataclass
from pathlib import Path

MAX_CORES = 4
MIN_HEAP_MB = 1024
MAX_HEAP_MB = 4096


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


@dataclass(frozen=True)
class HostFit:
    cores: int
    heap_mb: int
    shuffle_partitions: int

    @classmethod
    def detect(cls) -> HostFit:
        # half the cores: the rest absorb the JIT compiler, the GC, the
        # Python workers and the driver, so that losing a core to another
        # tenant of a shared host stretches the passes far less
        cores = max(1, min(len(os.sched_getaffinity(0)) // 2, MAX_CORES))
        # a quarter of RAM: the host is shared, and Python workers and the
        # page cache need the rest
        heap = min(MAX_HEAP_MB, max(MIN_HEAP_MB, _mem_total_mb() // 4))
        return cls(cores=cores, heap_mb=heap, shuffle_partitions=cores)


def session_conf(fit: HostFit, work: Path, event_log: Path | None = None) -> dict[str, str]:
    """Spark settings for one session; ``event_log`` turns the log on."""
    conf = {
        "spark.master": f"local[{fit.cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{fit.heap_mb}m",
        # a fixed heap and young generation keep the peak resident set
        # from following G1's adaptive sizing run to run; GC and JIT
        # threads are capped to fit the cores the task slots leave free
        "spark.driver.extraJavaOptions": (
            f"-Xms{fit.heap_mb}m -Xmn{fit.heap_mb // 4}m"
            f" -XX:ParallelGCThreads={max(2, fit.cores)} -XX:ConcGCThreads=1 -XX:CICompilerCount=2"
        ),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.shuffle.partitions": str(fit.shuffle_partitions),
        "spark.default.parallelism": str(fit.cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log.resolve().as_uri(),
            }
        )
    return conf


def prepare_environment(root: Path, work: Path) -> None:
    """Point every temp and scratch directory at ``work`` and make the
    package importable by the driver and its Python workers.  Must run
    before the JVM starts."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the launcher's too: temp files under work, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # single-threaded BLAS and Arrow CPU pools in the driver and in every
    # Python worker, which inherits this environment: a worker per task
    # slot is already one busy thread per slot
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + path if path else "")


def start_session(conf: dict[str, str]):
    """Build a session with ``conf``; the first call also launches the JVM."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_session(spark, conf: dict[str, str]):
    """Stop ``spark`` and build a fresh session in the same JVM.  Static
    settings such as the event log take effect because the
    SparkContext is new."""
    spark.stop()
    return start_session(conf)


def versions(spark) -> dict[str, str]:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "pyspark": pyspark.__version__,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
    }


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def shutdown(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout_s)
