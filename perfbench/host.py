"""Host facts and the Spark session every workload runs on.

The session is sized from the host, never from constants: ``local[N]``
with N from ``nproc`` (one driver, no more task threads than cores) and a
driver heap from ``/proc/meminfo``.  Every file Spark, the JVM or Python
workers write goes under the work directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess

# share of MemTotal given to the driver heap; the JVM, the Python driver
# and the Arrow workers all live beside it in the same host memory
DRIVER_HEAP_SHARE = 0.125
DRIVER_HEAP_CAP_MB = 8192


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def git_commit(root: str) -> str:
    """The checkout's commit, or "unknown" outside a git work tree."""
    if not (os.path.isdir(os.path.join(root, ".git"))
            and shutil.which("git")):
        return "unknown"
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                         capture_output=True, text=True, timeout=30)
    return out.stdout.strip() or "unknown"


def facts(root: str) -> dict:
    import pyarrow
    import pyspark
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": driver_heap_mb(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "commit": git_commit(root),
    }


def driver_heap_mb() -> int:
    return min(DRIVER_HEAP_CAP_MB, int(mem_total_mb() * DRIVER_HEAP_SHARE))


def point_temp_dirs(work: str) -> None:
    """Route Python-side temp files (tempfile, Arrow spills) into the
    work directory; the JVM gets the same through java.io.tmpdir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def start_session(work: str):
    """The run's SparkSession: ``local[nproc]``, host-sized driver heap,
    every scratch file under ``work``."""
    from pyspark.sql import SparkSession
    n = nproc()
    tmp = os.path.join(work, "tmp")
    heap = driver_heap_mb()
    # initial heap = maximum heap: no heap resizing, whose timing would
    # make the resident size of a run depend on when collections fell
    java_opts = f"-Xms{heap}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = (SparkSession.builder
             .master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{heap}m")
             .config("spark.driver.extraJavaOptions", java_opts)
             .config("spark.local.dir", os.path.join(work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.default.parallelism", str(n))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             # the traced run reads every job and stage back from the
             # status store, so none may be evicted; untraced runs keep
             # the same setting so both run identical engine code
             .config("spark.ui.retainedJobs", "1000000")
             .config("spark.ui.retainedStages", "1000000")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait until it exits (its
    Python workers exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
