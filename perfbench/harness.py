"""Process, Spark-session and statistics plumbing shared by the workloads.

Everything a run writes lives in the directory it is started from:
``.perfbench_work/`` (Spark local dirs, JVM temp dir, the versioned
store; removed when the run ends) and ``.perfbench_out/`` (per-op
records and spans). Every process a run starts (the JVM and the Python
workers the JVM forks) is stopped and waited for before the result line
is printed.
"""

from __future__ import annotations

import os
import shutil
import signal
import sys
import tempfile
import time

import numpy as np

# Session shape, fixed for every workload so runs compare across commits.
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"


def prepare_workdir(root: str) -> str:
    """Fresh ``.perfbench_work`` under ``root``; redirects every temp
    location Spark and Python use into it."""
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no perf-data file, temp files here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return work


def cleanup_workdir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={work} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads per-op job/stage counts from the status
        # store after the loop; keep every job of a run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers it forked, and
    wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    forked = descendants(proc.pid)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in forked) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in forked:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ------------------------------------------------------------------ #
# statistics
# ------------------------------------------------------------------ #

# The tail is the highest of these percentiles that still has at least
# TAIL_BEYOND samples above it.
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(xs, p: float) -> float:
    return float(np.percentile(list(xs), p))


def tail_percentile(n: int) -> float:
    for p in PERCENTILE_LADDER:
        if n * (1 - p / 100.0) >= TAIL_BEYOND:
            return p
    return 50.0


def median(xs) -> float:
    """Median of an iterable, 0 when it is empty."""
    xs = list(xs)
    return float(np.median(xs)) if xs else 0.0


def mean(xs) -> float:
    """Mean of an iterable, 0 when it is empty."""
    xs = list(xs)
    return float(np.mean(xs)) if xs else 0.0
