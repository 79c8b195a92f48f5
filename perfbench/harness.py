"""Process-level set-up for one benchmark run: pinned environment, the
Spark session and its teardown, cache clearing between passes, memory
and load readings."""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

DRIVER_MEM = "2g"  # the library default (16g) exceeds this host's RAM


def task_slots() -> int:
    """Half the cores this process may use: the driver thread, the JIT
    compiler and GC threads and the Python client share the rest."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def pin_env(work: str) -> None:
    """Make the run independent of the caller's shell and keep every
    file Spark, the JVM and Python write inside ``work``."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in ("SPARK_MASTER", "PYSPARK_SUBMIT_ARGS"):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(task_slots()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", "python3"),
    )
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: str):
    from traits_data_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def clear(spark) -> None:
    """Blocking unpersist of every persistent RDD, then clearCache —
    ``clearCache`` alone never drops localCheckpoint blocks, and an
    asynchronous unpersist leaks its cost into the next pass."""
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)
    spark.catalog.clearCache()


def settle() -> float:
    """Wait, at most 10 s, until this process tree uses under a quarter
    of a core over half a second: the JVM's background JIT compilation
    and GC triggered by the work before have drained, so they do not
    run inside the next timed pass. Returns the wait."""
    t0 = time.perf_counter()
    prev = tree_cpu_s()
    while time.perf_counter() - t0 < 10.0:
        time.sleep(0.5)
        cur = tree_cpu_s()
        if cur - prev < 0.25 * 0.5:
            break
        prev = cur
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids, out, todo = _children(), [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and every
    descendant (the JVM and any Python workers)."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants()  # JVM workers are re-parented once it exits
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout_s
    alive = started
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
    for pid in alive:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def tree_cpu_s() -> float:
    """CPU time (user + system, reaped children included) of this
    process and every descendant: the work done, whatever share of the
    host's CPUs other guests take meanwhile."""
    ticks = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def load_avg() -> tuple[float, float]:
    one, five, _ = os.getloadavg()
    return one, five


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0
