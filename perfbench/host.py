"""Host facts, the Spark session the benchmark runs, and on-disk sizes."""

from __future__ import annotations

import os
import platform
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def peak_rss_mb(pid: int | str) -> float:
    """VmHWM (peak resident set) of one process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def cpu_probe_ms() -> float:
    """Wall time of a fixed single-threaded Python loop: how fast this host
    runs right now (it drifts under load from other tenants)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    return (time.perf_counter() - t0) * 1e3


def conditions() -> dict:
    import pyspark

    return {"nproc": nproc(), "mem_total_mb": mem_total_mb(), "loadavg_start": loadavg(),
            "cpu_probe_ms_start": cpu_probe_ms(), "python": platform.python_version(),
            "spark": pyspark.__version__}


def end_conditions() -> dict:
    return {"loadavg_end": loadavg(), "cpu_probe_ms_end": cpu_probe_ms()}


def prepare_env(root: str, run_dir: str) -> None:
    """Process environment for a run whose scratch files all live in run_dir.

    Spark's Python workers import the engine from the checkout whatever the
    working directory, and the library's default ``BuildConfig`` reads its
    shuffle width from ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` at import time.
    """
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(nproc())
    # no JVM perf-data file under /tmp, for the launcher JVM and the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_spark(run_dir: str, event_log: bool):
    """``local[nproc]`` session with nproc shuffle partitions and a driver
    heap well under host RAM; everything Spark writes stays in run_dir."""
    from search_engine_spark.session import get_spark

    cores = nproc()
    driver_gb = max(1, min(4, round(mem_total_mb() / 1024 / 8)))
    conf = {
        "spark.driver.memory": f"{driver_gb}g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=cores, shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
