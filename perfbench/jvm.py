"""Spark driver lifecycle for one benchmark run: start through the library's
``get_spark``, measure the process tree's peak memory, and stop the JVM and
its Python workers before the run ends."""

from __future__ import annotations

import os
import subprocess

CORES = 4
DRIVER_MEMORY = "3g"


def start(work: str, eventlog_dir: str | None = None):
    """A local[4] session whose scratch space all lies under ``work``."""
    from beats_spark import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(eventlog_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(master=f"local[{CORES}]", shuffle_partitions=CORES,
                     extra_conf=conf)


def host_fingerprint(spark) -> str:
    """nproc, CPU model, RAM and the Java, PySpark and Python versions."""
    import platform

    import pyspark

    with open("/proc/cpuinfo") as f:
        cpu = next((line.split(":", 1)[1].strip() for line in f
                    if line.startswith("model name")), "unknown")
    with open("/proc/meminfo") as f:
        ram_kb = int(next(line.split()[1] for line in f if line.startswith("MemTotal")))
    java = spark.sparkContext._jvm.System.getProperty("java.version")
    return (f"nproc {len(os.sched_getaffinity(0))}, cpu {cpu}, ram {ram_kb / 2**20:.1f} GiB, "
            f"java {java}, pyspark {pyspark.__version__}, "
            f"python {platform.python_version()}")


def _gateway_proc() -> subprocess.Popen | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: ppid follows its ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of VmHWM over the driver JVM and every process below it (its
    Python workers). The benchmark's own process, which generates inputs
    and computes the references, is left out."""
    proc = _gateway_proc()
    if proc is None:
        raise RuntimeError("no driver JVM to measure")
    kids = _children()
    total, todo = 0, [proc.pid]
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024


def stop(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for it;
    the JVM's Python workers exit with it."""
    from pyspark import SparkContext

    proc = _gateway_proc()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
