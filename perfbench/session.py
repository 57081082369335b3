"""Spark session lifecycle for one benchmark process.

Every file the session writes (local dirs, JVM temp files, the event
log) lands under the run's work directory inside the checkout, and
:func:`stop` waits until the driver JVM has exited.
"""

from __future__ import annotations

import gc
import os
import subprocess
import time


def start(work: str, event_log: bool):
    """(spark, seconds) for a session on local[<usable cores>]."""
    t0 = time.perf_counter()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR

    from helix_db_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the engine's 16g default exceeds what a shared box can lend
        "spark.driver.memory": "4g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    spark = get_spark("helix-perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_hwm_kb(jvm) + _hwm_kb("self")) / 1024.0


def collect_garbage(spark) -> None:
    """Full collection in Python and then in the driver JVM."""
    gc.collect()  # drop Python proxies that still pin JVM objects
    spark.sparkContext._jvm.System.gc()


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full collection: the memory a
    run leaves resident (cached blocks, catalog and index state)."""
    collect_garbage(spark)
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2.0 ** 20


def storage_mb(spark) -> float:
    """Bytes cached in Spark storage (memory and disk), in MiB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2.0 ** 20


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (it exits when its
    stdin closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
