"""Spark session for benchmark runs, confined to the checkout.

One process, master ``local[nproc]``, shuffle partitions = nproc (what
``bench.py`` runs with ``SPARK_GRAFT_CPUS=$(nproc)``), UI off. Every
scratch location Spark, the JVM and Python would otherwise put under
``/tmp`` is redirected below ``<root>/.perfbench/tmp``.
"""

from __future__ import annotations

import gc
import os
import time

from pyspark.sql import SparkSession

from spark_sql_perf_spark.session import build_session


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def scratch_dir(root: str, name: str) -> str:
    path = os.path.join(root, ".perfbench", "tmp", name)
    os.makedirs(path, exist_ok=True)
    return path


def start_session(root: str) -> SparkSession:
    os.environ["TMPDIR"] = scratch_dir(root, "py")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = scratch_dir(root, "spark")
    n = cores()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(n),
            "spark.driver.memory": "3g",
            "spark.ui.enabled": "false",
            # keep every job and stage of a run in the status store that
            # the traced run reads (untraced runs use the same conf)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": scratch_dir(root, "spark"),
            "spark.sql.warehouse.dir": scratch_dir(root, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": scratch_dir(root, "hadoop"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={scratch_dir(root, 'java')} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def jvm_peak_rss_mb(pid: int | None) -> float:
    """The driver JVM's peak resident set (``VmHWM``), in MiB."""
    if pid is None:
        raise RuntimeError("no driver JVM process to measure")
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def heap_retained_mb(spark: SparkSession) -> float:
    """Driver heap still in use at rest, in MiB: what the engine keeps
    alive between operations (memoized relations, broadcast and
    checkpoint blocks, catalog and status-store state). Python collects
    first, since a py4j proxy in an unreached Python cycle still pins its
    JVM object. The JVM then collects until the heap stops shrinking:
    Spark's ContextCleaner drops the blocks of broadcasts and RDDs only
    after a collection has found them unreachable."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = None
    for _ in range(8):
        jvm.java.lang.System.gc()
        now = (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
        if used is not None and abs(used - now) < 1.0:
            break
        used = now
        time.sleep(0.5)
    return now


def stop_session(spark: SparkSession) -> None:
    """Stop Spark and wait for the driver JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin reaches EOF
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
