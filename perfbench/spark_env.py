"""Spark session for the benchmark: sized for a small host, confined to
the checkout, and shut down together with its JVM."""

from __future__ import annotations

import os
import platform
import subprocess

#: driver heap; the whole store and corpus fit many times over, and it
#: stays far below a 15 GB host shared with other work
DRIVER_MEMORY = "2g"


def cores() -> int:
    """Slots for ``local[N]``: one core fewer than the host has (at most
    3), so the driver's plan building and the JIT compiler never wait
    for a task slot. Measured on a 4-core host, full_load iterations
    were faster and steadier on ``local[3]`` than on ``local[4]``."""
    return max(1, min(4, os.cpu_count() or 1) - 1)


def start(work_dir: str, root: str):
    """Start ``local[N]`` with every scratch path under ``work_dir``.

    ``root`` (the checkout) goes on ``PYTHONPATH`` so Python workers can
    import the engine package."""
    from pyspark.sql import SparkSession

    from knowledge_graph_etl_spark.session import apply_engine_confs

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    n = cores()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(work_dir, 'derby')}",
        )
    )
    spark = apply_engine_confs(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def environment(spark) -> dict:
    """What a result depends on besides the code: host load and versions."""
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "local_cores": cores(),
        "driver_memory": DRIVER_MEMORY,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
