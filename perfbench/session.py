"""The benchmark's Spark session: deployment settings only.

No engine tuning goes here, so the benchmark measures the engine that
library and CLI users get.  Everything the session writes (shuffle and
spill files, temp files, the event log) stays under the run directory.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys

from pyspark.sql import SparkSession

#: Spark's own default, which a CLI run without ``--driver-memory`` gets
DRIVER_MEMORY = "1g"


def build_session(nproc: int, run_dir: str, repo_root: str, event_log_dir: str | None) -> SparkSession:
    """Start one local session at ``local[nproc]``.

    The Python workers are spawned by the JVM, which inherits this
    process's environment: putting the repo root on ``PYTHONPATH`` here is
    what lets them import ``hermes_spark`` from any working directory."""
    local_dir = os.path.join(run_dir, "spark-local")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp_dir
    os.environ["PYSPARK_PYTHON"] = sys.executable
    builder = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("hermes-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        # -XX:-UsePerfData: the JVM would otherwise write its perf
        # counters under /tmp, outside the run directory
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # shuffle parallelism sized to the local cores, as a local[N]
        # deployment sets it; Spark's default of 200 is sized for a
        # cluster and makes every stage over a 200-partition cache cost
        # ~0.5-1 s of task scheduling at any input size on 4 cores
        .config("spark.sql.shuffle.partitions", str(2 * nproc))
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
            # the 4.x default codec is zstd, which the stdlib cannot read
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    since boot; its growth over a run shows contention from outside."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    steal = int(fields[8]) if len(fields) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK")


def java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True, text=True, check=False)
    lines = (out.stderr or out.stdout).splitlines()
    return lines[0] if lines else "unknown"


def environment(spark: SparkSession, nproc: int) -> dict:
    """What a noisy run needs to be explained afterwards."""
    conf = dict(spark.sparkContext.getConf().getAll())
    keep = {k: v for k, v in conf.items() if not k.startswith("spark.app.") and "id" not in k.split(".")[-1]}
    return {
        "nproc": nproc,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": java_version(),
        "conf": dict(sorted(keep.items())),
    }
