"""Spark session handling for the benchmark.

Every path Spark, the JVM and Python write to is under the benchmark's
work directory.  The shared configuration goes in ``PYSPARK_SUBMIT_ARGS``
for the JVM launch; the settings that differ between sessions of one run
(master, event log) are passed to the builder of each session.
"""

from __future__ import annotations

import os
import shlex
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def conf(work: Path, n_cores: int) -> dict[str, str]:
    return {
        "spark.master": f"local[{n_cores}]",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": str(max(2 * n_cores, 8)),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.eventLog.enabled": "false",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def prepare(work: Path, n_cores: int) -> None:
    """Environment for the JVM launch; call before the first session."""
    for d in ("spark-local", "warehouse", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    java = f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}"
    args = ["--driver-memory", "1g", "--driver-java-options", java]
    for k, v in conf(work, n_cores).items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def session(master: str | None = None, event_log: str | None = None):
    """Return the active session, or start one (the JVM on first use) on
    ``master`` (default ``local[cores()]``), writing an event log to
    ``event_log`` if given."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(master or f"local[{cores()}]")
    if event_log is not None:
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", event_log)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_active() -> None:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()


def shutdown() -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    stop_active()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
