"""The benchmark's own Spark session: one fresh local JVM per run.

Everything the session writes (shuffle and spill files, JVM temp files,
the event log of a traced run) lands under the run's work directory, and
``stop`` waits for the JVM to exit so a run leaves no process behind.
"""

from __future__ import annotations

import os
import subprocess


def cpu_count() -> int:
    """Cores this process may run on, as ``nproc`` reports them."""
    return len(os.sched_getaffinity(0))


def start(work_dir: str, app_name: str, event_log_dir: str | None = None):
    """Start ``get_spark`` on ``local[nproc]`` with scratch space in
    ``work_dir``; ``event_log_dir`` turns on an uncompressed event log."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # get_spark defaults to local[32]; the benchmark runs on the cores it has.
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp, for the
    # launcher JVM that spark-submit starts first and for the driver JVM.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                # The default zstd log needs a codec this Python cannot read.
                "spark.eventLog.compress": "false",
            }
        )
    from app_insights_generator_spark.session import get_spark

    return get_spark(app_name=app_name, extra_conf=conf)


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc: subprocess.Popen | None = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
