"""Session posture derived from the host, and clean teardown.

- `local[nproc]` with the shipped `task.cpus=2`;
- driver memory sized from /proc/meminfo (a quarter of MemTotal, 1-8 GiB)
  instead of the package's 48g default, and the heap fixed at that size
  (-Xms = -Xmx): a heap that grows on the collector's schedule made the
  peak RSS spread 15-30 % between runs, a fixed one 1-3 %;
- Spark local, warehouse and tmp dirs inside the run's scratch dir;
- the JVM and every process under it are killed and waited for at the end.
"""

from __future__ import annotations

import os
import signal
import sys
import time
import traceback

from observe import descendants

TASK_CPUS = 2


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def posture(root: str, scratch: str) -> dict:
    driver_gib = min(8, max(1, _mem_total_bytes() // (4 << 30)))
    return {
        "cores": len(os.sched_getaffinity(0)),
        "task_cpus": TASK_CPUS,
        "driver_memory": f"{driver_gib}g",
        "scratch": os.path.relpath(scratch, root),
    }


def start_spark(root: str, scratch: str, app: str):
    """Launch (or relaunch) the session with the benchmark's posture."""
    p = posture(root, scratch)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Read when the JVMs (launcher and driver) and the Python workers start.
    # UsePerfData off: the JVM would write /tmp/hsperfdata_<user>.
    os.environ["SPARK_DRIVER_MEMORY"] = p["driver_memory"]
    os.environ["PYTHONPATH"] = root
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from webscraper_spark.session import get_spark

    return get_spark(
        app_name=app,
        cores=p["cores"],
        task_cpus=TASK_CPUS,
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{p['driver_memory']}",
        },
    )


def stop_all(spark=None) -> None:
    """Stop the session, then kill the JVM and everything under this
    process (Python workers, daemons) and wait until they are gone."""
    # Teardown must reach the kill below whatever state Spark is in.
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            traceback.print_exc()
    SparkContext._gateway = None
    SparkContext._jvm = None
    kill_descendants()


def kill_descendants(timeout: float = 20.0) -> None:
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout / 2
        while time.time() < deadline:
            # Reap direct children; grandchildren are reaped by their parents
            # or by init once their parents are gone.
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            if not descendants(me):
                return
            time.sleep(0.1)
