"""Start and stop a local Spark driver and its JVM.

``start`` launches the JVM, as a one-shot ``sws validate`` does. ``stop``
ends the session and the JVM and waits for every process the JVM forked.
All scratch space (shuffle files, temp files, event logs) stays under the
benchmark's work directory.
"""

from __future__ import annotations

import os
import tempfile

from perfbench.procstat import tree_pids


def master() -> str:
    return f"local[{os.cpu_count() or 1}]"


def start(root: str, work_dir: str, *, event_log_dir: str | None = None):
    """A SparkSession from the engine's ``get_spark`` on ``local[nproc]``
    with engine defaults, plus the local-directory settings that keep the
    run inside ``work_dir``. ``event_log_dir`` turns on Spark's event log
    (the traced run reads stage metrics from it)."""
    from slower_whisper_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # executors' Python workers must import the engine from this checkout
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # tempfile caches the directory it chose first
    # every JVM spark-submit starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.abspath(event_log_dir)
        # one plain JSON-lines file, readable with the standard library
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name="perfbench", master=master(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and every
    process it forked to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        orphans = [p for p in tree_pids(proc.pid) if p != proc.pid]
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)
        for pid in orphans:
            _wait_gone(pid)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pid: int, timeout: float = 30.0) -> None:
    import signal
    import time

    deadline = time.monotonic() + timeout
    while _alive(pid) and time.monotonic() < deadline:
        time.sleep(0.05)
    if _alive(pid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
