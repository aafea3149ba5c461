"""Session lifetime and run bookkeeping shared by the serve and build
workloads. Every file the run writes stays under perfbench/_work of the
checkout; the JVM and its Python workers are stopped and waited for."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import traceback

K = 10  # top-k of every ranked query
DRIVER_MEMORY = "3g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(root: str, work: str) -> None:
    """Environment the Spark driver and its Python workers inherit."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts: temp files in the checkout, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session(work: str, app: str, event_log_dir: "str | None" = None):
    """get_spark at local[cpus] with every local path inside `work`; an
    event log is written only when `event_log_dir` is given."""
    from dint_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app, cpus=cpus(), driver_memory=DRIVER_MEMORY, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited (its
    Python workers are its children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def force_gc(spark) -> None:
    """Untimed driver-JVM GC between operations (bench.py's protocol): lets
    the ContextCleaner drop the previous operation's shuffle state."""
    spark._jvm.System.gc()


def dir_bytes(path: str) -> int:
    """On-disk bytes of the parquet files of a table directory."""
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files if f.endswith(".parquet"))
    return total


def attempt(fn, *args):
    """Run one operation; (result, None) or (None, error text). A failed
    operation is counted, never dropped."""
    try:
        return fn(*args), None
    except Exception:
        err = traceback.format_exc()
        print(err, file=sys.stderr)
        return None, err.strip().splitlines()[-1]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
