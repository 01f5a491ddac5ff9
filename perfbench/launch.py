"""Start the Spark session the benchmark drives.

- ``fstd2pandas_spark`` is importable in Spark's Python workers from any
  working directory: the checkout root goes on the workers' PYTHONPATH
  (the package is not installed; without this, data-source creation
  fails with ``ModuleNotFoundError`` outside the repository root);
- local parallelism honors ``$SPARK_GRAFT_CPUS`` (default 4);
- the console progress bar is off, so standard output parses.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "fstd2pandas_spark"


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def worker_env() -> None:
    """Put the checkout root first on this process's and the workers'
    module search path."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p and p != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + paths)


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "4"))


def start_session(app: str, scratch: str):
    """A local session on ``cpus()`` cores with its scratch space under
    ``scratch`` (inside the checkout)."""
    worker_env()
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(local, exist_ok=True)
    from fstd2pandas_spark.session import get_spark

    n = cpus()
    return get_spark(app, master=f"local[{n}]", shuffle_partitions=n,
                     extra_conf={
                         "spark.ui.showConsoleProgress": "false",
                         "spark.local.dir": local,
                         "spark.sql.warehouse.dir":
                             os.path.join(scratch, "warehouse"),
                         "spark.executorEnv.PYTHONPATH":
                             os.environ["PYTHONPATH"],
                         "spark.driver.extraJavaOptions":
                             f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
                     })


def jvm_pid(spark) -> int:
    """Process id of the Spark JVM launched for this session."""
    return spark.sparkContext._gateway.proc.pid


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until it and every process it started have ended."""
    import time

    from perfbench.trace import descendants

    proc = spark.sparkContext._gateway.proc
    pids = descendants(proc.pid)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
