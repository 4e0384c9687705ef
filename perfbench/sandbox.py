"""Keep every file a benchmark run writes inside its work directory, and
launch/stop the Spark session whose start-up is the `setup_s` metric.

The engine writes to three places outside the checkout by default: the
session's hard-coded warehouse (`/tmp/spark-warehouse`), Python
`tempfile` spools (streaming and index queries), and the JVM's temp and
perf-data files. `isolate` points all of them at the run's work
directory before the first session starts. Values and plans do not
depend on these paths.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def isolate(work_dir: str) -> None:
    """Redirect temp, shuffle/spill, JVM and warehouse paths under
    ``work_dir``. Call once per process, before any session exists."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    warehouse = os.path.join(work_dir, "warehouse")
    for d in (tmp, local, warehouse):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    jopts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{jopts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )
    tempfile.tempdir = None  # re-read TMPDIR if tempfile already cached one

    from pyspark.sql import SparkSession

    builder_cls = SparkSession.Builder
    original = builder_cls.getOrCreate

    def get_or_create(self):
        # session.get_spark pins the warehouse to /tmp; a static conf, so
        # it has to be set before the session is built
        self._options["spark.sql.warehouse.dir"] = warehouse
        return original(self)

    builder_cls.getOrCreate = get_or_create


def start_session(app_name: str):
    """The measured set-up: ``session.get_spark`` plus
    ``registry.get_queries``. Returns (spark, queries, seconds)."""
    t0 = time.perf_counter()
    from mapreduce_spark.session import get_spark

    spark = get_spark(app_name)
    from mapreduce_spark.registry import get_queries

    queries = get_queries()
    seconds = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, queries, seconds


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
