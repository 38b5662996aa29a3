"""SparkSession construction and per-query session hygiene.

The driver may hand us an arbitrary SparkSession; ``configure(spark)``
pins the runtime-settable confs our semantics rely on (UTC session
timezone so timestamp values agree with DuckDB's UTC-naive timestamps,
AQE for runtime re-planning). Everything else is expressed with
explicit ``try_*`` / typed expressions so we do not depend on the
session's ANSI mode.
"""

from __future__ import annotations

import contextlib
import os
import threading
from collections.abc import Iterator

from pyspark.sql import SparkSession

# Confs that are safe to set at runtime on a live session.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The events fixture stores ts as parquet TIMESTAMP(NANOS), which
    # Spark rejects outright; with this conf the column surfaces as a
    # LONG of epoch-nanos and io.readers converts it back to timestamp.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Spark's generated-class cache holds 100 classes by default, but one
# pass over the headline queries compiles about 400, so every warm
# query recompiled its classes. 1000 is 2.5x that working set.
CODEGEN_CACHE_ENTRIES = "1000"

# Confs that only change speed: a deployment that refuses them still
# returns the same answers, so a failed set is tolerated. Every other
# RUNTIME_CONFS entry changes results and must apply.
PERF_CONFS = frozenset(
    {
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
    }
)


def configure(spark: SparkSession) -> SparkSession:
    """Pin runtime confs this engine's semantics rely on. Idempotent.

    Raises if a semantic conf (UTC session time zone, nanos-as-long
    parquet timestamps) cannot be set: queries would otherwise return
    shifted or unreadable timestamps instead of failing.

    Also puts the package root on the Python workers' ``PYTHONPATH``:
    UDFs and Python data sources unpickle references to this package in
    the worker, which does not inherit the driver's ``sys.path``.
    """
    _share_package_root(spark)
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            if k not in PERF_CONFS:
                raise RuntimeError(f"cannot set semantic conf {k}={v}") from e
    _quiet_bounded_window_warning(spark)
    return spark


PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _share_package_root(spark: SparkSession) -> None:
    """Every Python function Spark ships (UDF, data source, foreachBatch)
    carries ``SparkContext.environment`` as the worker's environment, and
    the worker factory prepends its ``PYTHONPATH`` to the worker's. A
    session with no local SparkContext (Spark Connect) has no workers
    to reach."""
    try:
        env = spark.sparkContext.environment
    except (AttributeError, NotImplementedError):
        return
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([PACKAGE_ROOT, *paths])


def _quiet_bounded_window_warning(spark: SparkSession) -> None:
    """Silence WindowExec's "No Partition Defined for Window" warning.

    Every remaining unpartitioned window in this engine runs over a
    BOUNDED aggregate by construction — O(buckets) carry rows in the
    bucket+carry decompositions (plans/stats.py, relational.py), O(days
    | months) calendar spines in the timeseries plans, O(numPartitions)
    offsets in operators/ranks.py — never over row-scale data
    (tests/test_plan_shapes.py pins the row-scale cases to partitioned
    or range-decomposed plans). The blanket warning is therefore noise
    here; scope the logger down rather than suppressing WARN globally.
    """
    try:
        jvm = spark.sparkContext._jvm
        for cls in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.window.WindowGroupLimitExec",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                cls, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:
        pass  # cosmetic only; never fail a query over logging config


def get_spark(
    app_name: str = "finance-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a session tuned for the current machine.

    In local mode the shuffle partition count defaults to the core count:
    200 partitions over kilobyte-scale local shuffles is pure overhead,
    while at cluster scale AQE coalescing handles the right-sizing.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        # A static conf: it applies only to a session built here, and
        # configure() cannot set it on a session the caller built.
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)


@contextlib.contextmanager
def count_py4j_calls() -> Iterator[list[int]]:
    """Count the py4j round trips the driver makes inside the block, from
    every thread: ``with count_py4j_calls() as n: ...`` leaves the count
    in ``n[0]`` and, of those, the proxy frees in ``n[1]``. Wraps
    ``ClientServerConnection.send_command``, the transport of PySpark's
    default pinned-thread mode, so every call to the JVM (a method, a
    field, an object freed) counts once. py4j frees a proxy whenever
    Python drops it, including proxies made before the block, so
    ``n[0] - n[1]`` is the part the block's own code decides."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    free = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    n = [0, 0]
    lock = threading.Lock()
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        with lock:
            n[0] += 1
            n[1] += command.startswith(free)
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        yield n
    finally:
        ClientServerConnection.send_command = send
