"""SparkSession factory tuned for the engine.

Scale stance: the same conf keys drive a real multi-executor cluster;
locally `local[N]` is the sandbox proxy for N executors (BASELINE.md
two-cluster-size criterion). AQE is on so skewed cell joins re-plan at
runtime; shuffle partitions default to cores (overridable by env).

Resources come from the host: N is the cores this process may run on
unless SPARK_GRAFT_CPUS says otherwise, and the driver heap is
GDAL_SPARK_DRIVER_MEM (default 24g) capped at half of physical memory
(the JVM's off-heap use and the Python workers share the rest).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

_UNITS = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _mem_total_mb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def _size_mb(spec: str) -> int:
    """JVM size string ('8g', '1918m', bare bytes) -> MiB."""
    spec = spec.strip().lower().removesuffix("b")
    if spec[-1] in _UNITS:
        return int(float(spec[:-1]) * _UNITS[spec[-1]])
    return int(spec) >> 20


def driver_memory() -> str:
    """min(GDAL_SPARK_DRIVER_MEM (default 24g), half of MemTotal) as a
    JVM size; uncapped where /proc/meminfo is absent."""
    want = os.environ.get("GDAL_SPARK_DRIVER_MEM", "24g")
    total = _mem_total_mb()
    if total is None:
        return want
    return f"{min(total // 2, _size_mb(want))}m"


def host_cpus() -> int:
    """SPARK_GRAFT_CPUS, else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


@contextmanager
def conf_override(spark: SparkSession, key: str, value: str):
    """Set a runtime SQL conf for the body of a `with`, then restore it."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def get_spark(app: str = "gdal_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = host_cpus()
    master = master or os.environ.get("GDAL_SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(os.environ.get("GDAL_SPARK_SHUFFLE", str(max(cpus, 8))))
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # InferFiltersFromGenerate adds `size(e) > 0 AND isnotnull(e)`
        # under every explode and pushes it to the scan, substituting
        # the generator-input ALIASES into the predicate. Our geometry
        # fixtures build vertex arrays from deep closed-form column
        # math, so the inferred (always-true: the arrays are literal-
        # built and non-empty) predicate textually duplicates that
        # whole chain and blew janino's 64 KB whole-stage-codegen limit
        # on the explode stages. Excluding the rule keeps explode
        # stages codegen'd; real input filters are unaffected.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
