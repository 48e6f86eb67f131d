"""SparkSession factory with the engine's canonical configuration.

Conventions that keep DataFrame results hash-identical to the DuckDB
oracle (FIXTURES.md "Canonicalization conventions"):
  * session timezone pinned to UTC,
  * Arrow enabled for the Pandas-UDF kernels,
  * AQE on (broadcast promotion, skew-join split at scale),
  * shuffle partitions sized for the local core count, not the 200
    default — at cluster scale this is a per-job knob, not a constant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the meepo_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "meepo_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or '*'. Shuffle partitions
    default to the core count — right for local mode; on a real cluster
    AQE coalescing makes the exact number forgiving.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        n_cores = cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(4, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Python workers start in the JVM's working directory, so anything
    # they unpickle by module reference (the DataSource class in
    # sources/pyds.py) imports only when the session was started from
    # the repo root. Put the package root on every worker's path; this
    # also covers a session reused through getOrCreate, whose static
    # spark.executorEnv.* confs would be ignored.
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    return spark
