"""SparkSession builder tuned for the crawl engine.

Local-mode testing runs on ``local[N]`` but every knob here is chosen for
multi-executor scale (AQE skew handling, Arrow batches, shuffle sizing) —
see SURVEY.md §4.3.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "axora_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None → ``local[*]``. ``shuffle_partitions`` defaults to the core
    count in local mode (the guide's "~cores for local" rule); on a real
    cluster it should be ~2-3× total cores and is overridable via
    ``extra_conf``.

    When this call launches a ``local[...]`` master itself, Python tasks
    fork from ``axora_spark.pyworker`` (``spark.python.daemon.module``),
    which skips the per-task re-read of Spark's own pyspark/py4j zips
    (~0.2 s a task; SCALE.md, "Python worker cost"). Under spark-submit
    or a cluster master Spark's default daemon stays: there the daemon
    starts before ``--py-files`` are on its path and cannot import the
    package.
    """
    # Under spark-submit the python driver is launched by an already-running
    # JVM gateway (PYSPARK_GATEWAY_PORT) whose conf carries --master; calling
    # .master() here would silently override e.g. `--master local-cluster[...]`
    # or `--master yarn` with local[*]. Honor the submitted master unless the
    # caller explicitly asked for a core count.
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    if cores is None and submitted:
        master = None
        n_cores = None
    elif cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n_cores = int(cores_env) if cores_env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None and n_cores is not None:
        shuffle_partitions = max(8, n_cores)

    # Make the package importable inside executor Python workers no matter
    # what cwd the driver script launched from: UDF pickles reference
    # axora_spark module attributes, and a worker that can't import the
    # package fails every pandas-UDF stage. Local mode forks workers with
    # the driver's env, so exporting before the JVM starts is sufficient;
    # cluster deployments ship the package via --py-files instead.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (repo_root + (os.pathsep + pp if pp else ""))

    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # managed tables (the bucketed seen-table path, operators/
        # bucketed.py) land in a temp warehouse, never the repo cwd
        .config("spark.sql.warehouse.dir",
                os.environ.get("AXORA_WAREHOUSE",
                               os.path.join(tempfile.gettempdir(),
                                            "axora_spark_warehouse")))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("AXORA_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # runtime bloom-filter join injection (cheap insurance for the
        # frontier anti-joins on top of our app-level bloom pre-filter)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    if master is not None:
        builder = builder.master(master)
        if not submitted:
            # the PYTHONPATH export above reaches the JVM this call starts
            builder = builder.config("spark.python.daemon.module",
                                     "axora_spark.pyworker")
    if n_cores is not None:
        builder = builder.config("spark.default.parallelism", str(n_cores))
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        # submitted master, no explicit sizing: SQL shuffle width follows
        # the cluster's total cores (runtime-settable, unlike the two above)
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(8, spark.sparkContext.defaultParallelism)))
    spark.sparkContext.setLogLevel("WARN")
    return spark
