"""SparkSession builder for the engine.

Storage note (SURVEY.md §7 Phase 0): the engine is storage-agnostic. At 100 TB
the tables are Iceberg partitioned by ``days(timestamp)`` (the reference's
date-sharded BigQuery tables, utils/bq_tools.py:71-90); in this sandbox the
Iceberg runtime jar is not available offline, so the same Table API
(sources/tables.py) runs over directory-partitioned Parquet with an identical
partition layout (``date=YYYY-MM-DD/``). Partition pruning, predicate pushdown
and dynamic overwrite semantics are exercised the same way.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    app_name: str = "pipe-segment-spark",
    cores: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit (which hands PySpark its gateway, the same test
    # pyspark.java_gateway makes) the launcher has already set the master:
    # its --master, or its local[*] default. Keep it, and its Python daemon:
    # on a cluster this package reaches the workers per task (--py-files),
    # after the daemon has started.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = (
            builder.master(f"local[{cores}]")
            # Python workers import the installed pyspark, not Spark's
            # zipped copy (worker_daemon.py). The daemon starts in the
            # driver's working directory, so the package's parent goes on
            # the workers' path for a driver started anywhere.
            .config("spark.python.daemon.module", "pipe_segment_spark.worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        )
    builder = (
        builder
        # Event time is canonical UTC (reference keeps float unix-seconds UTC,
        # transform/read_messages.py:40-42).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for all pandas-UDF traffic — no per-row Python anywhere.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # AQE handles runtime coalescing + skew-join splitting at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions", str(_default_shuffle_partitions(cores))
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _default_shuffle_partitions(cores: int | str) -> int:
    """One shuffle partition per core, so each Python stage runs one task
    wave. The count sets both Python stages: the batch kernel's
    ``repartition(n, "doc_id")`` (pipeline.py reads it from the conf) and
    the stream's stateful-operator partitions (fixed at a query's first
    start and kept in its checkpoint, so an existing checkpoint resumes
    with its own count).

    Every Python task pays a fixed start-up and every stateful task a
    state-store commit. When this rule was set, the start-up was about
    0.3 s on 4 cores (PySpark's ``setup_spark_files`` re-read the
    directory of Spark's zipped pyspark once per cached zipimporter; the
    local daemon now runs on the installed pyspark, worker_daemon.py, and
    that part is gone). Two waves (2x cores) ran 8 stateful tasks a
    microbatch on 4 cores, and more than half of the warm batch kernel
    stage's Python-worker time was this cost. One wave, measured on 4
    cores in paired runs: perfbench backfill job_s 2.84 s -> 2.15 s, and a
    20x backfill-shaped input (400k records, one doc_id holding 30%) 7.1 s
    -> 6.5 s, so the lost balance slack did not show. On a real cluster
    AQE coalescing from a high initial count, sized by
    ``advisoryPartitionSizeInBytes``, supersedes this local-mode rule."""
    try:
        return int(cores)
    except (TypeError, ValueError):
        return os.cpu_count() or 8
