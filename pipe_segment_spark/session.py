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


def build_session(
    app_name: str = "pipe-segment-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit (which hands PySpark its gateway, the same test
    # pyspark.java_gateway makes) the launcher has already set the master:
    # its --master, or its local[*] default. Keep it.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        builder = builder.master(f"local[{cores}]")
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
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _default_shuffle_partitions(cores)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _default_shuffle_partitions(cores: int | str) -> int:
    try:
        n = int(cores)
    except (TypeError, ValueError):
        n = os.cpu_count() or 8
    # Piecewise, both branches MEASURED (BENCH/BASELINE.md r4 sweep):
    # - wide boxes (>=16 cores): 1x cores. The hot paths are
    #   groupBy().applyInPandas exchanges whose per-partition cost is
    #   dominated by Python-worker/Arrow batch overhead — 2x cores means
    #   two task waves of that overhead per stage (flagship 11.6s @64
    #   partitions vs 9.7s @32 on 32 cores; 128/256 worse still).
    # - narrow boxes (<16 cores): 2x cores. At 8 cores, 8 partitions is a
    #   single wave with NO balance slack — the slowest partition gates
    #   the stage (batch scaling thr@8c dropped 458k -> 391k rec/s when
    #   r4 briefly shipped 1x across the board); 2 waves restore the
    #   skew tolerance and the worker overhead is small at this width.
    # Local-mode logic only: on a real cluster this is superseded by AQE
    # coalescing from a high initial partition count, where target
    # partition BYTES (advisoryPartitionSizeInBytes), not a wave count,
    # sets the granularity.
    if n >= 16:
        return n
    return max(2 * n, 8)
