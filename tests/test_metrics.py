"""Lineage + metrics layer (north_rule: per-partition lineage + metrics)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from pipe_segment_spark.streaming.metrics import (
    record_progress,
    read_metrics,
    with_lineage,
)


def test_lineage_partition_stamp(spark):
    df = with_lineage(spark.range(1000).repartition(8))
    parts = df.select("lineage_partition").distinct().count()
    assert parts == 8


def test_stream_metrics_recording(spark, tmp_path):
    metrics_dir = str(tmp_path / "metrics")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, i % 24)) for i in range(100)],
        "id long, ts timestamp",
    ).coalesce(1).write.parquet(os.path.join(in_dir, "f0"))
    q = (
        spark.readStream.schema("id long, ts timestamp")
        .parquet(in_dir)
        .groupBy(F.window("ts", "1 hour"))
        .count()
        .writeStream.format("memory")
        .queryName("m_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    import time

    time.sleep(2)  # progress entries append asynchronously post-termination
    n = record_progress(q, metrics_dir)
    assert n >= 1
    # idempotent on re-record (replay-safe filenames)
    assert record_progress(q, metrics_dir) == n
    rows = read_metrics(spark, metrics_dir).collect()
    assert len(rows) == n
    cols = set(rows[0].asDict())
    assert {"batch_id", "num_input_rows", "state_rows_total", "run_id"} <= cols
    assert all(r["state_rows_total"] >= 0 for r in rows)
