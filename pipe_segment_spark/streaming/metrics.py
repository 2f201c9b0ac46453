"""Per-partition lineage + metrics (north_rule requirement).

Lineage: every emitted row's ids are pure functions of (key, first event
time, intra-day counter) — the reference's deterministic id scheme
(SURVEY.md §1.3) — so a replayed partition reproduces identical ids. This
module adds run-level observability around that:

- ``record_progress(query, metrics_dir)``: drains
  ``StreamingQuery.recentProgress`` into an append-only JSON metrics table
  (one row per microbatch: batch id, input rows, rows/sec, watermark,
  state-store size) — the streaming analog of the Dataflow job metrics the
  reference relies on. Idempotent per (run_id, batch_id) filename, so
  repeated calls / replays don't duplicate; a long-running query calls it
  periodically.
- ``with_lineage``: stamps rows with their physical input partition id for
  partition-level audit of any output row.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def with_lineage(df: DataFrame) -> DataFrame:
    """Stamp rows with their physical input partition — joins every output
    row back to the exact task that produced it on replay audits."""
    return df.withColumn("lineage_partition", F.spark_partition_id())


def _progress_row(p) -> dict:
    if not isinstance(p, dict):  # StreamingQueryProgress object (pyspark 4)
        p = json.loads(p.json)
    state_ops = p.get("stateOperators") or []
    return {
        "query_id": str(p.get("id")),
        "run_id": str(p.get("runId")),
        "batch_id": p.get("batchId"),
        "timestamp": p.get("timestamp"),
        "num_input_rows": p.get("numInputRows"),
        "processed_rows_per_second": p.get("processedRowsPerSecond"),
        "watermark": (p.get("eventTime") or {}).get("watermark"),
        "state_rows_total": sum(s.get("numRowsTotal", 0) for s in state_ops),
        "state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in state_ops),
    }


def record_progress(query, metrics_dir: str) -> int:
    """Write every recentProgress entry of a (running or finished) streaming
    query to the metrics table. Returns number of rows written."""
    os.makedirs(metrics_dir, exist_ok=True)
    n = 0
    for p in query.recentProgress:
        row = _progress_row(p)
        path = os.path.join(
            metrics_dir, f"progress-{row['run_id']}-{row['batch_id']}.json"
        )
        with open(path, "w") as f:  # idempotent: same name on replay
            f.write(json.dumps(row))
        n += 1
    return n


def read_metrics(spark: SparkSession, metrics_dir: str) -> DataFrame:
    return spark.read.json(metrics_dir)
