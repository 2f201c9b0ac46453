#!/usr/bin/env python
"""Streaming-engine scaling evidence: the applyInPandasWithState segmenter
(stream_segment -> exactly-once sink, availableNow drain) over the same
on-disk replicated token table, ended by the end-of-feed record, at N vs 4N
cores, fresh JVM per level.
Complements bench_scaling.py (batch pipeline) — the north_rule's tier is
streaming, so the stateful streaming path gets its own two-level evidence.

Appends a section to BENCH/BASELINE.md.

Usage: python bench_scaling_stream.py
Env: SCALE_REPLICATION (default 256), SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPLICATION = int(os.environ.get("SCALE_REPLICATION", "256"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
INPUT_DIR = f"/tmp/spark_graft_scale_input_r{REPLICATION}"

GEN = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from pipe_segment_spark.session import build_session
from pipe_segment_spark.sources.token_stream import token_stream
from pipe_segment_spark.streaming.segmenter_stream import write_end_of_feed

sf_dir, repl, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
spark = build_session(app_name="scale-gen", cores=32)
spark.sparkContext.setLogLevel("ERROR")
rec = token_stream(spark, sf_dir)
rec = rec.crossJoin(
    spark.range(repl).select(F.col("id").alias("__r"))
).withColumn(
    "doc_id", F.concat("doc_id", F.lit("_r"), F.col("__r").cast("string"))
).drop("__r")
rec.repartition(128).write.mode("overwrite").parquet(out)
write_end_of_feed(spark, out)  # the drain releases and closes every day
spark.stop()
"""

WORKER = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, "/root/repo")
from pipe_segment_spark.session import build_session
from pipe_segment_spark.config import DEFAULT_PARAMS
from pipe_segment_spark.streaming.segmenter_stream import (
    END_OF_FEED_DOC_ID, INPUT_SCHEMA_DDL, stream_segment,
)
from pipe_segment_spark.streaming.sink import idempotent_batch_writer, read_sink

cores, in_dir = int(sys.argv[1]), sys.argv[2]
spark = build_session(app_name=f"stream-scale-{cores}", cores=cores)
spark.sparkContext.setLogLevel("ERROR")
# warm scan + JVM
n = spark.read.parquet(in_dir).where(f"doc_id != '{END_OF_FEED_DOC_ID}'").count()

tmp = tempfile.mkdtemp(prefix=f"stream_scale_{cores}_")
out_dir, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
t0 = time.perf_counter()
q = (
    spark.readStream.schema(INPUT_SCHEMA_DDL)
    .parquet(in_dir)
    .transform(lambda df: stream_segment(df, DEFAULT_PARAMS))
    .writeStream.foreachBatch(idempotent_batch_writer(out_dir))
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
wall = time.perf_counter() - t0
segmap_rows = read_sink(spark, out_dir).where(
    f"kind = 'segmap' AND doc_id != '{END_OF_FEED_DOC_ID}'"
).count()
shutil.rmtree(tmp, ignore_errors=True)
print(json.dumps({"cores": cores, "records": n, "segmap_rows": segmap_rows,
                  "wall_sec": round(wall, 2),
                  "records_per_sec": round(n / wall, 1)}))
spark.stop()
"""


def run_level(cores: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cores), INPUT_DIR],
        capture_output=True,
        text=True,
        timeout=3600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise RuntimeError(f"worker cores={cores} produced no result")
    return json.loads(lines[-1])


def main():
    if not os.path.exists(os.path.join(INPUT_DIR, "_SUCCESS")):
        shutil.rmtree(INPUT_DIR, ignore_errors=True)
        subprocess.run(
            [sys.executable, "-c", GEN, SF_DIR, str(REPLICATION), INPUT_DIR],
            check=True,
            timeout=1800,
        )
    r2 = run_level(2)
    r8 = run_level(8)
    r32 = run_level(32)
    eff = (r8["records_per_sec"] / r2["records_per_sec"]) / 4.0
    eff_8_32 = (r32["records_per_sec"] / r8["records_per_sec"]) / 4.0
    report = {
        "local2": r2,
        "local8": r8,
        "local32": r32,
        "stream_scaling_efficiency_n_to_4n": round(eff, 3),
        "stream_scaling_efficiency_8_to_32": round(eff_8_32, 3),
        "criterion": ">= 0.8",
        "passes": bool(eff >= 0.8),
    }
    print(json.dumps(report))
    assert r2["segmap_rows"] == r8["segmap_rows"] == r32["segmap_rows"]
    # REPLACE this tool's own section in place (appending made duplicates
    # once bench_scaling.py learned to preserve appended sections)
    marker = "\n## Streaming-engine scaling"
    with open("BENCH/BASELINE.md") as f:
        doc = f.read()
    start = doc.find(marker)
    if start >= 0:
        nxt = doc.find("\n## ", start + len(marker))
        doc = doc[:start] + (doc[nxt:] if nxt >= 0 else "")
    load = os.getloadavg()
    section = (
            f"""

## Streaming-engine scaling (applyInPandasWithState path)

Same protocol, but the job is the STRUCTURED STREAMING segmenter: file
source -> watermarked applyInPandasWithState (per-day fragmenter state +
greedy day-close) -> exactly-once sink, availableNow drain over
{r8["records"]:,} records (x{REPLICATION} replication, {40 * REPLICATION:,}
keys), fresh JVM + fresh checkpoint per level. Output identity verified:
{r2["segmap_rows"]:,} segmap rows at every parallelism level.

| parallelism | wall (s) | records/s |
|---|---|---|
| local[2]  (N)   | {r2["wall_sec"]} | {r2["records_per_sec"]:,} |
| local[8]  (4N)  | {r8["wall_sec"]} | {r8["records_per_sec"]:,} |
| local[32]       | {r32["wall_sec"]} | {r32["records_per_sec"]:,} |

**Streaming scaling efficiency (N=2 -> 4N=8)** = {round(eff, 3)}
(criterion >= 0.8: {"PASS" if eff >= 0.8 else "FAIL"}); 8 -> 32 =
{round(eff_8_32, 3)}. Host weather at measurement end: loadavg
{load[0]:.2f}/{load[1]:.2f}/{load[2]:.2f}.
"""
    )
    if start >= 0:
        doc = doc[:start] + section + doc[start:]
    else:
        doc = doc + section
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(doc)


if __name__ == "__main__":
    main()
