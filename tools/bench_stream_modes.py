#!/usr/bin/env python
"""Streaming-mode throughput comparison (the BENCH/BASELINE.md stream-mode
table, reproducible): drains the SAME replicated token input through the
segmenter in each stream mode — fresh JVM + fresh checkpoint per mode —
and verifies output-identity (tagged + segmap counts) across modes.

Usage: python tools/bench_stream_modes.py [low_latency sorted_prefix]
Env: SCALE_REPLICATION (default 256; uses bench_scaling's cached input at
/tmp/spark_graft_scale_input_r{N}, generating it if missing),
SPARK_GRAFT_CPUS (default 32).

Protocol caveat (BENCH/BASELINE.md): availableNow drains are the buffered
mode's WORST case — the watermark lags one microbatch, so most records
round-trip through keyed state before the terminal drain; continuous
small-batch deployments release within ~one batch of arrival.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipe_segment_spark.streaming.segmenter_stream import STREAM_MODES  # noqa: E402

REPLICATION = int(os.environ.get("SCALE_REPLICATION", "256"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
INPUT_DIR = f"/tmp/spark_graft_scale_input_r{REPLICATION}"

WORKER = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, %(repo)r)
from pipe_segment_spark.session import build_session
from pipe_segment_spark.config import DEFAULT_PARAMS
from pipe_segment_spark.streaming.segmenter_stream import (
    INPUT_SCHEMA_DDL, stream_segment,
)
from pipe_segment_spark.streaming.sink import idempotent_batch_writer, read_sink

cores, in_dir, mode = sys.argv[1], sys.argv[2], sys.argv[3]
spark = build_session(app_name=f"stream-mode-{mode}", cores=cores)
spark.sparkContext.setLogLevel("ERROR")
n = spark.read.parquet(in_dir).count()  # warm scan + JVM

tmp = tempfile.mkdtemp(prefix=f"stream_mode_{mode}_")
out_dir, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
t0 = time.perf_counter()
q = (
    spark.readStream.schema(INPUT_SCHEMA_DDL)
    .parquet(in_dir)
    .transform(lambda df: stream_segment(df, DEFAULT_PARAMS, mode=mode))
    .writeStream.foreachBatch(idempotent_batch_writer(out_dir))
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
wall = time.perf_counter() - t0
sink = read_sink(spark, out_dir)
tagged = sink.where("kind = 'tagged'").count()
segmap = sink.where("kind = 'segmap'").count()
shutil.rmtree(tmp, ignore_errors=True)
print(json.dumps({"mode": mode, "records": n, "tagged": tagged,
                  "segmap": segmap, "wall_sec": round(wall, 2),
                  "records_per_sec": round(n / wall, 1)}))
spark.stop()
""" % {"repo": os.path.dirname(os.path.dirname(os.path.abspath(__file__)))}


GEN = r"""
import sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from pipe_segment_spark.session import build_session
from pipe_segment_spark.sources.token_stream import token_stream

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
spark.stop()
""" % {"repo": os.path.dirname(os.path.dirname(os.path.abspath(__file__)))}


def ensure_input():
    if os.path.exists(os.path.join(INPUT_DIR, "_SUCCESS")):
        return
    sys.stderr.write(f"generating {INPUT_DIR} (x{REPLICATION})...\n")
    subprocess.run(
        [sys.executable, "-c", GEN, SF_DIR, str(REPLICATION), INPUT_DIR],
        check=True,
        timeout=1800,
    )


def main():
    modes = sys.argv[1:] or list(STREAM_MODES)
    ensure_input()
    results = []
    for mode in modes:
        out = subprocess.run(
            [sys.executable, "-c", WORKER, CPUS, INPUT_DIR, mode],
            capture_output=True,
            text=True,
        )
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not line.startswith("{"):
            sys.stderr.write(out.stderr[-2000:] + "\n")
            raise SystemExit(f"mode {mode} failed")
        r = json.loads(line)
        results.append(r)
        sys.stderr.write(f"{r}\n")
    # output identity across modes (tagged always; segmap equal because
    # low_latency matches sorted_prefix on the in-order feed)
    tagged = {r["tagged"] for r in results}
    segmap = {r["segmap"] for r in results}
    print(json.dumps({"results": results,
                      "tagged_identical": len(tagged) == 1,
                      "segmap_identical": len(segmap) == 1}))


if __name__ == "__main__":
    main()
