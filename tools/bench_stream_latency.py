#!/usr/bin/env python
"""Continuous-trigger streaming evidence (VERDICT r4 ask #6): per-mode
RELEASE LATENCY and PEAK STATE in the continuous small-batch regime.

The availableNow drain (tools/bench_stream_modes.py) is the buffered
mode's documented WORST case: the watermark lags one giant batch, so the
whole input round-trips through keyed state. The claimed deployment
regime for sorted_prefix — release within ~one microbatch of arrival,
state bounded by the real disorder window — had no measurement. This tool
produces it:

  * the sf input is split into one parquet file per (day, half-day), file
    names/mtimes ascending in event time — a deterministic continuous
    feed;
  * each mode drains with maxFilesPerTrigger=1 + processingTime trigger,
    so every microbatch ingests exactly one half-day file (same batch
    schedule a rate-limited live source would produce, minus idle time);
  * per-record release latency = (batch_id the tagged row was EMITTED in,
    from the exactly-once sink's batch_id partition) minus (batch index
    the record ARRIVED in, from its input file name);
  * peak state = max over progress events of stateOperators'
    numRowsTotal / memoryUsedBytes (polled from lastProgress — the
    delivery-tested metrics contract, streaming/metrics.py).

low_latency emits in the arrival batch, so its measured latency must be
identically 0 — that is the built-in canary that the file->batch mapping
holds (FileStreamSource consumes files oldest-mtime-first at one per
trigger).

Usage: python tools/bench_stream_latency.py [low_latency sorted_prefix]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipe_segment_spark.streaming.segmenter_stream import STREAM_MODES  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SF_TAG = SF_DIR.rstrip("/").split("sf")[-1]
INPUT_DIR = f"/tmp/spark_graft_latency_in_sf{SF_TAG}"

GEN = r"""
import glob, os, shutil, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pipe_segment_spark.session import build_session
from pipe_segment_spark.sources.token_stream import token_stream

sf_dir, out = sys.argv[1], sys.argv[2]
spark = build_session(app_name="latency-gen", cores=8)
spark.sparkContext.setLogLevel("ERROR")
rec = token_stream(spark, sf_dir).withColumn(
    "__arr",
    F.dense_rank().over(
        Window.orderBy(
            F.to_date("timestamp"), (F.hour("timestamp") >= 12).cast("int")
        )
    )
    - 1,
)
arrs = [r["__arr"] for r in rec.select("__arr").distinct().orderBy("__arr").collect()]
os.makedirs(out + ".tmp", exist_ok=True)
shutil.rmtree(out, ignore_errors=True)
os.makedirs(out)
t0 = time.time() - 86400
for a in arrs:
    stage = f"{out}.tmp/{a}"
    (rec.where(F.col("__arr") == a).drop("__arr")
        .coalesce(1).write.mode("overwrite").parquet(stage))
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    dst = f"{out}/{a:05d}.parquet"
    shutil.move(part, dst)
    os.utime(dst, (t0 + a, t0 + a))  # ascending mtimes = consumption order
shutil.rmtree(out + ".tmp", ignore_errors=True)
with open(f"{out}/_COMPLETE", "w") as f:
    f.write(str(len(arrs)))
spark.stop()
""" % {"repo": REPO}

WORKER = r"""
import glob, json, os, shutil, sys, tempfile, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from pipe_segment_spark.session import build_session
from pipe_segment_spark.config import DEFAULT_PARAMS
from pipe_segment_spark.streaming.segmenter_stream import (
    INPUT_SCHEMA_DDL, stream_segment,
)
from pipe_segment_spark.streaming.sink import idempotent_batch_writer

cores, in_dir, mode = sys.argv[1], sys.argv[2], sys.argv[3]
spark = build_session(app_name=f"latency-{mode}", cores=cores)
spark.sparkContext.setLogLevel("ERROR")
n = spark.read.parquet(in_dir).count()  # warm scan + JVM
n_files = len(glob.glob(f"{in_dir}/*.parquet"))

tmp = tempfile.mkdtemp(prefix=f"latency_{mode}_")
out_dir, ckpt = f"{tmp}/out", f"{tmp}/ckpt"
t0 = time.perf_counter()
q = (
    spark.readStream.schema(INPUT_SCHEMA_DDL)
    .option("maxFilesPerTrigger", 1)
    .parquet(in_dir)
    .transform(lambda df: stream_segment(df, DEFAULT_PARAMS, mode=mode))
    .writeStream.foreachBatch(idempotent_batch_writer(out_dir))
    .option("checkpointLocation", ckpt)
    .trigger(processingTime="0 seconds")
    .start()
)
# poll progress: peak state + completion (batchId stable & no input rows
# for a sustained window — covers the trailing no-data watermark batch
# that fires the final day's timeouts)
peak_rows = 0
peak_bytes = 0
stable_since = None
last_batch = -1
deadline = time.time() + 1500
while time.time() < deadline:
    time.sleep(0.2)
    p = q.lastProgress
    if not p:
        continue
    for so in p.get("stateOperators", []):
        peak_rows = max(peak_rows, so.get("numRowsTotal", 0))
        peak_bytes = max(peak_bytes, so.get("memoryUsedBytes", 0))
    advancing = p["batchId"] != last_batch or p.get("numInputRows", 0) > 0
    last_batch = p["batchId"]
    if advancing:
        stable_since = None
    elif stable_since is None:
        stable_since = time.time()
    elif time.time() - stable_since > 5.0 and last_batch + 1 >= n_files:
        break
q.stop()
q.awaitTermination(60)
wall = time.perf_counter() - t0

sink = spark.read.parquet(out_dir)  # batch_id partition column intact
arr = (
    spark.read.parquet(in_dir)
    .withColumn("fn", F.input_file_name())
    .select(
        "msgid",
        F.regexp_extract("fn", r"(\d{5})\.parquet", 1).cast("int").alias("arr"),
    )
)
lag = (
    sink.where("kind = 'tagged'")
    .select("msgid", "batch_id")
    .join(arr, "msgid")
    .select((F.col("batch_id") - F.col("arr")).alias("lag"))
)
stats = lag.agg(
    F.count("*").alias("n"),
    F.avg("lag").alias("mean"),
    F.expr("percentile(lag, 0.95)").alias("p95"),
    F.min("lag").alias("min"),
    F.max("lag").alias("max"),
).collect()[0]
tagged_sink = sink.where("kind = 'tagged'").count()
segmap = sink.where("kind = 'segmap'").count()
shutil.rmtree(tmp, ignore_errors=True)
print(json.dumps({
    "mode": mode, "records": n, "files": n_files,
    "batches_run": last_batch + 1,
    "wall_sec": round(wall, 2),
    "records_per_sec": round(n / wall, 1),
    "tagged": tagged_sink, "tagged_lag_joined": stats["n"],
    "segmap": segmap,
    # the buffered mode correctly retains the final not-yet-watermark-confirmed
    # suffix when a LIVE (non-terminating) stream is stopped — the
    # watermark only advances with new data, so the last half-day can
    # never be confirmed. availableNow drains flush it via the terminal
    # timeout batch instead (bounded-feed contract).
    "unreleased_at_stop": n - tagged_sink,
    "lag_batches_mean": round(stats["mean"], 3),
    "lag_batches_p95": round(stats["p95"], 2),
    "lag_batches_min": int(stats["min"]),
    "lag_batches_max": int(stats["max"]),
    "peak_state_rows": peak_rows,
    "peak_state_bytes": peak_bytes,
}))
spark.stop()
""" % {"repo": REPO}


def ensure_input():
    if os.path.exists(os.path.join(INPUT_DIR, "_COMPLETE")):
        return
    sys.stderr.write(f"generating {INPUT_DIR} (one file per half-day)...\n")
    subprocess.run(
        [sys.executable, "-c", GEN, SF_DIR, INPUT_DIR],
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
            sys.stderr.write(out.stderr[-3000:] + "\n")
            raise SystemExit(f"mode {mode} failed")
        r = json.loads(line)
        results.append(r)
        sys.stderr.write(f"{r}\n")
    segmap = {r["segmap"] for r in results}
    low = next((r for r in results if r["mode"] == "low_latency"), None)
    canary_ok = low is None or (
        low["lag_batches_mean"] == 0 and low["lag_batches_max"] == 0
    )
    # the msgid->arrival-file join must account for every released row
    # (a lossy join would silently skew the latency stats)
    join_lossless = all(
        r["tagged"] == r["tagged_lag_joined"] for r in results
    )
    print(json.dumps({
        "results": results,
        "lag_join_lossless": join_lossless,
        "segmap_identical": len(segmap) == 1,
        "file_batch_mapping_canary_ok": canary_ok,
    }))


if __name__ == "__main__":
    main()
