#!/usr/bin/env python
"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
   "sf": ..., "throughput": {...}}

Scaling-efficiency evidence (north_rule: >=0.8 from N to 4N executors) is
produced by bench_scaling.py (two parallelism levels, same input) and
recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _read_cpu_ticks():
    """(busy_ticks, steal_ticks, total_ticks) from /proc/stat's cpu line.
    Fields: user nice system idle iowait irq softirq steal [guest...]."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:9]]  # through steal
        total = sum(vals)
        idle = vals[3] + vals[4]  # idle + iowait
        steal = vals[7]
        return total - idle, steal, total
    except (OSError, ValueError, IndexError):
        return None


class HostMeter:
    """Stamps host conditions into the bench artifact (VERDICT r4 ask #1):
    ambient load (VM-host contention showed up as 21% CPU steal and 6x
    query inflation in r4) makes cross-window absolute numbers a weather
    report unless the weather is recorded WITH them."""

    def __init__(self):
        self.load_start = os.getloadavg()
        self.t0 = time.time()
        self.ticks0 = _read_cpu_ticks()

    def snapshot(self) -> dict:
        out = {
            "load_start_1m": round(self.load_start[0], 2),
            "load_end_1m": round(os.getloadavg()[0], 2),
            "load_end_5m": round(os.getloadavg()[1], 2),
            "wall_window_sec": round(time.time() - self.t0, 1),
        }
        t1 = _read_cpu_ticks()
        if self.ticks0 and t1:
            busy = t1[0] - self.ticks0[0]
            steal = t1[1] - self.ticks0[1]
            total = t1[2] - self.ticks0[2]
            if total > 0:
                out["cpu_busy_pct"] = round(100.0 * busy / total, 1)
                out["cpu_steal_pct"] = round(100.0 * steal / total, 1)
        return out

HEADLINE = [
    "segmenter_full_segments",  # the flagship stateful CEP pipeline
    "seg_sessionize",  # linear-mode sessionization (pure Catalyst)
    "seg_fragments",
    "seg_segments_daily",
    "bad_hours_filter",
    "dedup_minute",
    "hourly_counts",
    "theta_join_pairs",
    "pricing_summary",
    "order_revenue",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "ann_bucketed_topk",
    "ann_ivf_topk",
    "text_quality",
    "segment_vessel_daily",  # full downstream SQL job composite
    "satellite_offsets_full",  # full offsets pipeline composite
]


def bench_streaming(spark, sf_dir: str) -> dict:
    """Streaming segmenter end-to-end throughput: availableNow drain of the
    sf-derived stream, ended by the end-of-feed record, through
    applyInPandasWithState into the exactly-once sink. Input
    materialization is not timed."""
    import shutil
    import tempfile

    from pipe_segment_spark.config import DEFAULT_PARAMS
    from pipe_segment_spark.sources.token_stream import token_stream
    from pipe_segment_spark.streaming.segmenter_stream import (
        END_OF_FEED_DOC_ID,
        INPUT_SCHEMA_DDL,
        stream_segment,
        write_end_of_feed,
    )
    from pipe_segment_spark.streaming.sink import (
        idempotent_batch_writer,
        read_sink,
    )

    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    in_dir, out_dir, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    src = token_stream(spark, sf_dir)
    src.coalesce(8).write.mode("overwrite").parquet(in_dir)
    n_records = spark.read.parquet(in_dir).count()
    write_end_of_feed(spark, in_dir)

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
    q.awaitTermination(900)
    elapsed = time.perf_counter() - t0
    out_rows = (
        read_sink(spark, out_dir)
        .where(f"doc_id != '{END_OF_FEED_DOC_ID}'")
        .count()
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return {
        "streaming_records_per_sec": round(n_records / elapsed, 1),
        "streaming_wall_sec": round(elapsed, 3),
        "streaming_output_rows": out_rows,
    }


def _force(df) -> int:
    """Fully execute the plan; count() via agg avoids driver collect."""
    return df.count()


def bench_longlived_segment(spark) -> dict:
    """One doc_id alive for 150 days (hourly records + daily identities):
    the fixture that made the r01 cumulative-identity inequality join
    quadratic. The forward-fill plan must keep this linear — wall time here
    guards the regression."""
    import datetime as dt

    from pipe_segment_spark.pipeline import run_batch_pipeline

    base = dt.datetime(2023, 1, 1)
    rows = []
    for d in range(150):
        for h in range(0, 24, 2):
            ts = base + dt.timedelta(days=d, hours=h)
            i = d * 24 + h
            rows.append(
                ("doc", "s", ts, [1, 2], 50, f"m{i:06d}", "POS", None, None)
            )
        rows.append(
            (
                "doc", "s", base + dt.timedelta(days=d, hours=1, minutes=5),
                [1], 50, f"i{d:06d}", "IDENT", f"name_{d % 6}", f"dst_{d % 3}",
            )
        )
    df = spark.createDataFrame(
        rows,
        "doc_id string, source string, timestamp timestamp, "
        "tokens array<int>, n_tok int, msgid string, rec_type string, "
        "ident_value string, dest_value string",
    )
    t0 = time.perf_counter()
    n = run_batch_pipeline(df, persist=False).segments.count()
    return {
        "longlived_segment_sec": round(time.perf_counter() - t0, 3),
        "longlived_segment_days": n,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pipe_segment_spark.queries import QUERIES
    from pipe_segment_spark.session import build_session

    meter = HostMeter()
    spark = build_session(app_name="pipe-segment-bench", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/Arrow paths once so per-query numbers are steady-state
    _force(QUERIES["token_stream"](spark, sf_dir))

    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        rows[name] = _force(QUERIES[name](spark, sf_dir))
        times[name] = round(time.perf_counter() - t0, 3)

    n_records = _force(QUERIES["token_stream"](spark, sf_dir))
    seg_time = times["segmenter_full_segments"]
    throughput = {
        "segmenter_records_per_sec": round(n_records / seg_time, 1),
        "segmenter_segments_per_sec": round(
            rows["segmenter_full_segments"] / seg_time, 1
        ),
        "input_records": n_records,
        "segments_emitted": rows["segmenter_full_segments"],
    }
    throughput.update(bench_streaming(spark, sf_dir))
    throughput.update(bench_longlived_segment(spark))

    print(
        json.dumps(
            {
                "metric": "headline query wall time (sum) at sf; segments/sec in throughput",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "sf": float(sf),
                "cpus": int(cpus),
                "throughput": throughput,
                # host weather report: absolute numbers are only
                # comparable across windows when these are comparable
                # (see BENCH/BASELINE.md ambient-load caveats)
                "host": meter.snapshot(),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
