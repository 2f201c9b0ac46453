#!/usr/bin/env python
"""Single-config perf probe for the shuffle-partitions / off-heap sweep
(VERDICT r03 ask #2: the two untried levers for the 8->32-core falloff).

Runs the heaviest headline queries twice in ONE fresh JVM under the given
config and prints one JSON line with per-query [run1, run2] wall times.
Drive it sequentially (never two JVMs at once — bench protocol caveat #2):

    python tools/sweep_conf.py --shuffle 64
    python tools/sweep_conf.py --shuffle 32 --offheap 16g
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "segmenter_full_segments",
    "segment_vessel_daily",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--shuffle", type=int, required=True)
    ap.add_argument("--offheap", default=None, help="e.g. 16g; omit = off")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    from pipe_segment_spark.queries import QUERIES as REGISTRY
    from pipe_segment_spark.session import build_session

    extra = {"spark.sql.shuffle.partitions": str(args.shuffle)}
    if args.offheap:
        extra["spark.memory.offHeap.enabled"] = "true"
        extra["spark.memory.offHeap.size"] = args.offheap

    spark = build_session(
        app_name="sweep",
        cores=args.cpus,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["token_stream"](spark, args.sf_dir).count()  # JVM/Arrow warmup

    times: dict[str, list[float]] = {q: [] for q in QUERIES}
    for _ in range(args.reps):
        for q in QUERIES:
            t0 = time.perf_counter()
            REGISTRY[q](spark, args.sf_dir).count()
            times[q].append(round(time.perf_counter() - t0, 3))
    print(
        json.dumps(
            {
                "shuffle": args.shuffle,
                "offheap": args.offheap or "off",
                "cpus": args.cpus,
                "times": times,
                "min_total": round(sum(min(v) for v in times.values()), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
