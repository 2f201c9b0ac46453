#!/usr/bin/env python
"""Extra measurement harness for optimization rounds (guide §1.4/§1.5).

NOT part of the driver contract — bench.py is the frozen measured artifact.
This file exists to answer "where does the time go" with noop-sink isolation
per sub-plan, and to dump .explain("formatted") for plan-diff evidence.

Usage:
  python bench_extra.py queries [name ...]   # noop-time headline queries
  python bench_extra.py plans OUTDIR [name ...]  # dump explain files
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _session():
    from pipe_segment_spark.session import build_session

    spark = build_session(app_name="bench-extra", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def cmd_queries(names: list[str]) -> None:
    from pipe_segment_spark.queries import QUERIES

    spark = _session()
    if not names:
        import bench

        names = bench.HEADLINE
    # warm the JVM/Arrow path once (same as bench.py)
    QUERIES["token_stream"](spark, SF_DIR).count()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"noop:{name}")
        t0 = time.perf_counter()
        df = QUERIES[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
        print(f"{name}: {out[name]:.3f}s", flush=True)
    print({"total": round(sum(out.values()), 3), "queries": out})
    spark.stop()


def cmd_plans(outdir: str, names: list[str]) -> None:
    from pipe_segment_spark.queries import QUERIES

    os.makedirs(outdir, exist_ok=True)
    spark = _session()
    if not names:
        import bench

        names = bench.HEADLINE
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name} ({len(txt.splitlines())} plan lines)")
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        cmd_queries(sys.argv[2:])
    elif cmd == "plans":
        cmd_plans(sys.argv[2], sys.argv[3:])
    else:
        raise SystemExit(f"unknown command {cmd}")
