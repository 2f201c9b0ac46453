#!/usr/bin/env python
"""spark-submit entrypoint for the segmenter (batch + streaming).

Reference analog: the ``pipe segment`` CLI (cli/cli.py:88-97,
cli/commands/segment.py:74-116). Launch:

    spark-submit --py-files pipe_segment_spark.zip jobs/run_segment.py \
        --input /path/to/token_table --output /path/to/out \
        --mode batch --segmenter-params "max_gap_hours:6, max_dtok_rate:30"

    spark-submit --py-files pipe_segment_spark.zip jobs/run_segment.py \
        --input /path/to/stream_dir --output /path/to/out \
        --mode stream --checkpoint /path/to/ckpt --watermark "1 hour"

Build the zip with:  zip -qr pipe_segment_spark.zip pipe_segment_spark

The session comes from ``session.build_session``: the same engine conf as
the tests and benches. The master spark-submit sets (``--master``, or its
``local[*]`` default) is kept; only a plain ``python`` launch gets
``local[$SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import argparse
import sys


def parse_args(argv):
    from pipe_segment_spark.cli import parse_segmenter_params, valid_daterange

    p = argparse.ArgumentParser(description="pipe-segment-spark segmenter")
    p.add_argument("--input", required=True, help="token table path (parquet)")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--mode", choices=["batch", "stream"], default="batch")
    p.add_argument("--checkpoint", help="stream checkpoint dir (stream mode)")
    p.add_argument(
        "--segmenter-params",
        type=parse_segmenter_params,
        default="{}",
        help="'max_gap_hours:6, max_dtok_rate:30' or JSON object "
        "(reference --segmenter_params surface); omitted keys keep their "
        "defaults",
    )
    p.add_argument(
        "--date-range",
        type=valid_daterange,
        default=None,
        help="YYYY-MM-DD,YYYY-MM-DD inclusive event-date filter (reference "
        "--date_range)",
    )
    p.add_argument("--watermark", default="0 seconds")
    p.add_argument(
        "--available-now",
        action="store_true",
        help="stream mode: drain currently-available input, then exit "
        "(the reference's daily incremental run, resumable via "
        "--checkpoint); records above the watermark and the newest day stay "
        "open until a later run's records move the watermark past them",
    )
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv or sys.argv[1:])

    from pipe_segment_spark.session import build_session

    params = args.segmenter_params
    spark = build_session()

    if args.mode == "batch":
        from pipe_segment_spark.pipeline import run_batch_pipeline

        records = spark.read.parquet(args.input)
        if args.date_range:
            from pyspark.sql import functions as F

            lo, hi = args.date_range
            records = records.where(
                F.to_date("timestamp").between(str(lo), str(hi))
            )
        out = run_batch_pipeline(records, params)
        out.segments.write.mode("overwrite").parquet(f"{args.output}/segments")
        out.segmap.write.mode("overwrite").parquet(f"{args.output}/segmap")
        out.fragments.write.mode("overwrite").parquet(f"{args.output}/fragments")
        out.tagged_records.write.mode("overwrite").parquet(
            f"{args.output}/messages"
        )
    else:
        if not args.checkpoint:
            raise SystemExit("--checkpoint required in stream mode")
        from pipe_segment_spark.streaming.segmenter_stream import (
            INPUT_SCHEMA_DDL,
            stream_segment,
        )
        from pipe_segment_spark.streaming.sink import idempotent_batch_writer

        stream = (
            spark.readStream.schema(INPUT_SCHEMA_DDL)
            .option("recursiveFileLookup", "true")
            .parquet(args.input)
        )
        if args.date_range:
            from pyspark.sql import functions as F

            lo, hi = args.date_range
            stream = stream.where(
                F.to_date("timestamp").between(str(lo), str(hi))
            )
        out = stream_segment(stream, params, watermark=args.watermark)
        writer = (
            out.writeStream.foreachBatch(idempotent_batch_writer(args.output))
            .option("checkpointLocation", args.checkpoint)
        )
        if args.available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        q.awaitTermination()

    spark.stop()


if __name__ == "__main__":
    main()
