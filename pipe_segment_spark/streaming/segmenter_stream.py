"""Structured Streaming segmenter: the unbounded-path of the engine.

The reference simulates streaming with daily incremental batch runs that
carry open-segment state through a fragments table (pipeline.py:231-242,
read_fragments.py). Here it's native: a keyed ``applyInPandasWithState``
stateful operator with event-time watermarks over the batch kernel's input
projection (operators/fragment.py ``kernel_input``): the token payload stays
in the JVM and arrives reduced to ``has_payload``.

Per key (doc_id), GroupState carries:
  - open fragments + next fragment counter per day (kernel.OpenFragState)
  - per-day fragment summaries not yet segment-assigned
  - open segments (seg_id -> last fragment boundary) for cross-day matching
  - the buffered records not yet released, as one flat set of columns

One rule runs on every call. The arriving records become the batch
kernel's record columns (operators/kernel.py ``_record_columns``) once and
follow the buffered records; one watermark mask splits them. The records
at or below the watermark release as one run through the kernel's sort and
per-day run (``fragment_columns``: ``_fragment_loop`` with carried per-day
state -> ``_merge_pending`` boundary summaries); the rest become the
buffer. The days that end at or before the watermark close through the
greedy matcher (``merge_segments``, kind='segmap'). Spark drops arriving
records at or below the watermark (reference analog: cross-day late data
starts a new segment / next run), so the output is byte-identical to the
batch engine under ARBITRARY intra-day disorder. A fired event-time timeout
only wakes the key: it is a call with no rows, under the same rule. The
key's timeout is the earlier of the watermark reaching its earliest
buffered record and passing the end of its earliest pending day, so a
record emits in the first microbatch whose watermark reaches it, even when
its key gets no further data. Each call yields at most one output frame,
its tagged rows and then its segmap rows.

Nothing releases until the watermark passes it, so a bounded feed ends with
one end-of-feed record far past its data (``write_end_of_feed``); its
reserved doc_id (``END_OF_FEED_DOC_ID``) is filtered out of the sink by
readers.

State is serialized as JSON in a single string column — O(open fragments +
open segments) per key (bounded by max_open_fragments), plus the
out-of-order suffix (records above the watermark).
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
    IntegerType,
    LongType,
)

from pipe_segment_spark.config import DEFAULT_PARAMS, SegmenterParams
from pipe_segment_spark.operators.fragment import kernel_input
from pipe_segment_spark.operators.kernel import (
    US_PER_DAY,
    OpenFragState,
    _concat_columns,
    _date_of,
    _record_columns,
    fragment_columns,
    merge_segments,
)

# the end-of-feed record's reserved doc_id and event time (2200-01-01 UTC,
# inside pandas' nanosecond range)
END_OF_FEED_DOC_ID = "~end-of-feed"
END_OF_FEED_TS = datetime(2200, 1, 1, tzinfo=timezone.utc)

# canonical input-stream schema (BASELINE.json input_hint shape)
INPUT_SCHEMA_DDL = (
    "doc_id string, source string, timestamp timestamp, tokens array<int>, "
    "n_tok int, msgid string, rec_type string, ident_value string"
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("doc_id", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("msgid", StringType()),
        StructField("n_tok", IntegerType()),
        StructField("frag_id", StringType()),
        StructField("seg_id", StringType()),
        StructField("date", StringType()),
        StructField("msg_count", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)

STATE_SCHEMA = StructType([StructField("js", StringType())])

# flat buffer columns: epoch micros, n_tok (None for NULL), then the
# kernel-input object columns they hold
_BUF_OBJ_COLS = {
    "msgid": "msgid",
    "rec": "rec_type",
    "hp": "has_payload",
    "src": "source",
    "iv": "ident_value",
}
_BUF_COLS = ("t", "nt", *_BUF_OBJ_COLS)


def _encode_state(frag_days, open_segs, pending_frags, buf) -> tuple:
    """frag_days: {day_us(int) -> (open_frags list, next_k)} — per-day
    fragmenter state, so late-but-in-watermark records for an earlier day
    can never clobber a newer day's open fragments (each day's state machine
    is independent, exactly like the batch engine's (doc_id, day) grouping).
    ``buf`` holds the not-yet-released records as ``_BUF_COLS`` lists (empty
    dict when nothing is buffered). JSON keys are stringified day_us."""
    d = {
        "fd": {
            str(day): [
                [
                    [f.k, f.first_us, f.last_us, f.last_n_tok, f.frag_id]
                    for f in of
                ],
                nk,
            ]
            for day, (of, nk) in frag_days.items()
        },
        "os": open_segs,
        "pf": pending_frags,
    }
    if buf:
        d["buf"] = buf
    return (json.dumps(d),)


def _decode_state(tup):
    d = json.loads(tup[0])
    frag_days = {}
    for day, (of_raw, nk) in d["fd"].items():
        frags = []
        for k, first_us, last_us, last_n_tok, frag_id in of_raw:
            f = OpenFragState(k, first_us, last_n_tok, frag_id)
            f.last_us = last_us
            frags.append(f)
        frag_days[int(day)] = (frags, nk)
    buf = d.get("buf", {})
    if buf and "t" not in buf:
        # older checkpoints keep one set of the same columns per day
        days = [buf[k] for k in sorted(buf, key=int)]
        buf = {c: [v for day in days for v in day[c]] for c in _BUF_COLS}
    return (
        frag_days,
        {k: tuple(v) for k, v in d["os"].items()},
        d["pf"],
        buf,
    )


def _buffer_columns(doc_id, buf) -> dict:
    """The flat buffer's records as ``kernel._record_columns`` (the stream
    input has no dest_value: NULL)."""
    n = len(buf.get("t", ()))
    cols = {
        col: np.array(buf.get(name, ()), dtype=object)
        for name, col in _BUF_OBJ_COLS.items()
    }
    cols.update(
        doc_id=np.full(n, doc_id, dtype=object),
        dest_value=np.full(n, None, dtype=object),
        timestamp=np.array(buf.get("t", ()), dtype="int64"),
        n_tok=np.array(buf.get("nt", ()), dtype="float64"),  # None -> NaN
        has_payload=cols["has_payload"].astype(bool),
    )
    return cols


def _buffer_lists(cols) -> dict:
    """Record columns as the flat buffer (``_BUF_COLS`` lists; empty dict
    when there are no records)."""
    if not len(cols["timestamp"]):
        return {}
    buf = {
        "t": cols["timestamp"].tolist(),
        "nt": [None if v != v else int(v) for v in cols["n_tok"].tolist()],
    }
    for name, col in _BUF_OBJ_COLS.items():
        vals = cols[col]
        if vals.dtype == object:
            vals = np.where(pd.isna(vals), None, vals)
        buf[name] = vals.tolist()
    return buf


def _output_frame(doc_id, cols, fid_arr, matched):
    """One ``OUTPUT_SCHEMA`` frame: the released records' tagged rows, then
    the closed days' segmap rows (``merge_segments``' (summary, seg_id)
    pairs)."""
    n, m = len(fid_arr), len(matched)
    frags = [f for f, _ in matched]

    def column(name, dtype=object):
        return np.fromiter((f[name] for f in frags), dtype=dtype, count=m)

    def objects(tagged=None, segmap=None):
        out = np.full(n + m, None, dtype=object)
        if tagged is not None:
            out[:n] = tagged
        if segmap is not None:
            out[n:] = segmap
        return out

    def ints(frag=None, name=None, dtype="int64"):
        vals = np.zeros(n + m, dtype=dtype)
        null = np.ones(n + m, dtype=bool)
        if frag is not None:
            vals[n:] = column(frag, dtype)
            null[n:] = False
        if name is not None:
            null[:n] = np.isnan(cols[name])
            vals[:n] = np.where(null[:n], 0, cols[name])
        return pd.arrays.IntegerArray(vals, null)

    day_us = column("day_us", "int64")
    us = np.concatenate([cols["timestamp"], day_us])
    kind = np.full(n + m, "segmap", dtype=object)
    kind[:n] = "tagged"
    return pd.DataFrame(
        {
            "kind": kind,
            "doc_id": np.full(n + m, doc_id, dtype=object),
            "timestamp": us.view("datetime64[us]").astype("datetime64[ns]"),
            "msgid": objects(cols["msgid"]),
            "n_tok": ints(name="n_tok", dtype="int32"),
            "frag_id": objects(fid_arr, column("frag_id")),
            "seg_id": objects(segmap=[seg_id for _, seg_id in matched]),
            "date": objects(
                segmap=[_date_of(d).isoformat() for d in day_us.tolist()]
            ),
            "msg_count": ints("msg_count"),
            "first_us": ints("first_us"),
            "last_us": ints("last_us"),
        },
        copy=False,
    )


def make_stateful_segmenter(params: SegmenterParams = DEFAULT_PARAMS):
    """Returns the (key, pdf_iter, state) -> iter[pdf] function for
    applyInPandasWithState; its input rows are
    ``kernel_input(records, "ident_value")``.

    Every call releases the buffered and arriving records at or below the
    watermark, buffers the arriving rest and closes the days that end at or
    before the watermark; a fired timeout is a call with no rows. Spark
    drops arriving rows at or below the watermark, so no future record can
    precede a released one and a tied timestamp group can never straddle
    the cut: the concatenated released runs replay the batch kernel's
    one-shot sorted run EXACTLY, with per-key state bounded by the
    out-of-order suffix (records above the watermark) + open-fragment
    summaries."""

    def fn(key, pdf_iter, state: GroupState):
        doc_id = key[0]
        if state.exists:
            frag_days, open_segs, pending, buf = _decode_state(state.get)
        else:
            frag_days, open_segs, pending, buf = {}, {}, [], {}
        wm_ms = state.getCurrentWatermarkMs()
        if wm_ms > 0:
            wm_us = wm_ms * 1000
            # the days before this one end at or before the watermark
            close_day_us = (wm_us // US_PER_DAY) * US_PER_DAY
        else:  # no watermark yet: nothing is confirmed
            wm_us = close_day_us = float("-inf")

        cols = _buffer_columns(doc_id, buf)
        frames = list(pdf_iter)  # none on a fired timeout
        if frames:
            new = _concat_columns([_record_columns(f) for f in frames])
            # state bootstrap (reference ReadFragments, read_fragments.py:12-99):
            # a SEED row carries a seg_id in ident_value and its last
            # boundary in timestamp/n_tok
            seed = new["rec_type"] == "SEED"
            if seed.any():
                for seg_id, last_us, last_n_tok in zip(
                    new["ident_value"][seed].tolist(),
                    new["timestamp"][seed].tolist(),
                    new["n_tok"][seed].tolist(),
                ):
                    open_segs[seg_id] = (last_us, int(last_n_tok))
                new = {c: a[~seed] for c, a in new.items()}
            cols = _concat_columns([cols, new])
        rel = cols["timestamp"] <= wm_us
        buf = _buffer_lists({c: a[~rel] for c, a in cols.items()})

        released = {c: a[rel] for c, a in cols.items()}
        fid = np.empty(0, dtype=object)
        if rel.any():
            released, fid = fragment_columns(released, frag_days, pending, params)
        # the pending days that end at or before the watermark close
        closing = [f for f in pending if f["day_us"] < close_day_us]
        pending = [f for f in pending if f["day_us"] >= close_day_us]
        matched, open_segs = merge_segments(closing, params, open_segs)
        # fragmenter state for closed days can never be touched again
        # (records at or below the watermark are dropped upstream) — prune
        # it so state stays O(open days)
        frag_days = {d: v for d, v in frag_days.items() if d >= close_day_us}
        state.update(_encode_state(frag_days, open_segs, pending, buf))
        # Spark fires the timeout once the watermark is strictly past it:
        # wake the key when the watermark reaches its earliest buffered
        # record (release is t <= wm, so the ms ceiling - 1) or passes the
        # end of its earliest pending day, whichever comes first
        wake = [(f["day_us"] + US_PER_DAY) // 1000 for f in pending]
        if buf:
            wake.append(-(-min(buf["t"]) // 1000) - 1)
        if wake:
            # GroupState rejects a timeout below the watermark or at 0
            state.setTimeoutTimestamp(max(min(wake), wm_ms, 1))

        if len(fid) or matched:
            yield _output_frame(doc_id, released, fid, matched)

    return fn


def stream_segment(
    records_stream: DataFrame,
    params: SegmenterParams = DEFAULT_PARAMS,
    watermark: str = "0 seconds",
    mode: str = "sorted_prefix",
) -> DataFrame:
    """records stream -> union-typed output (tagged records + segmap rows).

    A record's tagged row emits in the first microbatch whose watermark
    reaches it, and a day's segmap rows in the first whose watermark passes
    the day's end: byte-identical to the one-shot batch engine under
    ARBITRARY intra-day disorder, with state bounded by the out-of-order
    suffix. A fired event-time timeout only wakes an idle key, at the first
    of those two moments, so it emits on time. Size ``watermark`` to the
    feed's real disorder; end a bounded feed with ``write_end_of_feed`` and
    filter ``END_OF_FEED_DOC_ID`` out of the sink.

    ``mode`` accepts only ``"sorted_prefix"`` (anything else raises
    ``ValueError``); it stays only because perfbench/stream.py passes it."""
    if mode != "sorted_prefix":
        raise ValueError(f"unknown stream mode {mode!r}")
    return (
        kernel_input(records_stream, "ident_value")
        .withWatermark("timestamp", watermark)
        .groupBy("doc_id")
        .applyInPandasWithState(
            make_stateful_segmenter(params),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def write_end_of_feed(spark: SparkSession, in_dir: str) -> None:
    """Append the end-of-feed record to the watched directory ``in_dir``.

    It moves the watermark past every real record, so every key's timeout
    fires and releases and closes everything the key holds; the feed is
    then over, as any later record falls below the watermark. Its doc_id is
    ``END_OF_FEED_DOC_ID``; readers filter it out of the sink."""
    spark.createDataFrame(
        [(END_OF_FEED_DOC_ID, None, END_OF_FEED_TS, None, None,
          END_OF_FEED_DOC_ID, None, None)],
        INPUT_SCHEMA_DDL,
    ).coalesce(1).write.mode("append").parquet(in_dir)


def seed_rows_from_fragments(fragments: DataFrame) -> DataFrame:
    """Encode a historical fragments table (with seg_id) as SEED records for
    cold-start state bootstrap (reference ReadFragments: open segments from
    history flow into the first day's matching). Union these ahead of the
    record stream: ``seeds.unionByName(stream)`` (batch table + stream union
    requires writing seeds into the stream source's first file)."""
    return fragments.select(
        F.col("doc_id"),
        F.lit("seed").alias("source"),
        F.col("last_msg_timestamp").alias("timestamp"),
        F.lit(None).cast("array<int>").alias("tokens"),
        F.col("last_msg_n_tok").cast("int").alias("n_tok"),
        F.concat(F.lit("seed-"), F.col("frag_id")).alias("msgid"),
        F.lit("SEED").alias("rec_type"),
        F.col("seg_id").alias("ident_value"),
    )
