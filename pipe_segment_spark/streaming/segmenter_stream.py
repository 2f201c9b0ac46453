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

One rule runs on every call. The buffered and arriving records at or below
the watermark release as one ``sort_group``-ed run through the batch
kernel's per-day run (operators/kernel.py ``_run_sorted``: ``_fragment_loop``
with carried per-day state -> ``_merge_pending`` boundary summaries);
arriving records above it join the buffer. The days that end at or before
the watermark close through the greedy matcher (``merge_segments``,
kind='segmap'). Spark drops arriving records at or below the watermark
(reference analog: cross-day late data starts a new segment / next run), so
the output is byte-identical to the batch engine under ARBITRARY intra-day
disorder. A fired event-time timeout only wakes the key: it is a call with
no rows, under the same rule.

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
from itertools import compress

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
    _date_of,
    _run_sorted,
    merge_segments,
    sort_group,
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


def _close_pending_days(doc_id, open_segs, pending_frags, up_to_day_us, params):
    """Greedy-match every pending day < up_to_day_us in one
    ``merge_segments`` call; returns (segmap row dicts, new open_segs,
    remaining pending)."""
    closing = [f for f in pending_frags if f["day_us"] < up_to_day_us]
    remaining = [f for f in pending_frags if f["day_us"] >= up_to_day_us]
    matched, open_segs = merge_segments(closing, params, open_segs)
    out = [
        {
            "kind": "segmap",
            "doc_id": doc_id,
            "timestamp": pd.Timestamp(f["day_us"], unit="us"),
            "msgid": None,
            "n_tok": None,
            "frag_id": f["frag_id"],
            "seg_id": seg_id,
            "date": _date_of(f["day_us"]).isoformat(),
            "msg_count": int(f["msg_count"]),
            "first_us": int(f["first_us"]),
            "last_us": int(f["last_us"]),
        }
        for f, seg_id in matched
    ]
    return out, open_segs, remaining


def _consume_seeds(batch, open_segs):
    """Strip SEED rows (reference ReadFragments bootstrap: seg_id in
    ident_value, last boundary in timestamp/n_tok) into open_segs."""
    if len(batch) and (batch["rec_type"] == "SEED").any():
        seeds = batch[batch["rec_type"] == "SEED"]
        batch = batch[batch["rec_type"] != "SEED"].reset_index(drop=True)
        for _, s in seeds.iterrows():
            last_us = int(
                pd.Timestamp(s["timestamp"])
                .to_datetime64()
                .astype("datetime64[us]")
                .astype("int64")
            )
            open_segs[s["ident_value"]] = (last_us, int(s["n_tok"]))
    return batch


def _append_to_buffer(buf, rows, ts_us):
    """Columnar append of kernel-input ``rows`` (epoch micros ``ts_us``)
    to the key's flat buffer."""
    nt = rows["n_tok"].to_numpy(dtype="float64", na_value=np.nan).tolist()
    buf.setdefault("t", []).extend(ts_us.tolist())
    buf.setdefault("nt", []).extend(None if v != v else int(v) for v in nt)
    for name, col in _BUF_OBJ_COLS.items():
        vals = rows[col].to_numpy(dtype=object)
        vals[pd.isna(vals)] = None
        buf.setdefault(name, []).extend(vals.tolist())


def _buffer_frame(doc_id, buf, rel):
    """The buffered rows where ``rel`` holds, as a kernel-input frame."""

    def col(name, dtype=object):
        return np.asarray(buf[name], dtype=dtype)[rel]

    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "timestamp": pd.to_datetime(col("t", "int64"), unit="us"),
            "msgid": col("msgid"),
            "n_tok": col("nt", "float64"),  # None -> NaN, like Arrow's nulls
            "rec_type": col("rec"),
            "source": col("src"),
            "ident_value": col("iv"),
            "has_payload": col("hp", bool),
        },
        copy=False,
    )


def _tagged_frame(doc_id, pdf, fid_arr):
    """Columnar tagged-record output frame in OUTPUT_SCHEMA order."""
    n = len(pdf)
    none_col = np.full(n, None, dtype=object)
    return pd.DataFrame(
        {
            "kind": np.full(n, "tagged", dtype=object),
            "doc_id": np.full(n, doc_id, dtype=object),
            "timestamp": pdf["timestamp"].to_numpy(),
            "msgid": pdf["msgid"].to_numpy(dtype=object),
            "n_tok": pd.array(pdf["n_tok"], dtype="Int32"),
            "frag_id": fid_arr,
            "seg_id": none_col,
            "date": none_col,
            "msg_count": pd.array([None] * n, dtype="Int64"),
            "first_us": pd.array([None] * n, dtype="Int64"),
            "last_us": pd.array([None] * n, dtype="Int64"),
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

        released = []
        if buf:
            rel = np.asarray(buf["t"], dtype="int64") <= wm_us
            if rel.any():
                released.append(_buffer_frame(doc_id, buf, rel))
                keep = (~rel).tolist()
                buf = {c: list(compress(v, keep)) for c, v in buf.items()}
                buf = buf if buf["t"] else {}
        frames = list(pdf_iter)  # none on a fired timeout
        if frames:
            batch = pd.concat(frames, ignore_index=True)
            # state bootstrap (reference ReadFragments, read_fragments.py:12-99)
            batch = _consume_seeds(batch, open_segs)
            ts_us = batch["timestamp"].to_numpy("datetime64[us]").astype("int64")
            rel = ts_us <= wm_us
            if not rel.all():
                _append_to_buffer(buf, batch[~rel], ts_us[~rel])
                batch = batch[rel]
            if len(batch):
                released.append(batch)

        tagged = []
        if released:
            pdf = sort_group(
                released[0]
                if len(released) == 1
                else pd.concat(released, ignore_index=True)
            )
            fid = _run_sorted(doc_id, pdf, frag_days, pending, params)
            tagged.append(_tagged_frame(doc_id, pdf, fid))
        segmap, open_segs, pending = _close_pending_days(
            doc_id, open_segs, pending, close_day_us, params
        )
        # fragmenter state for closed days can never be touched again
        # (records at or below the watermark are dropped upstream) — prune
        # it so state stays O(open days)
        frag_days = {d: v for d, v in frag_days.items() if d >= close_day_us}
        state.update(_encode_state(frag_days, open_segs, pending, buf))
        open_days = [f["day_us"] for f in pending]
        if buf:
            open_days.append(min(buf["t"]) // US_PER_DAY * US_PER_DAY)
        if open_days:
            next_close = min(open_days) + US_PER_DAY
            state.setTimeoutTimestamp(max(next_close // 1000, wm_ms + 1))

        yield from tagged
        if segmap:
            yield pd.DataFrame(segmap)

    return fn


def stream_segment(
    records_stream: DataFrame,
    params: SegmenterParams = DEFAULT_PARAMS,
    watermark: str = "0 seconds",
    mode: str = "sorted_prefix",
) -> DataFrame:
    """records stream -> union-typed output (tagged records + segmap rows).

    A record's tagged row emits once the watermark reaches it, and a day's
    segmap rows once the watermark passes the day's end: byte-identical to
    the one-shot batch engine under ARBITRARY intra-day disorder, with state
    bounded by the out-of-order suffix. A fired event-time timeout only
    wakes an idle key so its days close on time. Size ``watermark`` to the
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
