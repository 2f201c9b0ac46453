"""Streaming engine tests: stream==batch equivalence, watermark late-drop,
checkpoint recovery with byte-identical assignments, exactly-once sink under
incremental feeding. (SURVEY.md §7 Phase 3.)

Input is fed as parquet files dropped into a watched directory, one file per
event day — the streaming analog of the reference's daily batch runs.
"""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pipe_segment_spark.config import SegmenterParams
from pipe_segment_spark.pipeline import run_batch_pipeline
from pipe_segment_spark.sources.token_stream import token_stream
from pipe_segment_spark.streaming.segmenter_stream import (
    END_OF_FEED_DOC_ID,
    stream_segment,
    write_end_of_feed,
)
from pipe_segment_spark.streaming.sink import idempotent_batch_writer, read_sink

from tests.conftest import SF_DIR

PARAMS = SegmenterParams()

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("source", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
        StructField("msgid", StringType()),
        StructField("rec_type", StringType()),
        StructField("ident_value", StringType()),
    ]
)


def _write_day_files(spark, tmpdir, n_days=4):
    """Split the sf-derived stream into one parquet file per day."""
    df = token_stream(spark, SF_DIR)
    days = sorted(
        r["d"] for r in df.select(F.to_date("timestamp").alias("d")).distinct().collect()
    )[:n_days]
    in_dir = os.path.join(tmpdir, "in")
    os.makedirs(in_dir, exist_ok=True)
    paths = []
    full = df.where(F.to_date("timestamp").isin([str(d) for d in days]))
    for i, d in enumerate(days):
        day_df = df.where(F.to_date("timestamp") == F.lit(str(d)))
        p = os.path.join(tmpdir, f"day_{i}.parquet")
        day_df.coalesce(1).write.mode("overwrite").parquet(p)
        paths.append(p)
    return full, in_dir, paths


def _feed(spark, in_dir, path, idx):
    """Move one day's rows into the watched dir as a single file."""
    df = spark.read.parquet(path)
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(in_dir, f"feed_{idx}")
    )


def _run_stream(spark, in_dir, out_dir, ckpt, writer=None, max_files=None):
    reader = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
    )
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.parquet(in_dir)
    out = stream_segment(stream, PARAMS)
    return (
        out.writeStream.foreachBatch(
            writer or idempotent_batch_writer(out_dir)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def _await(q, timeout=120):
    q.awaitTermination(timeout)
    assert not q.isActive


def _read_drained(spark, out_dir):
    """The sink of a feed that ended with ``write_end_of_feed``, without the
    end-of-feed key."""
    return read_sink(spark, out_dir).where(
        F.col("doc_id") != END_OF_FEED_DOC_ID
    )


@pytest.fixture(scope="module")
def stream_case(spark, tmp_path_factory):
    tmpdir = str(tmp_path_factory.mktemp("stream"))
    full, in_dir, paths = _write_day_files(spark, tmpdir, n_days=4)
    return tmpdir, full, in_dir, paths


def _batch_expected(full):
    out = run_batch_pipeline(full, PARAMS)
    tagged = {
        r["msgid"]: r["frag_id"] for r in out.tagged_records.collect()
    }
    segmap = {
        (r["frag_id"]): (r["seg_id"], str(r["date"]))
        for r in out.segmap.collect()
    }
    return tagged, segmap


def test_stream_equals_batch_and_recovers(spark, stream_case):
    """Feed days incrementally with a stop/restart (checkpoint recovery)
    between feeds; final tagged + segmap output must equal the batch engine
    byte-for-byte. The feed ends with the end-of-feed record, whose
    watermark releases and closes everything each key still holds."""
    tmpdir, full, in_dir, paths = stream_case
    out_dir = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")

    # feed day 0+1, run to completion, stop (simulates shutdown)
    _feed(spark, in_dir, paths[0], 0)
    _feed(spark, in_dir, paths[1], 1)
    q = _run_stream(spark, in_dir, out_dir, ckpt)
    _await(q)

    # restart from checkpoint, feed remaining days one by one
    _feed(spark, in_dir, paths[2], 2)
    q = _run_stream(spark, in_dir, out_dir, ckpt)
    _await(q)
    _feed(spark, in_dir, paths[3], 3)
    write_end_of_feed(spark, in_dir)
    q = _run_stream(spark, in_dir, out_dir, ckpt)
    _await(q)

    result = _read_drained(spark, out_dir)
    got_tagged = {
        r["msgid"]: r["frag_id"]
        for r in result.where(F.col("kind") == "tagged").collect()
    }
    got_segmap = {
        r["frag_id"]: (r["seg_id"], r["date"])
        for r in result.where(F.col("kind") == "segmap").collect()
    }
    assert result.where(F.col("kind") == "segmap").count() == len(got_segmap)

    exp_tagged, exp_segmap = _batch_expected(full)
    assert got_tagged == exp_tagged
    assert got_segmap == exp_segmap


def test_checkpoint_keeps_its_partition_count(spark, stream_case, tmp_path):
    """A checkpoint written under 8 shuffle partitions (the earlier default
    on 4 cores) resumes under the current default: Spark keeps the stateful
    operator's partition count in the checkpoint, and the drained output
    equals the batch engine."""
    tmpdir, full, _, paths = stream_case
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    default = spark.conf.get("spark.sql.shuffle.partitions")

    _feed(spark, in_dir, paths[0], 0)
    _feed(spark, in_dir, paths[1], 1)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        _await(_run_stream(spark, in_dir, out_dir, ckpt))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)

    for i in (2, 3):
        _feed(spark, in_dir, paths[i], i)
    write_end_of_feed(spark, in_dir)
    _await(_run_stream(spark, in_dir, out_dir, ckpt))

    state_parts = os.listdir(os.path.join(ckpt, "state", "0"))
    assert sorted(int(p) for p in state_parts if p.isdigit()) == list(range(8))
    result = _read_drained(spark, out_dir)
    got_tagged = {
        r["msgid"]: r["frag_id"]
        for r in result.where(F.col("kind") == "tagged").collect()
    }
    got_segmap = {
        r["frag_id"]: (r["seg_id"], r["date"])
        for r in result.where(F.col("kind") == "segmap").collect()
    }
    assert result.where(F.col("kind") == "segmap").count() == len(got_segmap)
    assert (got_tagged, got_segmap) == _batch_expected(full)


def test_exactly_once_replay(spark, stream_case, tmp_path):
    """Re-running an identical microbatch (same batch_id) must leave the
    sink unchanged: partition-scoped overwrite is idempotent."""
    tmpdir, full, in_dir, paths = stream_case
    out_dir = str(tmp_path / "out")
    writer = idempotent_batch_writer(out_dir)
    df = spark.read.parquet(paths[0]).withColumn("kind", F.lit("tagged"))
    writer(df, 0)
    once = sorted(
        tuple(r) for r in read_sink(spark, out_dir).select("msgid").collect()
    )
    writer(df, 0)  # replay
    twice = sorted(
        tuple(r) for r in read_sink(spark, out_dir).select("msgid").collect()
    )
    assert once == twice


def test_late_day_does_not_clobber_newer_state(spark, tmp_path):
    """A late-but-in-watermark record for an EARLIER day arriving in a later
    microbatch must continue that day's fragmenter state — not reset the
    current day's open fragments / frag counter (per-day keyed state).
    Regression for the cross-batch day-regression bug (ADVICE r01, medium)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def rec(day, hour, nt, mid):
        return ("d1", "s", base + dt.timedelta(days=day, hours=hour),
                [1, 2], nt, mid, "POS", None)

    feed0 = [rec(0, 10, 10, "a0"), rec(0, 11, 12, "a1"), rec(1, 10, 20, "b0")]
    late = [rec(0, 12, 14, "a2")]  # joins day-0's open fragment, in-window
    closer = [rec(5, 10, 30, "c0")]  # pushes the watermark past days 0-1
    all_rows = feed0 + late + closer

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run(wm):
        stream = (
            spark.readStream.schema(INPUT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(in_dir)
        )
        out = stream_segment(stream, PARAMS, watermark=wm)
        q = (
            out.writeStream.foreachBatch(idempotent_batch_writer(out_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    for i, rows in enumerate([feed0, late, closer]):
        spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.parquet(
            os.path.join(in_dir, f"feed_{i}")
        )
        if rows is closer:
            write_end_of_feed(spark, in_dir)
        run("3 days")

    batch = run_batch_pipeline(
        spark.createDataFrame(all_rows, INPUT_SCHEMA), PARAMS
    )
    exp_tagged = {r["msgid"]: r["frag_id"] for r in batch.tagged_records.collect()}
    got = _read_drained(spark, out_dir)
    got_tagged = {
        r["msgid"]: r["frag_id"]
        for r in got.where(F.col("kind") == "tagged").collect()
    }
    assert got_tagged == exp_tagged
    # the late record must have JOINED day-0's open fragment (same frag_id
    # as a1), not started a fresh one via a reset k-counter
    assert got_tagged["a2"] == got_tagged["a1"]
    exp_segmap = sorted(
        (r["frag_id"], r["seg_id"]) for r in batch.segmap.collect()
    )
    assert sorted(
        (r["frag_id"], r["seg_id"])
        for r in got.where(F.col("kind") == "segmap").collect()
    ) == exp_segmap


def test_watermark_drops_late_data(spark, tmp_path):
    """Records older than the watermark are dropped by the stateful op
    (reference analog: cross-day late data never rejoins old segments)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows_ontime = [
        ("d1", "s", base + dt.timedelta(days=i, hours=h), [1, 2], 10 + h, f"m{i}{h}", "POS", None)
        for i in range(3)
        for h in (1, 2)
    ]
    late = [("d1", "s", base - dt.timedelta(days=2), [1, 2], 10, "late0", "POS", None)]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    spark.createDataFrame(rows_ontime, INPUT_SCHEMA).coalesce(1).write.parquet(
        os.path.join(in_dir, "feed_0")
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = _run_stream(spark, in_dir, out_dir, ckpt)
    _await(q)
    # late record: 2 days before anything seen — watermark (max event time)
    # has passed it
    spark.createDataFrame(late, INPUT_SCHEMA).coalesce(1).write.parquet(
        os.path.join(in_dir, "feed_1")
    )
    q = _run_stream(spark, in_dir, out_dir, ckpt)
    _await(q)
    result = read_sink(spark, out_dir)
    msgids = {r["msgid"] for r in result.where(F.col("kind") == "tagged").collect()}
    assert "late0" not in msgids
    assert {f"m{i}{h}" for i in range(3) for h in (1, 2)} <= msgids


def test_out_of_order_within_day_record_no_crash(spark, tmp_path):
    """A later microbatch delivering an in-watermark record whose timestamp
    PRECEDES records already delivered for its day must neither crash the
    scoring loop (h < 0 made h**0.5 complex before the 0<=hours gate,
    ADVICE r02 high) nor start a fragment of its own: the stream holds the
    day's records until the watermark passes them and releases them in
    order, so the record gets the batch engine's frag_id."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def rec(day, hour, nt, mid):
        return ("d1", "s", base + dt.timedelta(days=day, hours=hour),
                [1, 2], nt, mid, "POS", None)

    feed0 = [rec(0, 10, 10, "a0"), rec(0, 12, 12, "a1")]
    # in-watermark, same day, but BEFORE the open fragment's last record
    late = [rec(0, 11, 11, "a_mid")]
    closer = [rec(5, 10, 30, "c0")]

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(INPUT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(in_dir)
        )
        out = stream_segment(stream, PARAMS, watermark="3 days")
        q = (
            out.writeStream.foreachBatch(idempotent_batch_writer(out_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        assert q.exception() is None

    for i, rows in enumerate([feed0, late, closer]):
        spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.parquet(
            os.path.join(in_dir, f"feed_{i}")
        )
        run()

    batch = run_batch_pipeline(
        spark.createDataFrame(feed0 + late + closer, INPUT_SCHEMA), PARAMS
    )
    exp = {r["msgid"]: r["frag_id"] for r in batch.tagged_records.collect()}
    got = read_sink(spark, out_dir)
    tagged = {
        r["msgid"]: r["frag_id"]
        for r in got.where(F.col("kind") == "tagged").collect()
    }
    # the closer moved the watermark past day 0: its records released
    assert {m: tagged[m] for m in ("a0", "a_mid", "a1")} == {
        m: exp[m] for m in ("a0", "a_mid", "a1")
    }
    assert tagged["a_mid"] is not None  # processed, not crashed/dropped


def test_fragment_loop_carried_state_earlier_timestamp():
    """Kernel unit: carried open-fragment state + a record earlier than the
    fragment's last_us must score 0 (skip), never raise (complex h**0.5)."""
    from pipe_segment_spark.operators.kernel import OpenFragState, _fragment_loop
    from pipe_segment_spark.config import SegmenterParams

    p = SegmenterParams()
    hour_us = 3_600_000_000
    carried = OpenFragState(1, 10 * hour_us, 10, "f1")
    carried.last_us = 12 * hour_us
    carried.last_n_tok = 12
    ids, frags, nk = _fragment_loop(
        "d1",
        [11 * hour_us],
        [11.0],
        [False],
        [False],
        [carried],
        2,
        p,
    )
    assert ids[0] is not None and ids[0] != "f1"  # new fragment, no crash


@pytest.mark.parametrize("mode", ["sorted_prefix"])
def test_buffered_modes_intra_day_disorder_equals_batch(spark, tmp_path, mode):
    """sorted_prefix mode: the same day's records split ACROSS microbatches
    in shuffled order must produce output byte-identical to the one-shot
    batch engine (reference daily-batch semantics: whole days run through
    the 19-key sort at once — VERDICT r02 ask #7; sorted_prefix gives that
    guarantee with watermark-released incremental kernel runs)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def rec(day, hour, nt, mid, rt="POS", iv=None):
        return ("d1", "s", base + dt.timedelta(days=day, hours=hour),
                [1, 2], nt, mid, rt, iv)

    day0 = [
        rec(0, 10, 10, "a0"),
        rec(0, 11, 11, "a1"),
        rec(0, 12, 12, "a2"),
        rec(0, 13, 90, "b0"),   # rate jump (d=78 > max rate) -> 2nd fragment
        rec(0, 14, 91, "b1"),
        rec(0, 12, 30, "i0", "IDENT", "name_1"),
    ]
    day1 = [rec(1, 10, 12, "c0"), rec(1, 11, 13, "c1")]
    closer = [rec(6, 10, 99, "z0")]
    all_rows = day0 + day1 + closer

    # intra-day disorder ACROSS installments: later batch carries EARLIER
    # records of the same day
    feeds = [
        [day0[2], day0[4], day1[1]],
        [day0[0], day0[5], day0[3], day1[0], day0[1]],
        closer,
    ]

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    for i, rows in enumerate(feeds):
        spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.parquet(
            os.path.join(in_dir, f"feed_{i}")
        )
        stream = (
            spark.readStream.schema(INPUT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(in_dir)
        )
        out = stream_segment(stream, PARAMS, watermark="4 days", mode=mode)
        q = (
            out.writeStream.foreachBatch(idempotent_batch_writer(out_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        assert q.exception() is None

    batch = run_batch_pipeline(
        spark.createDataFrame(all_rows, INPUT_SCHEMA), PARAMS
    )
    exp_tagged = {
        r["msgid"]: r["frag_id"] for r in batch.tagged_records.collect()
    }
    exp_segmap = {
        r["frag_id"]: (r["seg_id"], str(r["date"]))
        for r in batch.segmap.collect()
    }
    got = read_sink(spark, out_dir)
    got_tagged = {
        r["msgid"]: r["frag_id"]
        for r in got.where(F.col("kind") == "tagged").collect()
    }
    got_segmap = {
        r["frag_id"]: (r["seg_id"], r["date"])
        for r in got.where(F.col("kind") == "segmap").collect()
    }
    # closed days (0 and 1) must be byte-identical to the one-shot batch
    closed_msgids = {r[5] for r in day0 + day1}
    assert {m: f for m, f in got_tagged.items() if m in closed_msgids} == {
        m: f for m, f in exp_tagged.items() if m in closed_msgids
    }
    closed_frags = {f for f in exp_segmap if exp_segmap[f][1] < "2024-01-06"}
    assert {f: s for f, s in got_segmap.items() if f in closed_frags} == {
        f: exp_segmap[f] for f in closed_frags
    }
    # the two-fragment day really did fragment (rate jump)
    assert got_tagged["a0"] == got_tagged["a1"] == got_tagged["a2"]
    assert got_tagged["b0"] == got_tagged["b1"] != got_tagged["a0"]
    # IDENT record attaches to the best open fragment, like batch
    assert got_tagged["i0"] == exp_tagged["i0"]


@pytest.mark.parametrize("mode", ["sorted_prefix"])
def test_buffered_modes_empty_token_array_is_noise(spark, tmp_path, mode):
    """A record with an EMPTY (non-null) token array is noise in the batch
    kernel (len==0 -> noise). The stream's ingestion must apply the same
    payload rule — tokens=[] may not open or extend a fragment."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def rec(day, hour, nt, mid, tokens, rt="POS", iv=None):
        return ("d1", "s", base + dt.timedelta(days=day, hours=hour),
                tokens, nt, mid, rt, iv)

    rows = [
        rec(0, 10, 10, "a0", [1, 2]),
        rec(0, 11, 11, "e0", []),        # empty array: noise
        rec(0, 12, 12, "e1", None),      # null array: noise
        rec(0, 13, 12, "a1", [3]),
        rec(5, 10, 99, "z0", [9]),       # watermark closer
    ]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    spark.createDataFrame(rows, INPUT_SCHEMA).coalesce(1).write.parquet(
        os.path.join(in_dir, "feed_0")
    )
    stream = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )
    out = stream_segment(stream, PARAMS, watermark="2 days", mode=mode)
    q = (
        out.writeStream.foreachBatch(idempotent_batch_writer(out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    assert q.exception() is None

    batch = run_batch_pipeline(
        spark.createDataFrame(rows, INPUT_SCHEMA), PARAMS
    )
    exp_tagged = {
        r["msgid"]: r["frag_id"] for r in batch.tagged_records.collect()
    }
    got = read_sink(spark, out_dir)
    got_tagged = {
        r["msgid"]: r["frag_id"]
        for r in got.where(F.col("kind") == "tagged").collect()
    }
    closed = {"a0", "e0", "e1", "a1"}
    assert {m: f for m, f in got_tagged.items() if m in closed} == {
        m: f for m, f in exp_tagged.items() if m in closed
    }
    assert got_tagged["e0"] is None and got_tagged["e1"] is None
    # day-0 fragment survived the noise rows: a0 and a1 share a fragment
    assert got_tagged["a0"] == got_tagged["a1"] is not None


class _FakeGroupState:
    """Minimal GroupState stand-in for driving the stateful function
    directly."""

    def __init__(self, wm_ms=0):
        self._val = None
        self.wm_ms = wm_ms
        self.timeout_set = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, tup):
        self._val = tup

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ts):
        self.timeout_set = ts


def test_buffered_record_releases_when_watermark_reaches_it():
    """A buffered record emits in the first microbatch whose watermark
    reaches it, even when its key gets no further data: the key's timeout
    fires once the watermark reaches the record, well before its day
    ends."""
    import pandas as pd

    from pipe_segment_spark.streaming.segmenter_stream import (
        make_stateful_segmenter,
    )

    fn = make_stateful_segmenter(PARAMS)
    # 10:00:00.0005 on 2024-01-01: not a whole millisecond
    t = pd.Timestamp("2024-01-01 10:00:00.000500")
    t_us = t.value // 1000
    rec = pd.DataFrame(
        {
            "doc_id": ["d1"], "timestamp": [t], "msgid": ["a0"],
            "n_tok": [10], "rec_type": ["POS"], "source": ["s"],
            "ident_value": [None], "has_payload": [True],
        }
    )
    st = _FakeGroupState(wm_ms=t_us // 1000 - 3_600_000)
    assert list(fn(("d1",), iter([rec]), st)) == []  # above the watermark
    timeout = st.timeout_set
    assert timeout is not None

    def fires(wm_ms):  # Spark: the watermark is strictly past the timeout
        return wm_ms > timeout

    # the watermark at 10:00:00.000 is below the record; 10:00:00.001 is
    # the first that reaches it
    assert not fires(t_us // 1000)
    wm_ms = t_us // 1000 + 1
    assert fires(wm_ms)
    st.wm_ms, st.timeout_set, st.hasTimedOut = wm_ms, None, True
    (out,) = fn(("d1",), iter([]), st)
    assert list(out["kind"]) == ["tagged"]
    assert list(out["msgid"]) == ["a0"]
    assert out["frag_id"].iloc[0] is not None
    # its day stays open: the next timeout is the day's end
    assert st.timeout_set == pd.Timestamp("2024-01-02").value // 1_000_000


def test_sorted_prefix_state_bounded_by_suffix():
    """sorted_prefix keeps ONLY the out-of-order suffix (records >= the
    watermark) buffered; the watermark-confirmed prefix is released through
    the kernel incrementally and its tagged output equals the one-shot
    sorted kernel run over the same records."""
    import datetime as dt

    import pandas as pd

    from pipe_segment_spark.operators.kernel import _fragment_loop
    from pipe_segment_spark.streaming.segmenter_stream import (
        _BUF_COLS,
        _decode_state,
        make_stateful_segmenter,
    )

    fn = make_stateful_segmenter(PARAMS)
    base = dt.datetime(2024, 1, 1)
    hour_us = 3_600_000_000

    def batch_df(rows):
        # kernel_input(records, "ident_value") rows
        return pd.DataFrame(
            {
                "doc_id": ["d1"] * len(rows),
                "timestamp": [base + dt.timedelta(hours=h) for h, *_ in rows],
                "msgid": [m for _, _, m in rows],
                "n_tok": [nt for _, nt, _ in rows],
                "rec_type": ["POS"] * len(rows),
                "source": ["s"] * len(rows),
                "ident_value": [None] * len(rows),
                "has_payload": [True] * len(rows),
            }
        )

    # batch 1: disordered day-0 records, watermark still 0 -> all buffered
    st = _FakeGroupState(wm_ms=0)
    out1 = list(fn(("d1",), iter([batch_df([(12, 12, "a2"), (10, 10, "a0")])]), st))
    assert out1 == []  # nothing released yet
    _, _, _, buf = _decode_state(st.get)
    assert sorted(buf) == sorted(_BUF_COLS)  # one flat buffer, no day level
    assert buf["msgid"] == ["a2", "a0"] and buf["hp"] == [True, True]

    # batch 2: one more record; watermark passed hour 13 -> hours 10,12
    # release (sorted), hour 14 stays buffered
    st.wm_ms = int((base + dt.timedelta(hours=13)).timestamp() * 1000)
    out2 = list(fn(("d1",), iter([batch_df([(14, 14, "a3")])]), st))
    released = pd.concat(out2, ignore_index=True)
    assert list(released["msgid"]) == ["a0", "a2"]  # sorted release order
    _, _, _, buf = _decode_state(st.get)
    assert buf["msgid"] == ["a3"] and buf["nt"] == [14]  # only the suffix
    assert st.timeout_set is not None

    # batch 3: watermark into day 1 -> remainder releases, day 0 closes
    st.wm_ms = int((base + dt.timedelta(days=1, hours=1)).timestamp() * 1000)
    out3 = list(fn(("d1",), iter([batch_df([])]), st))
    final = pd.concat(out3, ignore_index=True)
    tagged = final[final["kind"] == "tagged"]
    segmap = final[final["kind"] == "segmap"]
    assert list(tagged["msgid"]) == ["a3"]
    assert len(segmap) >= 1
    _, _, _, buf = _decode_state(st.get)
    assert buf == {}

    # incremental releases == one-shot sorted kernel on the same records
    all_frag = {
        m: f
        for m, f in zip(
            list(released["msgid"]) + list(tagged["msgid"]),
            list(released["frag_id"]) + list(tagged["frag_id"]),
        )
    }
    ts = [10 * hour_us, 12 * hour_us, 14 * hour_us]
    ts = [int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6) + t for t in ts]
    ids, _, _ = _fragment_loop(
        "d1", ts, [10.0, 12.0, 14.0], [False] * 3, [False] * 3, [], 1, PARAMS
    )
    assert [all_frag["a0"], all_frag["a2"], all_frag["a3"]] == ids


def test_stream_segment_rejects_unknown_mode():
    """One release rule: the removed low_latency mode is an error."""
    with pytest.raises(ValueError, match="unknown stream mode"):
        stream_segment(None, PARAMS, mode="low_latency")


def test_stateful_udf_input_has_no_token_payload(spark, tmp_path):
    """The stream feeds the batch kernel's input projection into the
    stateful UDF: ``has_payload`` is computed JVM-side and the token array
    never crosses into Python. (The optimized plan is not available for a
    streaming source, so this reads the analyzed plan.)"""
    from pipe_segment_spark.streaming.segmenter_stream import INPUT_SCHEMA_DDL

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    out = stream_segment(
        spark.readStream.schema(INPUT_SCHEMA_DDL).parquet(in_dir), PARAMS
    )
    plan = out._jdf.queryExecution().analyzed().toString()
    (line,) = [
        ln for ln in plan.splitlines()
        if "FlatMapGroupsInPandasWithState" in ln
    ]
    assert "has_payload#" in line, line
    assert "tokens#" not in line, line


def _kernel_rows(records):
    """(minute, n_tok, payload, rec_type, ident_value, source, lateness,
    msgid) tuples -> ``kernel_input(records, "ident_value")`` rows for
    doc_id d1; msgid ``"own"`` stands for the record's own m<i>."""
    import datetime as dt

    import pandas as pd

    base = dt.datetime(2024, 1, 1)
    return pd.DataFrame(
        {
            "doc_id": ["d1"] * len(records),
            "timestamp": pd.to_datetime(
                [base + dt.timedelta(minutes=r[0]) for r in records]
            ),
            "msgid": [
                f"m{i:03d}" if r[7] == "own" else r[7]
                for i, r in enumerate(records)
            ],
            "n_tok": pd.array([r[1] for r in records], dtype="Int32"),
            "rec_type": [r[3] for r in records],
            "source": [r[5] for r in records],
            "ident_value": [r[4] for r in records],
            "has_payload": [r[2] and r[1] is not None for r in records],
        }
    )


def test_sorted_prefix_equals_segment_key_property():
    """Property: the stream over ANY microbatch split of a key's records
    equals the batch kernel (``segment_key``) on the records it kept — the
    same frag_id per record and the same (frag_id, seg_id, date) segmap,
    each emitted once. Each microbatch first drops its rows at or below the
    watermark, as Spark does; the watermark trails the newest record seen
    by a random delay, and other keys move it further between this key's
    microbatches. Records arrive in any order, or in event-time order up
    to a random lateness. Whenever the watermark passes the key's timeout,
    the key gets a timeout call, as in Spark; the feed ends by moving the
    watermark past every record before the last one. msgids may be NULL
    or shared, and sources NULL, so the tags compare per record, as a
    multiset of (timestamp, msgid, n_tok, frag_id): the buffer's NULL
    round trip shows in every column the stream emits."""
    from collections import Counter

    import numpy as np
    import pandas as pd

    from hypothesis import example, given, settings, strategies as st

    from pipe_segment_spark.operators.kernel import RECORD_KEY, segment_key
    from pipe_segment_spark.streaming.segmenter_stream import (
        END_OF_FEED_TS,
        make_stateful_segmenter,
    )

    hour_ms = 3_600_000
    record_st = st.tuples(
        st.integers(0, 3 * 24 * 4 - 1).map(lambda q: 15 * q),  # minute, ties
        st.one_of(st.none(), st.integers(0, 60)),  # n_tok
        st.booleans(),  # token payload present
        st.sampled_from(["POS", "POS", "IDENT"]),
        st.sampled_from([None, "a", "b"]),
        st.sampled_from(["s", "t", None]),
        st.integers(0, 3 * 24 * 60),  # arrival lateness, minutes
        st.sampled_from(["own", "own", "own", None, "r0"]),  # msgid
    )

    @settings(max_examples=150, deadline=None)
    @given(
        # small keys, and keys with enough records for a timeout to fire
        # between microbatches of the same day
        st.one_of(
            st.lists(record_st, min_size=1, max_size=8),
            st.lists(record_st, min_size=8, max_size=40),
        ),
        st.lists(st.integers(1, 39), min_size=2, max_size=12),
        st.sampled_from([0, 1, 6, 30]),
        # hours other keys move the watermark after each microbatch
        st.lists(st.sampled_from([0, 0, 0, 1, 2, 4]), min_size=13,
                 max_size=13),
        # hours a record may arrive late; None: any order
        st.sampled_from([None, 0, 2, 12]),
    )
    # day 0 20:00 and day 1 05:00 arrive; other keys move the watermark to
    # day 1 01:00, past the key's day-0 timeout; then day 1 03:00 arrives
    @example(
        records=[
            (20 * 60, 10, True, "POS", None, "s", 0, "own"),
            (29 * 60, 12, True, "POS", None, "s", 0, "own"),
            (27 * 60, 11, True, "POS", None, "s", 0, "own"),
        ],
        cuts=[2],
        delay_h=6,
        others_h=[2] + [0] * 12,
        late_h=None,
    )
    def check(records, cuts, delay_h, others_h, late_h):
        if late_h is not None:
            records = sorted(
                records, key=lambda r: r[0] + r[6] % (late_h * 60 + 1)
            )
        pdf = _kernel_rows(records)
        ts_ms = (
            pdf["timestamp"].to_numpy("datetime64[ms]").astype("int64")
        )
        bounds = [0, *sorted({c for c in cuts if c < len(pdf)}), len(pdf)]
        fn = make_stateful_segmenter(PARAMS)
        state = _FakeGroupState()
        parts, kept = [], []

        def call(frames, timed_out):
            state.hasTimedOut = timed_out
            state.timeout_set = None  # Spark resets it on every call
            out = list(fn(("d1",), iter(frames), state))
            assert len(out) <= 1  # tagged and segmap rows in one frame
            parts.extend(out)

        def fire_timeout():
            if state.timeout_set is not None and (
                state.wm_ms > state.timeout_set
            ):
                call([], True)

        for (lo, hi), other_h in zip(zip(bounds[:-1], bounds[1:]), others_h):
            idx = np.arange(lo, hi)
            if state.wm_ms > 0:
                idx = idx[ts_ms[idx] > state.wm_ms]  # late rows dropped
            kept += idx.tolist()
            call([pdf.iloc[idx].reset_index(drop=True)], False)
            if kept:
                newest = int(ts_ms[kept].max())
                state.wm_ms = max(state.wm_ms, newest - delay_h * hour_ms)
            if state.wm_ms > 0:
                state.wm_ms += other_h * hour_ms
            fire_timeout()
        state.wm_ms = int(END_OF_FEED_TS.timestamp() * 1000)
        fire_timeout()

        def rows(frame, cols):
            return [
                tuple(None if pd.isna(v) else v for v in row)
                for row in zip(*(frame[c] for c in cols))
            ]

        out_cols = ["timestamp", "msgid", "n_tok"]
        got_tagged, got_segmap = Counter(), []
        for part in parts:
            tag = part[part["kind"] == "tagged"]
            got_tagged.update(
                (*r, f) for r, f in zip(rows(tag, out_cols), tag["frag_id"])
            )
            seg = part[part["kind"] == "segmap"]
            got_segmap += zip(seg["frag_id"], seg["seg_id"], seg["date"])

        kept_rows = pdf.iloc[kept].assign(dest_value=None).reset_index(drop=True)
        want = segment_key(kept_rows, PARAMS)
        tagged = want[want["kind"] == "tagged"]
        frags = want[want["kind"] == "fragment"]
        # the kernel tags each distinct record once: look every kept
        # record up by its record key
        tag_of = dict(zip(rows(tagged, RECORD_KEY), tagged["frag_id"]))
        assert got_tagged == Counter(
            (*r, tag_of[k])
            for r, k in zip(rows(kept_rows, out_cols), rows(kept_rows, RECORD_KEY))
        )
        assert sorted(got_segmap) == sorted(
            zip(
                frags["frag_id"],
                frags["seg_id"],
                frags["timestamp"].dt.date.map(str),
            )
        )
        assert state.get is not None and "buf" not in state.get[0]

    check()


def test_per_day_buffer_state_still_decodes():
    """A checkpoint written with the earlier per-day buffer
    ({day_us: {column: [...]}}) decodes into the flat buffer, the days
    concatenated in day order, and releases like a flat one once the
    watermark passes its rows."""
    import json

    import pandas as pd

    from pipe_segment_spark.streaming.segmenter_stream import (
        _decode_state,
        make_stateful_segmenter,
    )

    day_us, hour_us = 86_400_000_000, 3_600_000_000
    d0 = 19723 * day_us  # 2024-01-01

    def day(ts, mids):
        n = len(ts)
        return {
            "t": ts, "nt": [10] * n, "msgid": mids, "rec": ["POS"] * n,
            "hp": [True] * n, "src": ["s"] * n, "iv": [None] * n,
        }

    old = json.dumps({
        "fd": {}, "os": {}, "pf": [],
        "buf": {
            str(d0 + day_us): day([d0 + day_us + hour_us], ["b0"]),
            str(d0): day([d0 + 2 * hour_us, d0 + hour_us], ["a1", "a0"]),
        },
    })
    _, _, _, buf = _decode_state((old,))
    assert buf["msgid"] == ["a1", "a0", "b0"]
    assert buf["t"] == [d0 + 2 * hour_us, d0 + hour_us, d0 + day_us + hour_us]

    # a timeout call once the watermark has passed both days
    state = _FakeGroupState(wm_ms=(d0 + 2 * day_us) // 1000)
    state.update((old,))
    state.hasTimedOut = True
    out = pd.concat(
        list(make_stateful_segmenter(PARAMS)(("d1",), iter([]), state)),
        ignore_index=True,
    )
    tagged = out[out["kind"] == "tagged"]
    assert list(tagged["msgid"]) == ["a0", "a1", "b0"]  # one sorted run
    assert tagged["frag_id"].iloc[0] == tagged["frag_id"].iloc[1]
    assert set(out.loc[out["kind"] == "segmap", "date"]) == {
        "2024-01-01", "2024-01-02"
    }
    assert "buf" not in state.get[0]


def test_merge_pending_boundary_tie_breaks_on_msgid():
    """Boundary merges across microbatches resolve equal timestamps with the
    (timestamp, msgid) comparator the batch kernel's one-shot run and the
    DuckDB replay (ORDER BY timestamp, msgid) both imply — NOT
    last-run-wins. A tied-last_us record with a SMALLER msgid must not
    steal last_n_tok; one with a LARGER msgid must."""
    import numpy as np

    from pipe_segment_spark.operators.kernel import _merge_pending

    day = 0
    pending = []
    # run 1: fragment f1 rows at t=100 (msgid m5) then t=200 (msgid m7)
    _merge_pending(
        pending,
        np.array(["f1", "f1"], dtype=object),
        np.array([100, 200], dtype="int64"),
        np.array([10, 20], dtype="int64"),
        np.array([day, day], dtype="int64"),
        np.array(["m5", "m7"], dtype=object),
    )
    f = pending[0]
    assert (f["last_us"], f["last_n_tok"], f["last_msgid"]) == (200, 20, "m7")
    assert (f["first_us"], f["first_n_tok"], f["first_msgid"]) == (
        100, 10, "m5",
    )

    # run 2: tied last boundary t=200 with SMALLER msgid m3 -> no steal
    _merge_pending(
        pending,
        np.array(["f1"], dtype=object),
        np.array([200], dtype="int64"),
        np.array([99], dtype="int64"),
        np.array([day], dtype="int64"),
        np.array(["m3"], dtype=object),
    )
    assert (f["last_us"], f["last_n_tok"], f["last_msgid"]) == (200, 20, "m7")
    assert f["msg_count"] == 3

    # run 3: tied last boundary t=200 with LARGER msgid m9 -> wins
    _merge_pending(
        pending,
        np.array(["f1"], dtype=object),
        np.array([200], dtype="int64"),
        np.array([42], dtype="int64"),
        np.array([day], dtype="int64"),
        np.array(["m9"], dtype=object),
    )
    assert (f["last_us"], f["last_n_tok"], f["last_msgid"]) == (200, 42, "m9")

    # tied FIRST boundary t=100, smaller msgid m1 -> takes first slot
    _merge_pending(
        pending,
        np.array(["f1"], dtype=object),
        np.array([100], dtype="int64"),
        np.array([7], dtype="int64"),
        np.array([day], dtype="int64"),
        np.array(["m1"], dtype=object),
    )
    assert (f["first_us"], f["first_n_tok"], f["first_msgid"]) == (
        100, 7, "m1",
    )
    # a strictly later timestamp always wins regardless of msgid
    _merge_pending(
        pending,
        np.array(["f1"], dtype=object),
        np.array([300], dtype="int64"),
        np.array([30], dtype="int64"),
        np.array([day], dtype="int64"),
        np.array(["m0"], dtype=object),
    )
    assert (f["last_us"], f["last_n_tok"], f["last_msgid"]) == (300, 30, "m0")


def test_merge_pending_null_msgid_sorts_before_empty_string():
    """Spark's min_by/max_by over struct(timestamp, msgid) orders a NULL
    field BEFORE '' (verified empirically on Spark 4.1), so a timestamp
    tie between a NULL-msgid row and an ''-msgid row must resolve
    NULL-first here too: min boundary -> NULL wins, max boundary -> ''
    wins. The pre-r5 '' coalesce tied them (ADVICE r4)."""
    import numpy as np

    from pipe_segment_spark.operators.kernel import _merge_pending

    # run 1: single row with msgid='' at t=100
    pending = []
    _merge_pending(
        pending,
        np.array(["f1"], dtype=object),
        np.array([100], dtype="int64"),
        np.array([10], dtype="int64"),
        np.array([0], dtype="int64"),
        np.array([""], dtype=object),
    )
    # run 2: NULL-msgid row at the SAME t=100 -> takes the FIRST slot
    # (NULL < ''), must NOT take the LAST slot ('' > NULL)
    _merge_pending(
        pending,
        np.array(["f1"], dtype=object),
        np.array([100], dtype="int64"),
        np.array([20], dtype="int64"),
        np.array([0], dtype="int64"),
        np.array([None], dtype=object),
    )
    f = pending[0]
    assert (f["first_n_tok"], f["first_msgid"]) == (20, None)
    assert (f["last_n_tok"], f["last_msgid"]) == (10, "")

    # and the mirror order: NULL stored first, '' arrives second
    pending2 = []
    _merge_pending(
        pending2,
        np.array(["f1"], dtype=object),
        np.array([100], dtype="int64"),
        np.array([20], dtype="int64"),
        np.array([0], dtype="int64"),
        np.array([None], dtype=object),
    )
    _merge_pending(
        pending2,
        np.array(["f1"], dtype=object),
        np.array([100], dtype="int64"),
        np.array([10], dtype="int64"),
        np.array([0], dtype="int64"),
        np.array([""], dtype=object),
    )
    g = pending2[0]
    assert (g["first_n_tok"], g["first_msgid"]) == (20, None)
    assert (g["last_n_tok"], g["last_msgid"]) == (10, "")

    # NaN (pandas missing-string representation) behaves as None
    pending3 = []
    _merge_pending(
        pending3,
        np.array(["f1"], dtype=object),
        np.array([100], dtype="int64"),
        np.array([30], dtype="int64"),
        np.array([0], dtype="int64"),
        np.array([float("nan")], dtype=object),
    )
    _merge_pending(
        pending3,
        np.array(["f1"], dtype=object),
        np.array([100], dtype="int64"),
        np.array([40], dtype="int64"),
        np.array([0], dtype="int64"),
        np.array([""], dtype=object),
    )
    h = pending3[0]
    assert h["first_n_tok"] == 30 and h["last_n_tok"] == 40


@pytest.mark.parametrize("crash_mode", ["partial_write", "after_write"])
def test_exactly_once_crash_mid_microbatch(spark, stream_case, tmp_path, crash_mode):
    """Chaos: kill the drain INSIDE a microbatch — after the sink wrote a
    partial (or complete) batch_id=N directory but BEFORE the checkpoint
    commit — then restart from the checkpoint and drain to completion.

    This is the crashed-run half of the reference's idempotency claim
    (truncate-then-write, pipeline.py:142-156): the offset log pins the
    replayed batch to the same input files, the stateful operator
    recomputes the same deterministic rows, and the partition-scoped
    dynamic overwrite replaces the torn batch_id=N directory wholesale —
    no dupes, no loss. Final sink must equal the one-shot batch engine.

    ``partial_write`` leaves a half-written partition (torn files, no
    complete row set); ``after_write`` crashes with the sink fully
    written but the commit log behind it."""
    import pyspark.errors

    tmpdir, full, _, paths = stream_case
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir, exist_ok=True)
    for i, p in enumerate(paths):
        _feed(spark, in_dir, p, i)
    write_end_of_feed(spark, in_dir)

    inner = idempotent_batch_writer(out_dir)
    crashed = {"fired": False, "batch_id": None, "rows_written": None}

    def faulty(df, batch_id):
        if batch_id == 1 and not crashed["fired"]:
            crashed["fired"] = True
            crashed["batch_id"] = batch_id
            if crash_mode == "partial_write":
                half = df.limit(max(1, df.count() // 2))
                inner(half, batch_id)
                crashed["rows_written"] = half.count()
            else:
                inner(df, batch_id)
                crashed["rows_written"] = df.count()
            raise RuntimeError("injected crash before checkpoint commit")
        inner(df, batch_id)

    # one file per trigger so the crash lands mid-drain with real
    # committed batches before it and unprocessed input after it
    q = _run_stream(spark, in_dir, out_dir, ckpt, writer=faulty, max_files=1)
    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        q.awaitTermination()
    assert crashed["fired"] and not q.isActive
    # the torn sink state is visible pre-restart: batch dir exists
    assert os.path.isdir(os.path.join(out_dir, "batch_id=1"))

    # restart from the same checkpoint with the healthy writer; the failed
    # batch replays (same offsets) and overwrites its own partition
    q = _run_stream(spark, in_dir, out_dir, ckpt, writer=faulty, max_files=1)
    _await(q)

    result = _read_drained(spark, out_dir)
    got_tagged = {
        r["msgid"]: r["frag_id"]
        for r in result.where(F.col("kind") == "tagged").collect()
    }
    # no dupes: every (kind, msgid) appears exactly once across batch dirs
    dupes = (
        result.where(F.col("kind") == "tagged")
        .groupBy("msgid")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dupes == 0
    got_segmap = {
        r["frag_id"]: (r["seg_id"], r["date"])
        for r in result.where(F.col("kind") == "segmap").collect()
    }
    seg_dupes = (
        result.where(F.col("kind") == "segmap")
        .groupBy("frag_id", "date")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert seg_dupes == 0

    exp_tagged, exp_segmap = _batch_expected(full)
    assert got_tagged == exp_tagged
    assert got_segmap == exp_segmap


def test_merge_pending_property_vs_reference_fold():
    """Property check: the vectorized numpy _merge_pending equals a
    straightforward row-at-a-time reference fold (same tie-break contract)
    across randomized multi-run merge schedules."""
    import numpy as np

    from hypothesis import given, settings, strategies as st

    from pipe_segment_spark.operators.kernel import _merge_pending

    def reference_merge(pending, rows):
        """Two-phase row-at-a-time fold mirroring the tie hierarchy:
        WITHIN a run, boundary ties on (t, msgid) resolve to the latest
        processed row (>= update — kernel-sorted order, matching the
        positional first/last the vectorized version computes); ACROSS
        runs, ties keep the stored value (strict compare — the batch
        max_by tie is arbitrary there, and msgid is unique in real
        feeds, so exact cross-run (t, msgid) duplicates are replays)."""
        local = {}
        order = []
        for fid, t, nt, day, mid in rows:
            f = local.get(fid)
            if f is None:
                f = {
                    "frag_id": fid, "day_us": day,
                    "first_us": t, "last_us": t,
                    "first_n_tok": nt, "last_n_tok": nt,
                    "first_msgid": mid, "last_msgid": mid,
                    "msg_count": 0,
                }
                local[fid] = f
                order.append(fid)
            if (t, mid or "") < (f["first_us"], f["first_msgid"] or ""):
                f["first_us"], f["first_n_tok"], f["first_msgid"] = t, nt, mid
            if (t, mid or "") >= (f["last_us"], f["last_msgid"] or ""):
                f["last_us"], f["last_n_tok"], f["last_msgid"] = t, nt, mid
            f["msg_count"] += 1
        by_id = {f["frag_id"]: f for f in pending}
        for fid in order:
            r = local[fid]
            f = by_id.get(fid)
            if f is None:
                by_id[fid] = r
                pending.append(r)
                continue
            if (r["first_us"], r["first_msgid"] or "") < (
                f["first_us"], f["first_msgid"] or ""
            ):
                f["first_us"] = r["first_us"]
                f["first_n_tok"] = r["first_n_tok"]
                f["first_msgid"] = r["first_msgid"]
            if (r["last_us"], r["last_msgid"] or "") > (
                f["last_us"], f["last_msgid"] or ""
            ):
                f["last_us"] = r["last_us"]
                f["last_n_tok"] = r["last_n_tok"]
                f["last_msgid"] = r["last_msgid"]
            f["msg_count"] += r["msg_count"]

    row_st = st.tuples(
        st.sampled_from(["f1", "f2", "f3"]),          # frag_id
        st.integers(min_value=0, max_value=50),        # t (many ties)
        st.integers(min_value=1, max_value=9),         # n_tok
        st.just(0),                                    # day_us
        st.sampled_from(["m1", "m2", "m3", "m4"]),     # msgid (ties too)
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.lists(row_st, min_size=1, max_size=8),
                    min_size=1, max_size=5))
    def check(runs):
        # IMPORTANT: within one run, rows arrive kernel-SORTED by
        # (t, msgid) — that is _merge_pending's input contract
        # (sort_columns runs upstream); across runs order is arbitrary.
        vec_pending, ref_pending = [], []
        for run in runs:
            run = sorted(run, key=lambda r: (r[1], r[4], r[2]))
            _merge_pending(
                vec_pending,
                np.array([r[0] for r in run], dtype=object),
                np.array([r[1] for r in run], dtype="int64"),
                np.array([r[2] for r in run], dtype="int64"),
                np.array([r[3] for r in run], dtype="int64"),
                np.array([r[4] for r in run], dtype=object),
            )
            reference_merge(ref_pending, run)
        key = lambda f: f["frag_id"]  # noqa: E731
        assert sorted(vec_pending, key=key) == sorted(ref_pending, key=key)

    check()


def test_merge_pending_duplicate_t_msgid_hierarchy():
    """Exact (t, msgid) duplicates — replayed records: WITHIN one run the
    positional-last row's n_tok wins (what the pre-r4 pandas groupby did
    and the numpy version preserves); ACROSS runs the stored boundary
    wins (strict merge compare). The batch engine's max_by is
    tie-arbitrary here, so any consistent deterministic rule is valid —
    this pins ours."""
    import numpy as np

    from pipe_segment_spark.operators.kernel import _merge_pending

    p = []
    _merge_pending(
        p,
        np.array(["f1", "f1"], dtype=object),
        np.array([5, 5], dtype="int64"),
        np.array([1, 2], dtype="int64"),
        np.array([0, 0], dtype="int64"),
        np.array(["m1", "m1"], dtype=object),
    )
    assert p[0]["last_n_tok"] == 2 and p[0]["first_n_tok"] == 1
    # replay of the same boundary row in a LATER run: stored value sticks
    _merge_pending(
        p,
        np.array(["f1"], dtype=object),
        np.array([5], dtype="int64"),
        np.array([7], dtype="int64"),
        np.array([0], dtype="int64"),
        np.array(["m1"], dtype=object),
    )
    assert p[0]["last_n_tok"] == 2 and p[0]["msg_count"] == 3
