"""Engine vs pure-Python oracle: exact row-for-row equality, including
token-array equality per row (BASELINE.json input_hint invariant).

Mirrors the reference's test shapes (tests/transform/test_fragment.py,
test_create_segment_map.py, test_create_segments.py) over the token schema,
plus a randomized sweep on the sf0.001-derived stream.
"""

from __future__ import annotations

from datetime import timedelta

import pytest

from pipe_segment_spark.config import SegmenterParams
from pipe_segment_spark.oracle import segmenter as oracle
from pipe_segment_spark.pipeline import run_batch_pipeline
from pipe_segment_spark.sources.token_stream import token_stream

from tests.conftest import SF_DIR

PARAMS = SegmenterParams()


def make_record(doc_id, ts, n_tok, msgid, tokens=None, rec_type="POS", source="s1",
                ident_value=None, dest_value=None):
    if tokens is None and n_tok is not None:
        tokens = [int(n_tok), int(n_tok) + 1]
    return {
        "doc_id": doc_id,
        "source": source,
        "timestamp": ts,
        "tokens": tokens,
        "n_tok": n_tok,
        "msgid": msgid,
        "rec_type": rec_type,
        "ident_value": ident_value,
        "dest_value": dest_value,
    }


def records_to_df(spark, records):
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("source", StringType()),
            StructField("timestamp", TimestampType()),
            StructField("tokens", ArrayType(IntegerType())),
            StructField("n_tok", IntegerType()),
            StructField("msgid", StringType()),
            StructField("rec_type", StringType()),
            StructField("ident_value", StringType()),
            StructField("dest_value", StringType()),
        ]
    )
    rows = [
        (
            r["doc_id"],
            r["source"],
            r["timestamp"].replace(tzinfo=None),
            r["tokens"],
            r["n_tok"],
            r["msgid"],
            r["rec_type"],
            r["ident_value"],
            r.get("dest_value"),
        )
        for r in records
    ]
    return spark.createDataFrame(rows, schema)


def run_both(spark, records, params=PARAMS):
    out = run_batch_pipeline(records_to_df(spark, records), params)
    expected = oracle.run_pipeline(records, params)
    return out, expected


def assert_tagged_match(out, expected):
    got = {
        r["msgid"]: (r["frag_id"], r["seg_id"], tuple(r["tokens"] or []))
        for r in out.tagged_records.collect()
    }
    want = {
        r["msgid"]: (
            r["frag_id"],
            r["seg_id"],
            tuple(r["tokens"] or []),
        )
        for r in expected["tagged_records"]
    }
    assert got == want


def assert_segments_match(out, expected):
    def ctuple(arr):
        return tuple((i["value"], i["count"]) for i in arr)

    got = sorted(
        (
            r["seg_id"],
            r["frag_id"],
            r["timestamp"],
            r["first_timestamp"],
            r["daily_msg_count"],
            r["cumulative_msg_count"],
            ctuple(r["daily_identities"]),
            ctuple(r["cumulative_identities"]),
            ctuple(r["daily_destinations"]),
            ctuple(r["cumulative_destinations"]),
        )
        for r in out.segments.collect()
    )
    want = sorted(
        (
            r["seg_id"],
            r["frag_id"],
            r["timestamp"].replace(tzinfo=None),
            r["first_timestamp"].replace(tzinfo=None),
            r["daily_msg_count"],
            r["cumulative_msg_count"],
            ctuple(r["daily_identities"]),
            ctuple(r["cumulative_identities"]),
            ctuple(r["daily_destinations"]),
            ctuple(r["cumulative_destinations"]),
        )
        for r in expected["segments"]
    )
    assert got == want


T0 = oracle.make_utc(2024, 1, 1, 0, 0, 0)


class TestReferenceShapes:
    """Reference test shapes recast (tests/transform/test_fragment.py)."""

    def test_empty(self, spark):
        out, expected = run_both(spark, [])
        assert out.segments.count() == 0
        assert expected["segments"] == []

    def test_single_noise(self, spark):
        # payload-less record => noise => frag_id/seg_id None
        # (reference test_segment_segments_in: no seg ids for noise)
        recs = [make_record("d1", T0, None, "m0", tokens=None)]
        out, expected = run_both(spark, recs)
        assert_tagged_match(out, expected)
        [row] = out.tagged_records.collect()
        assert row["frag_id"] is None and row["seg_id"] is None
        assert out.segments.count() == 0

    def test_gap_split(self, spark):
        # two records far apart => two segments, ids keyed by first-record
        # time (reference test_expected_segments: 11 days apart)
        recs = [
            make_record("d1", T0, 10, "m0"),
            make_record("d1", T0 + timedelta(days=11), 10, "m1"),
        ]
        out, expected = run_both(spark, recs)
        assert_tagged_match(out, expected)
        seg_stats = {
            (r["seg_id"], r["cumulative_msg_count"]) for r in out.segments.collect()
        }
        assert seg_stats == {
            ("d1-2024-01-01T00:00:00.000000Z-1", 1),
            ("d1-2024-01-12T00:00:00.000000Z-1", 1),
        }

    def test_interleave(self, spark):
        # alternating populations with large delta-n_tok between them, small
        # within => two interleaved fragments (reference test_message_type)
        recs = [
            make_record("d1", T0 + timedelta(hours=i), 10 if i % 2 == 0 else 90, f"m{i}")
            for i in range(4)
        ]
        out, expected = run_both(spark, recs)
        assert_tagged_match(out, expected)
        seg_stats = {
            (r["seg_id"], r["cumulative_msg_count"]) for r in out.segments.collect()
        }
        assert seg_stats == {
            ("d1-2024-01-01T00:00:00.000000Z-1", 2),
            ("d1-2024-01-01T01:00:00.000000Z-2", 2),
        }

    def test_identity_attach(self, spark):
        # identity-only record attaches to nearest fragment's signature but
        # doesn't advance it (reference AIS.5 case in test_message_type);
        # both counted arrays accumulate (identities AND destinations)
        recs = [
            make_record("d1", T0, 10, "m0"),
            make_record(
                "d1",
                T0 + timedelta(hours=1),
                10,
                "m1",
                rec_type="IDENT",
                ident_value="shippy",
                dest_value="PORT A",
            ),
        ]
        out, expected = run_both(spark, recs)
        assert_tagged_match(out, expected)
        assert_segments_match(out, expected)
        [seg] = out.segments.collect()
        assert seg["daily_msg_count"] == 1
        assert [(i["value"], i["count"]) for i in seg["daily_identities"]] == [
            ("shippy", 1)
        ]
        assert [(i["value"], i["count"]) for i in seg["daily_destinations"]] == [
            ("PORT A", 1)
        ]

    def test_multi_day_merge(self, spark):
        # day D and D+1 fragments merge into one segment; D+3 (beyond the
        # match window) opens a new one (reference test_create_segment_map)
        recs = [
            make_record("d1", T0 + timedelta(hours=23), 10, "m0"),
            make_record("d1", T0 + timedelta(hours=25), 12, "m1"),
            make_record("d1", T0 + timedelta(days=3), 12, "m2"),
        ]
        out, expected = run_both(spark, recs)
        assert_tagged_match(out, expected)
        assert_segments_match(out, expected)
        segmap = {(r["frag_id"], r["seg_id"]) for r in out.segmap.collect()}
        seg_ids = {s for _, s in segmap}
        assert len(segmap) == 3 and len(seg_ids) == 2

    def test_match_window_wider_than_gap(self, spark):
        # 13h apart: beyond max_gap_hours (6) so two FRAGMENTS, but inside
        # match_window_hours (24) so ONE segment across the day boundary —
        # the reference's hardcoded 0<h<24 merge window
        # (create_segment_map.py:43-44) independent of max_hours.
        recs = [
            make_record("d1", T0 + timedelta(hours=18), 10, "m0"),
            make_record("d1", T0 + timedelta(hours=31), 10, "m1"),
        ]
        out, expected = run_both(spark, recs)
        assert_tagged_match(out, expected)
        segmap = {(r["frag_id"], r["seg_id"]) for r in out.segmap.collect()}
        frag_ids = {f for f, _ in segmap}
        seg_ids = {s for _, s in segmap}
        assert len(frag_ids) == 2 and len(seg_ids) == 1

    def test_same_second_ties(self, spark):
        # identical timestamps, different msgid => deterministic tiebreak
        recs = [
            make_record("d1", T0, 50, "m1"),
            make_record("d1", T0, 10, "m0"),
            make_record("d1", T0, 90, "m2"),
        ]
        out, expected = run_both(spark, recs)
        assert_tagged_match(out, expected)

    def test_interleave_multi_source(self, spark):
        recs = []
        for i in range(12):
            recs.append(
                make_record(
                    "d1",
                    T0 + timedelta(minutes=30 * i),
                    10 + (i % 3) * 40,
                    f"m{i:02d}",
                    source=f"s{i % 2}",
                )
            )
        out, expected = run_both(spark, recs)
        assert_tagged_match(out, expected)
        assert_segments_match(out, expected)


def test_fragment_boundary_tokens(spark):
    """Fragments built with the records side-input carry first/last token
    payloads equal to the oracle's fragment checkpoint format (ADVICE r01:
    fragment-level token arrays must be asserted)."""
    from pipe_segment_spark.operators.fragment import attach_boundary_tokens

    recs = [
        make_record("d1", T0 + timedelta(hours=i), 10 + i, f"m{i}",
                    tokens=[100 + i, 200 + i])
        for i in range(4)
    ] + [
        make_record("d1", T0 + timedelta(hours=2, minutes=5), 90, "mx",
                    tokens=[7, 8, 9])  # interleaved second fragment
    ]
    out = run_batch_pipeline(records_to_df(spark, recs), PARAMS)
    frags = attach_boundary_tokens(out.fragments, out.tagged_records).collect()
    expected = {
        f["frag_id"]: (tuple(f["first_tokens"]), tuple(f["last_tokens"]))
        for f in oracle.fragment_stream(recs, PARAMS)[0]
    }
    got = {
        f["frag_id"]: (tuple(f["first_tokens"]), tuple(f["last_tokens"]))
        for f in frags
    }
    assert got == expected
    assert len(got) == 2


def test_fragment_boundary_tokens_reused_msgids(spark):
    """msgid is not a key of the boundary records: m1 opens two fragments
    on day 0 and one on day 1, the last record of a fragment shares its
    timestamp and msgid with an earlier one (and its n_tok with a copy
    from another source), and a fragment's only record has a NULL msgid.
    Each fragment still comes out once, with the oracle's first/last
    token payloads."""
    from collections import Counter

    from pipe_segment_spark.operators.fragment import attach_boundary_tokens

    h = timedelta(hours=1)
    recs = [
        make_record("d1", T0, 10, "m1", tokens=[1]),
        make_record("d1", T0 + h, 500, "m1", tokens=[2]),  # second fragment
        make_record("d1", T0 + 2 * h, 11, "m2", tokens=[3]),
        make_record("d1", T0 + 5 * h, 12, "m3", tokens=[4]),
        make_record("d1", T0 + 5 * h, 13, "m3", tokens=[5]),  # last
        make_record("d1", T0 + 5 * h, 13, "m3", tokens=[6], source="s0"),
        make_record("d1", T0 + 8 * h, 900, None, tokens=[7]),
        make_record("d1", T0 + 25 * h, 10, "m1", tokens=[8]),  # day 1
    ]
    out = run_batch_pipeline(records_to_df(spark, recs), PARAMS)
    frags = attach_boundary_tokens(out.fragments, out.tagged_records).collect()
    want = Counter(
        (f["frag_id"], tuple(f["first_tokens"]), tuple(f["last_tokens"]))
        for f in oracle.fragment_stream(recs, PARAMS)[0]
    )
    got = Counter(
        (f["frag_id"], tuple(f["first_tokens"] or ()), tuple(f["last_tokens"] or ()))
        for f in frags
    )
    assert got == want
    assert len(frags) == 4


@pytest.mark.parametrize("max_gap_hours,max_dtok_rate", [(6.0, 30.0), (2.0, 10.0)])
def test_sweep_sf0001(spark, max_gap_hours, max_dtok_rate):
    """Full-stream sweep: engine == oracle on the sf0.001-derived stream."""
    params = SegmenterParams(
        max_gap_hours=max_gap_hours, max_dtok_rate=max_dtok_rate
    )
    df = token_stream(spark, SF_DIR)
    rows = df.collect()
    records = [
        {
            "doc_id": r["doc_id"],
            "source": r["source"],
            "timestamp": r["timestamp"].replace(tzinfo=None),
            "tokens": list(r["tokens"]),
            "n_tok": r["n_tok"],
            "msgid": r["msgid"],
            "rec_type": r["rec_type"],
            "ident_value": r["ident_value"],
            "dest_value": r["dest_value"],
        }
        for r in rows
    ]
    out = run_batch_pipeline(df, params)
    expected = oracle.run_pipeline(records, params)
    assert_tagged_match(out, expected)
    assert_segments_match(out, expected)


def _messages(rows):
    """Messages output rows as a multiset: msgid is not a key."""
    from collections import Counter

    return Counter(
        (
            r["doc_id"],
            r["msgid"],
            r["timestamp"].replace(tzinfo=None),
            r["n_tok"],
            r["frag_id"],
            r["seg_id"],
            tuple(r["tokens"] or []),
        )
        for r in rows
    )


def test_messages_one_row_per_record(spark):
    """Every input record yields exactly one messages row, tagged as the
    oracle tags it: a NULL-msgid record is tagged, and records that share a
    msgid (an exact copy, or a different record) come out once each."""
    recs = [
        make_record("d1", T0, 10, "m1"),
        make_record("d1", T0 + timedelta(hours=1), 11, None),
        make_record("d1", T0 + timedelta(hours=2), 12, "m3"),
        make_record("d1", T0 + timedelta(hours=2), 12, "m3"),
        make_record("d1", T0 + timedelta(hours=3), 12, "m4"),
        make_record("d1", T0 + timedelta(hours=30), 90, "m4"),
        make_record("d1", T0 + timedelta(hours=4), None, "m5", tokens=None),
    ]
    out, expected = run_both(spark, recs)
    got = _messages(out.tagged_records.collect())
    assert got == _messages(expected["tagged_records"])
    assert sum(got.values()) == len(recs)
    assert all(seg is not None for _, m, _, _, _, seg, _ in got if m != "m5")
    assert_segments_match(out, expected)


def test_batch_boundaries_sf0001(spark):
    """Three records per Arrow batch: nearly every doc_id spans batches,
    so the kernel's carried run is on every path; the outputs still equal
    the oracle's."""
    df = token_stream(spark, SF_DIR)
    records = [
        {**r.asDict(), "timestamp": r["timestamp"].replace(tzinfo=None)}
        for r in df.collect()
    ]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "3")
    try:
        out = run_batch_pipeline(df, PARAMS)
        got = _messages(out.tagged_records.collect())
        expected = oracle.run_pipeline(records, PARAMS)
        assert_segments_match(out, expected)
        got_segmap = sorted(
            (r["doc_id"], r["date"], r["seg_id"], r["frag_id"])
            for r in out.segmap.collect()
        )
    finally:
        spark.conf.unset(key)
    assert got == _messages(expected["tagged_records"])
    assert got_segmap == sorted(
        (m["doc_id"], m["date"], m["seg_id"], m["frag_id"])
        for m in expected["segmap"]
    )
