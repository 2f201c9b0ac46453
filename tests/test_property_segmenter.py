"""Property-based equivalence: for arbitrary record streams, the Spark
engine's fragment/segment assignments equal the pure-Python oracle's —
including noise rows, identity attach, day boundaries and tie ordering.

Spark runs are expensive, so hypothesis drives the cheap pair
(kernel vs oracle) at volume, and a fixed sample of generated cases runs
through the full Spark pipeline.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

from pipe_segment_spark.config import SegmenterParams
from pipe_segment_spark.oracle import segmenter as oracle

PARAMS = SegmenterParams()
T0 = dt.datetime(2024, 1, 1)


@st.composite
def record_streams(draw):
    n = draw(st.integers(min_value=0, max_value=60))
    docs = draw(st.lists(st.sampled_from(["a", "b"]), min_size=1, max_size=2))
    recs = []
    for i in range(n):
        doc = draw(st.sampled_from(docs))
        # timestamps within ~5 days, minute resolution, duplicates allowed
        minutes = draw(st.integers(min_value=0, max_value=5 * 1440))
        is_noise = draw(st.booleans()) and draw(st.booleans())  # ~25%
        is_ident = not is_noise and draw(st.integers(0, 9)) == 0
        n_tok = None if is_noise else draw(st.integers(min_value=1, max_value=97))
        recs.append(
            {
                "doc_id": doc,
                "source": "s",
                "timestamp": T0 + dt.timedelta(minutes=minutes),
                "tokens": None if is_noise else [n_tok, n_tok + 1],
                "n_tok": n_tok,
                "msgid": f"m{i:04d}",
                "rec_type": "IDENT" if is_ident else "POS",
                "ident_value": f"id{i % 3}" if is_ident else None,
                "dest_value": f"dst{i % 2}" if is_ident else None,
            }
        )
    return recs


def _input_frame(records):
    """Records as the batch kernel's input frame (no tokens)."""
    import pandas as pd

    pdf = pd.DataFrame(records)
    pdf["timestamp"] = pd.to_datetime(pdf["timestamp"])
    pdf["has_payload"] = [
        (r["tokens"] is not None and len(r["tokens"]) > 0 and r["n_tok"] is not None)
        for r in records
    ]
    return pdf.drop(columns="tokens")


def kernel_tagged(records):
    """Run the Spark kernel code path (assign_frag_ids) without Spark."""
    from pipe_segment_spark.operators.fragment import assign_frag_ids

    if not records:
        return {}
    pdf = _input_frame(records)
    out = {}
    for doc, grp in pdf.groupby("doc_id"):
        res = assign_frag_ids(grp, PARAMS)
        out.update(dict(zip(res["msgid"], res["frag_id"])))
    return out


@given(record_streams())
@settings(max_examples=150, deadline=None)
def test_kernel_matches_oracle(records):
    _, tagged = oracle.fragment_stream(records, PARAMS)
    want = {r["msgid"]: r["frag_id"] for r in tagged}
    got = kernel_tagged(records)
    assert got == want


@given(record_streams())
@settings(max_examples=60, deadline=None)
def test_merge_matches_oracle(records):
    """Full chain: kernel fragmenter -> kernel greedy merger vs oracle."""
    import pandas as pd

    from pipe_segment_spark.operators.kernel import greedy_merge

    frags, _ = oracle.fragment_stream(records, PARAMS)
    want = {
        (m["frag_id"]): m["seg_id"]
        for m in oracle.segment_map(frags, PARAMS)
    }
    got = {}
    by_doc: dict[str, list] = {}
    for f in frags:
        by_doc.setdefault(f["doc_id"], []).append(f)
    for doc, fs in by_doc.items():
        fr = pd.DataFrame(
            {
                "frag_id": [f["frag_id"] for f in fs],
                "date": [f["timestamp"].date() for f in fs],
                "first_us": [
                    int(f["first_msg_timestamp"].timestamp() * 1e6) for f in fs
                ],
                "last_us": [
                    int(f["last_msg_timestamp"].timestamp() * 1e6) for f in fs
                ],
                "first_n_tok": [f["first_msg_n_tok"] for f in fs],
                "last_n_tok": [f["last_msg_n_tok"] for f in fs],
            }
        )
        segmap, _ = greedy_merge(doc, fr, PARAMS)
        got.update(dict(zip(segmap["frag_id"], segmap["seg_id"])))
    assert got == want


def kernel_outputs(records):
    """Run the batch kernel (``segment_key``, one call per doc_id) without
    Spark; returns its rows split by kind, NULL columns as None."""
    import pandas as pd

    from pipe_segment_spark.operators.kernel import segment_key

    pdf = _input_frame(records)
    rows = pd.concat(
        [segment_key(g, PARAMS) for _, g in pdf.groupby("doc_id")],
        ignore_index=True,
    )
    rows = rows.astype(object).where(rows.notna(), None)
    return {
        kind: rows[rows["kind"] == kind].to_dict("records")
        for kind in ("tagged", "fragment")
    }


def _ts(v):
    import pandas as pd

    return None if v is None else pd.Timestamp(v).to_pydatetime()


@given(record_streams())
@settings(max_examples=150, deadline=None)
def test_segment_key_matches_oracle(records):
    """The whole batch kernel equals the oracle's ``run_pipeline``: tagged
    frag_id/seg_id per record, every fragment (boundaries, counts, counted
    arrays, seg_id) and every (seg_id, day) segment row (first timestamp,
    daily and cumulative counts and arrays)."""
    if not records:
        return
    want = oracle.run_pipeline(records, PARAMS)
    got = kernel_outputs(records)

    assert {r["msgid"]: (r["frag_id"], r["seg_id"]) for r in got["tagged"]} == {
        r["msgid"]: (r["frag_id"], r["seg_id"]) for r in want["tagged_records"]
    }

    def frag_key(doc_id, frag_id, day, count, first, last, first_nt, last_nt,
                 idents, dests, seg_id):
        return (doc_id, frag_id, day, count, first, last, first_nt, last_nt,
                tuple((i["value"], i["count"]) for i in idents),
                tuple((d["value"], d["count"]) for d in dests), seg_id)

    assert sorted(
        frag_key(f["doc_id"], f["frag_id"], _ts(f["timestamp"]),
                 f["msg_count"], _ts(f["first_msg_timestamp"]),
                 _ts(f["last_msg_timestamp"]), f["first_msg_n_tok"],
                 f["last_msg_n_tok"], f["identities"], f["destinations"],
                 f["seg_id"])
        for f in got["fragment"]
    ) == sorted(
        frag_key(f["doc_id"], f["frag_id"], f["timestamp"], f["msg_count"],
                 f["first_msg_timestamp"], f["last_msg_timestamp"],
                 f["first_msg_n_tok"], f["last_msg_n_tok"], f["identities"],
                 f["destinations"], f["seg_id"])
        for f in want["fragments"]
    )

    def counted(arr):
        return tuple((i["value"], i["count"]) for i in arr)

    # a (seg_id, day) segment row is carried by that day's fragment row
    assert sorted(
        (s["seg_id"], s["frag_id"], s["doc_id"], _ts(s["timestamp"]),
         _ts(s["first_timestamp"]), s["msg_count"],
         s["cumulative_msg_count"], counted(s["identities"]),
         counted(s["cumulative_identities"]), counted(s["destinations"]),
         counted(s["cumulative_destinations"]))
        for s in got["fragment"]
    ) == sorted(
        (s["seg_id"], s["frag_id"], s["doc_id"], s["timestamp"],
         s["first_timestamp"], s["daily_msg_count"],
         s["cumulative_msg_count"], counted(s["daily_identities"]),
         counted(s["cumulative_identities"]),
         counted(s["daily_destinations"]),
         counted(s["cumulative_destinations"]))
        for s in want["segments"]
    )


def _row_multiset(frames):
    """Kernel output rows as a multiset of tuples, NULLs as None."""
    import pandas as pd

    from collections import Counter

    if not frames:
        return Counter()
    rows = pd.concat(frames, ignore_index=True)
    rows = rows.astype(object).where(rows.notna(), None)
    return Counter(
        tuple(
            tuple((c["value"], c["count"]) for c in v) if isinstance(v, list) else v
            for v in row
        )
        for row in rows.itertuples(index=False)
    )


def _check_batches(pdf, cuts):
    """``segment_batches`` over ``pdf`` (sorted by doc_id) cut into batches
    at ``cuts`` equals ``segment_key`` once per doc_id."""
    from pipe_segment_spark.operators.kernel import segment_batches, segment_key

    pdf = pdf.sort_values("doc_id", kind="stable").reset_index(drop=True)
    bounds = [0, *sorted({c for c in cuts if 0 < c < len(pdf)}), len(pdf)]
    batches = [pdf.iloc[lo:hi].reset_index(drop=True)
               for lo, hi in zip(bounds[:-1], bounds[1:])]
    got = list(segment_batches(iter(batches), PARAMS))
    want = [segment_key(g, PARAMS) for _, g in pdf.groupby("doc_id", sort=True)]
    assert _row_multiset(got) == _row_multiset(want)
    assert len(got) <= len(batches) + 1


@given(record_streams(), st.lists(st.integers(0, 60), max_size=20))
@settings(max_examples=100, deadline=None)
def test_segment_batches_any_batch_split(records, cuts):
    """Any split of a doc_id-sorted partition into batches gives the rows
    of one ``segment_key`` call per doc_id."""
    if not records:
        return
    _check_batches(_input_frame(records), cuts)


def test_segment_batches_hot_key_and_edges():
    """A hot key spread over one-row batches, keys that start and end
    exactly at batch edges, and an empty batch."""
    from pipe_segment_spark.operators.kernel import segment_batches

    recs = []
    for i in range(40):  # hot key: every batch below holds part of it
        recs.append(_rec("hot", i * 20, 10 + i % 3, f"h{i:03d}"))
    for d in ("a", "b", "c"):
        for i in range(4):
            recs.append(_rec(d, i * 30, 20, f"{d}{i}"))
    pdf = _input_frame(recs).sort_values("doc_id", kind="stable")
    n = len(pdf)
    _check_batches(pdf, list(range(1, n)))  # one row per batch
    # a, b, c (4 rows each) then hot: cuts on every key edge
    _check_batches(pdf, [4, 8, 12])
    _check_batches(pdf, [4, 8, 12, 13, 30, 51])
    empty = _input_frame(recs).iloc[:0]
    assert list(segment_batches(iter([empty]), PARAMS)) == []


def _rec(doc, minutes, n_tok, msgid):
    return {
        "doc_id": doc,
        "source": "s",
        "timestamp": T0 + dt.timedelta(minutes=minutes),
        "tokens": [n_tok, n_tok + 1],
        "n_tok": n_tok,
        "msgid": msgid,
        "rec_type": "POS",
        "ident_value": None,
        "dest_value": None,
    }


@st.composite
def streams_with_copies(draw):
    """``record_streams`` with NULL msgids, reused msgids and exact copies
    of earlier records."""
    recs = draw(record_streams())
    for r in recs:
        if draw(st.integers(0, 5)) == 0:
            r["msgid"] = draw(st.sampled_from([None, "m0000"]))
    copies = draw(st.lists(st.integers(0, 59), max_size=10))
    return recs + [dict(recs[i]) for i in copies if i < len(recs)]


@given(streams_with_copies())
@settings(max_examples=150, deadline=None)
def test_segment_key_tags_every_record(records):
    """The kernel's tagged rows are unique on ``RECORD_KEY``, and looking
    every record up by its key gives the oracle's tags, record for record
    (a multiset: msgid is not a key)."""
    from collections import Counter

    from pipe_segment_spark.operators.kernel import RECORD_KEY

    if not records:
        return
    tagged = kernel_outputs(records)["tagged"]
    tags = {
        tuple(_ts(r[c]) if c == "timestamp" else r[c] for c in RECORD_KEY):
        (r["frag_id"], r["seg_id"])
        for r in tagged
    }
    assert len(tags) == len(tagged)
    frame = _input_frame(records)
    frame = frame.astype(object).where(frame.notna(), None)
    got = Counter(
        (r["doc_id"], r["msgid"], r["timestamp"])
        + tags[tuple(_ts(r[c]) if c == "timestamp" else r[c] for c in RECORD_KEY)]
        for r in frame.to_dict("records")
    )
    want = Counter(
        (r["doc_id"], r["msgid"], r["timestamp"], r["frag_id"], r["seg_id"])
        for r in oracle.run_pipeline(records, PARAMS)["tagged_records"]
    )
    assert got == want
