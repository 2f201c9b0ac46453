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


def kernel_tagged(records):
    """Run the Spark kernel code path (assign_frag_ids) without Spark."""
    import pandas as pd

    from pipe_segment_spark.operators.fragment import assign_frag_ids

    if not records:
        return {}
    pdf = pd.DataFrame(records)
    pdf["timestamp"] = pd.to_datetime(pdf["timestamp"])
    pdf["has_payload"] = [
        (r["tokens"] is not None and len(r["tokens"]) > 0 and r["n_tok"] is not None)
        for r in records
    ]
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

    pdf = pd.DataFrame(records)
    pdf["timestamp"] = pd.to_datetime(pdf["timestamp"])
    pdf["has_payload"] = [
        (r["tokens"] is not None and len(r["tokens"]) > 0 and r["n_tok"] is not None)
        for r in records
    ]
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
