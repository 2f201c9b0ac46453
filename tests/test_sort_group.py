"""sort_columns fast-path equivalence: the tie-aware implementation must be
bit-identical to a whole-frame stable lexsort over all six keys (reference
fragment.py:115-140 ordering), across every path — already-sorted, unique
timestamps out of order, tied timestamps resolved by secondary keys, and
full ties resolved by stability (original index order)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pipe_segment_spark.config import SegmenterParams
from pipe_segment_spark.operators.fragment import assign_frag_ids
from pipe_segment_spark.operators.kernel import _record_columns, sort_columns


def _reference_sort(pdf: pd.DataFrame) -> pd.DataFrame:
    """Row-at-a-time stable sort on the oracle's key (oracle/segmenter.py
    ``sort_records``): NULL n_tok greatest (``none_inf``), NULL strings as
    ''."""

    def none_inf(x):
        return float("inf") if pd.isna(x) else x

    def none_blank(x):
        return "" if x is None or x != x else x

    ts = pdf["timestamp"].to_numpy("datetime64[us]").astype("int64").tolist()
    ident = (
        pdf["ident_value"].tolist()
        if "ident_value" in pdf.columns
        else [None] * len(pdf)
    )
    keys = [
        (t, none_blank(m), none_inf(nt), none_blank(s), none_blank(r),
         none_blank(iv))
        for t, m, nt, s, r, iv in zip(
            ts,
            pdf["msgid"].tolist(),
            pdf["n_tok"].tolist(),
            pdf["source"].tolist(),
            pdf["rec_type"].tolist(),
            ident,
        )
    ]
    order = sorted(range(len(pdf)), key=keys.__getitem__)
    return pdf.iloc[order]


def _frame(ts_s, msgid, n_tok=None, source=None, rec=None, ident=None):
    n = len(ts_s)
    return pd.DataFrame(
        {
            "timestamp": pd.to_datetime(
                np.asarray(ts_s, dtype="int64"), unit="s"
            ),
            "msgid": msgid,
            "n_tok": n_tok if n_tok is not None else list(range(n)),
            "source": source if source is not None else ["s"] * n,
            "rec_type": rec if rec is not None else ["POS"] * n,
            "ident_value": ident if ident is not None else [None] * n,
            "doc_id": ["d"] * n,
            "has_payload": [True] * n,
        }
    )


def _sort(pdf):
    """``sort_columns`` on the frame's record columns, with each row's
    position in the frame riding along as ``row``."""
    cols = _record_columns(pdf)
    cols["row"] = np.arange(len(pdf))
    return sort_columns(cols)


def _assert_same(pdf):
    got = _sort(pdf)
    want = _reference_sort(pdf)
    # every sorted column holds the reference's values
    for c, a in _record_columns(want).items():
        np.testing.assert_array_equal(got[c], a, err_msg=c)
    # row path identical too (stability): compare row order, not just values
    assert list(got["row"]) == list(want.index)
    pd.testing.assert_frame_equal(
        pdf.iloc[got["row"]].reset_index(drop=True), want.reset_index(drop=True)
    )


def test_already_sorted_identity():
    pdf = _frame([1, 2, 3, 4], ["a", "b", "c", "d"])
    cols = _record_columns(pdf)
    assert sort_columns(cols) is cols  # fast path returns the columns untouched
    _assert_same(pdf)


def test_unique_unsorted():
    pdf = _frame([4, 1, 3, 2], ["d", "a", "c", "b"])
    _assert_same(pdf)


def test_ties_broken_by_msgid():
    pdf = _frame([2, 1, 2, 1], ["z", "q", "a", "p"])
    out = _sort(pdf)
    assert list(out["msgid"]) == ["p", "q", "a", "z"]
    _assert_same(pdf)


def test_ties_cascade_through_all_keys():
    # same ts + msgid -> n_tok; same n_tok -> source; then rec; then ident
    pdf = _frame(
        [5, 5, 5, 5],
        ["m", "m", "m", "m"],
        n_tok=[7, 7, 7, 3],
        source=["b", "a", "a", "x"],
        rec=["POS", "POS", "IDENT", "POS"],
        ident=[None, "v", "u", None],
    )
    _assert_same(pdf)


def test_full_ties_stable_original_order():
    pdf = _frame([9, 9, 9], ["m", "m", "m"], n_tok=[1, 1, 1])
    out = _sort(pdf)
    assert list(out["row"]) == [0, 1, 2]
    _assert_same(pdf)


def test_nulls_sort_greatest():
    # NULL msgid sorts as '' (first); NULL n_tok after 5 on the "a" tie
    pdf = _frame(
        [3, 3, 3, 3],
        [None, "a", "a", "b"],
        n_tok=[None, None, 5, None],
    )
    assert list(_sort(pdf)["row"]) == [0, 2, 1, 3]
    _assert_same(pdf)


@pytest.mark.parametrize("dtype", ["float64", "object", "Int32"])
def test_null_n_tok_sorts_last_in_every_dtype(dtype):
    """Arrow delivers an int column with nulls as float64 (NaN); a
    column built from Python values is object (None). Both, and the
    nullable Int32, put NULL n_tok after every value on a tie."""
    n_tok = pd.Series([None, 7, None, 2], dtype=dtype)
    pdf = _frame([4, 4, 4, 4], ["m", "m", "m", "m"], n_tok=n_tok)
    out = _sort(pdf)
    assert list(out["row"]) == [3, 1, 0, 2]
    _assert_same(pdf)


def test_mixed_tied_and_untied_runs():
    rng = np.random.default_rng(7)
    ts = rng.integers(0, 40, size=200)  # plenty of collisions
    pdf = _frame(
        ts,
        [f"m{int(x):03d}" for x in rng.integers(0, 50, size=200)],
        n_tok=rng.integers(0, 9, size=200).tolist(),
        source=[["sa", "sb"][int(x)] for x in rng.integers(0, 2, size=200)],
        rec=[["POS", "IDENT"][int(x)] for x in rng.integers(0, 2, size=200)],
    )
    _assert_same(pdf)


@pytest.mark.parametrize("seed", range(5))
def test_randomized_equivalence(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 120))
    ts = rng.integers(0, max(2, n // 3), size=n)  # force ties
    pdf = _frame(
        ts,
        [f"x{int(v)}" for v in rng.integers(0, 10, size=n)],
        n_tok=rng.integers(0, 5, size=n).tolist(),
    )
    _assert_same(pdf)


def test_no_ident_column():
    pdf = _frame([2, 2, 1], ["b", "a", "c"]).drop(columns=["ident_value"])
    _assert_same(pdf)


def test_perfbench_assign_frag_ids_input():
    """perfbench times ``assign_frag_ids`` on frames of these columns only:
    no ident_value (and no dest_value). The absent column reads NULL, so
    ties sort as on a NULL ident_value, and the fragmenter returns the
    records in that order."""
    pdf = _frame(
        [7200, 0, 7200, 3600, 0],
        ["b", "c", "a", "d", None],
        n_tok=[12, 10, 12, 11, 10],
        rec=["POS", "POS", "POS", "IDENT", "POS"],
    )[["doc_id", "timestamp", "msgid", "n_tok", "rec_type", "source", "has_payload"]]
    _assert_same(pdf)
    out = assign_frag_ids(pdf, SegmenterParams())
    assert list(out["msgid"]) == [None, "c", "d", "a", "b"]
    assert list(out["timestamp"]) == list(_reference_sort(pdf)["timestamp"])
    # one fragment: NULL-msgid row opens it, the identity row attaches
    (fid,) = set(out["frag_id"])
    assert fid == "d-1970-01-01T00:00:00.000000Z-1"
