"""Numpy/pandas kernels for the per-key stateful inner loops.

These run inside Arrow-batched ``applyInPandas`` / ``applyInPandasWithState``
UDFs — the only places where the engine leaves Catalyst, because the
semantics are inherently per-key sequential (the reference's gpsdio Segmenter
inner loop, transform/fragment_implementation.py:86-122, and the greedy
matcher, transform/create_segment_map.py:84-147, are the same).

Per-key work is O(rows_in_group * open_fragments) with open_fragments bounded
by ``params.max_open_fragments`` — parallelism comes from the key dimension
(millions of doc_ids), exactly as in the reference.

This module is deliberately INDEPENDENT of oracle/segmenter.py (dict-based)
so pytest equality between the two is a meaningful cross-check.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pipe_segment_spark.config import SegmenterParams

MICROS_PER_HOUR = 3_600_000_000.0


def _fmt_ts_us(us: int) -> str:
    """'{ts:%Y-%m-%dT%H:%M:%S.%fZ}' from integer epoch micros (UTC)."""
    return (
        pd.Timestamp(us, unit="us", tz="UTC").strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
    )


def frag_id_of_us(doc_id: str, first_us: int, k: int) -> str:
    return f"{doc_id}-{_fmt_ts_us(first_us)}-{k}"


class OpenFragState:
    """Open-fragment state for one key; a plain tuple-list so it round-trips
    through streaming GroupState (arrays of primitives)."""

    __slots__ = ("k", "first_us", "last_us", "last_n_tok", "frag_id")

    def __init__(self, k: int, first_us: int, last_n_tok: int, frag_id: str):
        self.k = k
        self.first_us = first_us
        self.last_us = first_us
        self.last_n_tok = last_n_tok
        self.frag_id = frag_id


def _tiebreak_keys(pdf: pd.DataFrame):
    """Secondary sort keys (everything after timestamp), cheapest-last so
    they feed np.lexsort directly. Fixed-width unicode conversion is the
    expensive part — callers only build these for rows with tied
    timestamps."""
    msgid = pdf["msgid"].fillna("").to_numpy(dtype="U")
    n_tok = pdf["n_tok"].fillna(np.iinfo(np.int64).max).to_numpy(dtype="int64")
    source = pdf["source"].fillna("").to_numpy(dtype="U")
    rec = pdf["rec_type"].fillna("").to_numpy(dtype="U")
    if "ident_value" in pdf.columns:
        ident = pdf["ident_value"].fillna("").to_numpy(dtype="U")
    else:
        ident = np.zeros(len(pdf), dtype="U1")
    return ident, rec, source, n_tok, msgid


def sort_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic multi-key sort (reference fragment.py:115-140): stable
    mergesort; None -> greatest for numerics / '' for strings.

    Timestamps are the primary key and, in real feeds, almost always unique
    within a key — so the tie-break keys (five fixed-width unicode
    conversions, the dominant cost here) are only materialized for the rows
    that actually tie, and only those rows are re-ordered by the full
    lexsort. Bit-identical to a whole-frame
    ``lexsort((ident, rec, source, n_tok, msgid, ts))``: rows with distinct
    timestamps never interleave with a tied run, and stable sorts preserve
    original index order on full ties either way."""
    n = len(pdf)
    if n <= 1:
        return pdf
    ts = pdf["timestamp"].to_numpy("datetime64[us]").astype("int64")
    d = np.diff(ts)
    if (d > 0).all():  # already strictly increasing: identity order
        return pdf
    order = np.argsort(ts, kind="stable")
    ts_sorted = ts[order]
    eq = np.flatnonzero(np.diff(ts_sorted) == 0)
    if eq.size == 0:  # unique timestamps: ts alone is the total order
        return pdf.iloc[order]
    # tied runs: refine ONLY the tied rows with the secondary keys
    tied = np.zeros(n, dtype=bool)
    tied[eq] = True
    tied[eq + 1] = True
    tied_pos = np.flatnonzero(tied)  # positions (in ts-sorted order)
    rows = order[tied_pos]  # original row indices, run-grouped + stable
    sub = pdf.iloc[rows]
    ident, rec, source, n_tok, msgid = _tiebreak_keys(sub)
    suborder = np.lexsort(
        (ident, rec, source, n_tok, msgid, ts_sorted[tied_pos])
    )
    order[tied_pos] = rows[suborder]
    return pdf.iloc[order]


def _fragment_loop(
    doc_id, ts_us, n_tok, noise_arr, is_ident, open_frags, next_k, params
):
    """Tight inner loop over one sorted run. Parallel local lists instead of
    attribute access; scoring inlined (identical math to
    SegmenterParams.pair_score)."""
    n = len(ts_us)
    out = [None] * n
    max_gap_us = params.max_gap_hours * MICROS_PER_HOUR
    max_gap_h = params.max_gap_hours
    max_rate = params.max_dtok_rate
    buf_h = params.buffer_hours
    h_exp = params.hours_exp
    max_open = params.max_open_fragments

    # numpy scalar arithmetic is ~3x slower than native python in a tight
    # loop — pull everything into python lists once
    ts_us = ts_us.tolist() if hasattr(ts_us, "tolist") else ts_us
    n_tok = n_tok.tolist() if hasattr(n_tok, "tolist") else n_tok
    noise_arr = noise_arr.tolist() if hasattr(noise_arr, "tolist") else noise_arr
    is_ident = is_ident.tolist() if hasattr(is_ident, "tolist") else is_ident

    f_last_us = [f.last_us for f in open_frags]
    f_last_nt = [float(f.last_n_tok) for f in open_frags]
    f_objs = list(open_frags)

    for i in range(n):
        t = ts_us[i]
        # age out fragments beyond the gap window (bounds state size)
        if f_last_us and t - min(f_last_us) > max_gap_us:
            keep = [j for j, lu in enumerate(f_last_us) if t - lu <= max_gap_us]
            f_last_us = [f_last_us[j] for j in keep]
            f_last_nt = [f_last_nt[j] for j in keep]
            f_objs = [f_objs[j] for j in keep]
        if noise_arr[i]:
            continue
        nt = n_tok[i]
        best = -1
        best_score = 0.0
        for j in range(len(f_objs)):
            h = (t - f_last_us[j]) / MICROS_PER_HOUR
            d = nt - f_last_nt[j]
            if d < 0.0:
                d = -d
            ph = h if h > buf_h else buf_h
            r = d / ph
            # h < 0 can only happen with carried streaming state and an
            # out-of-order (but in-watermark) record — same 0<=hours gate as
            # config.pair_score; without it h**0.5 goes complex and the
            # comparison below raises TypeError
            if h < 0.0 or r > max_rate or h > max_gap_h:
                continue
            s = (1.0 - r / max_rate) / (1.0 + h**h_exp)
            if s > best_score:
                best, best_score = j, s
        if is_ident[i]:
            # identity-only record: attach for signature counting, don't
            # advance the fragment (reference AIS.5 behavior,
            # tests/transform/test_fragment.py:181-245)
            out[i] = f_objs[best].frag_id if best >= 0 else None
            continue
        if best < 0:
            if len(f_objs) >= max_open:
                # evict stalest (earliest last_us, then k) deterministically
                j_ev = min(
                    range(len(f_objs)),
                    key=lambda j: (f_last_us[j], f_objs[j].k),
                )
                del f_last_us[j_ev], f_last_nt[j_ev], f_objs[j_ev]
            fo = OpenFragState(
                next_k, int(t), int(nt), frag_id_of_us(doc_id, int(t), next_k)
            )
            next_k += 1
            f_objs.append(fo)
            f_last_us.append(int(t))
            f_last_nt.append(float(nt))
            best = len(f_objs) - 1
        else:
            f_last_us[best] = int(t)
            f_last_nt[best] = float(nt)
        fo = f_objs[best]
        fo.last_us = int(t)
        fo.last_n_tok = int(nt)
        out[i] = fo.frag_id

    return out, f_objs, next_k


def greedy_merge(
    doc_id: str,
    frags: pd.DataFrame,
    params: SegmenterParams,
    open_segs: dict[str, tuple[int, int]] | None = None,
) -> tuple[pd.DataFrame, dict[str, tuple[int, int]]]:
    """Greedy cross-window fragment->segment matching for one key.

    ``frags`` columns: frag_id, first_us, last_us, first_n_tok, last_n_tok,
    date (datetime.date). Returns (segmap rows, final open_segs state) where
    open_segs maps seg_id -> (last_us, last_n_tok) of its latest fragment.
    Replays reference create_segment_map.py:84-147 exactly (ascending sort,
    pop-best, stale-key skip, one join per seg per day, unmatched -> new seg).
    """
    open_segs = dict(open_segs or {})
    out_seg, out_frag, out_date = [], [], []

    frags = frags.sort_values(["date", "frag_id"], kind="mergesort")
    for day, day_frags in frags.groupby("date", sort=True):
        fid = day_frags["frag_id"].to_numpy()
        f_us = day_frags["first_us"].to_numpy()
        f_nt = day_frags["first_n_tok"].to_numpy()
        l_us = day_frags["last_us"].to_numpy()
        l_nt = day_frags["last_n_tok"].to_numpy()
        idx_of = {f: j for j, f in enumerate(fid)}
        new_frags = set(fid)

        scores = []
        for seg_id, (seg_last_us, seg_last_nt) in open_segs.items():
            h = (f_us - seg_last_us) / MICROS_PER_HOUR
            d = f_nt - seg_last_nt
            for j in range(len(fid)):
                s = params.match_score(float(d[j]), float(h[j]))
                scores.append((s, (seg_id, fid[j]), seg_id, fid[j]))
        scores.sort()
        stale: set[str] = set()
        active: dict[str, str] = {}
        while scores:
            s, _, seg_id, frag_id = scores.pop()
            if s == 0.0:
                break
            if seg_id in stale or frag_id in stale:
                continue
            active[seg_id] = frag_id
            new_frags.remove(frag_id)
            stale.add(seg_id)
            stale.add(frag_id)
        for seg_id, frag_id in active.items():
            out_seg.append(seg_id)
            out_frag.append(frag_id)
            out_date.append(day)
        open_segs = {}
        for frag_id in sorted(new_frags):
            open_segs[frag_id] = (int(l_us[idx_of[frag_id]]), int(l_nt[idx_of[frag_id]]))
            out_seg.append(frag_id)
            out_frag.append(frag_id)
            out_date.append(day)
        for seg_id, frag_id in active.items():
            open_segs[seg_id] = (int(l_us[idx_of[frag_id]]), int(l_nt[idx_of[frag_id]]))

    return (
        pd.DataFrame(
            {
                "doc_id": doc_id,
                "date": pd.array(out_date),
                "seg_id": out_seg,
                "frag_id": out_frag,
            }
        ),
        open_segs,
    )
