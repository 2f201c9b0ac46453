"""Per-doc_id kernels: the one implementation of the segmenter's
sequential work, shared by the batch job and the stream.

These run inside Arrow-batched ``mapInPandas`` / ``applyInPandasWithState``
UDFs — the only places where the engine leaves Catalyst, because the
semantics are inherently per-key sequential (the reference's gpsdio Segmenter
inner loop, transform/fragment_implementation.py:86-122, and the greedy
matcher, transform/create_segment_map.py:84-147, are the same).

The kernels take one input form: a key's records as numpy columns
(``_record_columns``; an absent ident_value or dest_value reads NULL).

- ``sort_columns``: the deterministic multi-key record order.
- ``fragment_columns``: the per-day run — it sorts a key's columns, each
  day slice goes through ``_fragment_loop`` with that day's carried state,
  and positional rows fold into per-fragment boundary summaries
  (``_merge_pending``).
- ``merge_segments``: the greedy cross-day fragment->segment matcher over
  those summaries (``greedy_merge`` is its DataFrame front end).
- ``segment_key``: the whole batch segmenter for one key — the per-day run
  over every day, the greedy merge, the counted identity/destination
  arrays and the per-(seg_id, day) rollup — returned as one frame tagged
  by ``kind`` (``KERNEL_SCHEMA``), one tagged row per distinct record.
- ``segment_batches``: the batch job's one Python call per Arrow batch —
  ``segment_key`` on each doc_id run of a doc_id-sorted partition.

The stream (streaming/segmenter_stream.py) calls ``fragment_columns`` on
the records it releases and ``merge_segments`` on the days it closes;
``fragment.assign_frag_ids`` calls ``fragment_columns`` alone.

Per-key work is O(rows_in_group * open_fragments) with open_fragments bounded
by ``params.max_open_fragments`` — parallelism comes from the key dimension
(millions of doc_ids), exactly as in the reference.

This module is deliberately INDEPENDENT of oracle/segmenter.py (dict-based)
so pytest equality between the two is a meaningful cross-check.
"""

from __future__ import annotations

import datetime
from collections import Counter

import numpy as np
import pandas as pd

from pipe_segment_spark.config import SegmenterParams

MICROS_PER_HOUR = 3_600_000_000.0
US_PER_DAY = 86_400_000_000
_EPOCH_DAY = datetime.date(1970, 1, 1)


def _date_of(day_us: int) -> datetime.date:
    return _EPOCH_DAY + datetime.timedelta(days=day_us // US_PER_DAY)


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


def _tiebreak_keys(msgid, n_tok, source, rec_type, ident_value):
    """Secondary sort keys (everything after timestamp), cheapest-last so
    they feed np.lexsort directly. Fixed-width unicode conversion is the
    expensive part — callers only build these for rows with tied
    timestamps. Strings are object arrays (NULL -> ''); ``n_tok`` is
    float64 with NaN for NULL, which sorts greatest: n_tok is an int, so
    float64 holds it exactly and +inf tops it."""

    def blank(a):
        return np.where(pd.isna(a), "", a).astype("U")

    n_tok = np.where(np.isnan(n_tok), np.inf, n_tok)
    return blank(ident_value), blank(rec_type), blank(source), n_tok, blank(msgid)


_TIEBREAK_COLS = ("msgid", "n_tok", "source", "rec_type", "ident_value")


def sort_columns(cols: dict) -> dict:
    """One key's record columns (``_record_columns``) in the deterministic
    multi-key record order (reference fragment.py:115-140): stable
    mergesort; None -> greatest for numerics / '' for strings. Returns
    ``cols`` itself when it is in that order already."""
    order = _sort_order(cols)
    return cols if order is None else {c: a[order] for c, a in cols.items()}


def _sort_order(cols):
    """The ``sort_columns`` order of the rows, or None when they are in it
    already.

    Timestamps are the primary key and, in real feeds, almost always unique
    within a key — so the tie-break keys (five fixed-width unicode
    conversions, the dominant cost here) are only materialized for the rows
    that actually tie, and only those rows are re-ordered by the full
    lexsort. Bit-identical to a whole-frame
    ``lexsort((ident, rec, source, n_tok, msgid, ts))``: rows with distinct
    timestamps never interleave with a tied run, and stable sorts preserve
    original index order on full ties either way."""
    ts = cols["timestamp"]
    n = len(ts)
    if n <= 1 or (np.diff(ts) > 0).all():  # strictly increasing: identity
        return None
    order = np.argsort(ts, kind="stable")
    ts_sorted = ts[order]
    eq = np.flatnonzero(np.diff(ts_sorted) == 0)
    if eq.size == 0:  # unique timestamps: ts alone is the total order
        return order
    # tied runs: refine ONLY the tied rows with the secondary keys
    tied = np.zeros(n, dtype=bool)
    tied[eq] = True
    tied[eq + 1] = True
    tied_pos = np.flatnonzero(tied)  # positions (in ts-sorted order)
    rows = order[tied_pos]  # original row indices, run-grouped + stable
    ident, rec, source, n_tok, msgid = _tiebreak_keys(
        *(cols[c][rows] for c in _TIEBREAK_COLS)
    )
    suborder = np.lexsort(
        (ident, rec, source, n_tok, msgid, ts_sorted[tied_pos])
    )
    order[tied_pos] = rows[suborder]
    return order


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
            # h < 0 cannot come from the stream: it releases records in
            # sorted order, never one that precedes a released record. The
            # 0<=hours gate stays for parity with config.pair_score and both
            # oracles; without it h**0.5 goes complex and the comparison
            # below raises TypeError
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


def fragment_columns(cols: dict, frag_days: dict, pending: list, params):
    """The per-day run batch and stream share, on one key's record columns
    (``_record_columns``, any order): ``sort_columns``, then each day's
    slice runs ``_fragment_loop`` with that day's carried (open-fragments,
    counter) state from ``frag_days`` (fresh when absent), and positional
    rows with a frag_id merge into the ``pending`` boundary summaries; both
    update in place. Returns the sorted columns and the frag_id of every
    row (None = noise or an unattached identity record) as an object
    array."""
    cols = sort_columns(cols)
    return cols, _run_days(cols, frag_days, pending, params)


def _run_days(cols, frag_days, pending, params):
    """``fragment_columns`` on columns in record order."""
    doc_id = cols["doc_id"][0]
    ts_us, n_tok, msgid = cols["timestamp"], cols["n_tok"], cols["msgid"]
    day_us = (ts_us // US_PER_DAY) * US_PER_DAY
    noise = ~cols["has_payload"] | np.isnan(n_tok)
    is_ident = cols["rec_type"] == "IDENT"
    frag_ids: list = []
    # timestamp-sorted, so every day is one contiguous slice
    cuts = [0, *(np.flatnonzero(np.diff(day_us)) + 1).tolist(), len(ts_us)]
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        day = int(day_us[lo])
        of, nk = frag_days.get(day, ([], 1))
        ids, of, nk = _fragment_loop(
            doc_id,
            ts_us[lo:hi],
            n_tok[lo:hi],
            noise[lo:hi],
            is_ident[lo:hi],
            of,
            nk,
            params,
        )
        frag_days[day] = (of, nk)
        frag_ids.extend(ids)
    fid_arr = np.array(frag_ids, dtype=object)
    pos = np.not_equal(fid_arr, None) & ~is_ident
    _merge_pending(
        pending,
        fid_arr[pos],
        ts_us[pos],
        n_tok[pos].astype("int64"),
        day_us[pos],
        msgid[pos],
    )
    return fid_arr


def _merge_pending(pending, fid_m, t_m, nt_m, day_m, mid_m):
    """Min/max-merge per-fragment boundary summaries into ``pending`` (in
    place). Inputs are pre-masked to POSITIONAL rows with a frag_id, in
    processed (sorted) order, so groupby first/last are the run's own
    boundaries; merging against stored values keeps the summary equal to
    what a one-shot sorted run over the union would emit.

    Boundary ties resolve by one comparator, ``(timestamp, msgid)``: when a
    later stream microbatch carries a record at exactly the stored boundary
    timestamp (the kernel's h == 0 join), the winner is the
    (timestamp, msgid)-max row, not whichever run was processed last — the
    same pick as the DuckDB replay's ``ORDER BY timestamp, msgid`` window.
    msgid boundaries ride in the summary for that comparison. A NULL msgid
    compares BEFORE '': the key is (t, msgid IS NOT NULL, msgid or ''), not
    a '' coalesce, which would tie NULL against ''."""
    if len(fid_m) == 0:
        return

    # pure-numpy group first/last (processed order == positional min/max
    # index, exactly what a groupby(sort=False) first/last computes) —
    # pandas groupby-agg was a measurable slice of the per-batch release
    # cost in drain profiles
    codes, uniques = pd.factorize(fid_m)
    n_g = len(uniques)
    order = np.arange(len(codes), dtype="int64")
    first = np.full(n_g, np.iinfo(np.int64).max, dtype="int64")
    np.minimum.at(first, codes, order)
    last = np.full(n_g, -1, dtype="int64")
    np.maximum.at(last, codes, order)
    cnt = np.bincount(codes, minlength=n_g)

    def _bkey(t, mid):
        # NULL < '' < 'a...'
        if mid is None or mid != mid:  # None or float NaN
            return (t, False, "")
        return (t, True, mid)

    by_id = {f["frag_id"]: f for f in pending}
    for g in range(n_g):
        fi, la = first[g], last[g]
        fid = uniques[g]
        f = by_id.get(fid)
        if f is None:
            f = {
                "frag_id": fid,
                "day_us": int(day_m[fi]),
                "first_us": int(t_m[fi]),
                "last_us": int(t_m[la]),
                "first_n_tok": int(nt_m[fi]),
                "last_n_tok": int(nt_m[la]),
                "first_msgid": mid_m[fi],
                "last_msgid": mid_m[la],
                "msg_count": 0,
            }
            by_id[fid] = f
            pending.append(f)
        r_first = _bkey(int(t_m[fi]), mid_m[fi])
        r_last = _bkey(int(t_m[la]), mid_m[la])
        # older checkpoints may lack msgid boundaries: compare as None
        # (NULL-first), same as the batch comparator would
        if r_first < _bkey(f["first_us"], f.get("first_msgid")):
            f["first_us"] = int(t_m[fi])
            f["first_n_tok"] = int(nt_m[fi])
            f["first_msgid"] = mid_m[fi]
        if r_last > _bkey(f["last_us"], f.get("last_msgid")):
            f["last_us"] = int(t_m[la])
            f["last_n_tok"] = int(nt_m[la])
            f["last_msgid"] = mid_m[la]
        f["msg_count"] += int(cnt[g])


def merge_segments(frags, params: SegmenterParams, open_segs=None):
    """Greedy cross-day fragment->segment matching for one key.

    ``frags``: fragment summaries (dicts with frag_id, day_us, first_us,
    first_n_tok, last_us, last_n_tok — ``_merge_pending``'s shape), any
    order. ``open_segs`` maps seg_id -> (last_us, last_n_tok) of the
    segment's latest fragment, carried in from earlier days. Returns
    ``([(summary, seg_id), ...], open_segs)`` in emission order: per day
    ascending, the matched pairs in pick order, then the unmatched fragments
    (each opening a segment with seg_id = frag_id) in frag_id order.
    Replays reference create_segment_map.py:84-147 exactly: score every
    (open segment, new fragment) pair, pop the best — ties to the largest
    (seg_id, frag_id) — skip stale keys, one join per segment per day.
    A zero score never matches, so zero pairs are not queued."""
    open_segs = dict(open_segs or {})
    by_day: dict = {}
    for f in frags:
        by_day.setdefault(f["day_us"], []).append(f)
    out = []
    for day in sorted(by_day):
        by_id = {f["frag_id"]: f for f in by_day[day]}
        scores = []
        for seg_id, (seg_last_us, seg_last_nt) in open_segs.items():
            for fid, f in by_id.items():
                s = params.match_score(
                    float(f["first_n_tok"] - seg_last_nt),
                    (f["first_us"] - seg_last_us) / MICROS_PER_HOUR,
                )
                if s > 0.0:
                    scores.append((s, seg_id, fid))
        scores.sort()
        stale: set[str] = set()
        active: dict[str, str] = {}
        while scores:
            _, seg_id, fid = scores.pop()
            if seg_id in stale or fid in stale:
                continue
            active[seg_id] = fid
            stale.add(seg_id)
            stale.add(fid)
        out += [(by_id[fid], seg_id) for seg_id, fid in active.items()]
        open_segs = {}
        for fid in sorted(by_id.keys() - set(active.values())):
            out.append((by_id[fid], fid))
            open_segs[fid] = (by_id[fid]["last_us"], by_id[fid]["last_n_tok"])
        for seg_id, fid in active.items():
            open_segs[seg_id] = (by_id[fid]["last_us"], by_id[fid]["last_n_tok"])
    return out, open_segs


def greedy_merge(
    doc_id: str,
    frags: pd.DataFrame,
    params: SegmenterParams,
    open_segs: dict[str, tuple[int, int]] | None = None,
) -> tuple[pd.DataFrame, dict[str, tuple[int, int]]]:
    """``merge_segments`` over a frame of fragment summaries.

    ``frags`` columns: frag_id, first_us, last_us, first_n_tok, last_n_tok,
    date (datetime.date). Returns (segmap rows (doc_id, date, seg_id,
    frag_id), final open_segs state)."""
    cols = ["frag_id", "first_us", "last_us", "first_n_tok", "last_n_tok"]
    summaries = [
        dict(zip(cols, vals), day_us=(day - _EPOCH_DAY).days * US_PER_DAY)
        for *vals, day in zip(
            *(frags[c].tolist() for c in cols), frags["date"].tolist()
        )
    ]
    rows, open_segs = merge_segments(summaries, params, open_segs)
    return (
        pd.DataFrame(
            {
                "doc_id": doc_id,
                "date": pd.array([_date_of(f["day_us"]) for f, _ in rows]),
                "seg_id": [seg_id for _, seg_id in rows],
                "frag_id": [f["frag_id"] for f, _ in rows],
            }
        ),
        open_segs,
    )


COUNTED_TYPE = "array<struct<value:string,count:bigint>>"

# A record as the batch kernel sees it (``fragment.kernel_input``'s columns
# with ident_value and dest_value). Copies of a record get the same frag_id
# and seg_id: they tie on every sort key, noise and identity records leave
# the fragmenter's state as they found it, and a positional record leaves
# its fragment at score 1 for its copy — the highest score, which no
# earlier-opened fragment reaches (the first copy would have joined it).
RECORD_KEY = [
    "doc_id",
    "timestamp",
    "msgid",
    "n_tok",
    "rec_type",
    "source",
    "ident_value",
    "dest_value",
    "has_payload",
]

# One frame per key, tagged by ``kind``; each kind fills its own columns and
# leaves the rest NULL:
#   tagged    the ``RECORD_KEY`` columns, frag_id, seg_id — one row per
#             distinct record (timestamp is the record's);
#   fragment  the fragment summary, its seg_id and counted arrays, and its
#             segment's row for that day: the matcher joins at most one
#             fragment to a segment per day, so each (seg_id, day) segment
#             row IS one fragment's day (msg_count and identities/
#             destinations are the daily values) plus the segment's
#             first_timestamp and cumulative count and arrays.
KERNEL_SCHEMA = (
    "kind string, doc_id string, msgid string, frag_id string, "
    "seg_id string, timestamp timestamp, msg_count bigint, "
    "first_msg_timestamp timestamp, last_msg_timestamp timestamp, "
    "first_msg_n_tok int, last_msg_n_tok int, first_msgid string, "
    f"last_msgid string, identities {COUNTED_TYPE}, "
    f"destinations {COUNTED_TYPE}, first_timestamp timestamp, "
    f"cumulative_msg_count bigint, cumulative_identities {COUNTED_TYPE}, "
    f"cumulative_destinations {COUNTED_TYPE}, n_tok int, rec_type string, "
    "source string, ident_value string, dest_value string, has_payload boolean"
)


def _counted(counter) -> list:
    """Counter -> counted array sorted by value."""
    return [{"value": v, "count": c} for v, c in sorted(counter.items())]


def segment_key(pdf: pd.DataFrame, params: SegmenterParams) -> pd.DataFrame:
    """The batch segmenter for one doc_id (``KERNEL_SCHEMA`` rows).

    ``pdf``: the key's records — the ``RECORD_KEY`` columns."""
    return _kernel_frame(*_segment_run(_record_columns(pdf), params))


def segment_batches(batches, params: SegmenterParams):
    """The batch segmenter over one partition's record batches, sorted by
    doc_id: ``segment_key`` on every doc_id run, one output frame per batch
    (``KERNEL_SCHEMA``). The run at a batch's end may go on in the next
    batch, so its pieces wait in a list and are concatenated once, when the
    next doc_id starts: a key spread over many batches costs linear time.
    Columns leave pandas once per batch, and the output frame is built once
    per batch, not per key."""
    pieces: list[dict] = []
    for pdf in batches:
        if len(pdf) == 0:
            continue
        cols = _record_columns(pdf)
        doc = cols["doc_id"]
        cuts = [0, *(np.flatnonzero(doc[1:] != doc[:-1]) + 1).tolist(), len(doc)]
        tagged, frags = [], []
        for lo, hi in zip(cuts[:-1], cuts[1:]):
            if pieces and pieces[0]["doc_id"][0] != doc[lo]:
                key_tagged, key_frags = _segment_run(_concat_columns(pieces), params)
                tagged.append(key_tagged)
                frags += key_frags
                pieces = []
            pieces.append({c: a[lo:hi] for c, a in cols.items()})
        if tagged:
            yield _kernel_frame(_concat_columns(tagged), frags)
    if pieces:
        yield _kernel_frame(*_segment_run(_concat_columns(pieces), params))


def _record_columns(pdf: pd.DataFrame) -> dict:
    """A frame's ``RECORD_KEY`` columns as numpy arrays: timestamp in int64
    epoch micros, n_tok float64 (NaN = NULL), has_payload bool, the rest
    object. An absent ``ident_value`` or ``dest_value`` column reads NULL."""
    cols = {
        c: pdf[c].to_numpy(dtype=object)
        for c in ("doc_id", "msgid", "rec_type", "source")
    }
    for c in ("ident_value", "dest_value"):
        cols[c] = (
            pdf[c].to_numpy(dtype=object)
            if c in pdf.columns
            else np.full(len(pdf), None, dtype=object)
        )
    cols["timestamp"] = pdf["timestamp"].to_numpy("datetime64[us]").astype("int64")
    cols["n_tok"] = pdf["n_tok"].to_numpy(dtype="float64", na_value=np.nan)
    cols["has_payload"] = pdf["has_payload"].to_numpy(dtype=bool)
    return cols


def _concat_columns(parts: list[dict]) -> dict:
    if len(parts) == 1:
        return parts[0]
    return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}


def _segment_run(cols: dict, params: SegmenterParams):
    """``segment_key``'s work on one key's ``_record_columns``. The per-day
    run tags the records and summarizes the fragments, the greedy matcher
    assigns seg_ids over all days, attached identity records count into
    their fragment's identities/destinations, and each segment's fragments,
    one per day in day order, accumulate the running totals. Returns the
    record columns, sorted, one row per distinct record, with frag_id and
    seg_id, and the fragment rows as dicts."""
    frags: list[dict] = []
    cols, fid = fragment_columns(cols, {}, frags, params)
    ts_us = cols["timestamp"]
    doc_id = cols["doc_id"][0]
    for f, seg_id in merge_segments(frags, params)[0]:
        f["doc_id"] = doc_id
        f["seg_id"] = seg_id

    counts = {f["frag_id"]: (Counter(), Counter()) for f in frags}
    attached = np.not_equal(fid, None) & (cols["rec_type"] == "IDENT")
    for f, iv, dv in zip(
        fid[attached], cols["ident_value"][attached], cols["dest_value"][attached]
    ):
        idents, dests = counts[f]
        if iv is not None:
            idents[iv] += 1
        if dv is not None:
            dests[dv] += 1

    by_seg: dict[str, list] = {}
    for f in sorted(frags, key=lambda f: f["day_us"]):
        by_seg.setdefault(f["seg_id"], []).append(f)
    for fs in by_seg.values():
        total, seg_idents, seg_dests = 0, Counter(), Counter()
        for f in fs:
            idents, dests = counts[f["frag_id"]]
            total += f["msg_count"]
            seg_idents.update(idents)
            seg_dests.update(dests)
            f.update(
                identities=_counted(idents),
                destinations=_counted(dests),
                first_timestamp=fs[0]["first_us"],
                cumulative_msg_count=total,
                cumulative_identities=_counted(seg_idents),
                cumulative_destinations=_counted(seg_dests),
            )

    # one tagged row per distinct record; copies tie on timestamp
    tied = np.flatnonzero(np.diff(ts_us) == 0)
    if tied.size:
        rows = np.union1d(tied, tied + 1)
        null_nt = np.isnan(cols["n_tok"][rows])
        keys = zip(
            null_nt.tolist(),
            np.where(null_nt, 0, cols["n_tok"][rows]).tolist(),
            *(cols[c][rows].tolist() for c in RECORD_KEY if c != "n_tok"),
        )
        seen: set = set()
        keep = np.ones(len(ts_us), dtype=bool)
        for i, key in zip(rows.tolist(), keys):
            keep[i] = key not in seen
            seen.add(key)
        cols, fid = {c: a[keep] for c, a in cols.items()}, fid[keep]
    seg_of = {f["frag_id"]: f["seg_id"] for f in frags}
    seg = np.array([seg_of.get(f) for f in fid], dtype=object)
    return dict(cols, frag_id=fid, seg_id=seg), frags


def _kernel_frame(records: dict, frags: list[dict]) -> pd.DataFrame:
    """The ``KERNEL_SCHEMA`` frame of ``_segment_run``'s tagged record
    columns and fragment rows (of any number of keys)."""
    n, m = len(records["doc_id"]), len(frags)

    def column(name, dtype=object):
        return np.fromiter((f[name] for f in frags), dtype=dtype, count=m)

    def objects(name=None, frag=None):
        out = np.full(n + m, None, dtype=object)
        if name is not None:
            out[:n] = records[name]
        if frag is not None:
            out[n:] = column(frag)
        return out

    def ints(frag=None, name=None):
        vals = np.zeros(n + m, dtype="int64")
        null = np.ones(n + m, dtype=bool)
        if frag is not None:
            vals[n:] = column(frag, "int64")
            null[n:] = False
        if name is not None:
            null[:n] = np.isnan(records[name])
            vals[:n] = np.where(null[:n], 0, records[name])
        return pd.arrays.IntegerArray(vals, null)

    def stamps(frag, name=None):
        us = np.full(n + m, np.iinfo(np.int64).min, dtype="int64")  # NaT
        us[n:] = column(frag, "int64")
        if name is not None:
            us[:n] = records[name]
        return us.view("datetime64[us]").astype("datetime64[ns]")

    kind = np.full(n + m, "fragment", dtype=object)
    kind[:n] = "tagged"
    return pd.DataFrame(
        {
            "kind": kind,
            "doc_id": objects("doc_id", "doc_id"),
            "msgid": objects("msgid"),
            "frag_id": objects("frag_id", "frag_id"),
            "seg_id": objects("seg_id", "seg_id"),
            "timestamp": stamps("day_us", "timestamp"),
            "msg_count": ints("msg_count"),
            "first_msg_timestamp": stamps("first_us"),
            "last_msg_timestamp": stamps("last_us"),
            "first_msg_n_tok": ints("first_n_tok"),
            "last_msg_n_tok": ints("last_n_tok"),
            "first_msgid": objects(frag="first_msgid"),
            "last_msgid": objects(frag="last_msgid"),
            "identities": objects(frag="identities"),
            "destinations": objects(frag="destinations"),
            "first_timestamp": stamps("first_timestamp"),
            "cumulative_msg_count": ints("cumulative_msg_count"),
            "cumulative_identities": objects(frag="cumulative_identities"),
            "cumulative_destinations": objects(frag="cumulative_destinations"),
            "n_tok": ints(name="n_tok"),
            "rec_type": objects("rec_type"),
            "source": objects("source"),
            "ident_value": objects("ident_value"),
            "dest_value": objects("dest_value"),
            "has_payload": objects("has_payload"),
        },
        copy=False,
    )
