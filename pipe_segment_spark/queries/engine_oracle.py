"""DuckDB-SQL oracle for the FULL greedy segmenter (multi-open fragments +
cross-day greedy matching).

The engine's flagship path is a per-key sequential state machine
(operators/kernel.py), not one-pass SQL — but it IS expressible as two
recursive CTEs over the (tiny at sf0.01) token stream:

1. ``fstep``: per (doc_id, day), one recursion step per record in the
   deterministic 6-key sort order, carrying the open-fragment list as a
   LIST<STRUCT> column. Replays kernel._fragment_loop exactly: gap aging,
   pair scoring with first-max tie-break, IDENT attach-without-advance,
   noise skip, stalest-eviction at max_open_fragments.
2. ``gstep``: per doc_id, one recursion step per greedy PICK (or per
   day-advance), replaying kernel.merge_segments / reference
   create_segment_map.py:84-147: score all (open segment, new fragment)
   pairs, repeatedly take the max (score, seg_id, frag_id), mark both stale;
   unmatched fragments open segments named by their frag_id.

Everything downstream (fragment summaries, per-(seg, day) daily/cumulative
stats, record tagging) is ordinary relational SQL, computing what the
engine's per-key kernel (kernel.segment_key) builds in Python — an
independent replay, not a mirror.

All float math is written to be bit-identical with the numpy kernels:
integer-microsecond epochs -> double hours, ``**0.5`` (same libm pow), and
score comparisons only ever gate on exact-zero / argmax, never on output.

This SQL is the driver's hard correctness gate for the flagship queries
(VERDICT round-1 ask #1); pytest additionally exact-matches the engine
against the independent pure-Python oracle (oracle/segmenter.py).
"""

from __future__ import annotations

from pipe_segment_spark.config import DEFAULT_PARAMS, SegmenterParams
from pipe_segment_spark.sources.token_stream import TOKEN_STREAM_CTE

_FRAG_STRUCT = "STRUCT(k INT, last_us BIGINT, last_nt DOUBLE, fid VARCHAR)"
_SEG_STRUCT = "STRUCT(sid VARCHAR, last_us BIGINT, last_nt DOUBLE)"
_PEND_STRUCT = (
    "STRUCT(fid VARCHAR, first_us BIGINT, first_nt DOUBLE, "
    "last_us BIGINT, last_nt DOUBLE)"
)
_EMIT_STRUCT = "STRUCT(sid VARCHAR, fid VARCHAR, dt DATE)"


def _pair_score_sql(t_us: str, nt: str, f_last_us: str, f_last_nt: str,
                    p: SegmenterParams) -> str:
    """Intra-day record<-fragment score (kernel._fragment_loop:139-150).
    0.0 when out of the gap window or at/over the rate limit (the kernel's
    ``r > max_rate`` gate plus score==0 at equality collapse to >=)."""
    h = f"(CAST({t_us} - {f_last_us} AS DOUBLE) / 3600000000.0)"
    r = f"(abs({nt} - {f_last_nt}) / greatest({h}, CAST({p.buffer_hours} AS DOUBLE)))"
    return (
        f"CASE WHEN {h} < 0.0 OR {h} > CAST({p.max_gap_hours} AS DOUBLE) "
        f"       OR {r} >= CAST({p.max_dtok_rate} AS DOUBLE) THEN 0.0 "
        f"     ELSE (1.0 - {r} / CAST({p.max_dtok_rate} AS DOUBLE)) "
        f"          / (1.0 + {h} ** CAST({p.hours_exp} AS DOUBLE)) END"
    )


def _match_score_sql(f_first_us: str, f_first_nt: str, s_last_us: str,
                     s_last_nt: str, p: SegmenterParams) -> str:
    """Cross-day segment<-fragment score (config.match_score): gated on
    0 < hours < match_window_hours."""
    h = f"(CAST({f_first_us} - {s_last_us} AS DOUBLE) / 3600000000.0)"
    r = f"(abs({f_first_nt} - {s_last_nt}) / greatest({h}, CAST({p.buffer_hours} AS DOUBLE)))"
    return (
        f"CASE WHEN {h} <= 0.0 OR {h} >= CAST({p.match_window_hours} AS DOUBLE) "
        f"       OR {r} >= CAST({p.max_dtok_rate} AS DOUBLE) THEN 0.0 "
        f"     ELSE (1.0 - {r} / CAST({p.max_dtok_rate} AS DOUBLE)) "
        f"          / (1.0 + {h} ** CAST({p.hours_exp} AS DOUBLE)) END"
    )


def full_segmenter_ctes(p: SegmenterParams = DEFAULT_PARAMS) -> str:
    """The shared WITH-body (requires WITH RECURSIVE): token_stream -> recs
    -> fstep -> tagged_f -> frags -> days -> gstep -> segmap."""
    max_gap_us = int(p.max_gap_hours * 3_600_000_000)
    pair_score = _pair_score_sql("r.t_us", "r.nt", "f.last_us", "f.last_nt", p)
    match_score = _match_score_sql("f.first_us", "f.first_nt",
                                   "sg.last_us", "sg.last_nt", p)
    return f"""
{TOKEN_STREAM_CTE},
recs AS MATERIALIZED (
    SELECT doc_id,
           CAST(timestamp AS DATE)          AS day,
           timestamp, msgid, source, rec_type, ident_value, dest_value,
           n_tok, tokens,
           epoch_us(timestamp)              AS t_us,
           CAST(n_tok AS DOUBLE)            AS nt,
           (tokens IS NULL OR len(tokens) = 0 OR n_tok IS NULL) AS noise,
           (rec_type = 'IDENT')             AS is_ident,
           row_number() OVER (
               PARTITION BY doc_id, CAST(timestamp AS DATE)
               ORDER BY timestamp,
                        coalesce(msgid, ''),
                        coalesce(n_tok, 9223372036854775807),
                        coalesce(source, ''),
                        coalesce(rec_type, ''),
                        coalesce(ident_value, '')
           ) AS rn
    FROM token_stream
),
-- recursion 1: the per-(doc_id, day) multi-open fragmenter state machine
fstep AS (
    SELECT doc_id, day, 0 AS rn,
           CAST(NULL AS VARCHAR) AS fid,
           []::{_FRAG_STRUCT}[]  AS frags,
           1 AS next_k
    FROM (SELECT DISTINCT doc_id, day FROM recs)
    UNION ALL
    SELECT doc_id, day, rn, fid_out AS fid, frags_out AS frags,
           next_k_out AS next_k
    FROM (
        SELECT x.*,
               CASE WHEN x.noise THEN NULL
                    WHEN x.best IS NOT NULL THEN x.aged[x.best].fid
                    WHEN x.is_ident THEN NULL
                    ELSE x.newfid END AS fid_out,
               CASE WHEN x.noise OR x.is_ident THEN x.aged
                    WHEN x.best IS NOT NULL THEN
                        list_transform(x.aged, (f, i) -> CASE WHEN i = x.best
                            THEN {{'k': f.k, 'last_us': x.t_us,
                                  'last_nt': x.nt, 'fid': f.fid}}
                            ELSE f END)
                    ELSE list_append(x.pruned,
                        {{'k': x.next_k, 'last_us': x.t_us,
                          'last_nt': x.nt, 'fid': x.newfid}}) END AS frags_out,
               CASE WHEN x.noise OR x.is_ident OR x.best IS NOT NULL
                    THEN x.next_k ELSE x.next_k + 1 END AS next_k_out
        FROM (
            SELECT w2.*,
                   CASE WHEN w2.evk IS NULL THEN w2.aged
                        ELSE list_filter(w2.aged, f -> NOT (
                             f.last_us = w2.evk.last_us AND f.k = w2.evk.k))
                        END AS pruned
            FROM (
            SELECT w.*,
                   -- eviction of the stalest (min last_us, then k) when full
                   CASE WHEN NOT (w.noise OR w.is_ident) AND w.best IS NULL
                             AND len(w.aged) >= {p.max_open_fragments}
                        THEN list_min(list_transform(w.aged,
                                 f -> {{'last_us': f.last_us, 'k': f.k}}))
                        END AS evk,
                   CASE WHEN NOT (w.noise OR w.is_ident) AND w.best IS NULL
                        THEN w.doc_id || '-' ||
                             strftime(w.timestamp, '%Y-%m-%dT%H:%M:%S.%f') ||
                             'Z-' || CAST(w.next_k AS VARCHAR)
                        END AS newfid
            FROM (
                SELECT v.*,
                       CASE WHEN len(v.scores) > 0
                                 AND list_max(v.scores) > 0.0
                            THEN list_position(v.scores, list_max(v.scores))
                            END AS best
                FROM (
                    SELECT r.doc_id, r.day, r.rn, r.timestamp, r.t_us, r.nt,
                           r.noise, r.is_ident, s.next_k,
                           list_filter(s.frags,
                               f -> r.t_us - f.last_us <= {max_gap_us}) AS aged,
                           CASE WHEN r.noise THEN []::DOUBLE[]
                                ELSE list_transform(aged,
                                     f -> {pair_score}) END AS scores
                    FROM fstep s
                    JOIN recs r ON r.doc_id = s.doc_id AND r.day = s.day
                               AND r.rn = s.rn + 1
                ) v
            ) w
            ) w2
        ) x
    )
),
tagged_f AS MATERIALIZED (
    SELECT r.doc_id, r.day, r.timestamp, r.msgid, r.source, r.rec_type,
           r.ident_value, r.dest_value, r.n_tok, r.tokens, r.nt, r.t_us,
           r.is_ident, f.fid AS frag_id
    FROM recs r
    JOIN fstep f ON f.doc_id = r.doc_id AND f.day = r.day AND f.rn = r.rn
),
-- fragment summaries over POS rows (operators/fragment.py:fragments_from_tagged)
fr_ord AS MATERIALIZED (
    SELECT *,
           first_value(t_us) OVER w   AS f_us,
           last_value(t_us) OVER w    AS l_us,
           first_value(nt) OVER w     AS f_nt,
           last_value(nt) OVER w      AS l_nt,
           first_value(n_tok) OVER w  AS f_ntok,
           last_value(n_tok) OVER w   AS l_ntok,
           first_value(msgid) OVER w  AS f_msgid,
           last_value(msgid) OVER w   AS l_msgid,
           first_value(tokens) OVER w AS f_tokens,
           last_value(tokens) OVER w  AS l_tokens
    FROM tagged_f
    WHERE frag_id IS NOT NULL AND NOT is_ident
    WINDOW w AS (PARTITION BY doc_id, frag_id ORDER BY timestamp, msgid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
frags AS MATERIALIZED (
    SELECT doc_id, frag_id, day AS date,
           CAST(count(*) AS BIGINT)  AS msg_count,
           min(timestamp)            AS first_msg_timestamp,
           max(timestamp)            AS last_msg_timestamp,
           min(f_us)                 AS first_us,
           min(l_us)                 AS last_us,
           min(f_nt)                 AS first_nt,
           min(l_nt)                 AS last_nt,
           min(f_ntok)               AS first_msg_n_tok,
           min(l_ntok)               AS last_msg_n_tok,
           min(f_msgid)              AS first_msgid,
           min(l_msgid)              AS last_msgid,
           min(f_tokens)             AS first_tokens,
           min(l_tokens)             AS last_tokens
    FROM fr_ord
    GROUP BY doc_id, frag_id, day
),
days AS MATERIALIZED (
    SELECT doc_id, date,
           row_number() OVER (PARTITION BY doc_id ORDER BY date) AS day_idx,
           list({{'fid': frag_id, 'first_us': first_us, 'first_nt': first_nt,
                 'last_us': last_us, 'last_nt': last_nt}}
                ORDER BY frag_id) AS dayfrags
    FROM frags
    GROUP BY doc_id, date
),
-- recursion 2: per-doc greedy day-by-day matcher; one step per pick or
-- per day-advance (kernel.greedy_merge / create_segment_map.py:84-147)
gstep AS (
    SELECT doc_id, 0 AS day_idx, CAST(NULL AS DATE) AS date,
           []::{_SEG_STRUCT}[]  AS segs,
           []::{_PEND_STRUCT}[] AS pend,
           []::{_SEG_STRUCT}[]  AS matched,
           []::{_EMIT_STRUCT}[] AS emit
    FROM (SELECT DISTINCT doc_id FROM days)
    UNION ALL
    SELECT q.doc_id,
           CASE WHEN q.best IS NULL THEN q.day_idx + 1 ELSE q.day_idx END
               AS day_idx,
           CASE WHEN q.best IS NULL THEN q.next_date ELSE q.date END AS date,
           CASE WHEN q.best IS NULL THEN
                    list_concat(q.matched, list_transform(q.pend,
                        f -> {{'sid': f.fid, 'last_us': f.last_us,
                              'last_nt': f.last_nt}}))
                ELSE list_filter(q.segs, sg -> sg.sid <> q.best.sid) END
               AS segs,
           CASE WHEN q.best IS NULL
                THEN coalesce(q.next_frags, []::{_PEND_STRUCT}[])
                ELSE list_filter(q.pend, f -> f.fid <> q.best.fid) END
               AS pend,
           CASE WHEN q.best IS NULL THEN []::{_SEG_STRUCT}[]
                ELSE list_append(q.matched,
                     {{'sid': q.best.sid, 'last_us': q.bestf.last_us,
                       'last_nt': q.bestf.last_nt}}) END
               AS matched,
           CASE WHEN q.best IS NULL THEN
                    list_transform(q.pend, f -> {{'sid': f.fid, 'fid': f.fid,
                                                 'dt': q.date}})
                ELSE [{{'sid': q.best.sid, 'fid': q.best.fid, 'dt': q.date}}]
                END
               AS emit
    FROM (
        SELECT v.*,
               CASE WHEN v.best IS NOT NULL THEN
                    list_filter(v.pend, f -> f.fid = v.best.fid)[1] END AS bestf
        FROM (
            SELECT s.doc_id, s.day_idx, s.date, s.segs, s.pend, s.matched,
                   d.date AS next_date, d.dayfrags AS next_frags,
                   list_max(list_filter(
                       flatten(list_transform(s.segs, sg ->
                           list_transform(s.pend, f ->
                               {{'score': {match_score},
                                 'sid': sg.sid, 'fid': f.fid}}))),
                       pr -> pr.score > 0.0)) AS best
            FROM gstep s
            LEFT JOIN days d ON d.doc_id = s.doc_id
                            AND d.day_idx = s.day_idx + 1
        ) v
        WHERE v.best IS NOT NULL OR v.next_date IS NOT NULL OR len(v.pend) > 0
    ) q
),
segmap AS MATERIALIZED (
    SELECT doc_id, e.sid AS seg_id, e.fid AS frag_id, e.dt AS date
    FROM (SELECT doc_id, unnest(emit) AS e FROM gstep)
),
frags_seg AS MATERIALIZED (
    SELECT f.*, m.seg_id
    FROM frags f JOIN segmap m ON f.doc_id = m.doc_id AND f.frag_id = m.frag_id
),
-- per-fragment counted signatures (IDENT rows attached by the kernel);
-- dual arrays per reference transform/fragment.py:24-72
frag_idents AS MATERIALIZED (
    SELECT doc_id, frag_id, ident_value AS value,
           CAST(count(*) AS BIGINT) AS cnt
    FROM tagged_f
    WHERE frag_id IS NOT NULL AND is_ident AND ident_value IS NOT NULL
    GROUP BY doc_id, frag_id, ident_value
),
frag_dests AS MATERIALIZED (
    SELECT doc_id, frag_id, dest_value AS value,
           CAST(count(*) AS BIGINT) AS cnt
    FROM tagged_f
    WHERE frag_id IS NOT NULL AND is_ident AND dest_value IS NOT NULL
    GROUP BY doc_id, frag_id, dest_value
)
"""


def oracle_full_segments(p: SegmenterParams = DEFAULT_PARAMS) -> str:
    """Per-(seg_id, day) stats with counted-identity arrays serialized as
    'value:count;...' strings (the engine's kernel.segment_key rollup)."""
    return f"""
WITH RECURSIVE {full_segmenter_ctes(p)},
seg_daily AS (
    -- one fragment per (seg_id, date) by construction (the matcher assigns
    -- at most one fragment per segment per day)
    SELECT seg_id, frag_id, doc_id, date,
           CAST(date AS TIMESTAMP) AS timestamp,
           msg_count AS daily_msg_count,
           first_msg_timestamp
    FROM frags_seg
),
seg_cum AS (
    SELECT *,
           CAST(sum(daily_msg_count) OVER wcum AS BIGINT)
               AS cumulative_msg_count,
           min(first_msg_timestamp) OVER wcum AS first_timestamp
    FROM seg_daily
    WINDOW wcum AS (PARTITION BY seg_id ORDER BY date ROWS UNBOUNDED PRECEDING)
),
daily_arr_i AS (
    SELECT f.seg_id, f.date,
           string_agg(i.value || ':' || CAST(i.cnt AS VARCHAR), ';'
                      ORDER BY i.value) AS s
    FROM frags_seg f
    JOIN frag_idents i ON i.doc_id = f.doc_id AND i.frag_id = f.frag_id
    GROUP BY f.seg_id, f.date
),
cum_arr_i AS (
    SELECT seg_id, date,
           string_agg(value || ':' || CAST(cnt AS VARCHAR), ';'
                      ORDER BY value) AS s
    FROM (
        SELECT d.seg_id, d.date, x.value, CAST(sum(x.cnt) AS BIGINT) AS cnt
        FROM seg_daily d
        JOIN frags_seg f2 ON f2.seg_id = d.seg_id AND f2.date <= d.date
        JOIN frag_idents x ON x.doc_id = f2.doc_id AND x.frag_id = f2.frag_id
        GROUP BY d.seg_id, d.date, x.value
    ) GROUP BY seg_id, date
),
daily_arr_d AS (
    SELECT f.seg_id, f.date,
           string_agg(i.value || ':' || CAST(i.cnt AS VARCHAR), ';'
                      ORDER BY i.value) AS s
    FROM frags_seg f
    JOIN frag_dests i ON i.doc_id = f.doc_id AND i.frag_id = f.frag_id
    GROUP BY f.seg_id, f.date
),
cum_arr_d AS (
    SELECT seg_id, date,
           string_agg(value || ':' || CAST(cnt AS VARCHAR), ';'
                      ORDER BY value) AS s
    FROM (
        SELECT d.seg_id, d.date, x.value, CAST(sum(x.cnt) AS BIGINT) AS cnt
        FROM seg_daily d
        JOIN frags_seg f2 ON f2.seg_id = d.seg_id AND f2.date <= d.date
        JOIN frag_dests x ON x.doc_id = f2.doc_id AND x.frag_id = f2.frag_id
        GROUP BY d.seg_id, d.date, x.value
    ) GROUP BY seg_id, date
)
SELECT c.seg_id, c.frag_id, c.doc_id, c.timestamp, c.first_timestamp,
       c.daily_msg_count, c.cumulative_msg_count,
       coalesce(dai.s, '') AS daily_identities_s,
       coalesce(cai.s, '') AS cumulative_identities_s,
       coalesce(dad.s, '') AS daily_destinations_s,
       coalesce(cad.s, '') AS cumulative_destinations_s
FROM seg_cum c
LEFT JOIN daily_arr_i dai ON dai.seg_id = c.seg_id AND dai.date = c.date
LEFT JOIN cum_arr_i cai ON cai.seg_id = c.seg_id AND cai.date = c.date
LEFT JOIN daily_arr_d dad ON dad.seg_id = c.seg_id AND dad.date = c.date
LEFT JOIN cum_arr_d cad ON cad.seg_id = c.seg_id AND cad.date = c.date
"""


def oracle_full_fragments(p: SegmenterParams = DEFAULT_PARAMS) -> str:
    """Full-engine fragment summaries incl. boundary msgids + token payloads
    and both counted arrays (reference fragment checkpoint format,
    transform/fragment.py:24-72)."""
    return f"""
WITH RECURSIVE {full_segmenter_ctes(p)},
iarr AS (
    SELECT doc_id, frag_id,
           string_agg(value || ':' || CAST(cnt AS VARCHAR), ';'
                      ORDER BY value) AS s
    FROM frag_idents GROUP BY doc_id, frag_id
),
darr AS (
    SELECT doc_id, frag_id,
           string_agg(value || ':' || CAST(cnt AS VARCHAR), ';'
                      ORDER BY value) AS s
    FROM frag_dests GROUP BY doc_id, frag_id
)
SELECT f.doc_id, f.frag_id,
       CAST(f.date AS TIMESTAMP) AS timestamp,
       f.msg_count, f.first_msg_timestamp, f.last_msg_timestamp,
       f.first_msg_n_tok, f.last_msg_n_tok,
       f.first_msgid, f.last_msgid,
       array_to_string(f.first_tokens, ',') AS first_tokens_s,
       array_to_string(f.last_tokens, ',')  AS last_tokens_s,
       coalesce(i.s, '') AS identities_s,
       coalesce(d.s, '') AS destinations_s
FROM frags f
LEFT JOIN iarr i ON i.doc_id = f.doc_id AND i.frag_id = f.frag_id
LEFT JOIN darr d ON d.doc_id = f.doc_id AND d.frag_id = f.frag_id
"""


def oracle_full_tagged(p: SegmenterParams = DEFAULT_PARAMS) -> str:
    """Every record tagged with nullable frag_id / seg_id."""
    return f"""
WITH RECURSIVE {full_segmenter_ctes(p)}
SELECT t.doc_id, t.timestamp, t.msgid,
       array_to_string(t.tokens, ',') AS tokens_s,
       t.frag_id, m.seg_id
FROM tagged_f t
LEFT JOIN segmap m ON m.doc_id = t.doc_id AND m.frag_id = t.frag_id
"""


def oracle_stream_identity_join(p: SegmenterParams = DEFAULT_PARAMS) -> str:
    """Stream-static identity join drain: every tagged record LEFT-joined to
    the per-doc identity lookup (streaming/identity_join.py
    join_identity_static — the join result is batch-deterministic)."""
    return f"""
WITH RECURSIVE {full_segmenter_ctes(p)},
lookup AS (
    SELECT doc_id,
           min(timestamp)    AS ident_since,
           min(ident_value)  AS shipname,
           max(ident_value)  AS callsign
    FROM token_stream
    WHERE ident_value IS NOT NULL
    GROUP BY doc_id
)
SELECT t.doc_id, t.timestamp, t.msgid, t.frag_id,
       l.ident_since, l.shipname, l.callsign
FROM tagged_f t
LEFT JOIN lookup l ON l.doc_id = t.doc_id
"""


def oracle_streaming(p: SegmenterParams = DEFAULT_PARAMS) -> str:
    """The streaming engine's drained sink: tagged rows (immediate emission)
    + segmap rows (day-close emission). Equals the batch engine on the same
    input (tests/test_streaming.py asserts stream==batch)."""
    return f"""
WITH RECURSIVE {full_segmenter_ctes(p)}
SELECT 'tagged' AS kind, doc_id, timestamp, msgid, frag_id,
       CAST(NULL AS VARCHAR) AS seg_id, CAST(NULL AS VARCHAR) AS date
FROM tagged_f
UNION ALL
SELECT 'segmap' AS kind, doc_id, CAST(date AS TIMESTAMP) AS timestamp,
       CAST(NULL AS VARCHAR) AS msgid, frag_id, seg_id,
       CAST(date AS VARCHAR) AS date
FROM segmap
"""
