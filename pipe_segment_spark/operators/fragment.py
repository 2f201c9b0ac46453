"""Record-side Spark plumbing around the per-doc_id kernels.

- ``kernel_input``: the narrow projection that crosses into Python. The
  heavy ``tokens`` payload never does — it is reduced to a boolean
  ``has_payload`` JVM-side.
- ``tag_records``: puts the token payload (and every other record column)
  back onto the kernel's frag_id/seg_id tags with a NULL-safe shuffle-hash
  join on the kernel's record columns (``kernel.RECORD_KEY``): one row
  per record, whatever its msgid.
- ``attach_boundary_tokens``: the first/last token payloads of fragment
  summaries (the reference's fragment checkpoint format), taken from the
  tagged records at each boundary's frag_id, timestamp, msgid and n_tok:
  one row per fragment.
- ``assign_frag_ids``: the fragmenter alone over one key's kernel input
  (``kernel.fragment_columns``), run without Spark by the property tests
  and the kernel timings.

``kernel_input`` feeds both the batch segmenter (one ``mapInPandas`` over
doc_id-sorted batches, ``kernel.segment_batches``, pipeline.py) and the
stream's ``applyInPandasWithState`` (streaming/segmenter_stream.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pipe_segment_spark.config import SegmenterParams
from pipe_segment_spark.operators.kernel import (
    RECORD_KEY,
    _record_columns,
    fragment_columns,
)

INPUT_COLS = [
    "doc_id",
    "source",
    "timestamp",
    "tokens",
    "n_tok",
    "msgid",
    "rec_type",
    "ident_value",
    "dest_value",
]

# the record columns every kernel reads (``kernel._record_columns`` reads
# an absent ident_value or dest_value as NULL)
_KERNEL_COLS = ["doc_id", "timestamp", "msgid", "n_tok", "rec_type", "source"]


def _with_input_cols(records: DataFrame) -> DataFrame:
    """``records`` projected to ``INPUT_COLS``; absent optional columns
    read NULL."""
    return records.select(
        *[
            F.col(c) if c in records.columns else F.lit(None).cast("string").alias(c)
            for c in INPUT_COLS
        ]
    )


def _has_payload():
    return (
        F.col("tokens").isNotNull()
        & (F.size("tokens") > 0)
        & F.col("n_tok").isNotNull()
    ).alias("has_payload")


def kernel_input(records: DataFrame, *extra: str) -> DataFrame:
    """The kernel columns, ``extra`` record columns and ``has_payload``."""
    return _with_input_cols(records).select(*_KERNEL_COLS, *extra, _has_payload())


def assign_frag_ids(pdf, params: SegmenterParams):
    """Fragmenter for one doc_id: deterministic sort, then the shared
    per-day run with fresh state per day (the reference groups by
    (ssvid, day), pipeline.py:211-217 — day continuity is the greedy
    merger's job). Returns the kernel columns plus frag_id, in sort order
    (timestamp datetime64[us], n_tok float64 with NaN for NULL)."""
    cols, fid = fragment_columns(_record_columns(pdf), {}, [], params)
    out = {c: cols[c] for c in _KERNEL_COLS}
    out["timestamp"] = cols["timestamp"].view("datetime64[us]")
    out["frag_id"] = fid
    return pd.DataFrame(out, copy=False)


def tag_records(records: DataFrame, tags: DataFrame) -> DataFrame:
    """Full records + the tags' frag_id and seg_id, one row per record.

    ``tags`` has one row per distinct ``RECORD_KEY`` tuple, which is the
    join key, NULL-safe: a record with a NULL msgid is tagged, and copies
    of a record each get the one row of their tuple. A shuffle-hash join —
    never broadcast: the tags have one row per record, not per fragment.
    Only ``has_payload`` is computed from the token payload for the key;
    the tokens themselves never cross into Python."""
    extra = [c for c in tags.columns if c not in RECORD_KEY]
    tags = tags.select(*[F.col(c).alias(f"_tag_{c}") for c in RECORD_KEY], *extra)
    # the kernel emits its input timestamp as TIMESTAMP; the records' may be
    # TIMESTAMP_NTZ, which casts under the same session time zone
    on = [
        (F.col(c).cast("timestamp") if c == "timestamp" else F.col(c)).eqNullSafe(
            F.col(f"_tag_{c}")
        )
        for c in RECORD_KEY
    ]
    return (
        _with_input_cols(records)
        .withColumn("has_payload", _has_payload())
        .join(tags.hint("shuffle_hash"), on, "left")
        .select(*INPUT_COLS, *extra)
    )


def attach_boundary_tokens(fragments: DataFrame, tagged: DataFrame) -> DataFrame:
    """Fragment summaries + ``first_tokens``/``last_tokens``: the token
    payloads of the boundary records (reference fragment.py:24-72 keeps the
    full first/last messages), one row per fragment.

    ``tagged`` is the pipeline's tagged records. A boundary record is a
    positional record of the fragment at the boundary's timestamp, msgid
    (NULL-safe) and n_tok. Records tied on all of those order as the
    record sort does (source, rec_type, ident_value; NULL as ''), then by
    tokens: the first boundary takes the least, the last the greatest."""
    cand = tagged.where(
        F.col("frag_id").isNotNull() & ~F.col("rec_type").eqNullSafe("IDENT")
    ).select(
        F.col("frag_id").alias("_b_frag_id"),
        # the records' timestamp may be TIMESTAMP_NTZ (see tag_records)
        F.col("timestamp").cast("timestamp").alias("_b_timestamp"),
        *[
            F.col(c).alias(f"_b_{c}")
            for c in ("msgid", "n_tok", "source", "rec_type", "ident_value", "tokens")
        ],
    )
    order = [
        F.coalesce(F.col(f"_b_{c}"), F.lit(""))
        for c in ("source", "rec_type", "ident_value")
    ] + [F.col("_b_tokens")]
    for end, direction in (("first", Column.asc), ("last", Column.desc)):
        on = [
            F.col("frag_id") == F.col("_b_frag_id"),
            F.col(f"{end}_msg_timestamp") == F.col("_b_timestamp"),
            F.col(f"{end}_msgid").eqNullSafe(F.col("_b_msgid")),
            F.col(f"{end}_msg_n_tok") == F.col("_b_n_tok"),
        ]
        rank = F.row_number().over(
            Window.partitionBy("frag_id").orderBy(*map(direction, order))
        )
        fragments = (
            fragments.join(cand, on, "left")
            .withColumn("_rank", rank)
            .where(F.col("_rank") == 1)
            .select(*fragments.columns, F.col("_b_tokens").alias(f"{end}_tokens"))
        )
    return fragments
