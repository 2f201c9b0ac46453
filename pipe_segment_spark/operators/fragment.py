"""Record-side Spark plumbing around the per-doc_id kernels.

- ``kernel_input``: the narrow projection that crosses into Python. The
  heavy ``tokens`` payload never does — it is reduced to a boolean
  ``has_payload`` JVM-side.
- ``tag_records``: puts the token payload (and every other record column)
  back onto the kernel's frag_id/seg_id tags with a NULL-safe shuffle-hash
  join on the kernel's record columns (``kernel.RECORD_KEY``): one row
  per record, whatever its msgid.
- ``attach_boundary_tokens``: the first/last token payloads of fragment
  summaries (the reference's fragment checkpoint format), joined by
  boundary msgid.
- ``assign_frag_ids``: the fragmenter alone over one key's kernel input,
  run without Spark by the property tests and the kernel timings.

``kernel_input`` feeds both the batch segmenter (one ``mapInPandas`` over
doc_id-sorted batches, ``kernel.segment_batches``, pipeline.py) and the
stream's ``applyInPandasWithState`` (streaming/segmenter_stream.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipe_segment_spark.config import SegmenterParams
from pipe_segment_spark.operators.kernel import RECORD_KEY, _run_sorted, sort_group

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

# the columns every kernel reads (``sort_group`` + ``_run_sorted``)
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
    merger's job). Returns the kernel columns plus frag_id, in sort order."""
    pdf = sort_group(pdf)
    doc_id = pdf["doc_id"].iat[0] if len(pdf) else ""
    out = {c: pdf[c].to_numpy() for c in _KERNEL_COLS}
    out["frag_id"] = _run_sorted(doc_id, pdf, {}, [], params)
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


def attach_boundary_tokens(fragments: DataFrame, records: DataFrame) -> DataFrame:
    """Fragment summaries + ``first_tokens``/``last_tokens``: the token
    payloads of the boundary records (reference fragment.py:24-72 keeps the
    full first/last messages), joined on (doc_id, boundary msgid) — two
    rows per fragment on the map side."""
    toks = records.select("doc_id", "msgid", "tokens")
    for end in ("first", "last"):
        fragments = fragments.join(
            toks.select(
                "doc_id",
                F.col("msgid").alias(f"{end}_msgid"),
                F.col("tokens").alias(f"{end}_tokens"),
            ),
            ["doc_id", f"{end}_msgid"],
            "left",
        )
    return fragments
