"""Record-side Spark plumbing around the per-doc_id kernels.

- ``kernel_input``: the narrow projection that crosses into Python. The
  heavy ``tokens`` payload never does — it is reduced to a boolean
  ``has_payload`` JVM-side.
- ``tag_records``: puts the token payload (and every other record column)
  back onto the kernel's per-record frag_id/seg_id map with a shuffle-hash
  join on (doc_id, msgid).
- ``attach_boundary_tokens``: the first/last token payloads of fragment
  summaries (the reference's fragment checkpoint format), joined by
  boundary msgid.
- ``assign_frag_ids``: the fragmenter alone over one key's kernel input,
  run without Spark by the property tests and the kernel timings.

``kernel_input`` feeds both the batch segmenter (one ``applyInPandas`` per
doc_id over ``kernel.segment_key``, pipeline.py) and the stream's
``applyInPandasWithState`` (streaming/segmenter_stream.py).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipe_segment_spark.config import SegmenterParams
from pipe_segment_spark.operators.kernel import _run_sorted, sort_group

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


def kernel_input(records: DataFrame, *extra: str) -> DataFrame:
    """The kernel columns, ``extra`` record columns and ``has_payload``."""
    return _with_input_cols(records).select(
        *_KERNEL_COLS,
        *extra,
        (
            F.col("tokens").isNotNull()
            & (F.size("tokens") > 0)
            & F.col("n_tok").isNotNull()
        ).alias("has_payload"),
    )


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


def tag_records(records: DataFrame, frag_map: DataFrame) -> DataFrame:
    """Full records + the map's columns (frag_id, and seg_id when the map
    has it), NULL for records the map lacks.

    A shuffle-hash join on (doc_id, msgid) — never broadcast: the map has
    one row per record, not per fragment."""
    extra = [c for c in frag_map.columns if c not in ("doc_id", "msgid")]
    return _with_input_cols(records).join(
        frag_map.hint("shuffle_hash"), ["doc_id", "msgid"], "left"
    ).select(*INPUT_COLS, *extra)


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
