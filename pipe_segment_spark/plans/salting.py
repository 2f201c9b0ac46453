"""Skew handling: salted pre-aggregation + two-phase merge of open state.

Reference analog: segmap time-bin fan-out (pipeline.py:53-62,252-261,
tag_with_fragid_and_timebin.py:10-22) splits hot keys over sub-bins. At
10^12-sequence scale a hot doc_id feeding ``applyInPandas`` is the
bottleneck AQE cannot split (AQE skew-join doesn't apply to stateful
grouped-map ops), so we salt explicitly (north_rule: "salted pre-aggregation
plus two-phase merge of open-segment state"):

Phase 1: records shuffle on (doc_id, salt) where salt = day-bucket — each
         salt group runs the fragmenter independently. Because the batch
         fragmenter's unit of state is (doc_id, day) anyway, DAY-ALIGNED
         salting is equivalence-preserving by construction: no fragment
         spans a salt boundary.
Phase 2: the per-salt fragment summaries (tiny vs records) regroup on
         doc_id alone for the greedy cross-day merger — the sequential
         part touches only O(fragments) rows, not O(records).

``tag_fragments_salted`` == ``tag_fragments`` row-for-row (asserted in
tests/test_salting.py) — it's a physical rewrite, not a semantic one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipe_segment_spark.config import DEFAULT_PARAMS, SegmenterParams
from pipe_segment_spark.operators.fragment import (
    NARROW_TAGGED_SCHEMA,
    assign_frag_ids,
    kernel_input,
    tag_fragments,
)


def tag_fragments_salted(
    records: DataFrame,
    params: SegmenterParams = DEFAULT_PARAMS,
    days_per_salt: int = 1,
) -> DataFrame:
    """Salted fragmenter: shuffle on (doc_id, day-bucket) so one hot key
    spreads over ``n_days / days_per_salt`` tasks."""
    salt = (F.unix_date(F.to_date("timestamp")) / days_per_salt).cast("long")
    narrow = (
        kernel_input(records)
        .withColumn("__salt", salt)
        .groupBy("doc_id", "__salt")  # groupBy shuffles on the salted key
        .applyInPandas(
            lambda key, pdf: assign_frag_ids(pdf, params),
            schema=NARROW_TAGGED_SCHEMA,
        )
    )
    return tag_fragments(records, params, narrow_tagged=narrow)


__all__ = ["tag_fragments_salted", "tag_fragments"]
