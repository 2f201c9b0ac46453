"""Batch segmenter pipeline — the end-to-end DAG.

Mirrors the reference SegmentPipeline.pipeline() DAG (pipeline.py:159-301)
as ONE per-key kernel pass:

    records --kernel_input (narrow projection, tokens -> has_payload)
            --repartition(n, doc_id), sortWithinPartitions(doc_id, timestamp)
            --mapInPandas(kernel.segment_batches)--> rows
    rows (persisted once, tagged by ``kind``):
        'tagged'   --NULL-safe shuffle-hash join on the kernel's record
                     columns (``kernel.RECORD_KEY``) onto records--> tagged
        'fragment' --projections--> fragments, segmap, segments

The kernel makes one Python call per Arrow batch, not per doc_id: each
batch of a partition holds whole doc_id runs (the last one may go on in the
next batch), and ``segment_key`` runs on each. Per doc_id it sorts the
records, runs the per-day fragmenter, greedy-merges the days' fragments
into segments, counts each fragment's identity/destination values and
rolls up the segments day by day — a segment's row for a day is one
fragment's row, since the matcher joins at most one fragment to a segment
per day. That is the reference's fragmenter, CreateSegmentMap,
tag-with-seg_id joins and CreateSegments, all inside the one group the
reference already keys them on (ssvid). The only Spark work left is the
scan, the doc_id exchange and sort, and the join that puts the token
payload back onto the messages.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from pipe_segment_spark.config import DEFAULT_PARAMS, SegmenterParams
from pipe_segment_spark.operators.fragment import kernel_input, tag_records
from pipe_segment_spark.operators.kernel import (
    KERNEL_SCHEMA,
    RECORD_KEY,
    segment_batches,
)


@dataclass
class SegmentOutputs:
    tagged_records: DataFrame  # input + frag_id + seg_id
    fragments: DataFrame  # fragment summaries + counted arrays + seg_id
    segmap: DataFrame  # (doc_id, date, seg_id, frag_id)
    segments: DataFrame  # per-(seg_id, day) stats


def run_batch_pipeline(
    records: DataFrame,
    params: SegmenterParams = DEFAULT_PARAMS,
    persist: bool = True,
) -> SegmentOutputs:
    # an explicit partition count: AQE does not coalesce a
    # REPARTITION_BY_NUM exchange into a few large Python tasks. The sort
    # on timestamp too hands each doc_id run over in time order, so the
    # kernel's own sort only re-orders tied timestamps.
    n = int(records.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rows = (
        kernel_input(records, "ident_value", "dest_value")
        .repartition(n, "doc_id")
        .sortWithinPartitions("doc_id", "timestamp")
        .mapInPandas(
            lambda batches: segment_batches(batches, params), schema=KERNEL_SCHEMA
        )
    )
    if persist:
        # one kernel pass feeds all four outputs
        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)

    tagged = tag_records(
        records,
        rows.where(F.col("kind") == "tagged").select(
            *RECORD_KEY, "frag_id", "seg_id"
        ),
    )
    frag_rows = rows.where(F.col("kind") == "fragment")
    fragments = frag_rows.select(
        "doc_id",
        "frag_id",
        "timestamp",
        "msg_count",
        "first_msg_timestamp",
        "last_msg_timestamp",
        "first_msg_n_tok",
        "last_msg_n_tok",
        "first_msgid",
        "last_msgid",
        "identities",
        "destinations",
        "seg_id",
    )
    segmap = fragments.select(
        "doc_id", F.to_date("timestamp").alias("date"), "seg_id", "frag_id"
    )
    # one segment row per (seg_id, day) = one fragment row
    segments = frag_rows.select(
        "seg_id",
        "frag_id",
        "doc_id",
        "timestamp",
        "first_timestamp",
        F.col("msg_count").alias("daily_msg_count"),
        "cumulative_msg_count",
        F.col("identities").alias("daily_identities"),
        "cumulative_identities",
        F.col("destinations").alias("daily_destinations"),
        "cumulative_destinations",
    )
    return SegmentOutputs(tagged, fragments, segmap, segments)
