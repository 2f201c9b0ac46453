"""Full-engine queries: the multi-open greedy segmenter (batch segments /
fragments / tagged + the streaming drain) and the multimodal plumbing.

All are in the driver's HARD gate: the stateful per-key algorithms are
replayed in DuckDB as recursive CTEs (queries/engine_oracle.py), the
multimodal stub as a sha256->float32 expression chain
(queries/multimodal_oracle.py). Exact-match correctness is additionally
enforced in pytest against the independent pure-Python oracle
(tests/test_segmenter_vs_oracle.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipe_segment_spark.config import DEFAULT_PARAMS
from pipe_segment_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)
from pipe_segment_spark.pipeline import run_batch_pipeline
from pipe_segment_spark.sources.token_stream import token_stream


def _ident_str(col: str):
    """array<struct<value,count>> (sorted by value) -> 'value:count;...'
    string, matching the DuckDB oracle's string_agg serialization."""
    return F.array_join(
        F.transform(col, lambda s: F.concat_ws(":", s.value, s.count)), ";"
    )


def q_segmenter_full_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full greedy segmenter (multi-open fragments + cross-day matching):
    per-(seg, day) stats with counted identities flattened to strings.
    Oracle: the recursive-CTE replay in queries/engine_oracle.py."""
    out = run_batch_pipeline(token_stream(spark, sf_dir), DEFAULT_PARAMS)
    return out.segments.select(
        "seg_id",
        "frag_id",
        "doc_id",
        "timestamp",
        "first_timestamp",
        "daily_msg_count",
        "cumulative_msg_count",
        _ident_str("daily_identities").alias("daily_identities_s"),
        _ident_str("cumulative_identities").alias("cumulative_identities_s"),
        _ident_str("daily_destinations").alias("daily_destinations_s"),
        _ident_str("cumulative_destinations").alias(
            "cumulative_destinations_s"
        ),
    )


def q_segmenter_full_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-engine fragment summaries with boundary msgids/token payloads
    (taken from the tagged records at each fragment's boundary records)
    and both counted arrays — the reference's fragment checkpoint
    format."""
    from pipe_segment_spark.operators.fragment import attach_boundary_tokens

    out = run_batch_pipeline(token_stream(spark, sf_dir), DEFAULT_PARAMS)
    frags = attach_boundary_tokens(out.fragments, out.tagged_records)
    return frags.select(
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
        F.array_join("first_tokens", ",").alias("first_tokens_s"),
        F.array_join("last_tokens", ",").alias("last_tokens_s"),
        _ident_str("identities").alias("identities_s"),
        _ident_str("destinations").alias("destinations_s"),
    )


def q_segmenter_full_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full segmenter: every record tagged with nullable frag_id/seg_id."""
    out = run_batch_pipeline(token_stream(spark, sf_dir), DEFAULT_PARAMS)
    return out.tagged_records.select(
        "doc_id",
        "timestamp",
        "msgid",
        F.array_join("tokens", ",").alias("tokens_s"),
        "frag_id",
        "seg_id",
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload + metadata -> mapInPandas feature
    extraction (decode stubbed, deterministic)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = extract_features(attach_binary_payload(docs))
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.round(F.expr("aggregate(features, 0D, (a, x) -> a + x)"), 6).alias(
            "feat_sum"
        ),
    )


_STREAM_COLS = (
    "kind", "doc_id", "timestamp", "msgid", "frag_id", "seg_id", "date",
)


def _drain(spark: SparkSession, tmp: str, transform) -> DataFrame:
    """Run ``transform`` over the record stream watching ``{tmp}/in`` into
    the exactly-once sink ``{tmp}/out`` via availableNow; returns the
    drained sink without the end-of-feed key. Re-running on the same
    ``tmp`` resumes from its checkpoint."""
    from pipe_segment_spark.streaming.segmenter_stream import (
        END_OF_FEED_DOC_ID,
        INPUT_SCHEMA_DDL,
    )
    from pipe_segment_spark.streaming.sink import idempotent_batch_writer, read_sink

    in_dir, out_dir, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    q = (
        spark.readStream.schema(INPUT_SCHEMA_DDL)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
        .transform(transform)
        .writeStream.foreachBatch(idempotent_batch_writer(out_dir))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return read_sink(spark, out_dir).where(
        ~F.col("doc_id").eqNullSafe(END_OF_FEED_DOC_ID)
    )


def _stream_input(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """A fresh ``_drain`` directory whose watched input holds the
    sf-derived token stream as one feed, ended by the end-of-feed record."""
    import tempfile

    from pipe_segment_spark.streaming.segmenter_stream import write_end_of_feed

    tmp = tempfile.mkdtemp(prefix=prefix)
    token_stream(spark, sf_dir).coalesce(4).write.mode("overwrite").parquet(
        f"{tmp}/in"
    )
    write_end_of_feed(spark, f"{tmp}/in")
    return tmp


def q_segmenter_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Structured Streaming segmenter end-to-end: feed the sf-derived
    stream and the end-of-feed record through applyInPandasWithState
    (watermark release and day-closing) into the exactly-once sink via
    availableNow, return the drained output. It equals the batch engine
    (tests/test_streaming.py), so it shares the recursive-CTE oracle."""
    from pipe_segment_spark.streaming.segmenter_stream import stream_segment

    tmp = _stream_input(spark, sf_dir, "seg_stream_q_")
    return _drain(
        spark, tmp, lambda df: stream_segment(df, DEFAULT_PARAMS)
    ).select(*_STREAM_COLS)


def q_segmenter_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference daily scheduling as checkpoint-resume: the stream is fed in
    TWO date-split installments with a full engine stop + restart from
    checkpoint between them (pipeline.py:231-242 daily reruns). The drained
    sink must equal the one-shot run byte-for-byte — same recursive-CTE
    oracle as segmenter_streaming."""
    import tempfile

    from pipe_segment_spark.streaming.segmenter_stream import (
        stream_segment,
        write_end_of_feed,
    )

    records = token_stream(spark, sf_dir)
    days = sorted(
        r["d"]
        for r in records.select(F.to_date("timestamp").alias("d"))
        .distinct()
        .collect()
    )
    mid = days[len(days) // 2]
    tmp = tempfile.mkdtemp(prefix="seg_incr_q_")

    def run_once():
        return _drain(
            spark, tmp, lambda df: stream_segment(df, DEFAULT_PARAMS)
        )

    records.where(F.to_date("timestamp") <= F.lit(str(mid))).coalesce(
        2
    ).write.mode("overwrite").parquet(f"{tmp}/in/feed_0")
    run_once()  # first installment, engine stops
    records.where(F.to_date("timestamp") > F.lit(str(mid))).coalesce(
        2
    ).write.mode("overwrite").parquet(f"{tmp}/in/feed_1")
    write_end_of_feed(spark, f"{tmp}/in")
    # restart from checkpoint, drain the rest
    return run_once().select(*_STREAM_COLS)


def _identity_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing per-doc identity summary (the static side of the
    stream-identity join): deterministic aggregates over IDENT records."""
    return (
        token_stream(spark, sf_dir)
        .where(F.col("ident_value").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.min("timestamp").alias("summary_timestamp"),
            F.min("ident_value").alias("shipname"),
            F.max("ident_value").alias("callsign"),
        )
    )


def q_stream_identity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 end-to-end: the streaming segmenter's tagged output stream-static
    LEFT-joined against the slowly-changing identity lookup INSIDE each
    microbatch (Spark re-plans stream-static joins per batch), drained via
    availableNow into the exactly-once sink."""
    from pipe_segment_spark.streaming.identity_join import join_identity_static
    from pipe_segment_spark.streaming.segmenter_stream import stream_segment

    cols = (
        "doc_id", "timestamp", "msgid", "frag_id",
        "ident_since", "shipname", "callsign",
    )
    ident = _identity_lookup(spark, sf_dir)
    tmp = _stream_input(spark, sf_dir, "seg_ijoin_q_")

    def joined(df: DataFrame) -> DataFrame:
        tagged = stream_segment(df, DEFAULT_PARAMS).where(
            F.col("kind") == "tagged"
        )
        return join_identity_static(tagged, ident).select(*cols)

    return _drain(spark, tmp, joined).select(*cols)


QUERIES = {
    "segmenter_full_segments": q_segmenter_full_segments,
    "segmenter_full_fragments": q_segmenter_full_fragments,
    "segmenter_full_tagged": q_segmenter_full_tagged,
    "segmenter_streaming": q_segmenter_streaming,
    "segmenter_incremental": q_segmenter_incremental,
    "stream_identity_join": q_stream_identity_join,
    "multimodal_features": q_multimodal_features,
}

from pipe_segment_spark.queries.engine_oracle import (  # noqa: E402
    oracle_full_fragments,
    oracle_full_segments,
    oracle_full_tagged,
    oracle_stream_identity_join,
    oracle_streaming,
)
from pipe_segment_spark.queries.multimodal_oracle import (  # noqa: E402
    ORACLE_MULTIMODAL,
)

ORACLES: dict[str, str] = {
    "segmenter_full_segments": oracle_full_segments(DEFAULT_PARAMS),
    "segmenter_full_fragments": oracle_full_fragments(DEFAULT_PARAMS),
    "segmenter_full_tagged": oracle_full_tagged(DEFAULT_PARAMS),
    "segmenter_streaming": oracle_streaming(DEFAULT_PARAMS),
    "segmenter_incremental": oracle_streaming(DEFAULT_PARAMS),
    "stream_identity_join": oracle_stream_identity_join(DEFAULT_PARAMS),
    "multimodal_features": ORACLE_MULTIMODAL,
}
