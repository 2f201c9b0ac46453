"""Table API: date-sharded idempotent writes + partition pruning at read
(SURVEY.md §2.1 S6/S7 semantics over the Iceberg-layout parquet)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pipe_segment_spark.sources.tables import (
    delete_date_range,
    read_date_range,
    write_date_partitioned,
)
from pipe_segment_spark.sources.token_stream import token_stream

from tests.conftest import SF_DIR


def test_write_read_prune_and_idempotent_rerun(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = token_stream(spark, SF_DIR)
    write_date_partitioned(df, path)
    total = df.count()
    assert spark.read.parquet(path).count() == total

    days = sorted(
        r["date"]
        for r in spark.read.parquet(path).select("date").distinct().collect()
    )
    d_lo, d_hi = str(days[0]), str(days[2])

    ranged = read_date_range(spark, path, d_lo, d_hi)
    expected = df.where(F.to_date("timestamp").between(d_lo, d_hi)).count()
    assert ranged.count() == expected

    # partition pruning is visible in the physical plan's PartitionFilters
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "date" in plan

    # idempotent rerun: overwrite ONE day's shard with the same data;
    # totals unchanged (reference truncate-shard-then-write)
    one_day = df.where(F.to_date("timestamp") == F.lit(d_lo))
    write_date_partitioned(one_day, path)
    assert spark.read.parquet(path).count() == total

    # dynamic overwrite touches only the partitions present in the input:
    # rewriting day d_lo with HALF its rows must not affect other days
    half = one_day.where(F.col("msgid").substr(-1, 1).isin("0", "2", "4", "6", "8"))
    n_half = half.count()
    write_date_partitioned(half, path)
    assert (
        spark.read.parquet(path).count()
        == total - one_day.count() + n_half
    )

    # range delete drops exactly the shards
    delete_date_range(spark, path, d_lo, d_lo)
    remaining = spark.read.parquet(path).select("date").distinct().count()
    assert remaining == len(days) - 1


def test_msgid_unique_contract(spark):
    """The (doc_id, msgid) uniqueness contract the tag-back joins rely on
    (tag_records / session_tagged_records re-attach payloads by
    (doc_id, msgid) — duplicates would fan out rows and mis-tag;
    ADVICE r01). token_stream guarantees it by construction (msgid =
    'm' || event_id); any new source must too."""
    from pipe_segment_spark.sources.token_stream import token_stream

    from tests.conftest import SF_DIR

    df = token_stream(spark, SF_DIR)
    assert (
        df.groupBy("doc_id", "msgid").count().where(F.col("count") > 1).count()
        == 0
    )
