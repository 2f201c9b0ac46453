"""The streaming segmenter on the RocksDB state store — the state backend
for 10^12-scale keyed state (bounded memory, spill to local disk), vs the
default HDFS-backed in-memory map. Same results either way."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.test_streaming import _read_drained, _run_stream, _await
from pipe_segment_spark.sources.token_stream import token_stream
from pipe_segment_spark.streaming.segmenter_stream import write_end_of_feed
from tests.conftest import SF_DIR


def test_rocksdb_state_store_matches_default(spark, tmp_path):
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    outputs = {}
    df = token_stream(spark, SF_DIR)
    day0 = str(
        df.select(F.min(F.to_date("timestamp")).alias("d")).collect()[0]["d"]
    )
    sample = df.where(F.to_date("timestamp") <= day0)
    for name, provider in [
        ("default", None),
        (
            "rocksdb",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        ),
    ]:
        if provider:
            spark.conf.set(key, provider)
        elif prev:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
        base = str(tmp_path / name)
        in_dir = os.path.join(base, "in")
        os.makedirs(in_dir)
        sample.coalesce(1).write.parquet(os.path.join(in_dir, "feed_0"))
        write_end_of_feed(spark, in_dir)
        q = _run_stream(spark, in_dir, os.path.join(base, "out"), os.path.join(base, "ck"))
        _await(q)
        outputs[name] = sorted(
            (r["msgid"], r["frag_id"])
            for r in _read_drained(spark, os.path.join(base, "out"))
            .where(F.col("kind") == "tagged")
            .collect()
        )
    if prev:
        spark.conf.set(key, prev)
    else:
        spark.conf.unset(key)
    assert outputs["rocksdb"] == outputs["default"]
    assert len(outputs["rocksdb"]) == sample.count()
