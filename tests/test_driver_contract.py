"""Driver-contract gate: every queries() entry runs, and every oracle_sql()
entry matches DuckDB exactly (row count + columns + order-insensitive value
multiset) at the small scale factor. Mirrors the external driver's check.
"""

from __future__ import annotations

import pytest

from pipe_segment_spark.queries import ORACLES, QUERIES

from tests.conftest import SF_DIR
from tests.driver_mimic import compare, duck_con


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, con, name):
    r = compare(
        spark, con, name, QUERIES[name], ORACLES.get(name), SF_DIR, verbose=False
    )
    assert r["status"] in ("OK", "rows-only"), r["status"]
    # queries that are legitimately empty at sf0.001 (oracle agrees): the
    # anti-join finds no orphans; the offsets pipeline's pair-count gate
    # (>= 3 same-day cross-source pairs) has nothing at 1k records
    assert r["spark_rows"] > 0 or name in (
        "customers_without_orders",
        "satellite_offsets_full",
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_gate_window_holds_composites():
    """The driver's hard gate truncates at 50 registered queries
    (VERDICT r02 finding #1): every end-to-end composite, the full engine
    surface, and all LLM-data ops must sit INSIDE the first 50."""
    from pipe_segment_spark.queries import QUERIES, ORACLES

    window = list(QUERIES)[:50]
    must_be_gated = [
        "segment_identity_daily",
        "segment_vessel_daily",
        "segment_vessel_daily_7d",
        "segment_info",
        "segment_vessel",
        "vessel_info",
        "satellite_offsets_full",
        "message_stats",
        "whitelist_projection",
        "haversine_drift",
        "safe_divide_least",
        "segmenter_full_segments",
        "segmenter_streaming",
        "segmenter_incremental",
        "validate_vessel_identity",
        "pack_sequences",
        "contamination_check",
        "dedup_minhash_lsh",
        "ann_cosine_topk",
    ]
    missing = [n for n in must_be_gated if n not in window]
    assert not missing, f"fell out of the 50-query gate window: {missing}"
    # ORACLES iterates in the same pinned order as QUERIES
    assert list(ORACLES) == [n for n in QUERIES if n in ORACLES]
