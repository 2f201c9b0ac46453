"""Plan-regression tests: the physical plans the engine relies on at 100 TB
must not silently degrade (PLANS.md documents the audited shapes).

Checks: predicate pushdown reaches the scan, column pruning holds, the
frag_map map-back join never broadcasts, the tiny-side joins do broadcast,
sessionization shuffles exactly once, the batch kernel reads one doc_id
exchange with a fixed partition count.
"""

from __future__ import annotations

from pipe_segment_spark.queries import QUERIES

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown(spark):
    plan = _plan(QUERIES["pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: props-free narrow read schema
    assert "l_comment" not in plan


def test_token_stream_column_pruning(spark):
    plan = _plan(QUERIES["token_stream"](spark, SF_DIR))
    # events.value and events.props are never read
    assert "value" not in plan.split("ReadSchema")[1][:400]
    assert "props" not in plan.split("ReadSchema")[1][:400]


def test_frag_map_join_never_broadcasts(spark):
    from pipe_segment_spark.pipeline import run_batch_pipeline
    from pipe_segment_spark.sources.token_stream import token_stream

    out = run_batch_pipeline(token_stream(spark, SF_DIR), persist=False)
    plan = _plan(out.tagged_records)
    # one row per record on the build side -> must be a shuffled hash join
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_bad_hours_broadcast_anti_join(spark):
    plan = _plan(QUERIES["bad_hours_filter"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_create_segments_no_inequality_join(spark):
    """The cumulative-identity rollup must stay linear: no join whose only
    residual is a date inequality (the old days x value-dates plan was
    quadratic in segment lifetime — VERDICT r01 'What's wrong' #1)."""
    import re

    from pipe_segment_spark.pipeline import run_batch_pipeline
    from pipe_segment_spark.sources.token_stream import token_stream

    out = run_batch_pipeline(token_stream(spark, SF_DIR), persist=False)
    plan = _plan(out.segments)
    # no inequality-only join condition on dates anywhere in the plan
    assert not re.search(r"Join .*\(date.*[<>]=? *date", plan), plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_composites_no_cartesian(spark):
    """The end-to-end composites must stay equi-join shaped: no cartesian
    or nested-loop joins anywhere (the only cross join is the broadcast
    single-row last-day scalar)."""
    for name in ("satellite_offsets_full", "segment_vessel_daily",
                 "segment_info", "vessel_info"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "NestedLoop" not in plan or "BroadcastNestedLoopJoin" in plan, name


def test_identity_composites_reuse_cache(spark):
    """The identity composites read the batch pipeline's persisted kernel
    pass — the plan must show InMemoryTableScan reuse so the kernel
    executes once, not per consumer branch."""
    plan = _plan(QUERIES["segment_vessel_daily"](spark, SF_DIR))
    assert "InMemoryTableScan" in plan


def test_sessionize_single_shuffle(spark):
    plan = _plan(QUERIES["seg_sessionize"](spark, SF_DIR))
    # lag/sum/min windows all share the doc_id partitioning: exactly one
    # exchange (plus nothing else)
    assert plan.count("Exchange hashpartitioning") == 1


def test_segments_path_no_token_payload(spark):
    """The segments output must never carry the token payload: no
    `tokens`/`first_tokens` column anywhere in its physical plan, and the
    segmap path must not collect arrays JVM-side (VERDICT r02 finding #3 —
    the boundary-token and counted-array joins regressed the flagship by
    12.6% when they sat on the persisted segmap path; the counted arrays
    are now built inside the kernel)."""
    from pipe_segment_spark.pipeline import run_batch_pipeline
    from pipe_segment_spark.sources.token_stream import token_stream

    out = run_batch_pipeline(token_stream(spark, SF_DIR), persist=False)
    plan = _plan(out.segments)
    assert "first_tokens" not in plan and "last_tokens" not in plan
    # the raw token array may appear ONLY in the JVM-side has_payload
    # reduction (size/isnotnull before the kernel shuffle); it must never
    # cross an Exchange or the Arrow boundary
    import re

    for line in plan.splitlines():
        if not re.search(r"\btokens#\d+", line):
            continue
        assert (
            "size(tokens#" in line
            or "transform(sequence" in line
            or "has_payload" in line
        ), f"token payload outside the has_payload reduction: {line.strip()[:200]}"
        assert "Exchange" not in line
        assert "FlatMapGroupsInPandas" not in line and "MapInPandas" not in line
    # segmap is a projection of the kernel's fragment rows: its plan must
    # not contain a counted-array collect (sort_array / collect_list)
    segmap_plan = _plan(out.segmap)
    assert "sort_array" not in segmap_plan and "collect_list" not in segmap_plan


def test_kernel_exchange_fixed_partition_count(spark):
    """The batch kernel reads one doc_id exchange with an explicit
    partition count (REPARTITION_BY_NUM, which AQE does not coalesce into
    a few large Python tasks), sorted by doc_id inside each partition."""
    import re

    from pipe_segment_spark.pipeline import run_batch_pipeline
    from pipe_segment_spark.sources.token_stream import token_stream

    out = run_batch_pipeline(token_stream(spark, SF_DIR), persist=False)
    plan = _plan(out.segments)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    kernel = re.search(
        r"MapInPandas .*\n +\+- Sort \[doc_id#\d+ ASC NULLS FIRST.*\n"
        r" +\+- Exchange hashpartitioning\(doc_id#\d+, (\d+)\), REPARTITION_BY_NUM",
        plan,
    )
    assert kernel, plan
    assert int(kernel.group(1)) == n
