"""Identity-pipeline composites: the reference's downstream SQL jobs
recast END-TO-END over the tokenized schema (VERDICT r01 asks #3 and #7).

- ``segment_identity_daily``: per-(seg_id, day) identity summaries with the
  reference's 8 counted-value arrays, normalized fields and
  msg_count = pos + ident (segment_identity/transforms.py:23-106,
  pipeline.py:344-362).
- ``segment_vessel_daily``: the full multi-CTE job
  (assets/segment_vessel_daily.sql.j2:41-159) — window aggregation,
  mostCommon + minFreqFilter per field, spoofing/overlap detection (LEAD +
  COUNTIF), single-identity ssvid detection (LEAST of IFNULLed freqs),
  anti-join, vessel_id GUID assignment with IFNULL fallback — composed as
  ONE query on both engines.

Identity fields are derived deterministically from the record's event id
(msgid = 'm' || event_id), the same recast trick token_stream uses, so both
engines compute identical values with no external data:

    shipname   = ident_value                                 (always present)
    callsign   = 'CS-' || ev % 7                             (ev % 5 != 1)
    imo        = CAST(1000000 + ev % 9000000 AS STRING)      (ev % 4 != 0)
    n_shipname = upper-strip-alnum(shipname)    n_callsign = same(callsign)
    n_imo      = lpad(imo, 8, '0')
    length     = CAST(10 + ev % 40 AS STRING)                (ev % 2 == 0)
    width      = CAST(3  + ev % 12 AS STRING)                (ev % 3 == 0)

The presence-modulo rules stand in for the reference's normalizability
filters (shipdataprocess normalize_* / stdnum IMO validation): an absent
value is one the filter dropped. The DuckDB oracle replays the full greedy
segmenter via the recursive CTEs in engine_oracle.py, then the identical
relational composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipe_segment_spark.config import DEFAULT_PARAMS
from pipe_segment_spark.pipeline import run_batch_pipeline
from pipe_segment_spark.queries.engine_oracle import full_segmenter_ctes
from pipe_segment_spark.sources.token_stream import token_stream

FIELDS = [
    "shipname",
    "callsign",
    "imo",
    "n_shipname",
    "n_callsign",
    "n_imo",
    "length",
    "width",
]

MOST_COMMON_MIN_FREQ = 0.05
SINGLE_IDENT_MIN_FREQ = 0.5
SPOOFING_THRESHOLD = 1


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def _norm(col):
    return F.regexp_replace(F.upper(col), "[^A-Z0-9]", "")


def _engine_parts(spark: SparkSession, sf_dir: str):
    """The identity jobs' inputs from the batch pipeline's persisted kernel
    pass (the same cache the full pipeline fills, so a session that also
    ran it — the bench, the query gate's correctness sweep — runs the kernel
    once): attached IDENT records with their seg_id, and the per-segment
    days from the fragment rows. At 100 TB this seam is where a
    storage-backed fragments table read replaces the recompute (PLANS.md
    note unchanged)."""
    out = run_batch_pipeline(token_stream(spark, sf_dir), DEFAULT_PARAMS)
    ident = out.tagged_records.where(
        (F.col("rec_type") == "IDENT")
        & F.col("frag_id").isNotNull()
        & F.col("ident_value").isNotNull()
    ).select(
        "doc_id",
        "seg_id",
        F.to_date("timestamp").alias("date"),
        "msgid",
        "ident_value",
    )
    return ident, _seg_days(out.fragments)


def _ident_field_rows(ident: DataFrame) -> DataFrame:
    """Attached IDENT records -> long-format
    (doc_id, seg_id, date, field, value) rows, value NULL when the
    presence filter drops it. The 'shipname' field is present on every
    attached record, so shipname rows double as the ident_count base."""
    ev = F.substring("msgid", 2, 100).cast("long")
    shipname = F.col("ident_value")
    callsign = F.when(
        ev % 5 != 1, F.concat(F.lit("CS-"), (ev % 7).cast("string"))
    )
    imo = F.when(ev % 4 != 0, (F.lit(1000000) + ev % 9000000).cast("string"))
    length = F.when(ev % 2 == 0, (F.lit(10) + ev % 40).cast("string"))
    width = F.when(ev % 3 == 0, (F.lit(3) + ev % 12).cast("string"))
    exprs = {
        "shipname": shipname,
        "callsign": callsign,
        "imo": imo,
        "n_shipname": _norm(shipname),
        "n_callsign": _norm(callsign),
        "n_imo": F.lpad(imo, 8, "0"),
        "length": length,
        "width": width,
    }
    fv = F.array(
        *[
            F.struct(F.lit(f).alias("field"), exprs[f].alias("value"))
            for f in FIELDS
        ]
    )
    base = ident.select(
        "doc_id", "seg_id", "date", F.explode(fv).alias("fv")
    )
    return base.select(
        "doc_id", "seg_id", "date", "fv.field", "fv.value"
    ).where(F.col("value").isNotNull())


def _seg_days(fragments_with_seg: DataFrame) -> DataFrame:
    """Per-(seg_id, day) POS stats — one fragment per (seg, day) by
    construction of the matcher."""
    return fragments_with_seg.select(
        "seg_id",
        "doc_id",
        F.to_date("timestamp").alias("date"),
        F.col("timestamp").alias("summary_timestamp"),
        F.col("first_msg_timestamp").alias("first_pos_timestamp"),
        F.col("last_msg_timestamp").alias("last_pos_timestamp"),
        F.col("msg_count").alias("pos_count"),
    )


def _ser_field(field: str):
    """counts rows -> 'value:count;...' sorted by value, '' when empty."""
    return F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("field") == field,
                        F.struct(F.col("value"), F.col("cnt")),
                    )
                )
            ),
            lambda s: F.concat_ws(":", s.value, s.cnt),
        ),
        ";",
    ).alias(f"{field}_s")


def q_segment_identity_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ident, segday = _engine_parts(spark, sf_dir)
    counts = (
        _ident_field_rows(ident)
        .groupBy("doc_id", "seg_id", "date", "field", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    arrs = counts.groupBy("doc_id", "seg_id", "date").agg(
        *[_ser_field(f) for f in FIELDS]
    )
    # shipname rows exist for every attached IDENT record -> ident_count
    icounts = (
        counts.where(F.col("field") == "shipname")
        .groupBy("doc_id", "seg_id", "date")
        .agg(F.sum("cnt").cast("long").alias("ident_count"))
    )
    return (
        segday.join(arrs, ["doc_id", "seg_id", "date"], "left")
        .join(icounts, ["doc_id", "seg_id", "date"], "left")
        .select(
            "seg_id",
            "doc_id",
            "date",
            "summary_timestamp",
            "first_pos_timestamp",
            "last_pos_timestamp",
            "pos_count",
            F.coalesce("ident_count", F.lit(0)).cast("long").alias("ident_count"),
            (
                F.col("pos_count") + F.coalesce("ident_count", F.lit(0))
            ).cast("long").alias("msg_count"),
            *[
                F.coalesce(f"{f}_s", F.lit("")).alias(f"{f}_s")
                for f in FIELDS
            ],
        )
    )


def _guid(ssvid, imo, shipname, callsign):
    """vessel_id GUID (assets/util.sql.j2:45-67 recast): md5 of the identity
    tuple, formatted 8-4-4-4-12; IMO dominates when present."""
    payload = F.when(
        imo.isNotNull(), F.concat_ws("|", F.lit("AIS"), ssvid, imo, F.lit(""), F.lit(""))
    ).otherwise(
        F.concat_ws(
            "|",
            F.lit("AIS"),
            ssvid,
            F.lit(""),
            F.coalesce(shipname, F.lit("")),
            F.coalesce(callsign, F.lit("")),
        )
    )
    h = F.md5(payload)
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def q_segment_vessel_daily(
    spark: SparkSession, sf_dir: str, window_days: int | None = None
) -> DataFrame:
    """window_days=None aggregates the whole range; an integer mirrors the
    reference's sliding N-day window (windowStart() = processDate −
    (window_days − 1), segment_vessel_daily.sql.j2:12-13) — the date filter
    prunes partitions on a date-partitioned table."""
    ident, segday = _engine_parts(spark, sf_dir)
    last_day = segday.agg(F.max("date").alias("last_day"))
    if window_days is not None:
        start = F.date_sub(F.col("last_day"), window_days - 1)
        segday = (
            segday.crossJoin(F.broadcast(last_day))
            .where(F.col("date") >= start)
            .drop("last_day")
        )
        ident = (
            ident.crossJoin(F.broadcast(last_day))
            .where(F.col("date") >= start)
            .drop("last_day")
        )
    # ONE hash exchange per input on doc_id (r6, guide §2.4): every
    # aggregation, window and join below keys on a doc_id-prefixed set
    # (the (seg_id, field) windows gain doc_id explicitly — seg_id
    # functionally determines doc_id, so the partitions are identical),
    # letting the whole seg-level AND doc-level analysis run on these two
    # shared exchanges instead of re-shuffling per branch.
    segday = segday.repartition("doc_id")
    frows = _ident_field_rows(ident.repartition("doc_id"))

    # --- window aggregation per segment ---
    seg_scalars = (
        segday.groupBy("doc_id", "seg_id")
        .agg(
            F.max("date").alias("day"),
            F.min("first_pos_timestamp").alias("first_pos_timestamp"),
            F.max("last_pos_timestamp").alias("last_pos_timestamp"),
            F.sum("pos_count").alias("pos_count"),
        )
        .crossJoin(F.broadcast(last_day))
        .where(F.col("day") == F.col("last_day"))
        .drop("last_day")
    )

    # --- mostCommon + minFreqFilter per (seg, field) ---
    # one pass over the field rows feeds the per-seg counts, the per-doc
    # counts AND both ident_count denominators (shipname rows == IDENT rows)
    seg_field_counts = frows.groupBy("doc_id", "seg_id", "field", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    seg_icount = (
        seg_field_counts.where(F.col("field") == "shipname")
        .groupBy("doc_id", "seg_id")
        .agg(F.sum("cnt").cast("long").alias("ident_count"))
    )
    # doc_id added to the partition keys: seg_id -> doc_id is functional
    # (seg ids are per-doc), so the window partitions are unchanged and
    # HashPartitioning(doc_id) satisfies them without a new exchange
    w_top = Window.partitionBy("doc_id", "seg_id", "field").orderBy(
        F.desc("cnt"), F.asc("value")
    )
    w_tot = Window.partitionBy("doc_id", "seg_id", "field")
    seg_top = (
        seg_field_counts.withColumn("rn", F.row_number().over(w_top))
        .withColumn(
            "freq", F.col("cnt") / F.sum("cnt").over(w_tot).cast("double")
        )
        .where(F.col("rn") == 1)
        .join(seg_icount, ["doc_id", "seg_id"], "left")
        .withColumn(
            "keep",
            F.col("cnt") / F.col("ident_count").cast("double")
            > MOST_COMMON_MIN_FREQ,
        )
    )
    smc = seg_top.groupBy("doc_id", "seg_id").agg(
        *[
            F.max(
                F.when(
                    (F.col("field") == f) & F.col("keep"), F.col("value")
                )
            ).alias(f"{f}_v")
            for f in FIELDS
        ],
        *[
            F.round(
                F.max(
                    F.when(
                        (F.col("field") == f) & F.col("keep"), F.col("freq")
                    )
                ),
                6,
            ).alias(f"{f}_f")
            for f in FIELDS
        ],
    )

    # --- ssvid-level mostCommon of the normalized fields ---
    doc_icount = seg_icount.groupBy("doc_id").agg(
        F.sum("ident_count").cast("long").alias("d_ident_count")
    )
    doc_field_counts = (
        seg_field_counts.where(
            F.col("field").isin("n_shipname", "n_callsign", "n_imo")
        )
        .groupBy("doc_id", "field", "value")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w_dtop = Window.partitionBy("doc_id", "field").orderBy(
        F.desc("cnt"), F.asc("value")
    )
    w_dtot = Window.partitionBy("doc_id", "field")
    doc_top = (
        doc_field_counts.withColumn("rn", F.row_number().over(w_dtop))
        .withColumn(
            "freq", F.col("cnt") / F.sum("cnt").over(w_dtot).cast("double")
        )
        .where(F.col("rn") == 1)
        .join(doc_icount, "doc_id")
        .withColumn(
            "keep",
            F.col("cnt") / F.col("d_ident_count").cast("double")
            > MOST_COMMON_MIN_FREQ,
        )
    )
    dmc = doc_top.groupBy("doc_id").agg(
        *[
            F.max(
                F.when((F.col("field") == f) & F.col("keep"), F.col("value"))
            ).alias(f"{f}_v")
            for f in ("n_shipname", "n_callsign", "n_imo")
        ],
        *[
            F.max(
                F.when((F.col("field") == f) & F.col("keep"), F.col("freq"))
            ).alias(f"{f}_f")
            for f in ("n_shipname", "n_callsign", "n_imo")
        ],
    )

    # --- overlap detection over non-noise segment-days ---
    good = segday.where(F.col("pos_count") > SPOOFING_THRESHOLD)
    w_lead = Window.partitionBy("doc_id").orderBy(
        "first_pos_timestamp", "seg_id"
    )
    overlap_docs = (
        good.withColumn(
            "next_start", F.lead("first_pos_timestamp").over(w_lead)
        )
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("last_pos_timestamp") > F.col("next_start"), 1
                ).otherwise(0)
            ).alias("overlap_count")
        )
        .where(F.col("overlap_count") > 0)
        .select("doc_id")
    )

    # --- single-identity ssvids (LEAST of IFNULLed freqs) -> ssvid GUID ---
    single = dmc.where(
        F.least(
            F.coalesce("n_shipname_f", F.lit(1.0)),
            F.coalesce("n_callsign_f", F.lit(1.0)),
            F.coalesce("n_imo_f", F.lit(1.0)),
        )
        > SINGLE_IDENT_MIN_FREQ
    ).select(
        "doc_id",
        _guid(
            F.col("doc_id"),
            F.col("n_imo_v"),
            F.col("n_shipname_v"),
            F.col("n_callsign_v"),
        ).alias("ssvid_vessel_id"),
    )
    no_overlap_single = single.join(
        F.broadcast(overlap_docs), "doc_id", "left_anti"
    )

    # --- final assembly: IFNULL(ssvid guid, per-segment guid) ---
    base = (
        seg_scalars.join(seg_icount, ["doc_id", "seg_id"], "left")
        .join(smc, ["doc_id", "seg_id"], "left")
        .join(F.broadcast(no_overlap_single), "doc_id", "left")
    )
    return base.select(
        F.coalesce(
            "ssvid_vessel_id",
            _guid(
                F.col("doc_id"),
                F.col("n_imo_v"),
                F.col("n_shipname_v"),
                F.col("n_callsign_v"),
            ),
        ).alias("vessel_id"),
        F.col("ssvid_vessel_id").isNotNull().alias("single_ident"),
        "seg_id",
        "doc_id",
        "day",
        "first_pos_timestamp",
        "last_pos_timestamp",
        "pos_count",
        F.coalesce("ident_count", F.lit(0)).cast("long").alias("ident_count"),
        (F.col("pos_count") + F.coalesce("ident_count", F.lit(0)))
        .cast("long")
        .alias("msg_count"),
        *[F.col(f"{f}_v") for f in FIELDS],
        *[F.col(f"{f}_f") for f in FIELDS],
    )


# ---------------------------------------------------------------------------
# The remaining downstream jobs: segment_info, segment_vessel, vessel_info
# (reference assets/segment_info.sql.j2:34-101, segment_vessel.sql.j2:15-36,
# vessel_info.sql.j2:55-118). They consume the DAILY vessel assignment —
# recast: per-(seg, day) GUID from that day's mostCommon'd normalized fields
# (the segment_vessel_daily shard stand-in), so latest-day pick-1 ranking is
# genuinely exercised across days.
# ---------------------------------------------------------------------------

VESSEL_FIELDS = ("n_shipname", "n_callsign", "n_imo")


def _counts_daily(ident: DataFrame) -> DataFrame:
    return (
        _ident_field_rows(ident)
        .groupBy("doc_id", "seg_id", "date", "field", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _most_common_fields(field_counts, icount, keys, fields=FIELDS):
    """mostCommon + minFreqFilter per (keys, field), pivoted to
    {field}_v / {field}_f columns (freq rounded 6 for output)."""
    w_top = Window.partitionBy(*keys, "field").orderBy(
        F.desc("cnt"), F.asc("value")
    )
    w_tot = Window.partitionBy(*keys, "field")
    top = (
        field_counts.withColumn("rn", F.row_number().over(w_top))
        .withColumn(
            "freq", F.col("cnt") / F.sum("cnt").over(w_tot).cast("double")
        )
        .where(F.col("rn") == 1)
        .join(icount, keys, "left")
        .withColumn(
            "keep",
            F.col("cnt") / F.col("ident_count").cast("double")
            > MOST_COMMON_MIN_FREQ,
        )
    )
    return top.groupBy(*keys).agg(
        *[
            F.max(
                F.when((F.col("field") == f) & F.col("keep"), F.col("value"))
            ).alias(f"{f}_v")
            for f in fields
        ],
        *[
            F.round(
                F.max(
                    F.when((F.col("field") == f) & F.col("keep"), F.col("freq"))
                ),
                6,
            ).alias(f"{f}_f")
            for f in fields
        ],
    )


def _vessels_daily(counts: DataFrame, segday: DataFrame) -> DataFrame:
    """Per-(seg, day) daily vessel_id GUID — every active seg-day gets one
    (days with no surviving normalized identity hash the null-field GUID,
    as the reference daily job would)."""
    icounts = (
        counts.where(F.col("field") == "shipname")
        .groupBy("doc_id", "seg_id", "date")
        .agg(F.sum("cnt").alias("ident_count"))
    )
    piv = _most_common_fields(
        counts.where(F.col("field").isin(*VESSEL_FIELDS)),
        icounts,
        ["doc_id", "seg_id", "date"],
        fields=VESSEL_FIELDS,
    )
    return (
        segday.select("doc_id", "seg_id", "date")
        .join(piv, ["doc_id", "seg_id", "date"], "left")
        .select(
            "doc_id",
            "seg_id",
            "date",
            _guid(
                F.col("doc_id"),
                F.col("n_imo_v"),
                F.col("n_shipname_v"),
                F.col("n_callsign_v"),
            ).alias("vessel_id"),
        )
    )


def _best_vessel(vessels: DataFrame) -> DataFrame:
    """Latest-day pick-1: rank each seg's vessel_ids by latest active day
    (W1, segment_info.sql.j2:77-88)."""
    latest = vessels.groupBy("seg_id", "vessel_id").agg(
        F.max("date").alias("latest_day")
    )
    w = Window.partitionBy("seg_id").orderBy(
        F.desc("latest_day"), F.asc("vessel_id")
    )
    return (
        latest.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("seg_id", "vessel_id")
    )


def q_segment_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per seg_id over the full range: whole-range mostCommon of the
    8 fields + the best (latest-day) vessel_id (segment_info.sql.j2)."""
    ident, segday = _engine_parts(spark, sf_dir)
    counts = _counts_daily(ident)
    seg_counts = counts.groupBy("doc_id", "seg_id", "field", "value").agg(
        F.sum("cnt").alias("cnt")
    )
    seg_icount = (
        seg_counts.where(F.col("field") == "shipname")
        .groupBy("doc_id", "seg_id")
        .agg(F.sum("cnt").cast("long").alias("ident_count"))
    )
    smc = _most_common_fields(seg_counts, seg_icount, ["doc_id", "seg_id"])
    scalars = segday.groupBy("doc_id", "seg_id").agg(
        F.min("first_pos_timestamp").alias("first_pos_timestamp"),
        F.max("last_pos_timestamp").alias("last_pos_timestamp"),
        F.sum("pos_count").alias("pos_count"),
    )
    best = _best_vessel(_vessels_daily(counts, segday))
    return (
        scalars.join(seg_icount, ["doc_id", "seg_id"], "left")
        .join(smc, ["doc_id", "seg_id"], "left")
        .join(best, "seg_id")
        .select(
            "vessel_id",
            "seg_id",
            "doc_id",
            "first_pos_timestamp",
            "last_pos_timestamp",
            "pos_count",
            F.coalesce("ident_count", F.lit(0)).cast("long").alias(
                "ident_count"
            ),
            (F.col("pos_count") + F.coalesce("ident_count", F.lit(0)))
            .cast("long")
            .alias("msg_count"),
            *[F.col(f"{f}_v") for f in FIELDS],
            *[F.col(f"{f}_f") for f in FIELDS],
        )
    )


def q_segment_vessel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Many-to-many (seg_id, ssvid, vessel_id) map with active-day counts
    and latest-day rank (segment_vessel.sql.j2:15-36: COUNT(DISTINCT day) +
    MIN/MAX + ROW_NUMBER)."""
    ident, segday = _engine_parts(spark, sf_dir)
    vessels = _vessels_daily(_counts_daily(ident), segday)
    grouped = vessels.groupBy("seg_id", "doc_id", "vessel_id").agg(
        F.countDistinct("date").alias("days"),
        F.min("date").alias("first_date"),
        F.max("date").alias("last_date"),
    )
    w = Window.partitionBy("seg_id").orderBy(
        F.desc("last_date"), F.asc("vessel_id")
    )
    return grouped.withColumn(
        "vessel_id_rank", F.row_number().over(w)
    ).select(
        "seg_id",
        "doc_id",
        "vessel_id",
        "days",
        "first_date",
        "last_date",
        "vessel_id_rank",
    )


def q_vessel_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (vessel_id, ssvid): seg-days regrouped by each segment's
    best vessel_id, whole-range mostCommon per vessel
    (vessel_info.sql.j2:70-118)."""
    ident, segday = _engine_parts(spark, sf_dir)
    counts = _counts_daily(ident)
    best = _best_vessel(_vessels_daily(counts, segday))
    v_counts = (
        counts.join(best, "seg_id")
        .groupBy("doc_id", "vessel_id", "field", "value")
        .agg(F.sum("cnt").alias("cnt"))
    )
    day_icounts = (
        counts.where(F.col("field") == "shipname")
        .groupBy("doc_id", "seg_id")
        .agg(F.sum("cnt").alias("ident_count"))
    )
    v_icount = (
        day_icounts.join(best, "seg_id")
        .groupBy("doc_id", "vessel_id")
        .agg(F.sum("ident_count").cast("long").alias("ident_count"))
    )
    vmc = _most_common_fields(v_counts, v_icount, ["doc_id", "vessel_id"])
    scalars = (
        segday.join(best, "seg_id")
        .groupBy("doc_id", "vessel_id")
        .agg(
            F.min("first_pos_timestamp").alias("first_pos_timestamp"),
            F.max("last_pos_timestamp").alias("last_pos_timestamp"),
            F.sum("pos_count").alias("pos_count"),
        )
    )
    return (
        scalars.join(v_icount, ["doc_id", "vessel_id"], "left")
        .join(vmc, ["doc_id", "vessel_id"], "left")
        .select(
            "vessel_id",
            "doc_id",
            "first_pos_timestamp",
            "last_pos_timestamp",
            "pos_count",
            F.coalesce("ident_count", F.lit(0)).cast("long").alias(
                "ident_count"
            ),
            (F.col("pos_count") + F.coalesce("ident_count", F.lit(0)))
            .cast("long")
            .alias("msg_count"),
            *[F.col(f"{f}_v") for f in FIELDS],
            *[F.col(f"{f}_f") for f in FIELDS],
        )
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (extend the recursive full-segmenter CTEs)
# ---------------------------------------------------------------------------

_IDENT_CTES = f"""
ident_rows AS MATERIALIZED (
    SELECT t.doc_id, m.seg_id, t.day AS date,
           CAST(substr(t.msgid, 2) AS BIGINT) AS ev,
           t.ident_value
    FROM tagged_f t
    JOIN segmap m ON m.doc_id = t.doc_id AND m.frag_id = t.frag_id
    WHERE t.is_ident AND t.ident_value IS NOT NULL
),
field_raw AS MATERIALIZED (
    SELECT doc_id, seg_id, date, ev,
           ident_value AS shipname,
           CASE WHEN ev % 5 <> 1
                THEN 'CS-' || CAST(ev % 7 AS VARCHAR) END AS callsign,
           CASE WHEN ev % 4 <> 0
                THEN CAST(1000000 + ev % 9000000 AS VARCHAR) END AS imo,
           CASE WHEN ev % 2 = 0
                THEN CAST(10 + ev % 40 AS VARCHAR) END AS length,
           CASE WHEN ev % 3 = 0
                THEN CAST(3 + ev % 12 AS VARCHAR) END AS width
    FROM ident_rows
),
fieldvals AS MATERIALIZED (
    SELECT doc_id, seg_id, date, field, value FROM (
        SELECT doc_id, seg_id, date, 'shipname' AS field, shipname AS value
        FROM field_raw
        UNION ALL
        SELECT doc_id, seg_id, date, 'callsign', callsign FROM field_raw
        UNION ALL
        SELECT doc_id, seg_id, date, 'imo', imo FROM field_raw
        UNION ALL
        SELECT doc_id, seg_id, date, 'n_shipname',
               regexp_replace(upper(shipname), '[^A-Z0-9]', '', 'g')
        FROM field_raw
        UNION ALL
        SELECT doc_id, seg_id, date, 'n_callsign',
               regexp_replace(upper(callsign), '[^A-Z0-9]', '', 'g')
        FROM field_raw
        UNION ALL
        SELECT doc_id, seg_id, date, 'n_imo', lpad(imo, 8, '0') FROM field_raw
        UNION ALL
        SELECT doc_id, seg_id, date, 'length', length FROM field_raw
        UNION ALL
        SELECT doc_id, seg_id, date, 'width', width FROM field_raw
    ) WHERE value IS NOT NULL
),
segday AS MATERIALIZED (
    SELECT seg_id, doc_id, date,
           CAST(date AS TIMESTAMP)  AS summary_timestamp,
           first_msg_timestamp      AS first_pos_timestamp,
           last_msg_timestamp       AS last_pos_timestamp,
           msg_count                AS pos_count
    FROM frags_seg
)
"""


def _o_ser(field: str) -> str:
    return (
        f"coalesce(string_agg(value || ':' || CAST(cnt AS VARCHAR), ';' "
        f"ORDER BY value) FILTER (WHERE field = '{field}'), '') AS {field}_s"
    )


def _oracle_identity_daily() -> str:
    sers = ",\n           ".join(_o_ser(f) for f in FIELDS)
    return f"""
WITH RECURSIVE {full_segmenter_ctes(DEFAULT_PARAMS)},
{_IDENT_CTES.strip().rstrip()},
counts AS (
    SELECT doc_id, seg_id, date, field, value,
           CAST(count(*) AS BIGINT) AS cnt
    FROM fieldvals GROUP BY doc_id, seg_id, date, field, value
),
arrs AS (
    SELECT doc_id, seg_id, date,
           {sers}
    FROM counts GROUP BY doc_id, seg_id, date
),
icounts AS (
    SELECT doc_id, seg_id, date, CAST(count(*) AS BIGINT) AS ident_count
    FROM ident_rows GROUP BY doc_id, seg_id, date
)
SELECT s.seg_id, s.doc_id, s.date, s.summary_timestamp,
       s.first_pos_timestamp, s.last_pos_timestamp, s.pos_count,
       CAST(coalesce(i.ident_count, 0) AS BIGINT) AS ident_count,
       CAST(s.pos_count + coalesce(i.ident_count, 0) AS BIGINT) AS msg_count,
       {", ".join(f"coalesce(a.{f}_s, '') AS {f}_s" for f in FIELDS)}
FROM segday s
LEFT JOIN arrs a ON a.doc_id = s.doc_id AND a.seg_id = s.seg_id
                AND a.date = s.date
LEFT JOIN icounts i ON i.doc_id = s.doc_id AND i.seg_id = s.seg_id
                   AND i.date = s.date
"""


def _o_guid(ssvid: str, imo: str, shipname: str, callsign: str) -> str:
    payload = (
        f"CASE WHEN {imo} IS NOT NULL "
        f"THEN 'AIS|' || {ssvid} || '|' || {imo} || '||' "
        f"ELSE 'AIS|' || {ssvid} || '||' || coalesce({shipname}, '') || '|' "
        f"     || coalesce({callsign}, '') END"
    )
    h = f"md5({payload})"
    return (
        f"(substr({h}, 1, 8) || '-' || substr({h}, 9, 4) || '-' || "
        f"substr({h}, 13, 4) || '-' || substr({h}, 17, 4) || '-' || "
        f"substr({h}, 21, 12))"
    )


def _oracle_vessel_daily(window_days: int | None = None) -> str:
    seg_v = ",\n           ".join(
        f"max(CASE WHEN field = '{f}' AND keep THEN value END) AS {f}_v"
        for f in FIELDS
    )
    seg_f = ",\n           ".join(
        f"round(max(CASE WHEN field = '{f}' AND keep THEN freq END), 6)"
        f" AS {f}_f"
        for f in FIELDS
    )
    doc_v = ",\n           ".join(
        f"max(CASE WHEN field = '{f}' AND keep THEN value END) AS {f}_v"
        for f in ("n_shipname", "n_callsign", "n_imo")
    )
    doc_f = ",\n           ".join(
        f"max(CASE WHEN field = '{f}' AND keep THEN freq END) AS {f}_f"
        for f in ("n_shipname", "n_callsign", "n_imo")
    )
    out_vf = ", ".join(
        [f"b.{f}_v" for f in FIELDS] + [f"b.{f}_f" for f in FIELDS]
    )
    if window_days is None:
        wctes = ""
        seg_t, ir_t, fv_t = "segday", "ident_rows", "fieldvals"
    else:
        # reference windowStart() = processDate - (window_days - 1)
        # (segment_vessel_daily.sql.j2:12-13); prunes date partitions
        wstart = f"(SELECT max(date) - {window_days - 1} FROM segday)"
        wctes = f"""
segday_w AS (SELECT * FROM segday WHERE date >= {wstart}),
ident_rows_w AS (SELECT * FROM ident_rows WHERE date >= {wstart}),
fieldvals_w AS (SELECT * FROM fieldvals WHERE date >= {wstart}),"""
        seg_t, ir_t, fv_t = "segday_w", "ident_rows_w", "fieldvals_w"
    return f"""
WITH RECURSIVE {full_segmenter_ctes(DEFAULT_PARAMS)},
{_IDENT_CTES.strip().rstrip()},{wctes}
seg_scalars AS (
    SELECT doc_id, seg_id,
           max(date) AS day,
           min(first_pos_timestamp) AS first_pos_timestamp,
           max(last_pos_timestamp)  AS last_pos_timestamp,
           CAST(sum(pos_count) AS BIGINT) AS pos_count
    FROM {seg_t} GROUP BY doc_id, seg_id
    HAVING max(date) = (SELECT max(date) FROM segday)
),
seg_icount AS (
    SELECT doc_id, seg_id, CAST(count(*) AS BIGINT) AS ident_count
    FROM {ir_t} GROUP BY doc_id, seg_id
),
seg_field_counts AS (
    SELECT doc_id, seg_id, field, value, CAST(count(*) AS BIGINT) AS cnt
    FROM {fv_t} GROUP BY doc_id, seg_id, field, value
),
seg_top AS (
    SELECT c.*,
           c.cnt / CAST(i.ident_count AS DOUBLE) > {MOST_COMMON_MIN_FREQ}
               AS keep
    FROM (
        SELECT *,
               row_number() OVER (PARTITION BY seg_id, field
                                  ORDER BY cnt DESC, value ASC) AS rn,
               cnt / CAST(sum(cnt) OVER (PARTITION BY seg_id, field)
                          AS DOUBLE) AS freq
        FROM seg_field_counts
    ) c
    LEFT JOIN seg_icount i ON i.doc_id = c.doc_id AND i.seg_id = c.seg_id
    WHERE c.rn = 1
),
smc AS (
    SELECT doc_id, seg_id,
           {seg_v},
           {seg_f}
    FROM seg_top GROUP BY doc_id, seg_id
),
doc_icount AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS d_ident_count
    FROM {ir_t} GROUP BY doc_id
),
doc_top AS (
    SELECT c.*,
           c.cnt / CAST(i.d_ident_count AS DOUBLE) > {MOST_COMMON_MIN_FREQ}
               AS keep
    FROM (
        SELECT doc_id, field, value, CAST(count(*) AS BIGINT) AS cnt,
               row_number() OVER (PARTITION BY doc_id, field
                                  ORDER BY count(*) DESC, value ASC) AS rn,
               count(*) / CAST(sum(count(*)) OVER (PARTITION BY doc_id, field)
                               AS DOUBLE) AS freq
        FROM {fv_t}
        WHERE field IN ('n_shipname', 'n_callsign', 'n_imo')
        GROUP BY doc_id, field, value
    ) c
    JOIN doc_icount i ON i.doc_id = c.doc_id
    WHERE c.rn = 1
),
dmc AS (
    SELECT doc_id,
           {doc_v},
           {doc_f}
    FROM doc_top GROUP BY doc_id
),
overlap_docs AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               lead(first_pos_timestamp) OVER (
                   PARTITION BY doc_id
                   ORDER BY first_pos_timestamp, seg_id) AS next_start,
               last_pos_timestamp
        FROM {seg_t} WHERE pos_count > {SPOOFING_THRESHOLD}
    )
    GROUP BY doc_id
    HAVING sum(CASE WHEN last_pos_timestamp > next_start THEN 1 ELSE 0 END) > 0
),
single_ident AS (
    SELECT doc_id,
           {_o_guid("doc_id", "n_imo_v", "n_shipname_v", "n_callsign_v")}
               AS ssvid_vessel_id
    FROM dmc
    WHERE least(coalesce(n_shipname_f, 1.0),
                coalesce(n_callsign_f, 1.0),
                coalesce(n_imo_f, 1.0)) > {SINGLE_IDENT_MIN_FREQ}
),
no_overlap_single AS (
    SELECT s.* FROM single_ident s
    ANTI JOIN overlap_docs o ON s.doc_id = o.doc_id
)
SELECT coalesce(n.ssvid_vessel_id,
        {_o_guid("b.doc_id", "b.n_imo_v", "b.n_shipname_v", "b.n_callsign_v")})
           AS vessel_id,
       n.ssvid_vessel_id IS NOT NULL AS single_ident,
       b.seg_id, b.doc_id, b.day,
       b.first_pos_timestamp, b.last_pos_timestamp, b.pos_count,
       CAST(coalesce(i.ident_count, 0) AS BIGINT) AS ident_count,
       CAST(b.pos_count + coalesce(i.ident_count, 0) AS BIGINT) AS msg_count,
       {out_vf}
FROM (
    SELECT s.*, {", ".join(f"m.{f}_v" for f in FIELDS)},
           {", ".join(f"m.{f}_f" for f in FIELDS)}
    FROM seg_scalars s
    LEFT JOIN smc m ON m.doc_id = s.doc_id AND m.seg_id = s.seg_id
) b
LEFT JOIN seg_icount i ON i.doc_id = b.doc_id AND i.seg_id = b.seg_id
LEFT JOIN no_overlap_single n ON n.doc_id = b.doc_id
"""


def _o_most_common(src: str, icount: str, keys: list[str],
                   fields=FIELDS) -> str:
    """SQL mirror of _most_common_fields: top-1 per (keys, field) with freq
    and the minFreq keep flag, pivoted to {f}_v / {f}_f (rounded 6)."""
    ks = ", ".join(keys)
    on = " AND ".join(f"i.{k} = c.{k}" for k in keys)
    vs = ",\n           ".join(
        f"max(CASE WHEN field = '{f}' AND keep THEN value END) AS {f}_v"
        for f in fields
    )
    fs = ",\n           ".join(
        f"round(max(CASE WHEN field = '{f}' AND keep THEN freq END), 6)"
        f" AS {f}_f"
        for f in fields
    )
    return f"""(
    SELECT {ks}, {vs}, {fs}
    FROM (
        SELECT c.*,
               c.cnt / CAST(i.ident_count AS DOUBLE) > {MOST_COMMON_MIN_FREQ}
                   AS keep
        FROM (
            SELECT *,
                   row_number() OVER (PARTITION BY {ks}, field
                                      ORDER BY cnt DESC, value ASC) AS rn,
                   cnt / CAST(sum(cnt) OVER (PARTITION BY {ks}, field)
                              AS DOUBLE) AS freq
            FROM {src}
        ) c
        LEFT JOIN {icount} i ON {on}
        WHERE c.rn = 1
    ) GROUP BY {ks}
)"""


# shared daily-vessel CTE chain for the downstream jobs
_VESSEL_CTES = f"""
counts AS MATERIALIZED (
    SELECT doc_id, seg_id, date, field, value,
           CAST(count(*) AS BIGINT) AS cnt
    FROM fieldvals GROUP BY doc_id, seg_id, date, field, value
),
icounts_d AS MATERIALIZED (
    SELECT doc_id, seg_id, date, CAST(sum(cnt) AS BIGINT) AS ident_count
    FROM counts WHERE field = 'shipname' GROUP BY doc_id, seg_id, date
),
vdaily_piv AS MATERIALIZED {_o_most_common(
    "(SELECT * FROM counts WHERE field IN ('n_shipname','n_callsign','n_imo'))",
    "icounts_d", ["doc_id", "seg_id", "date"], fields=VESSEL_FIELDS)},
vessels AS MATERIALIZED (
    SELECT s.doc_id, s.seg_id, s.date,
           {_o_guid("s.doc_id", "p.n_imo_v", "p.n_shipname_v",
                    "p.n_callsign_v")} AS vessel_id
    FROM segday s
    LEFT JOIN vdaily_piv p ON p.doc_id = s.doc_id AND p.seg_id = s.seg_id
                          AND p.date = s.date
),
best_vessel AS MATERIALIZED (
    SELECT seg_id, vessel_id FROM (
        SELECT seg_id, vessel_id,
               row_number() OVER (PARTITION BY seg_id
                                  ORDER BY latest_day DESC, vessel_id)
                   AS rn
        FROM (SELECT seg_id, vessel_id, max(date) AS latest_day
              FROM vessels GROUP BY seg_id, vessel_id)
    ) WHERE rn = 1
),
seg_counts AS MATERIALIZED (
    SELECT doc_id, seg_id, field, value, CAST(sum(cnt) AS BIGINT) AS cnt
    FROM counts GROUP BY doc_id, seg_id, field, value
),
seg_icount_w AS MATERIALIZED (
    SELECT doc_id, seg_id, CAST(sum(cnt) AS BIGINT) AS ident_count
    FROM seg_counts WHERE field = 'shipname' GROUP BY doc_id, seg_id
)
"""

_OUT_VF = ", ".join([f"m.{f}_v" for f in FIELDS] + [f"m.{f}_f" for f in FIELDS])


def _oracle_segment_info() -> str:
    return f"""
WITH RECURSIVE {full_segmenter_ctes(DEFAULT_PARAMS)},
{_IDENT_CTES.strip().rstrip()},
{_VESSEL_CTES.strip().rstrip()},
smc AS {_o_most_common("seg_counts", "seg_icount_w", ["doc_id", "seg_id"])},
scalars AS (
    SELECT doc_id, seg_id,
           min(first_pos_timestamp) AS first_pos_timestamp,
           max(last_pos_timestamp)  AS last_pos_timestamp,
           CAST(sum(pos_count) AS BIGINT) AS pos_count
    FROM segday GROUP BY doc_id, seg_id
)
SELECT b.vessel_id, s.seg_id, s.doc_id,
       s.first_pos_timestamp, s.last_pos_timestamp, s.pos_count,
       CAST(coalesce(i.ident_count, 0) AS BIGINT) AS ident_count,
       CAST(s.pos_count + coalesce(i.ident_count, 0) AS BIGINT) AS msg_count,
       {_OUT_VF}
FROM scalars s
LEFT JOIN seg_icount_w i ON i.doc_id = s.doc_id AND i.seg_id = s.seg_id
LEFT JOIN smc m ON m.doc_id = s.doc_id AND m.seg_id = s.seg_id
JOIN best_vessel b ON b.seg_id = s.seg_id
"""


def _oracle_segment_vessel() -> str:
    return f"""
WITH RECURSIVE {full_segmenter_ctes(DEFAULT_PARAMS)},
{_IDENT_CTES.strip().rstrip()},
{_VESSEL_CTES.strip().rstrip()}
SELECT seg_id, doc_id, vessel_id,
       CAST(count(DISTINCT date) AS BIGINT) AS days,
       min(date) AS first_date,
       max(date) AS last_date,
       CAST(row_number() OVER (
           PARTITION BY seg_id ORDER BY max(date) DESC, vessel_id
       ) AS BIGINT) AS vessel_id_rank
FROM vessels
GROUP BY seg_id, doc_id, vessel_id
"""


def _oracle_vessel_info() -> str:
    return f"""
WITH RECURSIVE {full_segmenter_ctes(DEFAULT_PARAMS)},
{_IDENT_CTES.strip().rstrip()},
{_VESSEL_CTES.strip().rstrip()},
v_counts AS (
    SELECT c.doc_id, b.vessel_id, c.field, c.value,
           CAST(sum(c.cnt) AS BIGINT) AS cnt
    FROM counts c JOIN best_vessel b ON b.seg_id = c.seg_id
    GROUP BY c.doc_id, b.vessel_id, c.field, c.value
),
v_icount AS (
    SELECT i.doc_id, b.vessel_id,
           CAST(sum(i.ident_count) AS BIGINT) AS ident_count
    FROM (
        SELECT doc_id, seg_id, CAST(sum(cnt) AS BIGINT) AS ident_count
        FROM counts WHERE field = 'shipname' GROUP BY doc_id, seg_id
    ) i JOIN best_vessel b ON b.seg_id = i.seg_id
    GROUP BY i.doc_id, b.vessel_id
),
vmc AS {_o_most_common("v_counts", "v_icount", ["doc_id", "vessel_id"])},
v_scalars AS (
    SELECT s.doc_id, b.vessel_id,
           min(s.first_pos_timestamp) AS first_pos_timestamp,
           max(s.last_pos_timestamp)  AS last_pos_timestamp,
           CAST(sum(s.pos_count) AS BIGINT) AS pos_count
    FROM segday s JOIN best_vessel b ON b.seg_id = s.seg_id
    GROUP BY s.doc_id, b.vessel_id
)
SELECT s.vessel_id, s.doc_id,
       s.first_pos_timestamp, s.last_pos_timestamp, s.pos_count,
       CAST(coalesce(i.ident_count, 0) AS BIGINT) AS ident_count,
       CAST(s.pos_count + coalesce(i.ident_count, 0) AS BIGINT) AS msg_count,
       {_OUT_VF}
FROM v_scalars s
LEFT JOIN v_icount i ON i.doc_id = s.doc_id AND i.vessel_id = s.vessel_id
LEFT JOIN vmc m ON m.doc_id = s.doc_id AND m.vessel_id = s.vessel_id
"""


def q_validate_vessel_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA check: no vessel_id may map to more than one ssvid (doc_id here)
    — reference assets/validate_vessel_identity.sql.j2:1-17 (GROUP BY
    vessel_id, HAVING COUNT(DISTINCT ssvid) > 1, boolean emptiness).

    Returns one row: violation count + validity flag. Runs over the
    vessels-daily map (same source the reference's segment_vessel asset
    feeds the check from); the HAVING-side aggregate is a plain two-level
    hash agg — partial map-side combine, one shuffle on vessel_id, then a
    global count, so it scales as a linear scan at any corpus size."""
    ident, segday = _engine_parts(spark, sf_dir)
    vessels = _vessels_daily(_counts_daily(ident), segday)
    bad = (
        vessels.groupBy("vessel_id")
        .agg(F.countDistinct("doc_id").alias("count_ssvid"))
        .where(F.col("count_ssvid") > 1)
    )
    return bad.agg(
        F.count("*").cast("long").alias("violations"),
        (F.count("*") == F.lit(0)).alias("is_valid"),
    )


def _oracle_validate_vessel_identity() -> str:
    return f"""
WITH RECURSIVE {full_segmenter_ctes(DEFAULT_PARAMS)},
{_IDENT_CTES.strip().rstrip()},
{_VESSEL_CTES.strip().rstrip()}
SELECT CAST(count(*) AS BIGINT) AS violations,
       count(*) = 0 AS is_valid
FROM (
    SELECT vessel_id
    FROM vessels
    GROUP BY vessel_id
    HAVING count(DISTINCT doc_id) > 1
)
"""


def q_segment_vessel_daily_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual windowed form: aggregate the trailing 7 days
    only (windowStart() = processDate - 6) — the date filter prunes
    partitions on a date-partitioned table."""
    return q_segment_vessel_daily(spark, sf_dir, window_days=7)


QUERIES = {
    "segment_identity_daily": q_segment_identity_daily,
    "segment_vessel_daily": q_segment_vessel_daily,
    "segment_vessel_daily_7d": q_segment_vessel_daily_7d,
    "segment_info": q_segment_info,
    "segment_vessel": q_segment_vessel,
    "vessel_info": q_vessel_info,
    "validate_vessel_identity": q_validate_vessel_identity,
}

ORACLES = {
    "segment_identity_daily": _oracle_identity_daily(),
    "segment_vessel_daily": _oracle_vessel_daily(),
    "segment_vessel_daily_7d": _oracle_vessel_daily(window_days=7),
    "segment_info": _oracle_segment_info(),
    "segment_vessel": _oracle_segment_vessel(),
    "vessel_info": _oracle_vessel_info(),
    "validate_vessel_identity": _oracle_validate_vessel_identity(),
}
