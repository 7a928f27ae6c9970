"""Temporal / incremental-pipeline operators: as-of join, time-bucket
rollup (hypertable-style continuous aggregate), merge-upsert, and a
partition-pruned parquet sink round-trip.

These extend the reference's append-only result store
(Proof.scala:147-151) toward what its pipeline would need at scale:
point-in-time enrichment, multi-resolution time rollups, CDC-style
upsert into the store instead of blind append, and a date/type-
partitioned store layout so downstream queries prune.

Scale notes: the as-of join is one hash shuffle + per-key sort (see
operators/asof.py — nothing quadratic); the rollup is a partial-agg
groupBy on (bucket, type); the upsert is a single full-outer
equi-join (broadcast when the delta is small); the partitioned sink
writes one directory per partition value so a filtered read scans
only matching files (PartitionFilters, verified in
tests/test_plan_shape.py).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, sql_dround
from ..operators.asof import asof_join
from ..sources import load_table
from ..storage import fixture_base
from .registry import query

_VAL = "CAST(value AS DECIMAL(18,6))"


@query(
    "asof_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts,
                      value AS click_value
               FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.click_id, c.click_value
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id AND c.click_ts <= p.ts
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id
        ORDER BY c.click_ts DESC, c.click_id DESC) = 1
    """,
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase event picks up the user's
    most recent click at-or-before it (union+window — one shuffle,
    never a range-join explosion; operators/asof.py)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "ts",
        F.col("value").alias("click_value"),
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        ts="ts",
        right_payload=["click_id", "click_value"],
        tiebreak="click_id",
    )


@query(
    "time_bucket_rollup",
    oracle=f"""
    SELECT CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 AS bucket_epoch,
           event_type,
           count(*) AS n_events,
           CAST(sum({_VAL}) AS DOUBLE) AS sum_value,
           floor(CAST(avg(value) AS DOUBLE) * 10000 + 0.5) / 10000 AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: arbitrary-width time
    buckets (15 min — not expressible with date_trunc) × event_type.
    Partial aggregation makes the shuffle carry one row per
    (bucket, type) per task; value sums run in exact DECIMAL."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 900) * 900).cast("bigint")
    return ev.groupBy(
        bucket.alias("bucket_epoch"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        dround(F.avg("value").cast("double"), 4).alias("avg_value"),
    )


@query(
    "merge_upsert",
    oracle="""
    WITH delta AS (
        SELECT o_orderkey, 'P' AS o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(1.10 AS DECIMAL(3,2)) AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 20000000, 'N' AS o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(0.50 AS DECIMAL(3,2)) AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 0
    )
    SELECT COALESCE(d.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           COALESCE(d.o_totalprice, b.o_totalprice) AS o_totalprice
    FROM orders b FULL OUTER JOIN delta d USING (o_orderkey)
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics (update-if-matched / insert-if-not) as one
    full-outer equi-join + per-column COALESCE preferring the delta —
    the idempotent replacement for the reference's blind Parquet
    append (Proof.scala:147-151). One shuffle on the merge key; AQE
    broadcasts the delta when it is small."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    updates = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("P").alias("o_orderstatus"),
        (price_dec * F.lit(1.10).cast("decimal(3,2)")).cast("double").alias("o_totalprice"),
    )
    inserts = base.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        (price_dec * F.lit(0.50).cast("decimal(3,2)")).cast("double").alias("o_totalprice"),
    )
    delta = updates.unionByName(inserts)
    d = delta.select(
        F.col("o_orderkey"),
        F.col("o_orderstatus").alias("d_status"),
        F.col("o_totalprice").alias("d_price"),
    )
    return (
        base.join(d, "o_orderkey", "full_outer")
        .select(
            "o_orderkey",
            F.coalesce("d_status", "o_orderstatus").alias("o_orderstatus"),
            F.coalesce("d_price", "o_totalprice").alias("o_totalprice"),
        )
    )


@query(
    "partitioned_sink_roundtrip",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_purchases,
           CAST(sum({_VAL}) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet store layout: write events partitioned by
    event_type (the scale replacement for the reference's
    repartition(1) single file, Proof.scala:148), read back with a
    partition filter — only the matching directory is scanned
    (PartitionFilters; asserted in tests/test_plan_shape.py) — and
    aggregate. Hash-matches the direct aggregation."""
    ev = load_table(spark, sf_dir, "events")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"rg_part_events_{tag}")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# SCD2 (slowly-changing-dimension type 2) interval build: collapse an
# event stream to state-change rows with [valid_from, valid_to)
# validity — the standard shape for point-in-time dimension joins
# (the asof_join above is its read-side complement).
# --------------------------------------------------------------------------
@query(
    "scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point compression + lead() interval close. Two windows
    over the same (user_id | ts) partitioning — Catalyst reuses one
    sort+shuffle for both; per-user state is bounded, no global sort."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", "event_type", "ts", "event_id")
    )
    valid_to = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).alias("is_current"),
    )


# --------------------------------------------------------------------------
# Calendar spine gap-fill (dense daily series per event type)
# --------------------------------------------------------------------------
@query(
    "time_spine_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT min(date_trunc('day', ts)) AS d0, max(date_trunc('day', ts)) AS d1
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, s.day, coalesce(d.n, 0) AS n_events
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
    """,
)
def time_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily time series: a generated calendar spine (sequence +
    explode over the 1-row min/max bounds) crossed with the distinct
    type dimension, left-joined against the real daily counts so
    missing days appear as zeros — the standard shape feeding
    forecasting / monitoring off an event log.

    Scale: both spine (days) and type dimension are provably tiny
    derived frames; the only full-data work is the daily aggregate.
    The broadcast cross of the two tiny frames is the intended plan
    (sweep skip-listed)."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.date_trunc("day", "ts")).alias("d0"),
        F.max(F.date_trunc("day", "ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = e.select("event_type").distinct()
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(F.broadcast(types))
        .join(daily, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce("n", F.lit(0)).alias("n_events")
        )
    )


# --------------------------------------------------------------------------
# Incremental rollup maintenance (mergeable partial-aggregate states)
# --------------------------------------------------------------------------
@query(
    "incremental_rollup_merge",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(min(value) AS DOUBLE) AS min_value,
           CAST(max(value) AS DOUBLE) AS max_value
    FROM events GROUP BY 1
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the rollup of the already-
    materialized history (ts < split) MERGED with the delta rollup
    (ts ≥ split) must equal the full recompute — which is exactly what
    the oracle checks. count/sum/min/max partials merge by
    sum/sum/min/max; at 100 TB you persist the history-side state and
    only ever aggregate the new partition. The merge is a union of two
    tiny grouped frames + one re-aggregation."""
    e = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-15 00:00:00").cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = rollup(e.filter(F.col("ts") < split))
    delta = rollup(e.filter(F.col("ts") >= split))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").cast("double").alias("total_value"),
            F.min("mn").cast("double").alias("min_value"),
            F.max("mx").cast("double").alias("max_value"),
        )
    )


# --------------------------------------------------------------------------
# Nearest as-of join (both directions, pick the closer side)
# --------------------------------------------------------------------------
@query(
    "asof_join_nearest",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, c.click_id, c.click_ts
    FROM p LEFT JOIN c ON c.user_id = p.user_id
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id
        ORDER BY abs(epoch_us(p.ts) - epoch_us(c.click_ts)) ASC,
                 c.click_ts ASC, c.click_id DESC) = 1
    """,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: each purchase picks the user's click closest
    in time, before OR after (ties: the earlier click, then greatest
    click_id — matching both directional joins' tiebreak). Composed as
    one backward + one forward as-of (operators/asof.py, direction=),
    each a single shuffle + per-key sort; the oracle's LEFT JOIN over
    all same-user pairs is the O(n·m) formulation this avoids.
    Distances compare in integer microseconds (unix_micros /
    epoch_us), never float seconds."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    back = asof_join(
        purchases, clicks, on="user_id", ts=("ts", "click_ts"),
        right_payload=["click_id", "click_ts"], tiebreak="click_id",
    ).withColumnsRenamed({"click_id": "b_id", "click_ts": "b_ts"})
    both = asof_join(
        back, clicks, on="user_id", ts=("ts", "click_ts"),
        right_payload=["click_id", "click_ts"], tiebreak="click_id",
        direction="forward",
    ).withColumnsRenamed({"click_id": "f_id", "click_ts": "f_ts"})
    um = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    d_back = um("ts") - um("b_ts")
    d_fwd = um("f_ts") - um("ts")
    pick_back = F.col("f_ts").isNull() | (
        F.col("b_ts").isNotNull() & (d_back <= d_fwd)
    )
    return both.select(
        "event_id", "user_id", "ts",
        F.when(pick_back, F.col("b_id")).otherwise(F.col("f_id")).alias("click_id"),
        F.when(pick_back, F.col("b_ts")).otherwise(F.col("f_ts")).alias("click_ts"),
    )


# --------------------------------------------------------------------------
# Interval overlap merge (gaps-and-islands over real intervals)
# --------------------------------------------------------------------------
@query(
    "interval_merge_islands",
    oracle="""
    WITH iv AS (SELECT user_id, event_id, ts AS s,
                       ts + INTERVAL 30 MINUTE AS e
                FROM events),
    marked AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= s
                  THEN 0 ELSE 1 END AS is_new
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    )
    SELECT user_id, CAST(island AS BIGINT) AS island_id,
           min(s) AS island_start, max(e) AS island_end,
           count(*) AS n_intervals
    FROM isl GROUP BY user_id, island
    """,
)
def interval_merge_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user activity intervals ([ts, ts+30min])
    into islands: an interval starts a new island iff it begins after
    the running max end of everything before it. One hash shuffle on
    user_id; both windows share the same (user | s, event_id) sort, so
    Catalyst plans a single exchange+sort. This generalizes
    sessionize_events from point gaps to real interval overlap — the
    building block for downtime/coverage reports."""
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id", "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("e"),
    )
    order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "is_new",
        F.when(prev_max_e >= F.col("s"), 0).otherwise(1),
    )
    island = F.sum("is_new").over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.withColumn("island_id", island.cast("bigint"))
        .groupBy("user_id", "island_id")
        .agg(
            F.min("s").alias("island_start"),
            F.max("e").alias("island_end"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
    )


# --------------------------------------------------------------------------
# Time-weighted average (TWAP-style, exact integer-micros weights)
# --------------------------------------------------------------------------
@query(
    "time_weighted_avg",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS t_next
      FROM events
    )
    SELECT user_id,
           count(*) AS n_segments,
           {sql_dround(
             "CAST(sum(CAST(value AS DECIMAL(20,6)) * CAST(t_next - t AS DECIMAL(14,0))) AS DOUBLE)"
             " / CAST(sum(CAST(t_next - t AS DECIMAL(14,0))) AS DOUBLE)", 6)}
             AS twap_value
    FROM seq
    WHERE t_next IS NOT NULL
    GROUP BY user_id
    """,
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user: each reading is
    weighted by how long it was current (duration to the next event,
    in exact integer microseconds; the final open-ended reading drops
    out, as in any TWAP). Numerator and denominator both accumulate in
    DECIMAL, so the merge order of partial aggregates can't change the
    result — the float-determinism discipline every money/metric sum
    in this engine follows. One window + one groupBy over the same
    user partitioning."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = e.select(
        "user_id", "value", t.alias("t"), F.lead(t).over(w).alias("t_next")
    ).filter(F.col("t_next").isNotNull())
    dt = (F.col("t_next") - F.col("t")).cast("decimal(14,0)")
    num = F.sum(F.col("value").cast("decimal(20,6)") * dt).cast("double")
    den = F.sum(dt).cast("double")
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        dround(num / den, 6).alias("twap_value"),
    )


# --------------------------------------------------------------------------
# Keyed interval-overlap join (interval × interval, equi-key residual)
# --------------------------------------------------------------------------
@query(
    "join_interval_overlap",
    oracle="""
    WITH v AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS v_day,
             min(ts) AS v_start, max(ts) AS v_end
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, strftime(ts, '%Y-%m-%d')
    ),
    p AS (
      SELECT user_id, strftime(ts, '%Y-%m-%d') AS p_day,
             min(ts) AS p_start, max(ts) AS p_end
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, strftime(ts, '%Y-%m-%d')
    )
    SELECT v.user_id, v.v_day, p.p_day,
           (epoch_us(least(v.v_end, p.p_end))
            - epoch_us(greatest(v.v_start, p.p_start))) AS overlap_us
    FROM v JOIN p ON v.user_id = p.user_id
     AND v.v_start <= p.p_end AND p.p_start <= v.v_end
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join: per-user daily 'view' activity
    intervals against 'purchase' activity intervals, emitting the
    overlap duration (exact integer microseconds — no float time
    math). Complements the two existing range-join spellings:
    `join_theta_range` (bounded-build theta), `join_range_binned`
    (point-in-interval via bin replication). Here both sides are
    INTERVALS but carry an equi-key (user_id), so the plan is a
    shuffle hash-join on the key with the overlap predicate as a
    cheap residual — the canonical keyed temporal-overlap shape. With
    NO shared key, the scale path is the bin-replication pattern of
    `join_range_binned` applied to both sides plus a dedup on
    (interval_a, interval_b) since overlapping pairs meet in every
    shared bin."""
    ev = load_table(spark, sf_dir, "events")

    def _daily(ev_type: str, prefix: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == ev_type)
            .groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias(f"{prefix}_day"))
            .agg(
                F.min("ts").alias(f"{prefix}_start"),
                F.max("ts").alias(f"{prefix}_end"),
            )
        )

    v = _daily("view", "v")
    p = _daily("purchase", "p")
    joined = v.join(
        p,
        (v.user_id == p.user_id)
        & (F.col("v_start") <= F.col("p_end"))
        & (F.col("p_start") <= F.col("v_end")),
    )
    return joined.select(
        v.user_id,
        "v_day",
        "p_day",
        # fixture ts is TIMESTAMP_NTZ; under the engine's pinned UTC
        # session tz the cast to TIMESTAMP is value-preserving, and
        # unix_micros then yields the exact integer microsecond epoch.
        (
            F.unix_micros(F.least("v_end", "p_end").cast("timestamp"))
            - F.unix_micros(F.greatest("v_start", "p_start").cast("timestamp"))
        ).alias("overlap_us"),
    )


# --------------------------------------------------------------------------
# OHLC resample: first/last/extremes per time bucket (financial bars)
# --------------------------------------------------------------------------
@query(
    "time_bucket_ohlc",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket_epoch,
           event_type,
           arg_min(value, ts + to_microseconds(event_id)) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ts + to_microseconds(event_id)) AS close,
           count(*) AS n_ticks,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
    FROM events
    GROUP BY 1, 2
    """,
)
def time_bucket_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling (the financial-bars shape of time_bucket_rollup):
    per hour × type, the first/last values by event time plus extremes,
    tick count and exact-DECIMAL volume. open/close use min_by/max_by
    on the event-time order — PARTIAL-AGGREGABLE (each task keeps one
    candidate, the merge picks the winner), where the textbook
    row_number() spelling forces a full per-bucket sort. The
    (ts, event_id) order is encoded as ts + event_id µs on both
    engines — a total order that stays a single orderable scalar for
    the min_by/arg_min pair (event ties are sub-second, id increments
    are µs-scale: no collision at fixture or production tick rates)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("bigint")
    ord_ = F.timestamp_micros(
        F.unix_micros(F.col("ts").cast("timestamp")) + F.col("event_id")
    )
    return ev.groupBy(bucket.alias("bucket_epoch"), "event_type").agg(
        F.min_by("value", ord_).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ord_).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("volume"),
    )


# --------------------------------------------------------------------------
# Backlog curve: daily open-order count from open/close event differences
# --------------------------------------------------------------------------
@query(
    "backlog_open_orders",
    oracle="""
    WITH closes AS (
      SELECT l_orderkey AS o_orderkey, max(l_shipdate) AS close_ts
      FROM lineitem GROUP BY l_orderkey
    ),
    deltas AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, 1 AS d FROM orders
      UNION ALL
      SELECT strftime(c.close_ts, '%Y-%m-%d') AS day, -1 AS d
      FROM closes c JOIN orders o USING (o_orderkey)
    ),
    daily AS (
      SELECT day, CAST(sum(d) AS BIGINT) AS net FROM deltas GROUP BY day
    )
    SELECT day, net,
           CAST(sum(net) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_orders
    FROM daily
    """,
)
def backlog_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog curve (open orders outstanding per day): +1 at order
    placement, −1 when the last line ships, daily net deltas, running
    cumulative. The event-difference spelling is THE scale pattern
    for 'how many X were open at time t' — it aggregates to one row
    per day BEFORE the window, so the running sum runs over the
    (tiny) day dimension instead of a per-order interval explosion
    (contrast the naive day×open-interval range join, O(days·orders)).
    The cumsum window is a single ordered pass over |days| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    closes = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("close_ts")
    )
    deltas = (
        o.select(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"), F.lit(1).alias("d"))
        .unionAll(
            closes.join(o, "o_orderkey").select(
                F.date_format("close_ts", "yyyy-MM-dd").alias("day"),
                F.lit(-1).alias("d"),
            )
        )
    )
    daily = deltas.groupBy("day").agg(F.sum("d").cast("bigint").alias("net"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "net", F.sum("net").over(w).cast("bigint").alias("open_orders")
    )


# --------------------------------------------------------------------------
# SCD2 point-in-time consumption: fact rows joined to the dimension
# version valid AT their event time
# --------------------------------------------------------------------------
@query(
    "join_scd2_pointintime",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    dim AS (
      SELECT user_id, event_type AS state_at_purchase, ts AS valid_from,
             lead(ts) OVER w AS valid_to
      FROM changes
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    facts AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.value, d.state_at_purchase
    FROM facts f JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The read side of SCD2: each purchase fact picks up the
    dimension version whose [valid_from, valid_to) interval contains
    its event time — `scd2_intervals` is the write side, this
    completes the pair. Spelled as the keyed interval join
    (equi-key user_id + half-open containment residual): correct for
    any interval set, one shuffle per side. When version churn per
    key is extreme, the as-of spelling (`asof_join`'s union+window)
    does it with zero residual comparisons — both spellings are
    registered; this key pins the containment semantics including
    the open-ended current version (valid_to NULL)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ordered = ev.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    )
    dim = changes.select(
        "user_id",
        F.col("event_type").alias("state_at_purchase"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("f_user_id"), "ts", "value"
    )
    return facts.join(
        dim,
        (F.col("f_user_id") == dim.user_id)
        & (facts.ts >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (facts.ts < F.col("valid_to"))),
    ).select(
        "event_id", F.col("f_user_id").alias("user_id"), "value", "state_at_purchase"
    )


@query(
    "cdc_apply_changes",
    oracle="""
    WITH latest AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             event_type, value, ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    )
    SELECT user_id,
           event_type AS last_type,
           floor(value * 100 + 0.5) / 100 AS last_value,
           ts AS last_ts
    FROM latest
    WHERE rk = 1 AND op = 'U'
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply: collapse an ordered change stream
    (upserts + deletes) to the current snapshot — keep the LATEST
    operation per key by the total order (ts, event_id), drop keys
    whose latest op is a delete. The read-side half of log-structured
    ingestion (Debezium/OGG-style feeds); `merge_upsert` is the
    store-side half and `stream_foreachbatch_upsert` the streaming
    one. One hash shuffle on the key; the per-key sort is a
    row_number window, so a 100 TB changelog collapses in a single
    exchange with partial ordering done map-side by the sort-based
    shuffle. The delete op is mapped from the fixture's 'error'
    events; the sequence tiebreak (event_id) makes the result
    deterministic under same-timestamp changes."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.select(
            "user_id",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            "event_type",
            "value",
            "ts",
            F.row_number().over(w).alias("rk"),
        )
        .filter((F.col("rk") == 1) & (F.col("op") == "U"))
    )
    return latest.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        dround(F.col("value"), 2).alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


# ==========================================================================
# Round-5 temporal batch: calendar dimension, linear interpolation,
# Bollinger bands, sink-mode auto-selection.
# ==========================================================================


@query(
    "calendar_dim_generate",
    oracle="""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1996-12-31',
                                         INTERVAL 1 DAY)) AS DATE) AS d
    )
    SELECT strftime(d, '%Y-%m-%d') AS d,
           CAST(extract(year FROM d) AS BIGINT) AS year,
           CAST(extract(month FROM d) AS BIGINT) AS month,
           CAST(extract(day FROM d) AS BIGINT) AS day,
           CAST((extract(month FROM d) + 2) // 3 AS BIGINT) AS quarter,
           CAST((datediff('day', DATE '1970-01-01', d) + 4) % 7 AS BIGINT) AS dow,
           (datediff('day', DATE '1970-01-01', d) + 4) % 7 >= 5 AS is_weekend,
           extract(day FROM d) = 1 AS is_month_start,
           extract(month FROM d + INTERVAL 1 DAY) <> extract(month FROM d)
             AS is_month_end
    FROM spine
    """,
)
def calendar_dim_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension generation — the spine table every
    time-grain rollup joins against, generated (not loaded): 731 days
    of derived attributes from pure integer date arithmetic. Weekday
    uses the epoch-day formula ((days+4) % 7, 0=Monday) rather than
    dayofweek(), whose 0/1-base and week-start conventions differ
    across engines; quarter is integer month arithmetic; month-end is
    the month-changes-tomorrow test (leap-February-proof). sequence()
    + explode generates N rows from none — a generator, not a scan —
    and a real deployment materializes this once per grain. Output is
    dimension-sized at any fact scale."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1996-12-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("d")
    )
    epoch_days = F.datediff(F.col("d"), F.lit("1970-01-01"))
    dow = (epoch_days + 4) % 7
    return spine.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.year("d").cast("bigint").alias("year"),
        F.month("d").cast("bigint").alias("month"),
        F.dayofmonth("d").cast("bigint").alias("day"),
        F.floor((F.month("d") + 2) / 3).cast("bigint").alias("quarter"),
        dow.cast("bigint").alias("dow"),
        (dow >= 5).alias("is_weekend"),
        (F.dayofmonth("d") == 1).alias("is_month_start"),
        (F.month(F.date_add("d", 1)) != F.month("d")).alias("is_month_end"),
    )


@query(
    "time_interpolate_linear",
    oracle="""
    WITH obs AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM obs),
    spine AS (
      SELECT unnest(generate_series(h0, h1)) AS h FROM bounds
    ),
    joined AS (
      SELECT s.h, o.y,
             max(CASE WHEN o.y IS NOT NULL THEN s.h END)
               OVER (ORDER BY s.h ROWS UNBOUNDED PRECEDING) AS h_prev,
             min(CASE WHEN o.y IS NOT NULL THEN s.h END)
               OVER (ORDER BY s.h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS h_next
      FROM spine s LEFT JOIN obs o USING (h)
    ),
    walled AS (
      SELECT h, y, h_prev, h_next,
             max(y) OVER (PARTITION BY h_prev) AS y_prev,
             max(y) OVER (PARTITION BY h_next) AS y_next
      FROM joined
    )
    SELECT h,
           CASE WHEN y IS NOT NULL THEN 'obs' ELSE 'interp' END AS src,
           floor(CASE
                   WHEN y IS NOT NULL THEN y
                   ELSE y_prev + (y_next - y_prev) * (h - h_prev)
                                 / (h_next - h_prev)
                 END * 1000000 + 0.5) / 1000000 AS value
    FROM walled
    """,
)
def time_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over an hourly spine — the resampling step
    between raw events and fixed-step time-series features, and the
    interpolating complement of `window_fill_forward` (step-hold) and
    `time_spine_gapfill` (zero-fill). Observed hours carry the exact
    per-hour mean (DECIMAL sum / count); missing hours take
    y0 + (y1−y0)·(h−h0)/(h1−h0) between the bracketing observations —
    hour indices are exact integers so both engines evaluate the same
    IEEE expression. Neighbor discovery is two running extrema over
    the spine order (no self-join); the interior spine is bounded by
    the time range, not the corpus. The spine never extrapolates: its
    bounds are min/max observed hours, so y_prev/y_next always exist.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    obs = e.groupBy(
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 3600)
        .cast("bigint")
        .alias("h")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("y")
    )
    bounds = obs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    j = spine.join(obs, "h", "left")
    w_prev = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("h").rowsBetween(0, Window.unboundedFollowing)
    j = j.select(
        "h",
        "y",
        F.max(F.when(F.col("y").isNotNull(), F.col("h"))).over(w_prev).alias("h_prev"),
        F.min(F.when(F.col("y").isNotNull(), F.col("h"))).over(w_next).alias("h_next"),
    )
    walled = j.select(
        "h",
        "y",
        "h_prev",
        "h_next",
        F.max("y").over(Window.partitionBy("h_prev")).alias("y_prev"),
        F.max("y").over(Window.partitionBy("h_next")).alias("y_next"),
    )
    interp = F.col("y_prev") + (F.col("y_next") - F.col("y_prev")) * (
        F.col("h") - F.col("h_prev")
    ) / (F.col("h_next") - F.col("h_prev"))
    return walled.select(
        "h",
        F.when(F.col("y").isNotNull(), "obs").otherwise("interp").alias("src"),
        dround(F.when(F.col("y").isNotNull(), F.col("y")).otherwise(interp), 6).alias(
            "value"
        ),
    )


@query(
    "bollinger_bands",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
      FROM orders GROUP BY 1
    ),
    win AS (
      SELECT d, n,
             sum(n)   OVER w AS s,
             sum(n*n) OVER w AS ss,
             count(*) OVER w AS k
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(d, '%Y-%m-%d') AS d, n,
           floor(s * 1.0 / k * 1000000 + 0.5) / 1000000 AS ma7,
           floor((s * 1.0 / k + 2 * sqrt((k * ss - s * s) * 1.0 / (k * k)))
                 * 1000000 + 0.5) / 1000000 AS upper_band,
           floor((s * 1.0 / k - 2 * sqrt((k * ss - s * s) * 1.0 / (k * k)))
                 * 1000000 + 0.5) / 1000000 AS lower_band
    FROM win
    """,
)
def bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (7-day moving mean ± 2σ) over the daily order
    count — the volatility envelope used for rate anomaly monitoring
    on ingest volumes. All window arithmetic stays EXACT integer
    (Σn, Σn² over the 7-row frame as BIGINT — no incremental float
    sliding-sum drift, which differs between Spark's frame recompute
    and DuckDB's segment-tree accumulation); mean and population σ
    convert to double only in the final closed form
    σ² = (kΣx² − (Σx)²)/k². The series is date-cardinality so the
    global-order window is dimension-sized; per-key series at scale
    partition the window by key."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    win = daily.select(
        "d",
        "n",
        F.sum("n").over(w).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("ss"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    ma = F.col("s") * F.lit(1.0) / F.col("k")
    sigma = F.sqrt(
        (F.col("k") * F.col("ss") - F.col("s") * F.col("s"))
        * F.lit(1.0)
        / (F.col("k") * F.col("k"))
    )
    return win.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        "n",
        dround(ma, 6).alias("ma7"),
        dround(ma + 2 * sigma, 6).alias("upper_band"),
        dround(ma - 2 * sigma, 6).alias("lower_band"),
    )


@query(
    "sink_mode_auto",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_mode_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-probed sink-mode selection — the reference's
    verificateIntoParquet contract (Proof.scala:51-53,147-151): the
    FIRST write of a dataset must create it (overwrite), every later
    write must APPEND, and the decision comes from an explicit
    filesystem existence probe (ingest/sinks.dataset_exists), never
    from a read failure. The key drives both branches in one run:
    slice A (¾ of orders) hits the missing-dataset branch, slice B
    (the rest) hits the exists→append branch; the read-back
    aggregation hash-matching the direct aggregation proves the two
    writes composed to exactly the source (no loss, no duplication).
    Minus the reference's repartition(1): both writes stay parallel.
    The probe-then-write pattern is what makes nightly re-ingest
    idempotent at the job level; row-level idempotency is the
    companion merge_upsert / write_parquet_idempotent."""
    import shutil

    from ..ingest.sinks import dataset_exists

    o = load_table(spark, sf_dir, "orders")
    # appId-scoped (fixture_base): concurrent sessions (pytest workers /
    # bench overlap) get isolated fixture dirs — no rmtree/append races
    path = fixture_base(spark, sf_dir, "sink_mode")
    shutil.rmtree(path, ignore_errors=True)  # fixture reset, not semantics

    for part in (
        o.filter(F.col("o_orderkey") % 4 != 0),
        o.filter(F.col("o_orderkey") % 4 == 0),
    ):
        mode = "append" if dataset_exists(spark, path) else "overwrite"
        part.write.mode(mode).parquet(path)

    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@query(
    "interval_max_concurrency_sweepline",
    oracle="""
    WITH iv AS (
      SELECT o_orderdate AS s,
             o_orderdate + to_days(CAST(o_orderkey % 30 AS INT)) AS e
      FROM orders
    ),
    ev AS (
      SELECT s AS d, 1 AS delta FROM iv
      UNION ALL
      SELECT e + to_days(1) AS d, -1 AS delta FROM iv
    ),
    daily AS (
      SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM ev GROUP BY d
    ),
    run AS (
      SELECT d, sum(net) OVER (ORDER BY d) AS open_n FROM daily
    )
    SELECT strftime(d, '%Y-%m') AS month,
           CAST(max(open_n) AS BIGINT) AS max_concurrent
    FROM run GROUP BY 1
    """,
)
def interval_max_concurrency_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum interval concurrency via the SWEEP-LINE decomposition:
    each interval (order open o_orderdate → +0..29 days) contributes
    +1 at its start and −1 the day after its end; the running sum of
    the daily net deltas IS the number of concurrently-open intervals
    — peak concurrency per month falls out of one ordered cumsum.
    This is the scale pattern that replaces the quadratic
    interval-overlap SELF-JOIN for counting questions
    (join_interval_overlap answers WHICH pairs overlap; this answers
    HOW MANY are open, in O(n) + one date-cardinality window).
    Deltas partial-aggregate to date grain map-side, so the global
    window runs on ~#days rows regardless of fact size — the ACF /
    CUSUM date-cardinality discipline; day-exact integer arithmetic
    end-to-end."""
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderdate").alias("s"),
        F.date_add(F.col("o_orderdate"), (F.col("o_orderkey") % 30).cast("int")).alias(
            "e"
        ),
    )
    ev = iv.select(F.col("s").alias("d"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.date_add(F.col("e"), 1).alias("d"), F.lit(-1).alias("delta"))
    )
    daily = ev.groupBy("d").agg(F.sum("delta").cast("bigint").alias("net"))
    run = daily.select(
        "d",
        F.sum("net").over(Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)).alias("open_n"),
    )
    return run.groupBy(F.date_format("d", "yyyy-MM").alias("month")).agg(
        F.max("open_n").cast("bigint").alias("max_concurrent")
    )


@query(
    "asof_join_tolerance",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts AS click_ts,
                      value AS click_value
               FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts, p.value,
           c.click_id, c.click_value
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id AND c.click_ts <= p.ts
     AND c.click_ts >= p.ts - INTERVAL 2 HOUR
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id
        ORDER BY c.click_ts DESC, c.click_id DESC) = 1
    """,
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join WITH TOLERANCE (pandas merge_asof's
    ``tolerance``): each purchase picks up the user's most recent
    click at-or-before it ONLY if that click is within 2 hours —
    staler matches null out. The plan is IDENTICAL to the plain as-of
    (one union + one per-key window carrying the nearest candidate);
    tolerance is a post-window expression on the carried match
    timestamp, so the operator keeps its one-shuffle O((|l|+|r|)·log)
    shape instead of regressing to a range join whose candidate set
    explodes with the tolerance width. Boundary (exactly
    tolerance-old matches survive — >=, mirroring the oracle's >=)
    pinned in tests/test_asof.py."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        "ts",
        F.col("value").alias("click_value"),
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        ts="ts",
        right_payload=["click_id", "click_value"],
        tiebreak="click_id",
        tolerance="2 hours",
    )
