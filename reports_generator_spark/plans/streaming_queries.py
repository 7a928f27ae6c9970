"""T1/T2 streaming registrations with batch-equivalent SQL oracles.

The streaming queries execute (availableNow → memory sink) inside the
builder and return the materialized result, so the driver's harness
compares real streaming output against batch SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import stream_dedup_keys, stream_tumbling_agg
from .registry import query


@query(
    "stream_tumbling_agg",
    oracle="""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + to_seconds(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT)) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming 10-min tumbling windows ≡ batch GROUP BY
    on the epoch-aligned window start."""
    return stream_tumbling_agg(spark, sf_dir)


@query(
    "stream_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates ≡ batch DISTINCT on the key columns."""
    return stream_dedup_keys(spark, sf_dir)


_STATEFUL_SESSION_ORACLE = """
WITH gaps AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM gaps
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sess
GROUP BY user_id, session_id
"""


@query("stream_sessionize_stateful", oracle=_STATEFUL_SESSION_ORACLE)
def stream_sessionize_stateful_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): gap-based
    streaming sessionization ≡ batch window+groupBy sessionization
    keyed on (user_id, session_start)."""
    from ..streaming.stateful import sessionize_stream
    from ..streaming.windowed import _run_to_memory, _stream_events, _stream_session

    out = _run_to_memory(
        sessionize_stream(_stream_events(_stream_session(spark), sf_dir)), "update"
    )
    # update semantics: keep the latest emission per open session key
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id", "session_start").orderBy(
        F.col("session_end").desc(), F.col("n_events").desc()
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


from .ingest_queries import STREAM_REPORT_INGEST_ORACLE, basename_ruta


@query("stream_report_ingest", oracle=STREAM_REPORT_INGEST_ORACLE)
def stream_report_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 as a streaming pipeline: file-source readStream over
    synthesized report fixtures → foreachBatch(batch parser) →
    idempotent parquet sink; returns the sink contents. Hash-attested
    against the pure-Python golden CSV (ingest/golden.py — the same
    differential gate as the batch key); batch/stream parity is
    additionally asserted in tests/test_report_stream.py."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..config import ReportConfig
    from ..ingest.fixtures import write_report_files
    from ..streaming.report_stream import stream_report_ingest

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"rg_stream_ingest_{tag}")
    reports, sink, ckpt = (os.path.join(base, p) for p in ("reports", "sink", "ckpt"))
    # fresh run each invocation: deterministic fixture + empty sink
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(reports, exist_ok=True)
    write_report_files(reports, n_files=3, blocks_per_file=4)
    cfg = ReportConfig(
        input_dir=reports, output_parquet="", output_csv="",
        generation_date="2026-01-01 00:00:00",
    )
    stream_report_ingest(spark, cfg, sink, checkpoint_dir=ckpt).awaitTermination()
    return basename_ruta(spark.read.parquet(sink))


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_purchases,
           CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase'
    GROUP BY 1
    """,
)
def stream_static_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the
    static customer dimension (broadcast — no stream-side shuffle for
    the join), then aggregated. The batch oracle is the same join; the
    stream-static join is stateless so stream ≡ batch exactly."""
    from ..sources import load_table
    from ..streaming.windowed import _run_to_memory, _stream_events, _stream_session

    spark = _stream_session(spark)
    ev = _stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    dim = load_table(spark, sf_dir, "customer")  # planner decides; customer scales with SF
    joined = ev.join(dim, ev.user_id == dim.c_custkey)
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return _run_to_memory(agg, "complete")


@query(
    "stream_stream_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view'
     AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join ≡ the batch interval
    join over the same bounded input (availableNow processes all
    fixture rows before any watermark eviction)."""
    from ..streaming import stream_stream_interval_join

    return stream_stream_interval_join(spark, sf_dir)


@query(
    "stream_stream_join_left_outer_watermark",
    oracle="""
    WITH v AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p))
                    - INTERVAL 1 HOUR AS w),
    m AS (
      SELECT v.user_id, v.event_id AS view_event_id,
             p.event_id AS purchase_event_id,
             CAST(epoch_us(v.ts) AS BIGINT) AS view_ts_us,
             CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us
      FROM v JOIN p
        ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    ),
    un AS (
      SELECT v.user_id, v.event_id AS view_event_id,
             CAST(NULL AS BIGINT) AS purchase_event_id,
             CAST(epoch_us(v.ts) AS BIGINT) AS view_ts_us,
             CAST(NULL AS BIGINT) AS purchase_ts_us
      FROM v
      WHERE v.event_id NOT IN (SELECT view_event_id FROM m)
        AND v.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
    )
    SELECT * FROM m UNION ALL SELECT * FROM un
    """,
)
def stream_stream_left_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join — the null-
    emission boundary is the relation under test: matched pairs equal
    the batch interval join; an UNMATCHED view emits its null-extended
    row only once the global watermark W = min(max view_ts, max
    purchase_ts) − 1h has passed its join window
    (view_ts + 30min < W, evicted in the trailing no-data batch);
    unmatched views inside the watermark horizon are HELD BACK — the
    oracle recomputes all three classes (matched / null-emitted /
    withheld) from raw events, so a wrong eviction boundary or an
    eagerly-emitted null row fails the value hash. This is the
    bounded-state outer-correlation shape (abandoned-cart analytics)
    that runs 24/7 at corpus scale."""
    from ..streaming.windowed import stream_stream_left_outer_join

    out = stream_stream_left_outer_join(spark, sf_dir)
    return out.select(
        "user_id",
        "view_event_id",
        "purchase_event_id",
        F.unix_micros(F.col("view_ts").cast("timestamp")).alias("view_ts_us"),
        F.unix_micros(F.col("purchase_ts").cast("timestamp")).alias(
            "purchase_ts_us"
        ),
    )


@query(
    "stream_stream_join_full_outer_watermark",
    oracle="""
    WITH v AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p))
                    - INTERVAL 1 HOUR AS w),
    m AS (
      SELECT v.user_id, v.event_id AS view_event_id,
             p.event_id AS purchase_event_id,
             CAST(epoch_us(v.ts) AS BIGINT) AS view_ts_us,
             CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us
      FROM v JOIN p
        ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    ),
    un_v AS (
      SELECT v.user_id, v.event_id AS view_event_id,
             CAST(NULL AS BIGINT) AS purchase_event_id,
             CAST(epoch_us(v.ts) AS BIGINT) AS view_ts_us,
             CAST(NULL AS BIGINT) AS purchase_ts_us
      FROM v
      WHERE v.event_id NOT IN (SELECT view_event_id FROM m)
        AND v.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
    ),
    un_p AS (
      SELECT p.user_id, CAST(NULL AS BIGINT) AS view_event_id,
             p.event_id AS purchase_event_id,
             CAST(NULL AS BIGINT) AS view_ts_us,
             CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us
      FROM p
      WHERE p.event_id NOT IN (SELECT purchase_event_id FROM m)
        AND p.ts < (SELECT w FROM wm)
    )
    SELECT * FROM m
    UNION ALL SELECT * FROM un_v
    UNION ALL SELECT * FROM un_p
    """,
)
def stream_stream_full_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER interval join — completes
    the outer matrix (inner r6, left_outer r10) through the SAME
    builder spec. Each side has its own null-emission boundary, and
    the oracle recomputes all FIVE row classes from raw events:
    matched pairs; unmatched views null-emitted once
    ``view_ts + 30min < W`` (their join window is past); unmatched
    purchases null-emitted once ``purchase_ts < W`` (no un-dropped
    view can be old enough to match, since the condition requires
    view_ts <= purchase_ts); and the withheld tails on BOTH sides
    (inside the horizon — present in neither branch). W is the global
    watermark min(max view_ts, max purchase_ts) − 1h. A wrong eviction
    bound on either side, or an eager null row, fails the value hash.
    This is the reconciliation shape (orders vs payments, impressions
    vs clicks) where BOTH orphan classes are the business signal."""
    from ..streaming.windowed import stream_stream_full_outer_join

    out = stream_stream_full_outer_join(spark, sf_dir)
    return out.select(
        "user_id",
        "view_event_id",
        "purchase_event_id",
        F.unix_micros(F.col("view_ts").cast("timestamp")).alias("view_ts_us"),
        F.unix_micros(F.col("purchase_ts").cast("timestamp")).alias(
            "purchase_ts_us"
        ),
    )


@query(
    "stream_stream_join_right_outer_watermark",
    oracle="""
    WITH v AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p))
                    - INTERVAL 1 HOUR AS w),
    m AS (
      SELECT v.user_id, v.event_id AS view_event_id,
             p.event_id AS purchase_event_id,
             CAST(epoch_us(v.ts) AS BIGINT) AS view_ts_us,
             CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us
      FROM v JOIN p
        ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    ),
    un_p AS (
      SELECT p.user_id, CAST(NULL AS BIGINT) AS view_event_id,
             p.event_id AS purchase_event_id,
             CAST(NULL AS BIGINT) AS view_ts_us,
             CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us
      FROM p
      WHERE p.event_id NOT IN (SELECT purchase_event_id FROM m)
        AND p.ts < (SELECT w FROM wm)
    )
    SELECT * FROM m UNION ALL SELECT * FROM un_p
    """,
)
def stream_stream_right_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream RIGHT OUTER interval join — the
    fourth cell of the outer matrix (inner r6, left/full r10), through
    the SAME builder spec: only the purchase side null-emits, and only
    once ``purchase_ts < W`` (the condition bounds matching views to
    view_ts <= purchase_ts, so past the global watermark the purchase
    is provably orphaned); unmatched views never emit, and the
    purchase tail inside the horizon is withheld. The oracle
    recomputes matched / null-emitted / withheld from raw events —
    the orphaned-payments reconciliation shape."""
    from ..streaming.windowed import stream_stream_right_outer_join

    out = stream_stream_right_outer_join(spark, sf_dir)
    return out.select(
        "user_id",
        "view_event_id",
        "purchase_event_id",
        F.unix_micros(F.col("view_ts").cast("timestamp")).alias("view_ts_us"),
        F.unix_micros(F.col("purchase_ts").cast("timestamp")).alias(
            "purchase_ts_us"
        ),
    )


@query(
    "stream_incremental_hll",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           (abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
              <= 0.05 * count(DISTINCT user_id)) AS estimate_within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def stream_incremental_hll_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance — the streaming completion of the
    sketch story (plans/sketches.py): each micro-batch folds into
    per-(event_type, batch) HLL sketch PARTIALS persisted to a parquet
    state store (foreachBatch); the read side answers distinct-user
    questions by merging the tiny binary blobs with hll_union_agg —
    never rescanning raw events. At 100 TB this is how a 24/7 pipeline
    keeps COUNT(DISTINCT) queryable: state grows with
    |types|·|batches|·1.5 kB, not with events. Attested with the
    established exact-companion tolerance flag; union-of-partials ≡
    single-shot sketch is inherent to the HLL monoid (same registers
    either way)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..streaming.windowed import _stream_events, _stream_session

    spark_s = _stream_session(spark)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"rg_stream_hll_{tag}")
    state, ckpt = os.path.join(base, "state"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)  # fresh deterministic run

    ev = _stream_events(spark_s, sf_dir)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.hll_sketch_agg("user_id").alias("sketch"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(state)
        )

    q = (
        ev.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    merged = (
        spark.read.parquet(state)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"))
    )
    from ..sources import load_table

    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users_exact"))
    )
    tol = (
        F.abs(F.col("est_users") - F.col("n_users_exact")) / F.col("n_users_exact")
        <= 0.05
    )
    return exact.join(F.broadcast(merged), "event_type").select(
        "event_type", "n_users_exact", tol.alias("estimate_within_5pct")
    )


@query(
    "stream_foreachbatch_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n_events
      FROM events
    )
    SELECT user_id, event_type,
           ts AS last_ts, event_id AS last_event_id,
           value AS last_value, n_events
    FROM ranked WHERE rn = 1
    """,
)
def stream_foreachbatch_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE maintaining a latest-state-per-key snapshot
    ≡ batch "last row per key + count" (the snapshot after the full
    stream equals the batch answer regardless of micro-batch
    slicing — see streaming/foreach_sink.py)."""
    from ..streaming.foreach_sink import stream_upsert_foreachbatch

    return stream_upsert_foreachbatch(spark, sf_dir)


@query(
    "stream_exactly_once_replay",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS id_checksum,
           count(*) - count(DISTINCT event_id) AS n_duplicate_rows,
           CAST(3 AS BIGINT) AS n_epochs_published,
           CAST(1 AS BIGINT) AS n_replays_suppressed
    FROM events
    """,
)
def stream_exactly_once_replay_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once foreachBatch recovery: the stream publishes three
    epochs through a stage-then-claim-marker sink, epoch 1 is then
    RE-DELIVERED (the crash-between-commit-and-checkpoint-ack path —
    foreachBatch's contract is at-least-once, so idempotence is the
    sink's job), and the published table must still equal the events
    relation exactly — n_duplicate_rows is a REAL cross-engine column
    (event_id is unique), so any double-publish fails the hash. See
    streaming/foreach_sink.py::exactly_once_publish (the Delta/Iceberg
    txnAppId/txnVersion idempotent-writer pattern)."""
    from ..streaming.foreach_sink import stream_exactly_once_replay

    return stream_exactly_once_replay(spark, sf_dir)



@query(
    "stream_sliding_window_agg",
    oracle="""
    WITH ev AS (
      SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
             CAST(floor(epoch(ts) / 300) AS BIGINT) AS slot
      FROM events
    ),
    expanded AS (
      SELECT event_type, v, (slot - off.o) * 300 AS start_epoch
      FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS o) off
    )
    SELECT TIMESTAMP '1970-01-01 00:00:00' + to_seconds(start_epoch)
             AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(v) AS DOUBLE) AS total_value
    FROM expanded
    GROUP BY 1, 2
    """,
)
def stream_sliding_window_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sliding windows (10 min / 5 min hop) ≡
    batch expansion of each event into its window/slide = 2 covering
    windows (slot replication) + GROUP BY window start. The batch
    oracle makes the overlap semantics explicit: replication factor =
    window/slide, which is exactly the state multiplier the streaming
    side pays — the documented trade when shrinking the hop."""
    from ..streaming.windowed import stream_sliding_window_agg

    return stream_sliding_window_agg(spark, sf_dir)


@query(
    "stream_incremental_availablenow",
    oracle="""
    SELECT count(*) AS rows_out,
           CAST(sum(o_orderkey) AS BIGINT) AS checksum,
           CAST(count(*) FILTER (WHERE o_orderkey % 3 = 0) AS BIGINT)
             AS run2_input_rows,
           TRUE AS incremental_ok
    FROM orders
    """,
)
def stream_incremental_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed incremental batch (Trigger.AvailableNow) — the
    nightly-ETL pattern that replaces 'reprocess the whole landing
    dir': run 1 drains the files present and terminates; new files
    land; run 2 reuses the CHECKPOINT and processes ONLY the unseen
    files, terminating again. The audit proves both halves: the
    appended output equals the full source exactly once (count +
    checksum — no loss, no double-processing), and run 2's observed
    numInputRows equals exactly the second batch (incremental_ok
    derived from streaming progress, not assumed). At 100 TB this is
    THE idempotent-ingest shape: restartable, exactly-once into the
    file sink via the checkpoint + _spark_metadata commit log, cost
    proportional to NEW data only. Completes the streaming family's
    batch-boundary story (availableNow keys exist for aggregation;
    this one pins the file-source INCREMENTALITY contract itself)."""
    import os
    import shutil

    from ..sources import load_table
    from ..storage import fixture_base

    base = fixture_base(spark, sf_dir, "incr")
    shutil.rmtree(base, ignore_errors=True)
    inp, outp, chk = (os.path.join(base, d) for d in ("in", "out", "chk"))

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    batch1 = o.filter(F.col("o_orderkey") % 3 != 0)
    batch2 = o.filter(F.col("o_orderkey") % 3 == 0)

    def drain() -> int:
        q = (
            spark.readStream.schema("o_orderkey bigint")
            .parquet(inp)
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(int(p["numInputRows"]) for p in q.recentProgress)

    batch1.write.parquet(inp)
    drain()
    batch2.write.mode("append").parquet(inp)
    n_run2 = drain()
    n_batch2 = batch2.count()

    back = spark.read.parquet(outp)
    return back.agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.sum("o_orderkey").cast("bigint").alias("checksum"),
        F.lit(n_run2).cast("bigint").alias("run2_input_rows"),
        F.lit(n_run2 == n_batch2).alias("incremental_ok"),
    )


@query(
    "stream_watermark_late_drop",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS window_start,
           count(*) AS n_events
    FROM events, mx
    WHERE (event_id % 3 IN (0, 1) OR ts = m)
      AND date_trunc('day', ts) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
    GROUP BY 1
    """,
)
def stream_watermark_late_drop_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROP across real micro-batches — see
    streaming/windowed.py::stream_watermark_late_drop for the measured
    eviction mechanics (slice A carries the global max so every
    watermark boundary collapses to W = max(ts) − 1h; slice C arrives
    after eviction and is dropped). The oracle states the surviving
    set exactly: A∪B rows in windows whose end ≤ W. The actual drop
    count (numRowsDroppedByWatermark > 0) is asserted from the query
    progress in tests/test_stateful_stream.py."""
    from ..streaming.windowed import stream_watermark_late_drop

    out, _progress = stream_watermark_late_drop(spark, sf_dir)
    return out


@query(
    "stream_session_window_watermark",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS last_event_ts,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_window_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Native STREAMING session_window under withWatermark across
    three real micro-batches — see streaming/windowed.py::
    stream_session_window for the mechanics (batches 0/1 interleave
    every user's events so sessions MERGE across batches in state;
    the batch-2 sentinel advances the watermark past every real
    session's end, evicting/emitting them all in one append; the
    sentinel's own session is the withheld tail, asserted as exactly
    1 state-store row in tests/test_stateful_stream.py). The oracle
    is the SAME lag/cumsum sessionizer as the batch twin
    (session_window_native) over the raw events — batch and stream
    provably share session semantics, boundary convention included
    (gap-equal event starts a new session)."""
    from ..streaming.windowed import stream_session_window

    out, _progress = stream_session_window(spark, sf_dir)
    return out


@query(
    "stream_cdc_to_scd2",
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
def stream_cdc_to_scd2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension maintained INCREMENTALLY from time-sliced CDC
    epochs via foreachBatch — see streaming/foreach_sink.py::
    stream_cdc_to_scd2 for the merge contract (state = change points;
    per epoch only affected users recompress; the in-order-epoch
    precondition and its out-of-order failure mode are unit-pinned).
    Oracle: the SAME text as the batch scd2_intervals key — the
    incrementally-maintained dimension must equal the full batch
    rebuild regardless of micro-batch slicing."""
    from ..streaming.foreach_sink import stream_cdc_to_scd2

    return stream_cdc_to_scd2(spark, sf_dir)


@query(
    "stream_topk_incremental",
    oracle="""
    SELECT event_id, user_id, value FROM events
    ORDER BY value DESC, event_id DESC
    LIMIT 25
    """,
)
def stream_topk_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-25 leaderboard maintained incrementally via
    foreachBatch with O(k) state — see streaming/foreach_sink.py::
    stream_topk_incremental (top-k is a distributive bound, so folding
    per-batch top-k is EXACT under any slicing; the total (value,
    event_id) order makes it deterministic). Oracle: the plain batch
    top-25 — the incrementally-maintained leaderboard must equal it."""
    from ..streaming.foreach_sink import stream_topk_incremental

    return stream_topk_incremental(spark, sf_dir)
