"""Event-time windowed queries (streaming semantics, batch-checkable).

window()/session_window() are grouping expressions that behave
identically under readStream — tests/test_streaming_live.py re-runs these
same helpers as actual streams (availableNow trigger) and checks they
match the batch results.  Oracles express the window algebra in plain
SQL (tumble = epoch floor; session = gaps-and-islands).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from greengage_spark.plans.common import Suite, cat, money
from greengage_spark.streaming.windows import session_agg, sliding_agg, tumbling_agg

suite = Suite("streaming")


@suite.add(
    "stream_tumbling_window",
    oracle="""
    SELECT to_timestamp(floor(epoch(ts) / 3600) * 3600)::TIMESTAMP AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST("value" AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="tumbling 1h event-time window (Structured Streaming window()).",
    tags=("streaming", "window"),
)
def stream_tumbling_window(spark, sf_dir):
    ev = cat(spark, sf_dir).table("events")
    out = tumbling_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(money("value")).cast("double").alias("total_value"),
        ],
    )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@suite.add(
    "stream_sliding_window",
    oracle="""
    WITH grid AS (
      SELECT to_timestamp(floor(epoch(ts) / 1800) * 1800)::TIMESTAMP AS w, * FROM events
      UNION ALL
      SELECT to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800)::TIMESTAMP AS w, * FROM events
    )
    SELECT w AS window_start, COUNT(*) AS n_events
    FROM grid GROUP BY 1
    """,
    doc="sliding window (1h every 30min): each event lands in 2 windows.",
    tags=("streaming", "window"),
)
def stream_sliding_window(spark, sf_dir):
    ev = cat(spark, sf_dir).table("events")
    out = sliding_agg(
        ev, "ts", "1 hour", "30 minutes", [], [F.count(F.lit(1)).alias("n_events")]
    )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"), "n_events"
    )


@suite.add(
    "stream_session_window",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 10 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM seq
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="session windows, 10min gap (session_window vs gaps-and-islands "
        "oracle — the rewrite a batch engine would need).",
    tags=("streaming", "window", "session"),
)
def stream_session_window(spark, sf_dir):
    ev = cat(spark, sf_dir).table("events")
    out = session_agg(
        ev, "ts", "10 minutes", ["user_id"], [F.count(F.lit(1)).alias("n_events")]
    )
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        "n_events",
    )


@suite.add(
    "stream_dedup_semantics",
    oracle="""
    SELECT user_id, event_type, MIN(ts) AS first_ts
    FROM events GROUP BY user_id, event_type
    """,
    doc="streaming dedup semantics (dropDuplicates within watermark): "
        "first event per (user, type); batch check = min-ts groupBy.",
    tags=("streaming", "dedup"),
)
def stream_dedup_semantics(spark, sf_dir):
    ev = cat(spark, sf_dir).table("events")
    # deterministic batch equivalent of keep-first dedup
    return ev.groupBy("user_id", "event_type").agg(F.min("ts").alias("first_ts"))


@suite.add(
    "stream_interval_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS click_id,
           b.event_id AS r_event_id,
           CAST(floor(epoch(b.ts) - epoch(a.ts)) AS BIGINT) AS lag_s
    FROM events a JOIN events b
      ON b.user_id = a.user_id
     AND b.ts >= a.ts + INTERVAL 1 SECOND
     AND b.ts <= a.ts + INTERVAL 30 MINUTE
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
    doc="Stream-stream interval join (watermarked event-time bound): "
        "click→purchase attribution within 30 min per user. State is "
        "O(window × rate) under readStream — the canonical stream-stream "
        "join shape; batch execution is the oracle (identical results by "
        "construction).",
    tags=("streaming", "join"),
)
def stream_interval_join(spark, sf_dir):
    from greengage_spark.streaming.joins import interval_join

    ev = cat(spark, sf_dir).table("events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id"), "ts"
    )
    j = interval_join(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        lower="1 seconds",
        upper="30 minutes",
    )
    return j.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("r_event_id"),
        F.floor(
            F.col("r_ts").cast("timestamp").cast("double")
            - F.col("ts").cast("timestamp").cast("double")
        ).alias("lag_s"),
    )


@suite.add(
    "stream_sink_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type, "value",
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY (event_id % 3) DESC, ts DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id, event_id, event_type,
           CAST("value" AS DOUBLE) AS value
    FROM ranked WHERE rn = 1
    """,
    doc="foreachBatch upsert sink (streaming/sinks.py): three micro-"
        "batches (event_id mod 3) MERGE into a manifest-backed table "
        "keyed by user_id, newest (ts, event_id) wins.  Exactly-once via "
        "batch id in the manifest commit; per-batch work is O(batch + "
        "touched files), table-size independent.  Final table contents "
        "must equal last-writer-wins per key over the batch sequence.",
    tags=("streaming", "sink"),
)
def stream_sink_upsert(spark, sf_dir):
    import shutil
    import tempfile

    from greengage_spark.operators.dml import WritableTable
    from greengage_spark.streaming.sinks import TableStreamSink

    ev = cat(spark, sf_dir).table("events").select(
        "user_id", "event_id", "event_type", "value", "ts"
    )
    root = os.path.join(tempfile.gettempdir(), "gg_stream_sink_upsert")
    shutil.rmtree(root, ignore_errors=True)
    st = WritableTable(spark, root, dist_keys=("user_id",), num_partitions=8)
    sink = TableStreamSink(st, keys=["user_id"], order_cols=["ts", "event_id"])
    for i in range(3):
        sink(ev.filter(F.col("event_id") % 3 == i), i)
    return st.df().select(
        "user_id", "event_id", "event_type", F.col("value").cast("double").alias("value")
    )


@suite.add(
    "stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
           CAST(e.value AS DOUBLE) AS value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase'
    """,
    doc="Stream-static enrichment (streaming/joins.static_enrich): the "
        "canonical ingest step — attach dimension metadata to each "
        "arriving event. STATELESS under readStream (no watermark, no "
        "join state; each micro-batch joins the dim as-of that batch), "
        "and the dim side broadcasts so the stream never shuffles. Live "
        "availableNow run in tests/test_streaming_live.py; batch is the "
        "oracle (identical by construction).",
    tags=("streaming", "join"),
)
def stream_static_enrich(spark, sf_dir):
    from greengage_spark.streaming.joins import static_enrich

    ev = cat(spark, sf_dir).table("events").filter(
        F.col("event_type") == "purchase"
    )
    dim = cat(spark, sf_dir).table("customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return static_enrich(ev, dim, keys=["user_id"]).select(
        "event_id", "user_id",
        F.col("c_mktsegment").alias("segment"),
        F.col("value").cast("double").alias("value"),
    )
