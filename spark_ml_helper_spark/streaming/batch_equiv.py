"""Batch-equivalent forms of the streaming operators — SURVEY.md §2.H.

Each streaming operator has two faces: the Structured Streaming run
(streaming/runs.py, rows-only) and THIS batch twin computing identical
semantics on the same data, which is what the DuckDB oracle checks. The
equivalences are exact by construction:

- tumbling window(ts, 1h)      ≡ group by date_trunc('hour', ts)
- sliding window(1h slide 15m) ≡ 4 epoch-aligned 15-min buckets per event
- session_window(ts, 10m)      ≡ islands algorithm with the same strict
                                 (gap ≥ 10 min ⇒ new session) boundary
- dropDuplicates               ≡ SELECT DISTINCT
- stream⋈static                ≡ the plain join
- running stateful fold        ≡ cumulative window
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table


TUMBLING_ORACLE = """
    SELECT date_trunc('hour', ts) AS w_start, event_type,
           count(*) AS n, round(sum(value), 6) AS sum_v
    FROM events
    GROUP BY 1, 2
"""

SLIDING_ORACLE = """
    SELECT time_bucket(INTERVAL '15 minutes', ts) - o.mins * INTERVAL '1 minute' AS w_start,
           event_type, count(*) AS n
    FROM events
    CROSS JOIN (VALUES (0), (15), (30), (45)) AS o(mins)
    GROUP BY 1, 2
"""

SESSION_ORACLE = """
    WITH e AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, ts, ts_us,
               CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w >= 600000000
                    THEN 1 ELSE 0 END AS is_new
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS s_start,
           max(ts) + INTERVAL '10 minutes' AS s_end,
           count(*) AS n
    FROM sessions
    GROUP BY user_id, session_seq
"""

STATIC_JOIN_ORACLE = """
    SELECT c.c_mktsegment, count(*) AS n, round(sum(e.value), 6) AS sum_v
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
"""


@query(
    "stream_tumbling",
    oracle=TUMBLING_ORACLE,
    family="streaming",
    max_exchanges=1,
)
def stream_tumbling(spark, sf_dir):
    """1-hour tumbling window counts/sums per event type (batch twin of the
    windowed streaming aggregation; the window struct is flattened to its
    start timestamp = the hour truncation)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_v"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_v")
    )


@query(
    "stream_sliding",
    oracle=SLIDING_ORACLE,
    family="streaming",
)
def stream_sliding(spark, sf_dir):
    """1-hour window sliding every 15 min: each event lands in exactly 4
    epoch-aligned windows (oracle materializes them as bucket − k·15min)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


@query(
    "stream_session",
    oracle=SESSION_ORACLE,
    family="streaming",
)
def stream_session(spark, sf_dir):
    """10-min-gap session windows per user via native session_window —
    Spark merges events while the gap is < 10 min and reports the session
    as [first_ts, last_ts + 10min). The oracle reproduces exactly that with
    the islands algorithm (same strict boundary)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("s_start"), F.col("w.end").alias("s_end"), "n")
    )


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    family="streaming",
)
def stream_dedup(spark, sf_dir):
    """Exact dedup on (user_id, event_type) — batch twin of the stateful
    streaming dropDuplicatesWithinWatermark run."""
    return table(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@query(
    "stream_static_join",
    oracle=STATIC_JOIN_ORACLE,
    family="streaming",
)
def stream_static_join(spark, sf_dir):
    """Stream⋈static-dim enrichment + aggregation, batch twin (the dim is
    broadcast in both worlds; in streaming the static side is re-resolved
    per micro-batch)."""
    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_v"))
    )


@query(
    "stream_stateful",
    oracle="""
        SELECT event_id, user_id,
               round(sum(value) OVER w, 6) AS cum_v,
               count(*) OVER w AS cum_n
        FROM events
        WINDOW w AS (
            PARTITION BY user_id ORDER BY epoch_us(ts), event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
    """,
    family="streaming",
)
def stream_stateful(spark, sf_dir):
    """Per-user running state (cumulative spend + event count) — batch twin
    of the custom-stateful streaming run (transformWithState); the state
    fold is exactly a cumulative window."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("cum_v"),
        F.count("*").over(w).alias("cum_n"),
    )
