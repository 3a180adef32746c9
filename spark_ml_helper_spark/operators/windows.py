"""Window functions — SURVEY.md §2.E.

Determinism discipline: row_number/ntile get full tiebreaker sort keys;
rank/dense_rank/percent_rank may be ordered by tie-prone keys (their output
depends only on key *values*, so ties are deterministic). Timestamps are
compared as integer epoch-micros where gap arithmetic matters, so both
engines floor identically.

Scale note: a window partitioned by a key is one shuffle on that key plus a
per-partition sort — same cost class as a groupBy. The anti-pattern is an
UNPARTITIONED window (global order) — single reducer; we use it only in
`sort_multi` (explicitly documented) where a global total order is the
point.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table


@query(
    "win_rank",
    oracle="""
        SELECT o_orderkey,
               row_number() OVER w_price AS rn,
               ntile(4)     OVER w_price AS quartile,
               rank()       OVER w_year  AS rnk_year,
               dense_rank() OVER w_year  AS drnk_year,
               round(percent_rank() OVER w_year, 6) AS prank_year
        FROM orders
        WINDOW
            w_price AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey),
            w_year  AS (PARTITION BY o_orderstatus ORDER BY CAST(year(o_orderdate) AS INTEGER))
    """,
    family="windows",
)
def win_rank(spark, sf_dir):
    """Ranking family: row_number/ntile over a fully-tiebroken order;
    rank/dense_rank/percent_rank over a tie-heavy key (order year) to
    exercise peer-group semantics."""
    o = table(spark, sf_dir, "orders")
    w_price = Window.partitionBy("o_orderstatus").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w_year = Window.partitionBy("o_orderstatus").orderBy(F.year("o_orderdate").cast("int"))
    return o.select(
        "o_orderkey",
        F.row_number().over(w_price).cast("bigint").alias("rn"),
        F.ntile(4).over(w_price).cast("bigint").alias("quartile"),
        F.rank().over(w_year).cast("bigint").alias("rnk_year"),
        F.dense_rank().over(w_year).cast("bigint").alias("drnk_year"),
        F.round(F.percent_rank().over(w_year), 6).alias("prank_year"),
    )


@query(
    "win_lag_lead",
    oracle="""
        SELECT event_id, user_id,
               round(lag(value, 1, 0.0)  OVER w, 6) AS prev_v,
               round(lead(value, 1, -1.0) OVER w, 6) AS next_v,
               lag(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    family="windows",
)
def win_lag_lead(spark, sf_dir):
    """lag/lead with defaults over each user's event timeline."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.lag("value", 1, 0.0).over(w), 6).alias("prev_v"),
        F.round(F.lead("value", 1, -1.0).over(w), 6).alias("next_v"),
        F.lag("event_type").over(w).alias("prev_type"),
    )


@query(
    "win_running",
    oracle="""
        SELECT o_orderkey, o_custkey,
               round(sum(o_totalprice) OVER w, 6) AS run_spend,
               round(avg(o_totalprice) OVER w, 6) AS run_avg,
               count(*) OVER w AS run_n
        FROM orders
        WINDOW w AS (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
    """,
    family="windows",
)
def win_running(spark, sf_dir):
    """Running sum/avg/count per customer (rows frame, cumulative)."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 6).alias("run_spend"),
        F.round(F.avg("o_totalprice").over(w), 6).alias("run_avg"),
        F.count("*").over(w).alias("run_n"),
    )


@query(
    "win_range_frame",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               count(*) OVER (
                   PARTITION BY o_orderstatus ORDER BY o_totalprice
                   RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW
               ) AS n_within_1k
        FROM orders
    """,
    family="windows",
)
def win_range_frame(spark, sf_dir):
    """Value-based (RANGE) frame: how many same-status orders fall within
    $1000 below this order's price. Range frames are tie-deterministic by
    construction (peers share the frame)."""
    # PySpark's Window.rangeBetween only accepts integer offsets; a frame
    # over a DOUBLE order key needs the SQL form (same Catalyst plan).
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               count(*) OVER (
                   PARTITION BY o_orderstatus ORDER BY o_totalprice
                   RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW
               ) AS n_within_1k
        FROM orders
        """
    )


@query(
    "win_topk_group",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    family="windows",
    max_exchanges=1,
)
def win_topk_group(spark, sf_dir):
    """Top-3 orders per customer (the grouped top-k idiom: window + filter;
    Spark pushes the k-limit into the sort within each partition)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "win_sessionize",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, ts_us,
                   CASE WHEN lag(ts_us) OVER w IS NULL
                             OR ts_us - lag(ts_us) OVER w >= 600000000
                        THEN 1 ELSE 0 END AS is_new
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        )
        SELECT user_id, event_id,
               CAST(sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_seq
        FROM flagged
    """,
    family="windows",
    max_exchanges=1,
)
def win_sessionize(spark, sf_dir):
    """Gap-based sessionization (batch twin of stream_session): a ≥10-min
    silence starts a new session; session_seq numbers each user's sessions.
    Gap arithmetic runs on integer epoch-micros so both engines floor
    identically. Classic islands algorithm: lag → new-session flag →
    running sum. One shuffle on user_id serves both windows."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull() | (F.col("ts_us") - F.lag("ts_us").over(w) >= 600_000_000),
            1,
        ).otherwise(0),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return flagged.select(
        "user_id",
        "event_id",
        F.sum("is_new").over(wsum).cast("bigint").alias("session_seq"),
    )


@query(
    "win_first_last",
    oracle="""
        SELECT o_orderkey,
               round(first_value(o_totalprice) OVER w, 2) AS first_price,
               round(last_value(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ), 2) AS last_price,
               round(nth_value(o_totalprice, 2) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ), 2) AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    family="windows",
)
def win_first_last(spark, sf_dir):
    """Navigation functions with explicit frames: each order annotated
    with its customer's first, last, and second order price. last_value
    and nth_value REQUIRE the unbounded-following frame (the default
    frame ends at the current row, silently yielding the current/partial
    value — the classic window-frame bug); order keys are fully
    tiebroken. One shuffle on the partition key."""
    o = table(spark, sf_dir, "orders")
    wc = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        F.round(F.first("o_totalprice").over(wc), 2).alias("first_price"),
        F.round(F.last("o_totalprice").over(wfull), 2).alias("last_price"),
        F.round(F.nth_value("o_totalprice", 2).over(wfull), 2).alias("second_price"),
    )


@query(
    "win_dist",
    oracle="""
        SELECT o_orderkey,
               round(cume_dist() OVER w, 6) AS cd,
               CAST(ntile(10) OVER w AS BIGINT) AS decile,
               round(percent_rank() OVER w, 6) AS pr
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
    family="windows",
)
def win_dist(spark, sf_dir):
    """Distribution window functions: cume_dist (share of peers ≤ current
    row), decile assignment via ntile, percent_rank — the empirical-CDF
    trio feature pipelines use for rank-normalizing skewed features. Fully
    tiebroken order (price, then key) so every engine assigns identical
    values."""
    o = table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


@query(
    "win_streaks",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id,
                   datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
            FROM events
        ),
        isl AS (
            SELECT user_id, d,
                   d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
            FROM days
        ),
        streaks AS (
            SELECT user_id, count(*) AS len FROM isl GROUP BY user_id, grp
        )
        SELECT user_id, max(len) AS longest_streak,
               CAST(sum(len) AS BIGINT) AS n_active_days,
               count(*) AS n_streaks
        FROM streaks GROUP BY user_id
    """,
    family="windows",
)
def win_streaks(spark, sf_dir):
    """Gaps-and-islands: per-user longest run of CONSECUTIVE active days
    (day-index minus row_number is constant within a consecutive run —
    the classic islands trick), plus total active days and run count.
    The retention/engagement-streak shape every product-analytics stack
    computes. Two hash aggs and one per-user window over distinct
    active DAYS (bounded: users × days, not events); the day index is an
    integer difference from a fixed epoch so both engines group on exact
    ints."""
    e = table(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("grp", F.col("d") - F.row_number().over(w))
    streaks = isl.groupBy("user_id", "grp").agg(F.count("*").alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.sum("len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
    )


@query(
    "win_rolling_median",
    oracle="""
        SELECT event_id, user_id,
               round(CAST(quantile_cont(value, 0.5) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
               ) AS DOUBLE), 6) AS med7
        FROM events
    """,
    family="windows",
)
def win_rolling_median(spark, sf_dir):
    """Rolling exact median of the last 7 events per user — the robust
    smoother for noisy per-entity series (medians shrug off the spikes
    that wreck rolling means; this is the windowed twin of
    events_anomaly_mad's grouped median). `percentile` runs as a true
    window aggregate over a ROWS frame, partitioned by user — one shuffle
    on user_id, per-row cost bounded by the 7-row frame, and Spark's
    linear-interpolation percentile matches DuckDB's quantile_cont
    exactly (the agg_percentile parity). (ts, event_id) ordering pins
    frame contents under timestamp ties. At scale this is the same
    single-shuffle plan; for wide frames (e.g. 10k rows) swap in
    approx_percentile to cap per-frame sort cost."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        F.round(
            F.expr(
                """percentile(value, 0.5) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"""
            ),
            6,
        ).alias("med7"),
    )


@query(
    "win_time_range_frame",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
            FROM events
        )
        SELECT user_id, event_id,
               CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
               round(sum(round(value, 6)) OVER w, 4) AS sum_last_hour
        FROM e
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts_us
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
        )
    """,
    family="windows",
)
def win_time_range_frame(spark, sf_dir):
    """Trailing ONE-HOUR range frame per user: for every event, how
    many events (and how much value) the same user produced in the 60
    minutes up to and including it — the sliding-window rate limiter /
    velocity-check shape, and the WINDOW capability rows-frames cannot
    express (a RANGE frame keyed on event TIME, so gaps shrink the
    window instead of reaching further back). The frame bound runs on
    integer epoch-micros — identical frame membership cross-engine;
    ties in ts_us share a frame by RANGE semantics, making the result
    order-independent. Values round at 6 dp BEFORE the windowed sum so
    both engines fold identical addends (frames are ≤ a few dozen rows,
    keeping drift below the 4-dp output grid). One user_id shuffle
    serves both windows — parallel per-user frames, no global sort."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round("value", 6).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.round(F.sum("v").over(w), 4).alias("sum_last_hour"),
    )


@query(
    "win_pareto_frontier",
    oracle="""
        WITH spend AS (
            SELECT o_custkey AS c_custkey,
                   CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS spend_c
            FROM orders GROUP BY o_custkey
        ),
        both_axes AS (
            SELECT s.c_custkey, s.spend_c,
                   CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_c
            FROM spend s JOIN customer c ON s.c_custkey = c.c_custkey
        ),
        flagged AS (
            SELECT c_custkey, spend_c, bal_c,
                   max(bal_c) OVER (
                       ORDER BY spend_c DESC, c_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS best_bal_before
            FROM both_axes
        )
        SELECT c_custkey,
               round(spend_c / 100.0, 2) AS total_spend,
               round(bal_c / 100.0, 2) AS acctbal
        FROM flagged
        WHERE best_bal_before IS NULL OR bal_c > best_bal_before
    """,
    family="windows",
    global_window="skyline running-max over the per-customer aggregate (unique-key join)",
)
def win_pareto_frontier(spark, sf_dir):
    """Skyline / Pareto-frontier query: customers not DOMINATED on the
    (total spend, account balance) plane — no other customer is at
    least as good on both axes and strictly better on one. The classic
    window formulation: sort by spend descending and keep rows whose
    balance strictly exceeds the running max of every earlier (higher-
    spend) row — one window pass instead of the naive O(n²) domination
    self-join. All comparisons run on EXACT INTEGER CENTS with a full
    (spend, custkey) tiebreak, so frontier membership is bit-stable.
    The window is a global sort of the customer frame (agg_gini's
    documented trade); the distributed form sorts range-partitioned
    runs and merges per-partition frontiers (frontiers compose:
    skyline(A ∪ B) ⊆ skyline(A) ∪ skyline(B))."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    spend = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("spend_c")
    )
    both = spend.join(
        c.select(
            "c_custkey", F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c")
        ),
        "c_custkey",
    )
    w = Window.orderBy(F.desc("spend_c"), "c_custkey").rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = both.select(
        "c_custkey", "spend_c", "bal_c", F.max("bal_c").over(w).alias("best_bal_before")
    )
    return (
        flagged.where(
            F.col("best_bal_before").isNull()
            | (F.col("bal_c") > F.col("best_bal_before"))
        )
        .select(
            "c_custkey",
            F.round(F.col("spend_c") / 100.0, 2).alias("total_spend"),
            F.round(F.col("bal_c") / 100.0, 2).alias("acctbal"),
        )
    )


@query(
    "win_islands_ranges",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        grp AS (
            SELECT user_id, d,
                   d - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY d
                   ) AS INTEGER) AS anchor
            FROM ud
        )
        SELECT user_id,
               CAST(min(d) AS TIMESTAMP) AS streak_start,
               CAST(max(d) AS TIMESTAMP) AS streak_end,
               CAST(count(*) AS BIGINT) AS streak_days
        FROM grp
        GROUP BY user_id, anchor
    """,
    family="windows",
)
def win_islands_ranges(spark, sf_dir):
    """Gaps-and-islands with RANGE output: every maximal run of
    consecutive active days per user as (start, end, length) rows —
    the form billing periods, uptime reports, and streak badges
    consume (win_streaks reports only each user's max; this
    materializes every island). The classic date-minus-row_number
    anchor: consecutive days share an anchor, one grouped agg emits
    the ranges. Integer date arithmetic only — bit-stable. One
    distinct + one user-partitioned window + one hash agg, all on the
    user key; scales with user-days."""
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = ud.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    return (
        grp.groupBy("user_id", "anchor")
        .agg(
            F.min("d").cast("timestamp").alias("streak_start"),
            F.max("d").cast("timestamp").alias("streak_end"),
            F.count("*").alias("streak_days"),
        )
        .drop("anchor")
    )


@query(
    "win_session_native",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, ts, ts_us,
                   CASE WHEN lag(ts_us) OVER w IS NULL
                             OR ts_us - lag(ts_us) OVER w >= 600000000
                        THEN 1 ELSE 0 END AS is_new
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ),
        sess AS (
            SELECT user_id, ts, ts_us,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS seq
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) AS last_event_ts,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sess
        GROUP BY user_id, seq
    """,
    family="windows",
)
def win_session_native(spark, sf_dir):
    """Gap sessionization via Spark's NATIVE session_window() in BATCH
    mode — the same 10-minute-gap semantics as win_sessionize's manual
    islands algorithm, but executed by the engine's dedicated
    session-merge operator (UpdatingSessionsExec: sort within user,
    merge overlapping [t, t+gap) intervals) instead of two window
    passes — one shuffle either way, but the native form is what the
    STREAMING path (stream_run_session) uses, so this pins
    batch/stream semantic parity. The oracle derives identical
    sessions independently via the islands algorithm — native operator
    vs manual rewrite hash-matching each other is the strongest
    equivalence statement the suite can make for an execution
    operator. session_window.start = first event time; the window's
    synthetic end (last + gap) is replaced by the observed max(ts) so
    both engines emit observable quantities."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id", F.session_window(F.col("ts"), "10 minutes").alias("sw")
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event_ts"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "last_event_ts", "n_events")
    )


@query(
    "win_time_to_next_error",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id, event_type,
                   epoch_us(ts) AS ts_us
            FROM events
        ),
        nav AS (
            SELECT event_id, user_id, event_type,
                   min(CASE WHEN event_type = 'error' THEN ts_us END)
                       OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                       - ts_us AS tte_us
            FROM e
        )
        SELECT event_id, user_id, event_type,
               CAST(tte_us AS BIGINT) AS tte_us
        FROM nav
        WHERE event_type = 'purchase'
    """,
    family="windows",
)
def win_time_to_next_error(spark, sf_dir):
    """Time-to-next-failure labeling: for every purchase, the
    micros until the SAME USER's next error event (NULL = never fails
    again) — the survival-analysis label generator ("did the purchase
    precede a failure, and how soon") built as one conditional
    navigation window: min over the FOLLOWING frame of error
    timestamps only. This is the general "time to next event of type
    X" primitive behind churn labels, failure prediction, and
    intervention windows — and a shape joins can't express without an
    O(n²) inequality join (the window form is one user-partitioned
    sort). Exact integer micros; the frame excludes the current row
    so an error's own timestamp can't label it."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt_err = F.min(
        F.when(F.col("event_type") == "error", F.col("ts_us"))
    ).over(w)
    return (
        e.withColumn("tte_us", (nxt_err - F.col("ts_us")).cast("bigint"))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "event_type", "tte_us")
    )
