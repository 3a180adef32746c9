"""Time-series smoothing and imputation operators over `events`:
exponentially-weighted moving averages and linear gap interpolation.

Both are single-shuffle shapes: the EWMA windows partition on user_id
(parallel per-user frames, no global sort); interpolation runs on the
hour×type grid — a bounded aggregate, thousands of rows at any corpus
size — so the corpus-scale work is only the one hash agg that builds the
observed series.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table

_ALPHA = 0.3  # EWMA smoothing; weight of lag j is (1-alpha)^j
_SPAN = 20  # truncation: lags beyond this carry < 0.1% weight at alpha=0.3


@query(
    "win_ewma",
    oracle=f"""
        WITH framed AS (
            SELECT event_id, user_id, value,
                   list(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {_SPAN - 1} PRECEDING AND CURRENT ROW
                   ) AS xs
            FROM events
        )
        SELECT event_id, user_id, round(value, 6) AS value,
               round(
                   list_sum(list_transform(range(1, len(xs) + 1),
                            i -> xs[i] * pow({1 - _ALPHA}, len(xs) - i)))
                   / list_sum(list_transform(range(1, len(xs) + 1),
                            i -> pow({1 - _ALPHA}, len(xs) - i))),
                   6) AS ewma
        FROM framed
    """,
    family="timeseries",
)
def win_ewma(spark, sf_dir):
    """Truncated exponentially-weighted moving average of `value` per
    user (alpha=0.3, last 20 events): the standard smoothing pass over
    per-entity metric streams. The recursive EWMA definition is
    deliberately truncated to a fixed frame so it stays a pure window
    expression — weight below the cutoff is < 0.1% — making it (a)
    shuffle-once on user_id with no sequential dependency and (b)
    bit-reproducible on both engines (identical weighted-sum arithmetic
    over the identical frame, 6-dp rounded). The frame is materialized
    with a windowed collect_list in frame order (oldest → newest) and
    folded with an indexed transform + aggregate — all JVM higher-order
    functions, no UDF."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_SPAN - 1), 0)
    )
    framed = e.select(
        "event_id", "user_id", "value", F.collect_list("value").over(w).alias("xs")
    )
    q = 1 - _ALPHA
    num = F.expr(
        f"aggregate(transform(xs, (x, i) -> x * pow({q}, size(xs) - 1 - i)), 0D, (a, v) -> a + v)"
    )
    den = F.expr(
        f"aggregate(transform(xs, (x, i) -> pow({q}, size(xs) - 1 - i)), 0D, (a, v) -> a + v)"
    )
    return framed.select(
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
        F.round(num / den, 6).alias("ewma"),
    )


_EPOCH = "TIMESTAMP '2024-01-01'"


@query(
    "ts_interpolate",
    oracle=f"""
        WITH obs AS (
            SELECT event_type, date_trunc('hour', ts) AS hr,
                   round(avg(value), 6) AS v
            FROM events
            WHERE CAST(json_extract(props, '$.k') AS INT) < 10
            GROUP BY event_type, hr
        ),
        bounds AS (SELECT min(date_trunc('hour', ts)) AS mn, max(date_trunc('hour', ts)) AS mx FROM events),
        spine AS (
            SELECT t.event_type, g.hr
            FROM (SELECT DISTINCT event_type FROM events) t,
                 (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM bounds) g
        ),
        grid AS (
            SELECT s.event_type, s.hr, obs.v,
                   datediff('hour', {_EPOCH}, s.hr) AS h
            FROM spine s LEFT JOIN obs ON s.event_type = obs.event_type AND s.hr = obs.hr
        ),
        filled AS (
            SELECT event_type, hr, v, h,
                   last_value(v IGNORE NULLS) OVER w_prev AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER w_prev AS ph,
                   first_value(v IGNORE NULLS) OVER w_next AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER w_next AS nh
            FROM grid
            WINDOW w_prev AS (PARTITION BY event_type ORDER BY hr
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_next AS (PARTITION BY event_type ORDER BY hr
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, hr, (v IS NOT NULL) AS observed,
               CASE
                   WHEN v IS NOT NULL THEN v
                   WHEN pv IS NOT NULL AND nv IS NOT NULL
                       THEN pv + (nv - pv) * (h - ph) / (nh - ph)
                   ELSE coalesce(pv, nv)
               END AS v_interp
        FROM filled
    """,
    family="timeseries",
    bnlj="hourly time spine (720 rows) crossJoined with the event types",
)
def ts_interpolate(spark, sf_dir):
    """Linear interpolation over a sparse hourly series: the mean `value`
    per (event_type, hour) on a ~10% slice (props.k < 10) leaves most
    grid hours empty; every gap is filled by interpolating between the
    nearest observed neighbors (edges fall back to nearest-value
    extrapolation). Complements ts_gap_fill (zero-fill): this is the
    imputation variant sensor/metrics pipelines need. Observations are
    6-dp rounded BEFORE interpolating so both engines feed bit-identical
    doubles through the identical IEEE interpolation arithmetic; the
    OUTPUT is deliberately NOT rounded — dyadic hour ratios make exact
    rounding-boundary ties common (e.g. 44.8790625), where the engines'
    double round() half-handling disagrees, while the unrounded doubles
    are bitwise equal. Plan shape: one
    corpus-sized hash agg → generated hour spine (never collected,
    broadcast) → two frame-bounded windows per type carrying the
    last/next observation forward — partitioned by event_type, so at
    scale each series interpolates independently in parallel."""
    e = table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    obs = (
        e.filter(F.get_json_object("props", "$.k").cast("int") < 10)
        .groupBy(F.col("event_type"), hr.alias("hr"))
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    bounds = e.agg(F.min(hr).alias("mn"), F.max(hr).alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    types = e.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(spine))
        .join(obs, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            "v",
            F.expr(f"timestampdiff(HOUR, {_EPOCH}, hr)").alias("h"),
        )
    )
    w_prev = Window.partitionBy("event_type").orderBy("hr").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_next = Window.partitionBy("event_type").orderBy("hr").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    filled = grid.select(
        "event_type",
        "hr",
        "v",
        "h",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(w_next).alias("nh"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("h") - F.col("ph"))
            / (F.col("nh") - F.col("ph")),
        )
        .otherwise(F.coalesce("pv", "nv"))
    )
    return filled.select(
        "event_type",
        "hr",
        F.col("v").isNotNull().alias("observed"),
        interp.alias("v_interp"),
    )


@query(
    "ts_resample_ohlc",
    oracle="""
        WITH r AS (
            SELECT date_trunc('hour', ts) AS hr, value, ts, event_id,
                   row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        SELECT hr,
               round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
               round(max(value), 6)                             AS high,
               round(min(value), 6)                             AS low,
               round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
               count(*)                                         AS n_events,
               round(sum(value), 6)                             AS volume
        FROM r GROUP BY hr
    """,
    family="timeseries",
)
def ts_resample_ohlc(spark, sf_dir):
    """OHLC downsampling — the canonical time-series resample: per hourly
    bar, the first (open) and last (close) observation by (ts, event_id)
    — the id tie-break makes first/last deterministic under equal
    timestamps — plus high/low/count/volume. One window pass partitioned
    by the bar key feeds one hash aggregate on the same key, so the
    shuffle count is one and AQE coalesces the bar partitions; at 100 TB
    the bar key is time-prefixed, so a date-partitioned source prunes to
    the requested range before the window runs."""
    e = table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts")).alias("hr")
    r = e.select(hr, "value", "ts", "event_id")
    w_a = Window.partitionBy("hr").orderBy("ts", "event_id")
    w_d = Window.partitionBy("hr").orderBy(F.desc("ts"), F.desc("event_id"))
    r = r.withColumn("rn_a", F.row_number().over(w_a)).withColumn(
        "rn_d", F.row_number().over(w_d)
    )
    return r.groupBy("hr").agg(
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 6).alias("close"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("volume"),
    )


@query(
    "ts_cusum",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        stats AS (
            SELECT event_type, day, x,
                   avg(x) OVER (PARTITION BY event_type) AS mu,
                   stddev_samp(x) OVER (PARTITION BY event_type) AS sd
            FROM daily
        ),
        cum AS (
            SELECT event_type, day, x, sd,
                   sum(x - mu - 0.5 * sd) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS c
            FROM stats
        ),
        refl AS (
            SELECT event_type, day, x, sd, c,
                   min(c) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS m
            FROM cum
        )
        SELECT event_type, CAST(day AS VARCHAR) AS day, round(x, 6) AS x,
               round(c - least(0, m), 6) AS cusum,
               CAST(c - least(0, m) > 4 * sd AS BOOLEAN) AS alarm
        FROM refl
    """,
    family="timeseries",
)
def ts_cusum(spark, sf_dir):
    """One-sided CUSUM change-point detection on daily per-event-type
    value totals (slack k = 0.5 sd, alarm threshold h = 4 sd). The
    textbook recursion S_t = max(0, S_{t-1} + d_t) looks inherently
    sequential, but the reflection identity
    S_t = C_t - min(0, min_{j<=t} C_j) (C = prefix sum of deviations)
    turns it into two plain window prefixes — a running sum and a
    running min — so the whole detector stays in whole-stage codegen
    with no UDF and no driver loop. Shuffles: one hash agg on
    (event_type, day) collapses the event volume to one row per series
    point, then every window partitions on event_type — per-series
    parallelism, no global sort. At 100 TB the daily agg is the only
    data-sized stage and it is partial-aggregated map-side; series
    count, not event count, bounds the window state."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum("value").alias("x"))
    )
    w_all = Window.partitionBy("event_type")
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stats = daily.select(
        "event_type",
        "day",
        "x",
        F.avg("x").over(w_all).alias("mu"),
        F.stddev_samp("x").over(w_all).alias("sd"),
    )
    cum = stats.withColumn(
        "c", F.sum(F.col("x") - F.col("mu") - 0.5 * F.col("sd")).over(w_run)
    )
    refl = cum.withColumn("m", F.min("c").over(w_run))
    s = F.col("c") - F.least(F.lit(0.0), F.col("m"))
    return refl.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("x", 6).alias("x"),
        F.round(s, 6).alias("cusum"),
        (s > 4 * F.col("sd")).alias("alarm"),
    )


_ACF_MAX_LAG = 7


@query(
    "ts_autocorr",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        lagged AS (
            SELECT event_type, x,
                   {", ".join(
                       f"lag(x, {k}) OVER (PARTITION BY event_type ORDER BY day) AS x_{k}"
                       for k in range(1, _ACF_MAX_LAG + 1)
                   )}
            FROM daily
        )
        {" UNION ALL ".join(
            f"SELECT event_type, CAST({k} AS BIGINT) AS lag, round(corr(x, x_{k}), 6) AS acf, "
            f"count(x_{k}) AS n_pairs FROM lagged GROUP BY event_type"
            for k in range(1, _ACF_MAX_LAG + 1)
        )}
    """,
    family="timeseries",
)
def ts_autocorr(spark, sf_dir):
    """Autocorrelation function of the daily per-event-type value series
    at lags 1..7 — the seasonality probe run before fitting any
    forecasting model (a weekly cycle shows as a lag-7 peak). Pearson
    corr between the series and its lag-k shift, one row per
    (series, lag), with the pair count so short-series estimates are
    visibly low-support. Plan: one hash agg collapses events to daily
    points, ONE window pass materializes all 7 lag columns (the lags
    share a single sort on the same partition key, not 7 sorts), then a
    per-series hash agg computes the 7 corr aggregates simultaneously
    and a stack() unpivots — corr's null-skipping drops the k head rows
    of each series on both engines identically. Scales on series
    count × horizon, independent of raw event volume."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum("value").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "x",
        *[F.lag("x", k).over(w).alias(f"x_{k}") for k in range(1, _ACF_MAX_LAG + 1)],
    )
    agg = lagged.groupBy("event_type").agg(
        *[
            F.round(F.corr("x", f"x_{k}"), 6).alias(f"acf_{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
        *[
            F.count(f"x_{k}").alias(f"n_{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    stacked = ", ".join(
        f"{k}L, acf_{k}, n_{k}" for k in range(1, _ACF_MAX_LAG + 1)
    )
    return agg.select(
        "event_type",
        F.expr(
            f"stack({_ACF_MAX_LAG}, {stacked}) AS (lag, acf, n_pairs)"
        ),
    )


@query(
    "ts_seasonal_decompose",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        trended AS (
            SELECT event_type, day, x,
                   avg(x) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
                   ) AS trend,
                   dayofweek(day) + 1 AS dow
            FROM daily
        ),
        seasonal AS (
            SELECT event_type, dow, avg(x - trend) AS s
            FROM trended GROUP BY event_type, dow
        )
        SELECT t.event_type, CAST(t.day AS VARCHAR) AS day,
               CAST(t.dow AS INT) AS dow,
               round(t.x, 6) AS x,
               round(t.trend, 6) AS trend,
               round(s.s, 6) AS seasonal,
               round(t.x - t.trend - s.s, 6) AS residual
        FROM trended t
        JOIN seasonal s ON t.event_type = s.event_type AND t.dow = s.dow
    """,
    family="timeseries",
)
def ts_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition of the daily
    per-event-type value series: trend = centered 7-day rolling mean,
    seasonal = mean detrended value per weekday, residual = the rest —
    the pre-modeling diagnostic separating weekly cycle from drift from
    noise. Plan: the events-sized stage is one hash agg to daily
    points; the trend window partitions on event_type (per-series
    parallelism, truncated symmetric frames at the series edges —
    identical avg-over-available-rows semantics on both engines); the
    weekday profile is a tiny (series × 7)-row aggregate broadcast back
    onto the points. Weekday numbering is pinned cross-engine (Spark
    dayofweek = DuckDB dayofweek + 1, Sunday-anchored). Scales on
    series count × horizon after the first agg, like ts_cusum."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum("value").alias("x"))
    )
    w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    trended = daily.select(
        "event_type",
        "day",
        "x",
        F.avg("x").over(w7).alias("trend"),
        F.dayofweek("day").alias("dow"),
    )
    seasonal = trended.groupBy("event_type", "dow").agg(
        F.avg(F.col("x") - F.col("trend")).alias("s")
    )
    return (
        trended.join(F.broadcast(seasonal), ["event_type", "dow"])
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dow",
            F.round("x", 6).alias("x"),
            F.round("trend", 6).alias("trend"),
            F.round("s", 6).alias("seasonal"),
            F.round(F.col("x") - F.col("trend") - F.col("s"), 6).alias("residual"),
        )
    )


@query(
    "ts_forecast_naive",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        scored AS (
            SELECT event_type, day, x,
                   lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS fcst
            FROM daily
        )
        SELECT event_type,
               count(fcst) AS n_scored,
               round(avg(abs(x - fcst)), 6) AS mae,
               round(avg(abs(x - fcst) / x), 6) AS mape,
               round(sqrt(avg((x - fcst) * (x - fcst))), 6) AS rmse
        FROM scored
        GROUP BY event_type
    """,
    family="timeseries",
)
def ts_forecast_naive(spark, sf_dir):
    """Seasonal-naive forecast backtest: predict each day's per-type
    total as the value seven days earlier and score MAE / MAPE / RMSE
    per series — the baseline every forecasting model must beat, and
    the shape of a rolling backtest harness (lag-k forecast → error
    aggregate). One hash agg to daily points, one lag window per
    series, one scoring agg; the first 7 days drop out via lag's nulls
    identically on both engines (x > 0 always here, so MAPE's division
    is safe). Scales on series count × horizon after the daily agg,
    like the other ts_* entries."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum("value").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    scored = daily.withColumn("fcst", F.lag("x", 7).over(w))
    err = F.col("x") - F.col("fcst")
    return scored.groupBy("event_type").agg(
        F.count("fcst").alias("n_scored"),
        F.round(F.avg(F.abs(err)), 6).alias("mae"),
        F.round(F.avg(F.abs(err) / F.col("x")), 6).alias("mape"),
        F.round(F.sqrt(F.avg(err * err)), 6).alias("rmse"),
    )


@query(
    "ts_rolling_corr",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hr,
                   CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
                   CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
            FROM events GROUP BY 1
        ),
        win AS (
            SELECT hr, x, y,
                   count(*) OVER w AS n,
                   sum(x) OVER w AS sx, sum(y) OVER w AS sy,
                   sum(x * y) OVER w AS sxy,
                   sum(x * x) OVER w AS sxx,
                   sum(y * y) OVER w AS syy
            FROM hourly
            WINDOW w AS (ORDER BY hr ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        )
        SELECT hr, x, y,
               round((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)),
                     6) AS roll_corr
        FROM win
        WHERE n = 24
          AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
    family="timeseries",
)
def ts_rolling_corr(spark, sf_dir):
    """24-hour rolling Pearson correlation between the hourly click and
    purchase rates — the co-movement monitor behind "did errors kill
    conversions?" dashboards. The correlation is computed FROM EXACT
    INTEGER WINDOW SUMS (n, Σx, Σy, Σxy, Σx², Σy²) rather than a
    native corr() aggregate, because the closed form over exact
    integers is bit-stable cross-engine while two engines' streaming
    corr kernels are not. Partial windows (first 23 hours) and
    zero-variance windows are excluded by exact integer guards — no
    NaN/NULL divergence. One corpus-sized hash agg to the 720-row hour
    grid; the rolling window then sorts that reduced frame globally
    (single partition — the same documented trade as agg_gini; in
    production partition by series key or use day-bounded range
    frames)."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
    )
    w = Window.orderBy("hr").rowsBetween(-23, 0)
    win = hourly.select(
        "hr",
        "x",
        "y",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        win.where((F.col("n") == 24) & (varx > 0) & (vary > 0))
        .select(
            "hr",
            "x",
            "y",
            F.round(num / F.sqrt(varx * 1.0 * vary), 6).alias("roll_corr"),
        )
    )


@query(
    "ts_zscore_rolling",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hr,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        win AS (
            SELECT hr, x,
                   count(*) OVER w AS n,
                   sum(x) OVER w AS sx,
                   sum(x * x) OVER w AS sxx
            FROM hourly
            WINDOW w AS (ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        ),
        z AS (
            SELECT hr, x, n, sx, sxx,
                   round((n * x - sx)
                         / sqrt(n * (n * sxx - sx * sx) * 1.0 / (n - 1)),
                         6) AS z
            FROM win
            WHERE n = 24 AND (n * sxx - sx * sx) > 0
        )
        SELECT hr, x, z, CAST(abs(z) > 3 AS BOOLEAN) AS anomaly
        FROM z
    """,
    family="timeseries",
)
def ts_zscore_rolling(spark, sf_dir):
    """Trailing-window z-score anomaly detection on the hourly event
    rate: each hour's count is scored against the PRECEDING 24 hours'
    mean and sample std (the window excludes the current point, so a
    spike cannot suppress its own baseline) — the drift-robust
    complement to events_rate_anomaly's whole-series Poisson baseline.
    z = (n·x − Σx)/√(n·(n·Σx² − (Σx)²)/(n−1)) is computed entirely
    from EXACT INTEGER window sums, so the score and the |z| > 3 flag
    (tested on the ROUNDED z) are bit-stable cross-engine; warm-up
    hours and zero-variance windows are excluded by exact integer
    guards. One corpus-sized hash agg to the hour grid, then the
    rolling window on the 720-row reduced frame (single partition —
    agg_gini's documented trade; partition by series key in
    production)."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.count("*").alias("x")
    )
    w = Window.orderBy("hr").rowsBetween(-24, -1)
    win = hourly.select(
        "hr",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    var_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    z = F.round(
        (F.col("n") * F.col("x") - F.col("sx"))
        / F.sqrt(F.col("n") * var_n * 1.0 / (F.col("n") - 1)),
        6,
    )
    return (
        win.where((F.col("n") == 24) & (var_n > 0))
        .select("hr", "x", z.alias("z"))
        .withColumn("anomaly", F.abs(F.col("z")) > 3)
    )


@query(
    "ts_twa",
    oracle="""
        WITH e AS (
            SELECT user_id, CAST(ts AS DATE) AS d, epoch_us(ts) AS ts_us,
                   round(value, 6) AS v, event_id
            FROM events
        ),
        seg AS (
            SELECT user_id, d, ts_us, v, event_id,
                   lead(ts_us) OVER w AS nxt_us,
                   lead(v) OVER w AS nxt_v
            FROM e
            WINDOW w AS (PARTITION BY user_id, d ORDER BY ts_us, event_id)
        ),
        folded AS (
            SELECT user_id, d,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   CAST(sum(nxt_us - ts_us) AS BIGINT) AS span_us,
                   sum(0.5 * (v + nxt_v) * (nxt_us - ts_us)) AS area
            FROM seg
            WHERE nxt_us IS NOT NULL
            GROUP BY user_id, d
        )
        SELECT user_id, CAST(d AS TIMESTAMP) AS d,
               n_samples + 1 AS n_samples,
               round(span_us / 1e6, 6) AS span_s,
               round(area / span_us, 6) AS twa_value
        FROM folded
        WHERE span_us > 0
    """,
    family="timeseries",
)
def ts_twa(spark, sf_dir):
    """Time-weighted average of `value` per user-day over IRREGULAR
    samples (trapezoidal rule: Σ ½(vᵢ+vᵢ₊₁)·Δtᵢ / Σ Δtᵢ) — the correct
    average for unevenly-sampled gauges, where the arithmetic mean
    over-weights bursts (the industrial/monitoring-historian staple).
    One (user, day)-partitioned lead window builds the segments (no
    global sort), one hash agg folds them. Determinism: Δt is exact
    integer micros, values round at 6 dp before the fold, each
    segment's trapezoid is identical IEEE arithmetic per row, and the
    per-group fold spans ≤ a user-day's samples (dozens — drift
    ~1e-13, far inside 6 dp); single-sample days (span 0) are excluded
    by an exact integer guard."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round("value", 6).alias("v"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "d").orderBy("ts_us", "event_id")
    seg = e.select(
        "user_id",
        "d",
        "ts_us",
        "v",
        F.lead("ts_us").over(w).alias("nxt_us"),
        F.lead("v").over(w).alias("nxt_v"),
    )
    folded = (
        seg.where(F.col("nxt_us").isNotNull())
        .groupBy("user_id", "d")
        .agg(
            F.count("*").alias("n_samples"),
            F.sum(F.col("nxt_us") - F.col("ts_us")).alias("span_us"),
            F.sum(
                0.5 * (F.col("v") + F.col("nxt_v")) * (F.col("nxt_us") - F.col("ts_us"))
            ).alias("area"),
        )
    )
    return (
        folded.where(F.col("span_us") > 0)
        .select(
            "user_id",
            F.col("d").cast("timestamp").alias("d"),
            (F.col("n_samples") + 1).alias("n_samples"),
            F.round(F.col("span_us") / 1e6, 6).alias("span_s"),
            F.round(F.col("area") / F.col("span_us"), 6).alias("twa_value"),
        )
    )


@query(
    "ts_control_chart",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        mr AS (
            SELECT d, x,
                   abs(x - lag(x) OVER (ORDER BY d)) AS mrange
            FROM daily
        ),
        lims AS (
            SELECT round(avg(x), 6) AS xbar,
                   round(avg(mrange), 6) AS mrbar
            FROM mr
        )
        SELECT CAST(d AS TIMESTAMP) AS d, x,
               CAST(mrange AS BIGINT) AS mrange,
               round(xbar + 2.66 * mrbar, 6) AS ucl,
               round(xbar - 2.66 * mrbar, 6) AS lcl,
               CAST(x > xbar + 2.66 * mrbar
                    OR x < xbar - 2.66 * mrbar AS BOOLEAN) AS out_of_control
        FROM mr CROSS JOIN lims
    """,
    family="timeseries",
    bnlj="1-row control limits broadcast onto the moving ranges",
)
def ts_control_chart(spark, sf_dir):
    """XmR (individuals & moving-range) control chart on the daily
    event count — the Shewhart SPC staple: limits at x̄ ± 2.66·mR̄
    (2.66 = 3/d₂ for n=2), flagging days outside natural process
    variation. Statistically distinct from the z-score family: the
    moving-range estimator is robust to slow drift, which inflates a
    global σ but not successive differences. One hash agg to the
    30-row day grid, a lag window on it, and a 1-row limits aggregate
    broadcast back. x and mR are exact integers; x̄/mR̄ round before
    the limit arithmetic, so both engines compare identical doubles,
    and the out_of_control flag tests an exact integer against that
    identical double — bit-stable."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").alias("x")
    )
    w = Window.orderBy("d")
    mr = daily.select(
        "d", "x", F.abs(F.col("x") - F.lag("x").over(w)).alias("mrange")
    )
    lims = mr.agg(
        F.round(F.avg("x"), 6).alias("xbar"),
        F.round(F.avg("mrange"), 6).alias("mrbar"),
    )
    ucl = F.col("xbar") + 2.66 * F.col("mrbar")
    lcl = F.col("xbar") - 2.66 * F.col("mrbar")
    return (
        mr.join(F.broadcast(lims))
        .select(
            F.col("d").cast("timestamp").alias("d"),
            "x",
            F.col("mrange").cast("bigint").alias("mrange"),
            F.round(ucl, 6).alias("ucl"),
            F.round(lcl, 6).alias("lcl"),
            ((F.col("x") > ucl) | (F.col("x") < lcl)).alias("out_of_control"),
        )
    )


@query(
    "ts_trend_robust",
    oracle="""
        WITH daily AS (
            SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        slopes AS (
            SELECT (b.x - a.x) * 1.0 / (b.t - a.t) AS slope
            FROM daily a JOIN daily b ON b.t > a.t
        )
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope
        FROM slopes
    """,
    family="timeseries",
    bnlj="Theil-Sen pair self-join of the 30-row daily frame",
)
def ts_trend_robust(spark, sf_dir):
    """Theil–Sen robust trend: the MEDIAN of all pairwise slopes of
    the daily event-count series — the estimator that shrugs off the
    outlier days that wreck OLS (ts_seasonal_decompose /
    ml_linreg_normal are the least-squares counterparts; breakdown
    point 29% vs 0%). The pair space is |days|² — BOUNDED at 435
    pairs here and (series length)² generally, which is why Theil-Sen
    is computed per-series on the AGGREGATED grid, never on raw
    events; for long series the knob is Siegel's repeated-median or a
    pair subsample. Each slope is one division of exact integers —
    identical doubles both engines — and the median interpolates
    identical inputs. The pair join is a self-join of a 30-row frame
    (broadcast, trivially)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "t"
        )
    ).agg(F.count("*").alias("x"))
    a = daily.select(F.col("t").alias("ta"), F.col("x").alias("xa"))
    b = daily.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    slopes = a.join(b, F.col("tb") > F.col("ta")).select(
        ((F.col("xb") - F.col("xa")) * 1.0 / (F.col("tb") - F.col("ta"))).alias(
            "slope"
        )
    )
    return slopes.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.percentile("slope", 0.5), 6).alias("theil_sen_slope"),
    )


@query(
    "ts_backtest_seasonal",
    oracle="""
        WITH hourly AS (
            SELECT CAST(ts AS DATE) AS d, isodow(ts) AS dow, hour(ts) AS hr,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2, 3
        ),
        split AS (SELECT DATE '2024-01-24' AS cutoff),
        baseline AS (
            SELECT dow, hr,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(count(*) AS BIGINT) AS nd
            FROM hourly CROSS JOIN split
            WHERE d < cutoff
            GROUP BY dow, hr
        ),
        scored AS (
            SELECT h.d, h.x, b.sx * 1.0 / b.nd AS yhat
            FROM hourly h
            JOIN baseline b ON h.dow = b.dow AND h.hr = b.hr
            CROSS JOIN split
            WHERE h.d >= cutoff
        )
        SELECT CAST(d AS TIMESTAMP) AS d,
               CAST(count(*) AS BIGINT) AS n_hours,
               CAST(sum(x) AS BIGINT) AS actual,
               round(sum(yhat), 6) AS forecast,
               round(sum(abs(x - yhat)) / count(*), 6) AS mae
        FROM scored
        GROUP BY d
    """,
    family="timeseries",
)
def ts_backtest_seasonal(spark, sf_dir):
    """Walk-forward BACKTEST of a (weekday × hour) seasonal-profile
    forecast: train on days 1-23, predict each held-out day's hourly
    counts as the training mean for that (dow, hour) cell, and report
    per-day MAE — the honest way to grade any forecaster
    (ts_forecast_naive supplies the naive baseline this must beat;
    the seasonal profile is what "traffic looks like last Tuesday 3pm"
    dashboards implicitly assume). The baseline is a 168-cell
    aggregate carrying EXACT integer (sum, count) pairs — yhat's
    division is identical on both engines — joined back via broadcast
    onto the held-out grid; MAE folds |int − identical-double| over 24
    cells per day. One corpus hash agg + one broadcast join at any
    scale; the cutoff generalizes to rolling-origin evaluation by
    parameterizing the split date."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.col("ts").cast("date").alias("d"),
        (F.weekday("ts") + 1).alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(F.count("*").alias("x"))
    cutoff = F.lit("2024-01-24").cast("date")
    baseline = (
        hourly.where(F.col("d") < cutoff)
        .groupBy("dow", "hr")
        .agg(F.sum("x").alias("sx"), F.count("*").alias("nd"))
    )
    yhat = F.col("sx") * 1.0 / F.col("nd")
    scored = (
        hourly.where(F.col("d") >= cutoff)
        .join(F.broadcast(baseline), ["dow", "hr"])
        .select("d", "x", yhat.alias("yhat"))
    )
    return scored.groupBy("d").agg(
        F.count("*").alias("n_hours"),
        F.sum("x").alias("actual"),
        F.round(F.sum("yhat"), 6).alias("forecast"),
        F.round(F.sum(F.abs(F.col("x") - F.col("yhat"))) / F.count("*"), 6).alias(
            "mae"
        ),
    ).select(
        F.col("d").cast("timestamp").alias("d"),
        "n_hours",
        "actual",
        "forecast",
        "mae",
    )


@query(
    "ts_max_drawdown",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS rev_c
            FROM orders GROUP BY 1
        ),
        dd AS (
            SELECT d, rev_c AS equity_c,
                   CAST(max(rev_c) OVER (ORDER BY d) AS BIGINT) AS peak_c
            FROM daily
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               round(max(peak_c) / 100.0, 2) AS final_peak,
               round(max(peak_c - equity_c) / 100.0, 2) AS max_drawdown_abs,
               round(max((peak_c - equity_c) * 1.0 / peak_c), 6)
                   AS max_drawdown_frac
        FROM dd
    """,
    family="timeseries",
)
def ts_max_drawdown(spark, sf_dir):
    """Maximum drawdown of the DAILY revenue series against its
    running peak: the deepest fall from the best day seen so far, in
    absolute cents and as a fraction of that peak — the risk metric
    finance applies to equity curves, applied here to the KPI series
    where it reads "how far below our best day have we sunk"
    (cumulative revenue is monotone and would give a degenerate 0;
    feed a PnL/net-cash series for the classical form — the plan is
    identical). One running-max window over the daily grid reduced
    from one corpus hash agg, then a 1-row fold — the window runs on
    |days| rows (global-sort-on-reduced-frame, agg_gini's documented
    trade). ALL state is exact integer cents — bit-stable
    cross-engine."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("rev_c")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "d",
        F.col("rev_c").alias("equity_c"),
        F.max("rev_c").over(w).alias("peak_c"),
    )
    return dd.agg(
        F.count("*").alias("n_days"),
        F.round(F.max("peak_c") / 100.0, 2).alias("final_peak"),
        F.round(F.max(F.col("peak_c") - F.col("equity_c")) / 100.0, 2).alias(
            "max_drawdown_abs"
        ),
        F.round(
            F.max((F.col("peak_c") - F.col("equity_c")) * 1.0 / F.col("peak_c")), 6
        ).alias("max_drawdown_frac"),
    )


@query(
    "ts_seasonality_strength",
    oracle="""
        WITH hourly AS (
            SELECT isodow(ts) AS dow, hour(ts) AS hr,
                   date_trunc('hour', ts) AS cell,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2, 3
        ),
        prof AS (
            SELECT dow, hr,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(count(*) AS BIGINT) AS nc
            FROM hourly GROUP BY dow, hr
        ),
        tot AS (
            SELECT CAST(sum(x) AS BIGINT) AS gx,
                   CAST(count(*) AS BIGINT) AS gn
            FROM hourly
        ),
        resid AS (
            SELECT h.x,
                   h.x - p.sx * 1.0 / p.nc AS e_seasonal,
                   h.x - t.gx * 1.0 / t.gn AS e_mean
            FROM hourly h
            JOIN prof p ON h.dow = p.dow AND h.hr = p.hr
            CROSS JOIN tot t
        )
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               round(sum(e_mean * e_mean), 4) AS sst,
               round(sum(e_seasonal * e_seasonal), 4) AS sse,
               round(1.0 - sum(e_seasonal * e_seasonal)
                         / sum(e_mean * e_mean), 6) AS seasonality_r2
        FROM resid
    """,
    family="timeseries",
    bnlj="1-row global totals broadcast onto the hourly residuals",
)
def ts_seasonality_strength(spark, sf_dir):
    """Seasonality STRENGTH: the share of hourly-count variance
    explained by the (weekday × hour) profile, R² = 1 − SSE/SST — the
    single number that says whether seasonal models
    (ts_backtest_seasonal, ts_seasonal_decompose) are worth their
    complexity on this series (R² ≈ 0 → the profile is noise, use the
    flat/naive baseline). Residuals are (exact int − identical
    double) per cell; the sums of squares round at 4 dp and the ratio
    divides values drifting ~1e-10 against a 1e-4 grid. One hash agg
    to the hour grid, a 168-cell profile broadcast back, one fold —
    the backtest's plan without the temporal split."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        (F.weekday("ts") + 1).alias("dow"),
        F.hour("ts").alias("hr"),
        F.date_trunc("hour", F.col("ts")).alias("cell"),
    ).agg(F.count("*").alias("x"))
    prof = hourly.groupBy("dow", "hr").agg(
        F.sum("x").alias("sx"), F.count("*").alias("nc")
    )
    tot = hourly.agg(F.sum("x").alias("gx"), F.count("*").alias("gn"))
    resid = (
        hourly.join(F.broadcast(prof), ["dow", "hr"])
        .join(F.broadcast(tot))
        .select(
            (F.col("x") - F.col("sx") * 1.0 / F.col("nc")).alias("e_seasonal"),
            (F.col("x") - F.col("gx") * 1.0 / F.col("gn")).alias("e_mean"),
        )
    )
    sse = F.sum(F.col("e_seasonal") * F.col("e_seasonal"))
    sst = F.sum(F.col("e_mean") * F.col("e_mean"))
    return resid.agg(
        F.count("*").alias("n_cells"),
        F.round(sst, 4).alias("sst"),
        F.round(sse, 4).alias("sse"),
        F.round(1.0 - sse / sst, 6).alias("seasonality_r2"),
    )


@query(
    "ts_alert_persistence",
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        win AS (
            SELECT hr, x,
                   count(*) OVER w AS n, sum(x) OVER w AS sx,
                   sum(x * x) OVER w AS sxx
            FROM hourly
            WINDOW w AS (ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        ),
        z AS (
            SELECT hr, x,
                   round((n * x - sx)
                         / sqrt(n * (n * sxx - sx * sx) * 1.0 / (n - 1)),
                         6) AS z
            FROM win WHERE n = 24 AND (n * sxx - sx * sx) > 0
        ),
        anom AS (
            SELECT hr, x, z,
                   epoch(hr) // 3600
                       - row_number() OVER (ORDER BY hr) AS anchor
            FROM z WHERE abs(z) > 2.0
        )
        SELECT min(hr) AS alert_start,
               max(hr) AS alert_end,
               CAST(count(*) AS BIGINT) AS n_hours,
               round(max(abs(z)), 6) AS peak_abs_z
        FROM anom
        GROUP BY anchor
        HAVING count(*) >= 2
    """,
    family="timeseries",
)
def ts_alert_persistence(spark, sf_dir):
    """Persistence-gated alerting: fire only when the trailing-window
    z-score (ts_zscore_rolling's detector) stays beyond |z| > 2 for at
    least TWO CONSECUTIVE HOURS, and emit each sustained episode as a
    (start, end, duration, peak) alert row — the debounce rule that
    separates pages worth waking someone for from single-sample
    blips (the #1 alert-fatigue fix: require persistence, not
    amplitude). Episodes come from the islands trick on the hour
    index (consecutive anomalous hours share an anchor). The flag
    tests the ROUNDED z; hour arithmetic is exact integers. Same
    plan as the z-score detector plus one tiny grouped fold over the
    anomalous subset."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.count("*").alias("x")
    )
    w = Window.orderBy("hr").rowsBetween(-24, -1)
    win = hourly.select(
        "hr",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    var_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    z = win.where((F.col("n") == 24) & (var_n > 0)).select(
        "hr",
        "x",
        F.round(
            (F.col("n") * F.col("x") - F.col("sx"))
            / F.sqrt(F.col("n") * var_n * 1.0 / (F.col("n") - 1)),
            6,
        ).alias("z"),
    )
    wr = Window.orderBy("hr")
    anom = z.where(F.abs(F.col("z")) > 2.0).select(
        "hr",
        "z",
        (
            F.floor(F.unix_timestamp("hr") / 3600) - F.row_number().over(wr)
        ).alias("anchor"),
    )
    return (
        anom.groupBy("anchor")
        .agg(
            F.min("hr").alias("alert_start"),
            F.max("hr").alias("alert_end"),
            F.count("*").alias("n_hours"),
            F.round(F.max(F.abs(F.col("z"))), 6).alias("peak_abs_z"),
        )
        .where(F.col("n_hours") >= 2)
        .drop("anchor")
    )


@query(
    "ts_seasonal_index",
    oracle="""
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS rev_c
            FROM orders GROUP BY 1
        ),
        ma AS (
            SELECT m, rev_c,
                   CAST(count(*) OVER w AS BIGINT) AS n_win,
                   CAST(sum(rev_c) OVER w AS BIGINT) AS sum_win
            FROM monthly
            WINDOW w AS (ORDER BY m ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
        ),
        ratio AS (
            SELECT CAST(month(m) AS INT) AS cal_month,
                   round(rev_c * 1.0 * n_win / sum_win, 8) AS r
            FROM ma WHERE n_win = 13
        )
        SELECT cal_month,
               CAST(count(*) AS BIGINT) AS n_years,
               round(avg(r), 6) AS seasonal_index
        FROM ratio
        GROUP BY cal_month
    """,
    family="timeseries",
)
def ts_seasonal_index(spark, sf_dir):
    """Classical seasonal indices by RATIO-TO-MOVING-AVERAGE: each
    month's revenue divided by its centered 13-month moving average,
    averaged per calendar month across years — index > 1 marks the
    high season, and dividing a forecast by these indices
    deseasonalizes it (the decomposition method census bureaus used
    before X-11, still the right first tool; ts_seasonal_decompose is
    the additive sibling on the hourly grid). The moving average
    carries EXACT integer (sum, count) window state — the ratio
    r = rev·n/Σ is identical-double arithmetic, rounded at 8 dp
    before the cross-year average. Edge months without a full window
    are excluded by exact count (the standard treatment). One hash
    agg to ~84 month rows; windows ride the reduced frame."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("m")).agg(
        F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("rev_c")
    )
    w = Window.orderBy("m").rowsBetween(-6, 6)
    ma = monthly.select(
        "m",
        "rev_c",
        F.count("*").over(w).alias("n_win"),
        F.sum("rev_c").over(w).alias("sum_win"),
    )
    ratio = ma.where(F.col("n_win") == 13).select(
        F.month("m").cast("int").alias("cal_month"),
        F.round(
            F.col("rev_c") * 1.0 * F.col("n_win") / F.col("sum_win"), 8
        ).alias("r"),
    )
    return ratio.groupBy("cal_month").agg(
        F.count("*").alias("n_years"),
        F.round(F.avg("r"), 6).alias("seasonal_index"),
    )


_HOLT_AN, _HOLT_AD = 3, 10  # level smoothing alpha = 3/10
_HOLT_BN, _HOLT_BD = 1, 10  # trend smoothing beta = 1/10

# Why INTEGER state (nano-units) and not a rounded double recursion: the
# hypothesis sweeps in tests/test_properties.py showed that a
# round(state, 9) chain over values derived from a decimal grid lands
# EXACTLY on rounding half-boundaries with ~1e-1..1e-3 probability per
# step, and there the three rounding implementations genuinely disagree
# (Spark: HALF_UP on the double's shortest decimal repr; DuckDB: scaled
# double multiply; Python: half-even on the exact binary expansion) —
# the sf fixtures passed only by luck. With BIGINT nano-unit state every
# update is exact integer arithmetic plus floor(n / 10.0), which is
# engine-identical for |n| < 2^52: the quotient is exactly an integer
# iff 10 | n (IEEE division of an integer by 10 is exact there) and
# otherwise sits >= 0.1 away from one — no boundary to disagree on.
# The same trick as the money-in-cents discipline (ts_seasonal_index).


def _nano(x):
    """6 dp-grid double -> exact nano-unit BIGINT (both engines: x*1e6
    is within an ulp of an integer, round() recovers it exactly)."""
    return f"CAST(round({x} * 1000000) AS BIGINT) * 1000"


def _holt_step_exprs(xt, l, b):
    """Shared integer-state Holt step: l' = floor((3x + 7(l+b))/10),
    b' = floor((1(l'-l) + 9b)/10); fitted = l + b (exact)."""
    an, ad = _HOLT_AN, _HOLT_AD
    bn, bd = _HOLT_BN, _HOLT_BD
    fitted = f"({l} + {b})"
    lnew = f"CAST(floor(({an} * {xt} + {ad - an} * ({l} + {b})) / {ad}.0) AS BIGINT)"
    bnew = f"CAST(floor(({bn} * ({lnew} - {l}) + {bd - bn} * {b}) / {bd}.0) AS BIGINT)"
    return fitted, lnew, bnew


def _holt_oracle() -> str:
    # WITH RECURSIVE over the integer state, one row per (series, step).
    # NOT list_reduce: DuckDB 1.0 mutates a struct accumulator IN PLACE
    # field-by-field inside the lambda, so a later field's expression
    # sees the current step's already-assigned fields (minimal repro:
    # (acc,e) -> struct_pack(l := X, b := X) with identical X yields
    # l != b). The recursive CTE carries the series arrays along its
    # 5 rows x ~30 steps — trivially bounded; the corpus-scale work
    # happened in the daily aggregate.
    fitted, lnew, bnew = _holt_step_exprs("sxn[i + 1]", "l", "b")
    return f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   round(avg(value), 6) AS x
            FROM events GROUP BY event_type, date_trunc('day', ts)
        ),
        ser AS (
            SELECT event_type,
                   list(d ORDER BY d) AS sd, list(x ORDER BY d) AS sx,
                   list({_nano('x')} ORDER BY d) AS sxn
            FROM daily GROUP BY event_type HAVING count(*) >= 3
        ),
        hw AS (
            SELECT event_type, sd, sx, sxn, 2 AS i,
                   sxn[2] AS l,
                   sxn[2] - sxn[1] AS b,
                   CAST(NULL AS BIGINT) AS fitted
            FROM ser
            UNION ALL
            SELECT event_type, sd, sx, sxn, i + 1,
                   {lnew},
                   {bnew},
                   {fitted}
            FROM hw WHERE i < len(sx)
        )
        SELECT event_type, sd[i] AS d, round(sx[i], 6) AS x,
               CAST(fitted AS DOUBLE) / 1e9 AS fitted,
               CAST(l AS DOUBLE) / 1e9 AS level,
               CAST(b AS DOUBLE) / 1e9 AS trend
        FROM hw WHERE i >= 3
    """


@query("ts_holt_linear", oracle=_holt_oracle(), family="timeseries")
def ts_holt_linear(spark, sf_dir):
    """Holt's linear-trend (double exponential) smoothing of the daily
    per-event-type series — the classic local-level+trend forecaster
    (Holt 1957; Hyndman & Athanasopoulos FPP §8.2) and the genuinely
    RECURSIVE sibling of win_ewma: level and trend are coupled
    (l_t = a·x_t + (1-a)(l_{t-1}+b_{t-1}); b_t = β(l_t-l_{t-1}) +
    (1-β)b_{t-1}, a=0.3 β=0.1), so unlike single EWMA there is no
    truncated-window closed form — the recursion itself must run. It
    runs as a strict in-order JVM fold: one corpus-scale hash agg
    builds the bounded daily grid (map-side partial agg; the grid is
    days×types regardless of corpus size), then
    array_sort(collect_list) + aggregate() folds each series with a
    struct accumulator — no UDF, no per-row window shuffle, no driver
    loop. The state lives in EXACT NANO-UNIT INTEGERS (floor-div
    updates, zero floating point in the recursion): hypothesis sweeps
    proved a rounded-double state chain hits rounding half-boundaries
    where Spark/DuckDB/Python round()s disagree (see the module
    comment above _nano). Init l_2 = x_2, b_2 = x_2 - x_1 (exact);
    rows emitted from t=3 with the one-step-ahead forecast
    (fitted = l_{t-1}+b_{t-1}) next to the realized value. At 100 TB
    the only corpus-scale stage is the first aggregate — the fold
    touches series whose length is the CALENDAR, not the corpus;
    thousands of independent series parallelize per group key."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.round(F.avg("value"), 6).alias("x"))
    ser = (
        daily.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("d", "x"))).alias("sx"))
        .filter(F.size("sx") >= 3)
    )
    fitted, lnew, bnew = _holt_step_exprs(_nano("e.x"), "acc.l", "acc.b")
    x2n = _nano("sx[1].x")
    x1n = _nano("sx[0].x")
    seqt = "array<struct<d:timestamp,x:double,fitted:bigint,lvl:bigint,trd:bigint>>"
    fold = F.expr(
        f"""
        aggregate(
            slice(sx, 3, size(sx) - 2),
            named_struct(
                'l', {x2n}, 'b', {x2n} - {x1n},
                'seq', cast(array() as {seqt})),
            (acc, e) -> named_struct(
                'l', {lnew},
                'b', {bnew},
                'seq', concat(acc.seq, array(named_struct(
                    'd', e.d, 'x', e.x,
                    'fitted', {fitted},
                    'lvl', {lnew},
                    'trd', {bnew}))))
        ).seq
        """
    )
    return ser.select("event_type", F.explode(fold).alias("r")).select(
        "event_type",
        F.col("r.d").alias("d"),
        F.round("r.x", 6).alias("x"),
        (F.col("r.fitted").cast("double") / F.lit(1e9)).alias("fitted"),
        (F.col("r.lvl").cast("double") / F.lit(1e9)).alias("level"),
        (F.col("r.trd").cast("double") / F.lit(1e9)).alias("trend"),
    )


_HW_M = 7  # seasonal period (observations — weekly on the daily grid)
_HW_GN, _HW_GD = 2, 10  # seasonal smoothing gamma = 2/10


def _hw_init_exprs(xn):
    """Shared integer-state init (xn: 1-based index -> nano fragment):
    l0 = floor(mean of cycle 1), b0 = floor((mean2 - mean1)/m),
    s_i = x_i - l0 — the textbook moving-average initialization in
    exact nano-units (floor(n/m.0) is engine-identical: exact when
    m | n, >= 1/m away from an integer otherwise)."""
    m = _HW_M
    a1 = f"CAST(floor(({' + '.join(xn(i) for i in range(1, m + 1))}) / {m}.0) AS BIGINT)"
    a2 = f"CAST(floor(({' + '.join(xn(i) for i in range(m + 1, 2 * m + 1))}) / {m}.0) AS BIGINT)"
    b0 = f"CAST(floor(({a2} - {a1}) / {m}.0) AS BIGINT)"
    s_init = [f"{xn(i)} - {a1}" for i in range(1, m + 1)]
    return a1, b0, s_init


def _hw_step_exprs(xt, l, b, su):
    """Shared integer-state Holt-Winters step (additive): the Holt
    level/trend floor-div updates with the seasonal term, plus
    s' = floor((2(x - l') + 8 s)/10)."""
    an, ad = _HOLT_AN, _HOLT_AD
    bn, bd = _HOLT_BN, _HOLT_BD
    gn, gd = _HW_GN, _HW_GD
    fitted = f"({l} + {b} + {su})"
    lnew = (
        f"CAST(floor(({an} * ({xt} - {su}) + {ad - an} * ({l} + {b})) / {ad}.0) AS BIGINT)"
    )
    bnew = f"CAST(floor(({bn} * ({lnew} - {l}) + {bd - bn} * {b}) / {bd}.0) AS BIGINT)"
    snew = f"CAST(floor(({gn} * ({xt} - {lnew}) + {gd - gn} * {su}) / {gd}.0) AS BIGINT)"
    return fitted, lnew, bnew, snew


def _hw_oracle() -> str:
    # WITH RECURSIVE carrying the m-slot seasonal QUEUE as a BIGINT list
    # column (head = s_{t-m}, consumed then re-appended) — verified
    # DuckDB recursion keeps list types stable; the _holt_oracle
    # list_reduce trap does not apply to recursive-CTE projections.
    m = _HW_M
    a1, b0, s_init = _hw_init_exprs(lambda i: f"sxn[{i}]")
    fitted, lnew, bnew, snew = _hw_step_exprs("sxn[i + 1]", "l", "b", "sl[1]")
    return f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   round(avg(value), 6) AS x
            FROM events GROUP BY event_type, date_trunc('day', ts)
        ),
        ser AS (
            SELECT event_type,
                   list(d ORDER BY d) AS sd, list(x ORDER BY d) AS sx,
                   list({_nano('x')} ORDER BY d) AS sxn
            FROM daily GROUP BY event_type HAVING count(*) >= {2 * m + 1}
        ),
        hw AS (
            SELECT event_type, sd, sx, sxn, {m} AS i,
                   {a1} AS l, {b0} AS b,
                   [{", ".join(s_init)}] AS sl,
                   CAST(NULL AS BIGINT) AS fitted,
                   CAST(NULL AS BIGINT) AS sea
            FROM ser
            UNION ALL
            SELECT event_type, sd, sx, sxn, i + 1,
                   {lnew}, {bnew},
                   list_append(sl[2:], {snew}),
                   {fitted},
                   {snew}
            FROM hw WHERE i < len(sx)
        )
        SELECT event_type, sd[i] AS d, round(sx[i], 6) AS x,
               CAST(fitted AS DOUBLE) / 1e9 AS fitted,
               CAST(l AS DOUBLE) / 1e9 AS level,
               CAST(b AS DOUBLE) / 1e9 AS trend,
               CAST(sea AS DOUBLE) / 1e9 AS seasonal
        FROM hw WHERE i > {m}
    """


@query("ts_holt_winters", oracle=_hw_oracle(), family="timeseries")
def ts_holt_winters(spark, sf_dir):
    """Additive Holt-Winters (triple exponential smoothing: level +
    trend + m=7-observation seasonality, a=0.3 β=0.1 γ=0.2; Winters
    1960, FPP §8.3) on the daily per-event-type series — completes the
    smoothing family (win_ewma: truncated single; ts_holt_linear:
    coupled double; this: triple with a SEASONAL STATE QUEUE). The
    recursion is the same strict in-order JVM fold as ts_holt_linear —
    EXACT NANO-UNIT INTEGER state, floor-div updates, zero floating
    point (see the module comment above _nano for why rounded-double
    state chains are cross-engine fragile) — but the accumulator now
    carries the last m seasonal values as a BIGINT array queue (head =
    s_{t-m}, consumed each step, the fresh s_t appended) — the state a
    streaming forecaster would keep per key. Both engines render init
    and step from ONE shared skeleton (_hw_init_exprs/_hw_step_exprs,
    the ml_gmm_em discipline). Textbook moving-average init: l_m =
    cycle-1 mean, b_m = (cycle-2 mean - cycle-1 mean)/m, s_i = x_i -
    l_m; rows emitted from t = m+1 with the one-step-ahead fitted =
    l + b + s_{t-m} next to the realized value. Seasonality is
    OBSERVATION-periodic (every m points of the sorted series),
    calendar-anchored only when the grid is gap-free — the fixture's
    daily grid is; ts_gap_fill is the repair step otherwise. At 100 TB
    the corpus-scale stage is still only the daily hash agg; the
    per-series fold state is O(m) integers over calendar-length
    arrays."""
    m = _HW_M
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.round(F.avg("value"), 6).alias("x"))
    ser = (
        daily.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("d", "x"))).alias("sx"))
        .filter(F.size("sx") >= 2 * m + 1)
    )
    # 0-based bracket indexing in Spark SQL: sx[i-1].x is the i-th value
    a1, b0, s_init = _hw_init_exprs(lambda i: _nano(f"sx[{i - 1}].x"))
    fitted, lnew, bnew, snew = _hw_step_exprs(
        _nano("e.x"), "acc.l", "acc.b", "element_at(acc.sl, 1)"
    )
    seqt = (
        "array<struct<d:timestamp,x:double,fitted:bigint,"
        "lvl:bigint,trd:bigint,sea:bigint>>"
    )
    fold = F.expr(
        f"""
        aggregate(
            slice(sx, {m + 1}, size(sx) - {m}),
            named_struct(
                'l', {a1}, 'b', {b0},
                'sl', array({", ".join(s_init)}),
                'seq', cast(array() as {seqt})),
            (acc, e) -> named_struct(
                'l', {lnew},
                'b', {bnew},
                'sl', concat(slice(acc.sl, 2, {m - 1}), array({snew})),
                'seq', concat(acc.seq, array(named_struct(
                    'd', e.d, 'x', e.x,
                    'fitted', {fitted},
                    'lvl', {lnew}, 'trd', {bnew}, 'sea', {snew}))))
        ).seq
        """
    )
    return ser.select("event_type", F.explode(fold).alias("r")).select(
        "event_type",
        F.col("r.d").alias("d"),
        F.round("r.x", 6).alias("x"),
        (F.col("r.fitted").cast("double") / F.lit(1e9)).alias("fitted"),
        (F.col("r.lvl").cast("double") / F.lit(1e9)).alias("level"),
        (F.col("r.trd").cast("double") / F.lit(1e9)).alias("trend"),
        (F.col("r.sea").cast("double") / F.lit(1e9)).alias("seasonal"),
    )
