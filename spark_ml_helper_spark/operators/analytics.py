"""Event-analytics operators over the `events` stream table: ordered
funnel conversion, retention cohorts, and path-transition matrices — the
product-analytics staples every event warehouse ends up re-implementing.

All three shuffle only on `user_id` (or the tiny transition key space),
so they scale linearly with event volume: no self-join over the event
pair space, no driver-side iteration, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table

_FUNNEL_WINDOW = "INTERVAL 24 HOURS"


@query(
    "funnel_ordered",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id
             AND e.ts >= v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR
            WHERE e.event_type = 'click' GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN c ON e.user_id = c.user_id
             AND e.ts >= c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOUR
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_view,
               (SELECT count(*) FROM c) AS n_click,
               (SELECT count(*) FROM p) AS n_purchase,
               round((SELECT count(*) FROM c) / (SELECT count(*) FROM v), 6) AS rate_click,
               round((SELECT count(*) FROM p) / (SELECT count(*) FROM c), 6) AS rate_purchase
    """,
    family="analytics",
    bnlj="1-row step counts crossJoined into the 1-row funnel",
)
def funnel_ordered(spark, sf_dir):
    """Ordered conversion funnel view → click → purchase with a 24h
    per-step conversion window: step N counts users whose earliest
    qualifying step-N event falls within 24h AFTER their step-(N-1) time
    (ordering enforced, not just set membership). Each step is one
    filtered aggregate plus one equi-join on user_id with a residual
    range predicate — the join key carries the shuffle, the time window
    is a post-join filter, so the plan is a chain of user_id-partitioned
    hash joins that scales to any event volume. The step frames are tiny
    (one row per user) next to the event table; AQE broadcasts them."""
    e = table(spark, sf_dir, "events")
    win = F.expr(_FUNNEL_WINDOW)

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click").alias("e")
        .join(v.alias("v"), "user_id")
        .filter((F.col("e.ts") >= F.col("v.t1")) & (F.col("e.ts") <= F.col("v.t1") + win))
        .groupBy("user_id").agg(F.min("e.ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase").alias("e")
        .join(c.alias("c"), "user_id")
        .filter((F.col("e.ts") >= F.col("c.t2")) & (F.col("e.ts") <= F.col("c.t2") + win))
        .groupBy("user_id").agg(F.min("e.ts").alias("t3"))
    )
    counts = (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_click")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase")))
    )
    return counts.select(
        "n_view", "n_click", "n_purchase",
        F.round(F.col("n_click") / F.col("n_view"), 6).alias("rate_click"),
        F.round(F.col("n_purchase") / F.col("n_click"), 6).alias("rate_purchase"),
    )


@query(
    "retention_cohort",
    oracle="""
        WITH f AS (
            SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
            FROM events GROUP BY user_id
        ),
        act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
        SELECT f.cohort_day, datediff('day', f.cohort_day, act.d) AS day_offset,
               count(DISTINCT act.user_id) AS n_active
        FROM act JOIN f ON act.user_id = f.user_id
        WHERE datediff('day', f.cohort_day, act.d) BETWEEN 0 AND 7
        GROUP BY f.cohort_day, day_offset
    """,
    family="analytics",
)
def retention_cohort(spark, sf_dir):
    """Retention cohort matrix: users grouped by first-seen day, counted
    as active at day offsets 0..7. Two user_id-keyed aggregates + one
    user_id equi-join; the output key space is cohorts × 8, so the final
    agg is tiny. The distinct-activity prepass collapses the event table
    to (user, day) BEFORE the join — at 100 TB that is the difference
    between joining billions of events and joining millions of user-days."""
    e = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    first = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    act = e.select("user_id", day.alias("d")).distinct()
    offs = F.datediff(F.col("d"), F.col("cohort_day")).cast("long")
    return (
        act.join(first, "user_id")
        .select("user_id", "cohort_day", offs.alias("day_offset"))
        .filter(F.col("day_offset").between(0, 7))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@query(
    "path_transitions",
    oracle="""
        WITH seq AS (
            SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS next_type, count(*) AS n_trans
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    """,
    family="analytics",
)
def path_transitions(spark, sf_dir):
    """First-order path-transition matrix: counts of consecutive
    event-type pairs within each user's timeline (the Markov-chain view
    of user behavior). One window (partitioned by user_id — parallel, no
    global sort) + one hash agg over a #types² key space. The (ts,
    event_id) order key is fully tiebroken so the lag is deterministic."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n_trans"))
    )


@query(
    "events_anomaly",
    oracle="""
        WITH stats AS (
            SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
               round((e.value - s.mu) / s.sd, 6) AS z
        FROM events e JOIN stats s ON e.event_type = s.event_type
        WHERE abs((e.value - s.mu) / s.sd) > 3
    """,
    family="analytics",
)
def events_anomaly(spark, sf_dir):
    """Z-score outlier detection per event type: flag events more than 3
    sample standard deviations from their type's mean. The per-type
    stats frame is a 5-row aggregate broadcast back onto the event
    stream, so the whole operator is one partial→final agg plus a
    map-side join — no second shuffle of the events. (Borderline rows
    within one double ulp of |z|=3 could differ cross-engine; none exist
    in this data, and at scale the cutoff is a heuristic, not a
    contract.)"""
    e = table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        e.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select("event_id", "event_type", F.round("value", 6).alias("value"), F.round(z, 6).alias("z"))
    )


@query(
    "yoy_growth",
    oracle="""
        WITH monthly AS (
            SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
                   CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders GROUP BY yr, mo
        )
        SELECT yr, mo, revenue,
               round(revenue / lag(revenue, 12) OVER (ORDER BY yr, mo) - 1, 6)
                   AS yoy
        FROM monthly
    """,
    family="analytics",
)
def yoy_growth(spark, sf_dir):
    """Year-over-year growth: monthly revenue with a lag-12 comparison
    over the AGGREGATED series. The window runs on the monthly rollup —
    dozens of rows — not the fact table, so the unpartitioned sort is
    free; the heavy lifting is the one partial→final hash agg underneath.
    This stage-the-aggregate-then-window shape is how every KPI
    time-series should be built at scale."""
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.orderBy("yr", "mo")
    return monthly.select(
        "yr", "mo", "revenue",
        F.round(F.col("revenue") / F.lag("revenue", 12).over(w) - 1, 6).alias("yoy"),
    )


@query(
    "trend_per_group",
    oracle="""
        WITH pts AS (
            SELECT event_type,
                   CAST(datediff('hour', TIMESTAMP '2024-01-01', date_trunc('hour', ts)) AS DOUBLE) AS x,
                   value AS y
            FROM events
        )
        SELECT event_type,
               count(*) AS n_pts,
               round(regr_slope(y, x), 4) AS slope,
               round(regr_intercept(y, x), 4) AS intercept,
               round(regr_r2(y, x), 4) AS r2
        FROM pts GROUP BY event_type
    """,
    family="analytics",
)
def trend_per_group(spark, sf_dir):
    """Per-group linear trend fitting: OLS slope/intercept/R² of metric
    value against hours-since-epoch, one regression per event type —
    the groupwise trend detector behind every "is this metric drifting"
    dashboard. regr_* are single-pass mergeable aggregates (sums of
    x, y, xy, x², y²), so the whole operator is one partial→final hash
    agg; thousands of independent regressions cost the same shuffle as
    one. 4-dp rounding absorbs the engines' summation-order drift."""
    e = table(spark, sf_dir, "events")
    x = F.expr("cast(timestampdiff(HOUR, TIMESTAMP '2024-01-01', date_trunc('hour', ts)) as double)")
    pts = e.select("event_type", x.alias("x"), F.col("value").alias("y"))
    return pts.groupBy("event_type").agg(
        F.count("*").alias("n_pts"),
        F.round(F.regr_slope("y", "x"), 4).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
        F.round(F.regr_r2("y", "x"), 4).alias("r2"),
    )


@query(
    "events_pattern_match",
    oracle="""
        SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq,
               regexp_matches(
                   string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id),
                   'v.*c.*p') AS converted
        FROM events
        GROUP BY user_id, CAST(ts AS DATE)
    """,
    family="analytics",
)
def events_pattern_match(spark, sf_dir):
    """MATCH_RECOGNIZE-lite sequence pattern detection: each (user, day)
    becomes a compact event-initial string (ordered by ts with event_id
    tie-break, so the string is deterministic), and a regex over that
    string answers "did a view→click→purchase happen in order, anything
    between" — the general form of funnel questions that step-joins
    (funnel_ordered) hard-code one pattern of. Day-partitioned
    sessionization keys the shuffle on (user, day) — bounded groups,
    arbitrary patterns swappable at zero plan cost; the struct-sort +
    transform reassembly is the vec_centroids idiom, and the regex stays
    in the RE2-compatible subset both engines share."""
    e = table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("i"))
                )
            ),
            lambda s: s.getField("i"),
        ),
        "",
    )
    return (
        e.groupBy("user_id", F.col("ts").cast("date").cast("string").alias("day"))
        .agg(seq.alias("seq"))
        .select("user_id", "day", "seq", F.col("seq").rlike("v.*c.*p").alias("converted"))
    )


@query(
    "events_anomaly_mad",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
            FROM events e JOIN med m ON e.event_type = m.event_type
            GROUP BY e.event_type
        )
        SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
               round((e.value - m.med) / (1.4826 * d.mad), 6) AS robust_z
        FROM events e
        JOIN med m ON e.event_type = m.event_type
        JOIN mad d ON e.event_type = d.event_type
        WHERE d.mad > 0 AND abs((e.value - m.med) / (1.4826 * d.mad)) > 3
    """,
    family="analytics",
)
def events_anomaly_mad(spark, sf_dir):
    """Robust anomaly detection via median absolute deviation: robust_z =
    (v − median) / (1.4826·MAD), flagged beyond 3 — the outlier sweep
    that survives what breaks events_anomaly's z-score: heavy tails and
    the outliers themselves inflating the stddev they're judged against
    (masking). Two grouped exact medians (Spark `percentile` matches
    DuckDB `quantile_cont` interpolation — the agg_percentile parity)
    joined back as broadcast per-type stats; the flag scan is map-only.
    At scale swap exact percentile for approx_percentile and accept the
    sketch error band, same plan shape."""
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    rz = (F.col("value") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        # mad > 0 guard pins engine parity: with mad == 0 Spark's non-ANSI
        # division yields NULL (row silently dropped) while DuckDB's IEEE
        # division yields +-inf (row kept) — a degenerate group (>50% of
        # values at the median) has no meaningful robust z anyway.
        .filter((F.col("mad") > 0) & (F.abs(rz) > 3))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(rz, 6).alias("robust_z"),
        )
    )


@query(
    "rfm_segments",
    oracle="""
        WITH rfm AS (
            SELECT o_custkey AS c_custkey,
                   date_diff('day', CAST(max(o_orderdate) AS DATE),
                             (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS recency_days,
                   count(*) AS frequency,
                   sum(o_totalprice) AS monetary
            FROM orders GROUP BY o_custkey
        ),
        cuts AS (
            SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rq,
                   quantile_cont(frequency,    [0.25, 0.5, 0.75]) AS fq,
                   quantile_cont(monetary,     [0.25, 0.5, 0.75]) AS mq
            FROM rfm
        )
        SELECT c_custkey, CAST(recency_days AS BIGINT) AS recency_days,
               frequency, round(monetary, 6) AS monetary,
               r_score, f_score, m_score,
               CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                   || CAST(m_score AS VARCHAR) AS rfm_cell
        FROM (
            SELECT c_custkey, recency_days, frequency, monetary,
                   4 - ((recency_days > rq[1])::INT + (recency_days > rq[2])::INT
                        + (recency_days > rq[3])::INT) AS r_score,
                   1 + (frequency > fq[1])::INT + (frequency > fq[2])::INT
                     + (frequency > fq[3])::INT AS f_score,
                   1 + (monetary > mq[1])::INT + (monetary > mq[2])::INT
                     + (monetary > mq[3])::INT AS m_score
            FROM rfm CROSS JOIN cuts
        )
    """,
    family="analytics",
    bnlj="1-row max-day and quartile-cut frames broadcast onto the customers",
)
def rfm_segments(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary), the
    classic marketing-analytics scoring. Per customer: days since last
    order (vs the corpus max date), order count, and spend; each metric
    is scored 1-4 against exact quartile cutpoints (recency inverted —
    recent = high score) and concatenated into the RFM cell label.
    Deliberately NOT an ntile() over a global window: a partition-less
    window would sort every customer onto one task. Instead the three
    quartile triples are ONE tiny aggregate row, broadcast back over the
    per-customer frame, and scores are plain comparisons — so the plan
    is two hash aggregates (orders→customer, customer→cutpoints) plus a
    broadcast join, all map-side-partial, no global sort anywhere. At
    100 TB swap the exact percentiles for approx_percentile and the
    shape is unchanged. Score-by-comparison is also tie-stable across
    engines, unlike ntile whose equal-size buckets split ties
    arbitrarily."""
    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
        F.count("*").alias("frequency"),
        F.sum("o_totalprice").alias("monetary"),
    )
    maxday = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("corpus_max"))
    rfm = (
        rfm.join(F.broadcast(maxday))
        .withColumn("recency_days", F.datediff("corpus_max", "last_day").cast("bigint"))
        .drop("last_day", "corpus_max")
    )
    cuts = rfm.agg(
        F.expr("percentile(recency_days, array(0.25, 0.5, 0.75))").alias("rq"),
        F.expr("percentile(frequency,    array(0.25, 0.5, 0.75))").alias("fq"),
        F.expr("percentile(monetary,     array(0.25, 0.5, 0.75))").alias("mq"),
    )

    def score(col, q, invert=False):
        hits = sum(
            (F.col(col) > F.col(q)[i]).cast("int") for i in range(3)
        )
        return (4 - hits) if invert else (1 + hits)

    scored = rfm.join(F.broadcast(cuts)).select(
        "c_custkey",
        "recency_days",
        "frequency",
        F.round("monetary", 6).alias("monetary"),
        score("recency_days", "rq", invert=True).alias("r_score"),
        score("frequency", "fq").alias("f_score"),
        score("monetary", "mq").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_cell",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


_LIFT_TOP_K = 100


@query(
    "basket_lift",
    oracle=f"""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets),
        item AS (
            SELECT l_partkey, count(*) AS cnt FROM baskets GROUP BY l_partkey
        ),
        pair AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   count(*) AS pair_cnt
            FROM baskets a JOIN baskets b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
        )
        SELECT part_a, part_b, pair_cnt,
               round(pair_cnt / n_orders, 6) AS support,
               round((pair_cnt * n_orders) / (ia.cnt * ib.cnt), 6) AS lift
        FROM pair
        JOIN item ia ON ia.l_partkey = part_a
        JOIN item ib ON ib.l_partkey = part_b
        CROSS JOIN n
        WHERE pair_cnt >= 2
        ORDER BY (pair_cnt * n_orders) / (ia.cnt * ib.cnt) DESC,
                 part_a, part_b
        LIMIT {_LIFT_TOP_K}
    """,
    family="analytics",
    bnlj="1-row order count broadcast onto the pair counts",
)
def basket_lift(spark, sf_dir):
    """Market-basket co-occurrence lift: for part pairs bought in the
    same order, lift = P(a,b) / (P(a) P(b)), top-100 by lift (the pure
    declarative twin of ml_fpgrowth_pairs — this one is SQL-oracled).
    Baskets are materialized as per-order part ARRAYS (one collect_set
    agg — the shuffle key is the order key, once), and the a<b pair
    space is generated by a double explode of each array LOCALLY inside
    the basket partition — no self-join, so the plan has exactly two
    shuffles (basket build, pair count) where the equivalent self-join
    form has four and measured 6-7 s vs ~2 s warm at sf0.1. Expansion
    stays bounded by basket size squared per order, never |parts|².
    Item frequencies come from exploding the same basket frame and join
    back broadcast (distinct parts ≪ pair rows); top-k is
    TakeOrderedAndProject, no global sort materialized. Lift ordering
    is cross-engine-stable because it is a ratio of exact integer
    counts (bit-identical IEEE division on both engines), with
    (part_a, part_b) as the unique tie-break. At 100 TB, cap basket
    size (slice the array after collect) and pre-prune items below
    minimum support before pairing — both order-preserving
    optimizations, and the array layout is what a real feature store
    would persist anyway."""
    li = table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("parts"))
    n = baskets.agg(F.count("*").alias("n_orders"))
    exploded = baskets.select(F.explode("parts").alias("l_partkey"))
    item = exploded.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    pair = (
        baskets.select(F.explode("parts").alias("part_a"), "parts")
        .select("part_a", F.explode("parts").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    lift = F.col("pair_cnt") * F.col("n_orders") / (F.col("cnt_a") * F.col("cnt_b"))
    return (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .join(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "pair_cnt",
            F.round(F.col("pair_cnt") / F.col("n_orders"), 6).alias("support"),
            F.round(lift, 6).alias("lift"),
            lift.alias("_ord"),
        )
        .orderBy(F.desc("_ord"), "part_a", "part_b")
        .limit(_LIFT_TOP_K)
        .drop("_ord")
    )


@query(
    "stats_ab_test",
    oracle="""
        WITH g AS (
            SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp, value
            FROM events WHERE event_type = 'purchase'
        ),
        s AS (
            SELECT
                count(*) FILTER (WHERE grp = 'A') AS n_a,
                count(*) FILTER (WHERE grp = 'B') AS n_b,
                avg(value) FILTER (WHERE grp = 'A') AS mean_a,
                avg(value) FILTER (WHERE grp = 'B') AS mean_b,
                var_samp(value) FILTER (WHERE grp = 'A') AS var_a,
                var_samp(value) FILTER (WHERE grp = 'B') AS var_b
            FROM g
        )
        SELECT n_a, n_b,
               round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
               round(mean_a - mean_b, 6) AS mean_diff,
               round((mean_a - mean_b)
                     / sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat,
               round(pow(var_a / n_a + var_b / n_b, 2)
                     / (pow(var_a / n_a, 2) / (n_a - 1)
                        + pow(var_b / n_b, 2) / (n_b - 1)), 6) AS df_welch
        FROM s
    """,
    family="analytics",
)
def stats_ab_test(spark, sf_dir):
    """Welch two-sample t-test between experiment arms (even user_id =
    A, odd = B) on purchase value: group means/variances, the t
    statistic with unpooled variances, and the Welch-Satterthwaite
    effective degrees of freedom — the A/B-test readout computed
    entirely as ONE conditional aggregate pass (count/avg/var_samp per
    arm via FILTER), then closed-form scalar arithmetic on the single
    stats row. No shuffle beyond the partial-agg merge; at 100 TB this
    is a map-side-combined scan no matter how many events, and per-arm
    sufficient statistics (n, Σx, Σx²) are exactly the mergeable state
    an incremental/streaming variant would checkpoint."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("grp"), "value"
    )
    a = F.col("grp") == "A"
    b = F.col("grp") == "B"
    s = p.agg(
        F.count(F.when(a, 1)).alias("n_a"),
        F.count(F.when(b, 1)).alias("n_b"),
        F.avg(F.when(a, F.col("value"))).alias("mean_a"),
        F.avg(F.when(b, F.col("value"))).alias("mean_b"),
        F.var_samp(F.when(a, F.col("value"))).alias("var_a"),
        F.var_samp(F.when(b, F.col("value"))).alias("var_b"),
    )
    se2_a = F.col("var_a") / F.col("n_a")
    se2_b = F.col("var_b") / F.col("n_b")
    return s.select(
        "n_a",
        "n_b",
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
        F.round(
            (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2_a + se2_b), 6
        ).alias("t_stat"),
        F.round(
            F.pow(se2_a + se2_b, 2)
            / (
                F.pow(se2_a, 2) / (F.col("n_a") - 1)
                + F.pow(se2_b, 2) / (F.col("n_b") - 1)
            ),
            6,
        ).alias("df_welch"),
    )


@query(
    "events_attribution",
    oracle="""
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
            FROM events WHERE event_type = 'purchase'
        ),
        t AS (
            SELECT user_id, event_type, ts AS t_ts
            FROM events WHERE event_type IN ('view', 'click')
        ),
        pairs AS (
            SELECT p.purchase_id, p.value, t.event_type,
                   count(*) OVER (PARTITION BY p.purchase_id) AS n_touch
            FROM p JOIN t ON p.user_id = t.user_id
             AND t.t_ts >= p.p_ts - INTERVAL 24 HOUR AND t.t_ts < p.p_ts
        )
        SELECT event_type,
               round(sum(1.0 / n_touch), 6) AS credited_conversions,
               round(sum(value / n_touch), 6) AS credited_value,
               count(*) AS n_touches
        FROM pairs
        GROUP BY event_type
    """,
    family="analytics",
)
def events_attribution(spark, sf_dir):
    """Linear multi-touch attribution: every view/click in the 24 h
    before a purchase shares that purchase's credit equally (1/n of the
    conversion and of its value), aggregated per touch channel — the
    marketing-analytics staple between last-touch (join_asof's shape)
    and data-driven models. The touch-purchase pairing is an equi-join
    on user_id with a residual time-window predicate — the funnel
    discipline: shuffle carries the user key, the interval is a
    post-join filter, expansion is bounded by per-user touch density ×
    purchase count inside the window, never |events|². The 1/n split is
    a count window keyed by purchase id (same partitioning as the join
    output), and the final per-channel rollup is a 2-row hash agg.
    Exact ratios of integers keep the credit arithmetic bit-stable
    cross-engine; at 100 TB the window bound is the dial (tighter
    window → linearly fewer pairs)."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts"), "value"
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_type", F.col("ts").alias("t_ts")
    )
    pairs = p.join(t, "user_id").filter(
        (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("t_ts") < F.col("p_ts"))
    )
    w = Window.partitionBy("purchase_id")
    pairs = pairs.withColumn("n_touch", F.count("*").over(w))
    return pairs.groupBy("event_type").agg(
        F.round(F.sum(1.0 / F.col("n_touch")), 6).alias("credited_conversions"),
        F.round(F.sum(F.col("value") / F.col("n_touch")), 6).alias("credited_value"),
        F.count("*").alias("n_touches"),
    )


@query(
    "events_active_users",
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        spine AS (SELECT DISTINCT day FROM du),
        contrib AS (
            SELECT s.day, du.user_id,
                   CAST(du.day = s.day AS INT) AS is_today,
                   CAST(du.day > s.day - 7 AS INT) AS in_week
            FROM spine s
            JOIN du ON du.day <= s.day AND du.day > s.day - 30
        )
        SELECT CAST(day AS VARCHAR) AS day,
               count(DISTINCT CASE WHEN is_today = 1 THEN user_id END) AS dau,
               count(DISTINCT CASE WHEN in_week = 1 THEN user_id END) AS wau,
               count(DISTINCT user_id) AS mau,
               round(count(DISTINCT CASE WHEN is_today = 1 THEN user_id END)
                     / count(DISTINCT user_id), 6) AS stickiness
        FROM contrib
        GROUP BY day
    """,
    family="analytics",
    bnlj="1-row max-day frame broadcast onto the daily users",
)
def events_active_users(spark, sf_dir):
    """DAU / WAU / MAU active-user rollups with the DAU/MAU stickiness
    ratio — the product-analytics vital signs. The corpus-sized stage
    is ONE distinct on (day, user); each surviving per-day user row
    then EXPLODES to the ≤30 trailing report days it contributes to
    (sequence over the date range — a fixed ×30 map-side fan-out, the
    scalable alternative to a per-day correlated distinct scan), and
    one hash agg per report day counts the three conditional distincts
    simultaneously (report days are semi-joined to the observed-day
    spine, so gap days never fabricate rows). Shuffles: the (day,user) distinct and the final
    day-keyed agg — both on natural keys with partial aggregation. At
    100 TB the ×30 fan-out is the explicit, bounded cost (30× the
    DAILY-distinct rows, not 30× the events); for a 365-day MAU-style
    window you'd switch to sketch merging (agg_hll_sketch's shape)
    instead."""
    e = table(spark, sf_dir, "events")
    du = e.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    mx = e.agg(F.max(F.col("ts").cast("date")).alias("mx"))
    spine = du.select("day").distinct()
    contrib = (
        du.join(F.broadcast(mx))
        .select(
            "user_id",
            F.col("day").alias("active_day"),
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(F.date_add(F.col("day"), 29), F.col("mx")),
                )
            ).alias("day"),
        )
        # report only OBSERVED days (matches the oracle's spine): on a
        # fixture with zero-event gap days the explode would otherwise
        # fabricate report rows the oracle doesn't have
        .join(F.broadcast(spine), "day")
    )
    is_today = F.col("active_day") == F.col("day")
    in_week = F.col("active_day") > F.date_sub(F.col("day"), 7)
    return (
        contrib.groupBy("day")
        .agg(
            F.countDistinct(F.when(is_today, F.col("user_id"))).alias("dau"),
            F.countDistinct(F.when(in_week, F.col("user_id"))).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
            F.round(
                F.countDistinct(F.when(is_today, F.col("user_id")))
                / F.countDistinct("user_id"),
                6,
            ).alias("stickiness"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
            "stickiness",
        )
    )


@query(
    "pipeline_daily_kpis",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   sum(value) AS total_value,
                   count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
                   count(*) FILTER (WHERE event_type = 'error') AS n_errors
            FROM events GROUP BY CAST(ts AS DATE)
        ),
        stats AS (
            SELECT avg(total_value) AS mu, stddev_samp(total_value) AS sd
            FROM daily
        )
        SELECT CAST(day AS VARCHAR) AS day, n_events, n_users,
               round(total_value, 6) AS total_value,
               n_purchases, n_errors,
               round(n_errors / n_events, 6) AS error_rate,
               round((total_value - mu) / sd, 6) AS value_z,
               CAST(abs((total_value - mu) / sd) > 2 AS BOOLEAN) AS anomaly
        FROM daily CROSS JOIN stats
    """,
    family="analytics",
    bnlj="1-row mean/stddev broadcast onto the daily rows",
)
def pipeline_daily_kpis(spark, sf_dir):
    """The composite daily-operations report a team schedules over the
    event stream: per day — volume, distinct users, total value,
    purchase and error counts, error rate, and a z-score anomaly flag
    of total value against the whole series. ONE corpus-sized hash agg
    produces the daily frame (all six KPIs as simultaneous aggregates
    in a single pass — the multi-aggregate fusion dq_checks uses); the
    series mean/σ is a 1-row aggregate broadcast back (the rfm_segments
    discipline — never a partition-less window over the report frame).
    Division is exact-count / exact-count and the z arithmetic runs on
    6-dp-stable inputs. At 100 TB the daily agg is the only data-sized
    stage; everything downstream is |days| rows."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value").alias("total_value"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )
    stats = daily.agg(
        F.avg("total_value").alias("mu"), F.stddev_samp("total_value").alias("sd")
    )
    z = (F.col("total_value") - F.col("mu")) / F.col("sd")
    return (
        daily.join(F.broadcast(stats))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "n_users",
            F.round("total_value", 6).alias("total_value"),
            "n_purchases",
            "n_errors",
            F.round(F.col("n_errors") / F.col("n_events"), 6).alias("error_rate"),
            F.round(z, 6).alias("value_z"),
            (F.abs(z) > 2).alias("anomaly"),
        )
    )


@query(
    "events_rate_anomaly",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS k
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        ),
        base AS (
            SELECT event_type, avg(k) AS lam FROM hourly GROUP BY event_type
        )
        SELECT h.event_type, h.hr, h.k, round(lam, 6) AS lam,
               round((k - lam) / sqrt(lam), 6) AS poisson_z,
               CAST(abs((k - lam) / sqrt(lam)) > 3 AS BOOLEAN) AS anomaly
        FROM hourly h JOIN base USING (event_type)
    """,
    family="analytics",
)
def events_rate_anomaly(spark, sf_dir):
    """Poisson rate-anomaly test on hourly event COUNTS: z = (k - λ)/√λ
    against each type's mean hourly rate — the right tail test for
    count data, complementing the value-based z (events_anomaly) and
    MAD (events_anomaly_mad) detectors; √λ is the Poisson standard
    deviation, so the threshold is rate-scale-free. One corpus hash agg
    to the (type, hour) grid, a per-type 5-row baseline aggregate
    broadcast back, pure arithmetic on exact integer counts (λ is an
    exact-count mean — bit-stable division on both engines). λ > 0
    wherever a (type, hour) row exists, so the division never
    degenerates. In production the baseline window trails (last N
    days) rather than spanning the series — same two-aggregate
    shape."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.count("*").alias("k")
    )
    base = hourly.groupBy("event_type").agg(F.avg("k").alias("lam"))
    z = (F.col("k") - F.col("lam")) / F.sqrt(F.col("lam"))
    return (
        hourly.join(F.broadcast(base), "event_type")
        .select(
            "event_type",
            "hr",
            "k",
            F.round("lam", 6).alias("lam"),
            F.round(z, 6).alias("poisson_z"),
            (F.abs(z) > 3).alias("anomaly"),
        )
    )


@query(
    "events_survival_curve",
    oracle="""
        WITH life AS (
            SELECT user_id,
                   date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS lifetime
            FROM events GROUP BY user_id
        ),
        tot AS (SELECT count(*) AS n_users FROM life),
        surv AS (
            SELECT unnest(generate_series(0, lifetime)) AS t
            FROM life
        )
        SELECT CAST(t AS INT) AS t, count(*) AS n_surviving,
               round(count(*) * 1.0 / n_users, 6) AS survival
        FROM surv CROSS JOIN tot
        GROUP BY t, n_users
    """,
    family="analytics",
    bnlj="1-row user total broadcast onto the survival rows",
)
def events_survival_curve(spark, sf_dir):
    """User-lifetime survival curve: S(t) = fraction of users whose
    observed activity span (first event → last event) is at least t
    days — the engagement-decay readout behind churn models, here the
    empirical curve (no censoring model; the fixture window is closed).
    Per-user lifetimes are one hash agg; each user then EXPLODES to the
    t = 0..lifetime days they survive through — the same bounded
    fan-out pattern as events_active_users (≤ horizon days per user,
    scaling with users × horizon, never with raw event volume) — and
    one t-keyed agg counts survivors with the total broadcast in.
    Monotone non-increasing by construction; exact integer ratios keep
    it bit-stable cross-engine."""
    e = table(spark, sf_dir, "events")
    life = e.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date"))
        ).alias("lifetime")
    )
    tot = life.agg(F.count("*").alias("n_users"))
    surv = life.select(
        F.explode(F.sequence(F.lit(0), F.col("lifetime"))).alias("t")
    )
    return (
        surv.join(F.broadcast(tot))
        .groupBy("t", "n_users")
        .agg(F.count("*").alias("n_surviving"))
        .select(
            "t",
            "n_surviving",
            F.round(F.col("n_surviving") * 1.0 / F.col("n_users"), 6).alias("survival"),
        )
    )


@query(
    "events_growth_accounting",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        lagd AS (
            SELECT user_id, d,
                   lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
            FROM ud
        ),
        status AS (
            SELECT d,
                   count(*) FILTER (WHERE prev_d IS NULL) AS n_new,
                   count(*) FILTER (WHERE prev_d = d - 1) AS n_retained,
                   count(*) FILTER (WHERE prev_d IS NOT NULL AND prev_d < d - 1)
                       AS n_resurrected
            FROM lagd GROUP BY d
        ),
        mx AS (SELECT max(d) AS dmax FROM ud),
        churned AS (
            SELECT a.d + 1 AS d, count(*) AS n_churned
            FROM ud a CROSS JOIN mx
            WHERE a.d < mx.dmax
              AND NOT EXISTS (
                  SELECT 1 FROM ud b
                  WHERE b.user_id = a.user_id AND b.d = a.d + 1
              )
            GROUP BY a.d + 1
        )
        SELECT CAST(coalesce(s.d, c.d) AS DATE) AS d,
               coalesce(s.n_new, 0) AS n_new,
               coalesce(s.n_retained, 0) AS n_retained,
               coalesce(s.n_resurrected, 0) AS n_resurrected,
               coalesce(c.n_churned, 0) AS n_churned
        FROM status s FULL JOIN churned c ON s.d = c.d
    """,
    family="analytics",
    bnlj="1-row last-day frame broadcast onto the user-days",
)
def events_growth_accounting(spark, sf_dir):
    """Daily growth accounting — the new / retained / resurrected /
    churned user ledger (active_t = new + retained + resurrected;
    churned_t = users active on t-1 but silent on t) that every growth
    team derives from the raw event stream. One distinct to the
    (user, day) grid (the only event-volume-sized stage, a hash agg on
    a two-column key), a per-user lag window partitioned BY USER (no
    global sort), an anti-join against the day-shifted grid for churn,
    and two day-keyed aggregates full-joined on the ~|days| frame.
    Scales with users x active-days, never with raw event count; every
    shuffle key is user_id or the tiny day key. Counts are exact
    integers — bit-stable cross-engine."""
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    lagd = ud.withColumn("prev_d", F.lag("d").over(w))
    status = lagd.groupBy("d").agg(
        F.count(F.when(F.col("prev_d").isNull(), 1)).alias("n_new"),
        F.count(F.when(F.col("prev_d") == F.date_sub("d", 1), 1)).alias("n_retained"),
        F.count(
            F.when(
                F.col("prev_d").isNotNull()
                & (F.col("prev_d") < F.date_sub("d", 1)),
                1,
            )
        ).alias("n_resurrected"),
    )
    dmax = ud.agg(F.max("d").alias("dmax"))
    # churn: users with activity on day d but none on d+1 → anti-join the
    # grid against itself shifted back one day.
    nxt = ud.select("user_id", F.date_sub("d", 1).alias("d"))
    churned = (
        ud.join(nxt, ["user_id", "d"], "left_anti")
        .join(F.broadcast(dmax))
        .where(F.col("d") < F.col("dmax"))
        .groupBy(F.date_add("d", 1).alias("d"))
        .agg(F.count("*").alias("n_churned"))
    )
    return (
        status.join(churned, "d", "full")
        .select(
            F.col("d").cast("timestamp").alias("d"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.coalesce("n_resurrected", F.lit(0)).alias("n_resurrected"),
            F.coalesce("n_churned", F.lit(0)).alias("n_churned"),
        )
    )


@query(
    "stats_ks_test",
    oracle="""
        WITH s AS (
            SELECT o_totalprice AS x,
                   CAST(o_orderpriority = '1-URGENT' AS BIGINT) AS g
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        tot AS (
            SELECT CAST(sum(g) AS BIGINT) AS n1,
                   CAST(sum(1 - g) AS BIGINT) AS n2
            FROM s
        ),
        byv AS (
            SELECT x, sum(g) AS c1, sum(1 - g) AS c2 FROM s GROUP BY x
        ),
        cum AS (
            SELECT sum(c1) OVER (ORDER BY x) AS f1,
                   sum(c2) OVER (ORDER BY x) AS f2
            FROM byv
        ),
        d AS (
            SELECT n1, n2,
                   round(max(abs(f1 * 1.0 / n1 - f2 * 1.0 / n2)), 6) AS ks_d
            FROM cum CROSS JOIN tot
            GROUP BY n1, n2
        )
        SELECT n1, n2, ks_d,
               round(least(1.0,
                   2 * exp(-2.0 * ks_d * ks_d * n1 * n2 / (n1 + n2))), 6)
                   AS p_approx
        FROM d
    """,
    family="analytics",
    bnlj="1-row sample sizes broadcast onto the cumulative counts",
)
def stats_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test on the order-value
    distribution of URGENT vs LOW priority orders: D = sup|F1 - F2|
    over the pooled empirical CDFs, with the asymptotic Smirnov
    p-value 2·exp(-2·D²·n1n2/(n1+n2)) computed FROM THE ROUNDED D so
    both engines exponentiate the identical input. Ties are handled
    exactly by aggregating counts per distinct value before the
    cumulative sum — the ECDF step at a tied value lands after all its
    mass, which is the correct sup. The cumulative window is a global
    sort of the per-value frame (|distinct values| ≤ |orders|; same
    documented trade as agg_gini/feature_quantile_bucket) — at 100 TB
    swap it for the binned ECDF over an approx-quantile grid (the
    sketch bounds the D error by the bin mass) or a range-partitioned
    two-phase cumsum. Cumulative counts are exact integers, so the
    ratio arithmetic is bit-stable cross-engine."""
    o = table(spark, sf_dir, "orders")
    s = o.where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("g"),
    )
    tot = s.agg(
        F.sum("g").alias("n1"), F.sum(F.lit(1) - F.col("g")).alias("n2")
    )
    byv = s.groupBy("x").agg(
        F.sum("g").alias("c1"), F.sum(F.lit(1) - F.col("g")).alias("c2")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = byv.select(
        F.sum("c1").over(w).alias("f1"), F.sum("c2").over(w).alias("f2")
    )
    d = (
        cum.join(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("f1") * 1.0 / F.col("n1")
                        - F.col("f2") * 1.0 / F.col("n2")
                    )
                ),
                6,
            ).alias("ks_d")
        )
    )
    m = F.col("n1") * F.col("n2") / (F.col("n1") + F.col("n2"))
    return d.select(
        "n1",
        "n2",
        "ks_d",
        F.round(
            F.least(F.lit(1.0), 2 * F.exp(-2.0 * F.col("ks_d") * F.col("ks_d") * m)),
            6,
        ).alias("p_approx"),
    )


@query(
    "stats_chi2",
    oracle="""
        WITH obs AS (
            SELECT o_orderpriority AS r, o_orderstatus AS c,
                   count(*) AS o
            FROM orders GROUP BY 1, 2
        ),
        rt AS (SELECT r, sum(o) AS row_tot FROM obs GROUP BY r),
        ct AS (SELECT c, sum(o) AS col_tot FROM obs GROUP BY c),
        n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
        cells AS (
            SELECT o, row_tot * col_tot * 1.0 / n AS e
            FROM obs JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN n
        ),
        stat AS (
            SELECT round(sum((o - e) * (o - e) / e), 6) AS chi2,
                   (SELECT count(*) FROM rt) AS n_rows,
                   (SELECT count(*) FROM ct) AS n_cols,
                   (SELECT n FROM n) AS n
            FROM cells
        )
        SELECT chi2,
               CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
               n,
               round(sqrt(chi2 / (n * least(n_rows - 1, n_cols - 1))), 6)
                   AS cramers_v
        FROM stat
    """,
    family="analytics",
    bnlj="1-row n and row/column counts broadcast onto the contingency cells",
)
def stats_chi2(spark, sf_dir):
    """Chi-square independence test on the priority × status
    contingency table, with Cramér's V effect size — the categorical
    counterpart to feature_mutual_info/feature_woe_iv in the screening
    family. One corpus-sized hash agg to the R×C observed table;
    marginals and the total are aggregates OF that tiny table
    (broadcast back in), so everything after the first agg runs on
    ≤ R·C rows at any data scale. Expected counts come from exact
    integer marginals — the (o-e)²/e fold is a sum over ≤ 15 cells, so
    summation-order drift is far inside the 6-dp grid; Cramér's V is
    derived from the ROUNDED chi2 so both engines take sqrt of the
    identical input."""
    o = table(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count("*").alias("o"))
    rt = obs.groupBy("r").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("c").agg(F.sum("o").alias("col_tot"))
    n = obs.agg(F.sum("o").alias("n"))
    nr = rt.agg(F.count("*").alias("n_rows"))
    nc = ct.agg(F.count("*").alias("n_cols"))
    e = F.col("row_tot") * F.col("col_tot") * 1.0 / F.col("n")
    stat = (
        obs.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .join(F.broadcast(n))
        .agg(
            F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias("chi2"),
            F.first("n").alias("n"),
        )
        .join(F.broadcast(nr))
        .join(F.broadcast(nc))
    )
    return stat.select(
        "chi2",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).cast("bigint").alias("dof"),
        "n",
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "stats_ttest_welch",
    oracle="""
        WITH g AS (
            SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END AS grp,
                   o_totalprice AS x
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        s AS (
            SELECT grp, count(*) AS n, avg(x) AS m, var_samp(x) AS v
            FROM g GROUP BY grp
        ),
        w AS (
            SELECT a.n AS n1, b.n AS n2,
                   round(a.m, 2) AS mean1, round(b.m, 2) AS mean2,
                   round((a.m - b.m)
                         / sqrt(a.v / a.n + b.v / b.n), 6) AS t_stat,
                   round(pow(a.v / a.n + b.v / b.n, 2)
                         / (pow(a.v / a.n, 2) / (a.n - 1)
                            + pow(b.v / b.n, 2) / (b.n - 1)), 6) AS df
            FROM s a JOIN s b ON a.grp = 1 AND b.grp = 2
        )
        SELECT n1, n2, mean1, mean2, t_stat, df,
               CAST(abs(t_stat) > 1.96 AS BOOLEAN) AS significant_95
        FROM w
    """,
    family="analytics",
    bnlj="1-row x 1-row join of the 2-group aggregate",
)
def stats_ttest_welch(spark, sf_dir):
    """Welch's unequal-variance t-test on URGENT vs LOW order values —
    the parametric companion to stats_ks_test on the same split (KS
    asks "same distribution?", Welch asks "same mean?"). Closed form:
    t = (m1-m2)/√(v1/n1 + v2/n2) with Welch–Satterthwaite df. One
    filtered hash agg produces BOTH group summaries (count/mean/var
    keyed by group — a 2-row frame); the join and arithmetic run on
    those 2 rows, so the operator is a single corpus-sized aggregate
    at any scale. Means round at 2 dp (money grid); t and df are O(1)
    ratios where engine summation drift cancels to ~1e-12 — inside the
    6-dp grid; the significance flag tests the ROUNDED t so both
    engines compare identical values."""
    o = table(spark, sf_dir, "orders")
    g = o.where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(2).alias("grp"),
        F.col("o_totalprice").alias("x"),
    )
    s = g.groupBy("grp").agg(
        F.count("*").alias("n"), F.avg("x").alias("m"), F.var_samp("x").alias("v")
    )
    a, b = s.alias("a"), s.alias("b")
    se2 = F.col("a.v") / F.col("a.n") + F.col("b.v") / F.col("b.n")
    t = F.round((F.col("a.m") - F.col("b.m")) / F.sqrt(se2), 6)
    df = F.round(
        F.pow(se2, 2)
        / (
            F.pow(F.col("a.v") / F.col("a.n"), 2) / (F.col("a.n") - 1)
            + F.pow(F.col("b.v") / F.col("b.n"), 2) / (F.col("b.n") - 1)
        ),
        6,
    )
    return (
        a.join(b, (F.col("a.grp") == 1) & (F.col("b.grp") == 2))
        .select(
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
            F.round("a.m", 2).alias("mean1"),
            F.round("b.m", 2).alias("mean2"),
            t.alias("t_stat"),
            df.alias("df"),
        )
        .withColumn("significant_95", F.abs(F.col("t_stat")) > 1.96)
    )


@query(
    "stats_mann_whitney",
    oracle="""
        WITH g AS (
            SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1,
                   o_totalprice AS x
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        byv AS (
            SELECT x, CAST(count(*) AS BIGINT) AS c,
                   CAST(sum(g1) AS BIGINT) AS c1
            FROM g GROUP BY x
        ),
        ranked AS (
            SELECT c, c1,
                   sum(c) OVER (ORDER BY x
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - c + (c + 1) / 2.0
                       AS avg_rank,
                   c * c * c - c AS tie3
            FROM byv
        ),
        s AS (
            SELECT CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(sum(c - c1) AS BIGINT) AS n2,
                   sum(c1 * avg_rank) AS r1,
                   CAST(sum(tie3) AS BIGINT) AS ties3
            FROM ranked
        ),
        u AS (
            SELECT n1, n2,
                   r1 - n1 * (n1 + 1) / 2.0 AS u1,
                   n1 * n2 / 12.0
                   * ((n1 + n2 + 1)
                      - ties3 * 1.0 / ((n1 + n2) * (n1 + n2 - 1.0))) AS var_u
            FROM s
        )
        SELECT n1, n2, u1,
               round(1.0 - 2.0 * u1 / (n1 * n2), 6) AS rank_biserial,
               round((u1 - n1 * n2 / 2.0) / sqrt(var_u), 6) AS z_stat,
               CAST(abs(round((u1 - n1 * n2 / 2.0) / sqrt(var_u), 6)) > 1.96
                    AS BOOLEAN) AS significant_95
        FROM u
    """,
    family="analytics",
)
def stats_mann_whitney(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) on URGENT vs LOW order
    values — the NONPARAMETRIC companion to stats_ttest_welch (same
    split, no normality assumption) and the location-shift counterpart
    to stats_ks_test's shape test. Tied ranks get the midrank: per
    DISTINCT value, avg_rank = cum - c + (c+1)/2 lands on the exact
    0.5 grid, so R1 = Σ c1·avg_rank is fp-exact below 2^52 in both
    engines — no cross-engine rank drift is possible. U1 = R1 -
    n1(n1+1)/2; z uses the tie-corrected variance n1n2/12·((n+1) -
    Σ(t³-t)/(n(n-1))) and rounds at 6 dp before the significance
    compare (both engines test the identical rounded z); the
    rank-biserial effect size 1 - 2U1/(n1n2) is an exact rational of
    integers. The cumulative window is a global sort of the per-value
    frame — |distinct prices| ≤ |orders|, the same documented trade as
    stats_ks_test/agg_gini; at 100 TB swap in the range-partitioned
    two-phase cumsum. Everything else is one filtered scan + one hash
    agg + a 1-row fold."""
    o = table(spark, sf_dir, "orders")
    g = o.where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("g1"),
        F.col("o_totalprice").alias("x"),
    )
    byv = g.groupBy("x").agg(
        F.count("*").alias("c"), F.sum("g1").alias("c1")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    ranked = byv.select(
        "c",
        "c1",
        (F.sum("c").over(w) - F.col("c") + (F.col("c") + 1) / 2.0).alias(
            "avg_rank"
        ),
        (F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie3"),
    )
    s = ranked.agg(
        F.sum("c1").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).alias("n2"),
        F.sum(F.col("c1") * F.col("avg_rank")).alias("r1"),
        F.sum("tie3").alias("ties3"),
    )
    n, n1, n2 = F.col("n1") + F.col("n2"), F.col("n1"), F.col("n2")
    u1 = F.col("r1") - n1 * (n1 + 1) / 2.0
    var_u = n1 * n2 / 12.0 * ((n + 1) - F.col("ties3") * 1.0 / (n * (n - 1.0)))
    z = F.round((u1 - n1 * n2 / 2.0) / F.sqrt(var_u), 6)
    return s.select(
        "n1",
        "n2",
        u1.alias("u1"),
        F.round(1.0 - 2.0 * u1 / (n1 * n2), 6).alias("rank_biserial"),
        z.alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


@query(
    "events_session_stats",
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
        ),
        sess AS (
            SELECT user_id, ts_us,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_seq
            FROM flagged
        ),
        per AS (
            SELECT user_id, session_seq,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(max(ts_us) - min(ts_us) AS BIGINT) AS dur_us
            FROM sess GROUP BY user_id, session_seq
        )
        SELECT CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               round(sum(n_events) * 1.0 / count(*), 6) AS avg_events,
               round(CAST(sum(dur_us) AS BIGINT) * 1.0 / count(*) / 1e6, 6)
                   AS avg_duration_s,
               round(quantile_cont(dur_us, 0.5) / 1e6, 6) AS p50_duration_s,
               round(quantile_cont(dur_us, 0.9) / 1e6, 6) AS p90_duration_s
        FROM per
    """,
    family="analytics",
)
def events_session_stats(spark, sf_dir):
    """Session-level engagement summary on top of win_sessionize's gap
    rule (≥10-min silence splits): how many sessions, how long, how
    dense — the one-row readout product teams put on dashboards. The
    per-session frame aggregates on (user, session) keys (same single
    user_id shuffle as the sessionize windows); the final fold keeps
    everything in EXACT INTEGER micros — avg = Σdur_us/n before the
    single float division, and the p50/p90 linear interpolation runs
    on exact int inputs, so both engines interpolate identical values.
    Scales with events (one window pass + two hash aggs), never wider."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) >= 600_000_000),
            1,
        ).otherwise(0),
    )
    # Cumulative-sum window carries the event_id tiebreak too: tied
    # (user_id, ts_us) rows must land in a deterministic session in both
    # engines, matching win_sessionize's fully-tiebroken ordering.
    wsum = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.select(
        "user_id", "ts_us", F.sum("is_new").over(wsum).alias("session_seq")
    )
    per = sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
    )
    return per.agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("n_events") * 1.0 / F.count("*"), 6).alias("avg_events"),
        F.round(F.sum("dur_us") * 1.0 / F.count("*") / 1e6, 6).alias("avg_duration_s"),
        F.round(F.percentile("dur_us", 0.5) / 1e6, 6).alias("p50_duration_s"),
        F.round(F.percentile("dur_us", 0.9) / 1e6, 6).alias("p90_duration_s"),
    )


@query(
    "stats_bootstrap_ci",
    oracle="""
        WITH reps AS (SELECT unnest(range(0, 100)) AS b),
        draws AS (
            SELECT reps.b, o.o_totalprice AS x,
                   ('0x' || substring(
                        md5(CAST(reps.b AS VARCHAR) || ':'
                            || CAST(o.o_orderkey AS VARCHAR)),
                        1, 8))::BIGINT AS h
            FROM orders o CROSS JOIN reps
        ),
        weighted AS (
            SELECT b, x,
                   CASE WHEN h < 1580030168 THEN 0
                        WHEN h < 3160060337 THEN 1
                        WHEN h < 3950075421 THEN 2
                        WHEN h < 4213413783 THEN 3
                        WHEN h < 4279248373 THEN 4
                        WHEN h < 4292415291 THEN 5
                        ELSE 6 END AS w
            FROM draws
        ),
        means AS (
            SELECT b, round(sum(w * x) / sum(w), 4) AS m
            FROM weighted GROUP BY b
        ),
        est AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   round(sum(o_totalprice) / count(*), 2) AS mean_est
            FROM orders
        )
        SELECT est.n,
               CAST(100 AS BIGINT) AS b_reps,
               est.mean_est,
               round(quantile_cont(m, 0.025), 2) AS ci_lo,
               round(quantile_cont(m, 0.975), 2) AS ci_hi
        FROM means CROSS JOIN est
        GROUP BY est.n, est.mean_est
    """,
    family="analytics",
    bnlj="1-row point estimate broadcast onto the bootstrap means",
)
def stats_bootstrap_ci(spark, sf_dir):
    """Deterministic POISSON bootstrap 95% CI for the mean order value:
    each of 100 replicates weights every row by a Poisson(1) draw
    derived from md5(b:key) — the engine-neutral hash discipline
    (train_test_split hazard 6), with the Poisson inverse-CDF applied
    as EXACT INTEGER cutoffs on the 32-bit hash (floor(CDF·2^32)), so
    the "random" weights are bit-identical across engines, runs, and
    partitionings. The Poisson bootstrap (Chamandy et al.'s
    mapper-friendly form) is THE 100 TB shape: one scan, a B-way
    map-side explode, zero joins, zero row indexing — the per-replicate
    partial aggs combine map-side so the shuffle carries only
    B×partitions rows (the exact multinomial bootstrap needs a global
    row index plus a B·n-row resampling join — measured 40 s vs 13 s
    at sf0.1 on this box). Tail truncated at w=6 (P ≈ 6e-5, identical
    truncation both engines). Replicate means round at 4 dp before the
    percentile interpolation; outputs at 2 dp (money grid)."""
    o = table(spark, sf_dir, "orders")
    reps = F.sequence(F.lit(0), F.lit(99))
    # the fixture parquet is a single row-group (1 scan task); spread the
    # 100× explode across the cluster before fanning out
    draws = o.repartition(32, "o_orderkey").select(
        F.col("o_totalprice").alias("x"),
        F.col("o_orderkey"),
        F.explode(reps).alias("b"),
    ).select(
        "b",
        "x",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("b").cast("string"), F.col("o_orderkey").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    w = (
        F.when(F.col("h") < 1580030168, 0)
        .when(F.col("h") < 3160060337, 1)
        .when(F.col("h") < 3950075421, 2)
        .when(F.col("h") < 4213413783, 3)
        .when(F.col("h") < 4279248373, 4)
        .when(F.col("h") < 4292415291, 5)
        .otherwise(6)
    )
    means = (
        draws.withColumn("w", w)
        .groupBy("b")
        .agg(F.round(F.sum(F.col("w") * F.col("x")) / F.sum("w"), 4).alias("m"))
    )
    est = o.agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice") / F.count("*"), 2).alias("mean_est"),
    )
    return (
        means.join(F.broadcast(est))
        .groupBy("n", "mean_est")
        .agg(
            F.lit(100).cast("bigint").alias("b_reps"),
            F.round(F.percentile("m", 0.025), 2).alias("ci_lo"),
            F.round(F.percentile("m", 0.975), 2).alias("ci_hi"),
        )
        .select("n", "b_reps", "mean_est", "ci_lo", "ci_hi")
    )


@query(
    "events_heatmap_hour_dow",
    oracle="""
        WITH g AS (
            SELECT isodow(ts) AS dow, hour(ts) AS hr,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events GROUP BY 1, 2
        ),
        tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM g)
        SELECT CAST(dow AS INT) AS dow, CAST(hr AS INT) AS hr,
               n_events, n_users,
               round(n_events * 1.0 / total, 6) AS share
        FROM g CROSS JOIN tot
    """,
    family="analytics",
    bnlj="1-row event total broadcast onto the hour x dow counts",
)
def events_heatmap_hour_dow(spark, sf_dir):
    """Hour-of-day × day-of-week activity heatmap (ISO weekday 1-7 ×
    hour 0-23) with per-cell event counts, distinct users, and share
    of total traffic — the load-pattern readout behind capacity
    planning and send-time optimization. ISO weekday on both engines
    (Spark weekday()+1 = DuckDB isodow — the engines' default
    dayofweek() disagree on week start, a classic cross-engine trap).
    One hash agg to the fixed 168-cell grid (count-distinct expands
    per cell, bounded by users); the total is an aggregate OF the grid
    broadcast back. Exact integers everywhere."""
    e = table(spark, sf_dir, "events")
    g = e.groupBy(
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
    tot = g.agg(F.sum("n_events").alias("total"))
    return (
        g.join(F.broadcast(tot))
        .select(
            "dow",
            "hr",
            "n_events",
            "n_users",
            F.round(F.col("n_events") * 1.0 / F.col("total"), 6).alias("share"),
        )
    )


@query(
    "events_conversion_latency",
    oracle="""
        WITH v AS (
            SELECT user_id, min(epoch_us(ts)) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        p AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS t_buy
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.t_view
            GROUP BY e.user_id
        ),
        lat AS (
            SELECT CAST(p.t_buy - v.t_view AS BIGINT) AS lat_us
            FROM p JOIN v ON p.user_id = v.user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_converted,
               round(quantile_cont(lat_us, 0.5) / 1e6, 6) AS p50_latency_s,
               round(quantile_cont(lat_us, 0.9) / 1e6, 6) AS p90_latency_s,
               round(CAST(sum(lat_us) AS BIGINT) * 1.0 / count(*) / 1e6, 6)
                   AS avg_latency_s
        FROM lat
    """,
    family="analytics",
)
def events_conversion_latency(spark, sf_dir):
    """View→purchase conversion-latency distribution: for each user,
    the gap from their FIRST view to their first purchase at-or-after
    it, summarized as p50/p90/mean seconds — the "how long does intent
    take to convert" companion to funnel_ordered's how-many. Two
    user_id-keyed filtered aggregates and one user_id equi-join (the
    same single-shuffle shape as the funnel); latencies stay EXACT
    INTEGER micros through the sum and into the percentile
    interpolation, so both engines interpolate identical inputs; the
    one float division per output happens after the integer fold."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("t_view"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", us.alias("t"))
        .join(v, "user_id")
        .where(F.col("t") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_buy"))
    )
    lat = p.join(v, "user_id").select((F.col("t_buy") - F.col("t_view")).alias("lat_us"))
    return lat.agg(
        F.count("*").alias("n_converted"),
        F.round(F.percentile("lat_us", 0.5) / 1e6, 6).alias("p50_latency_s"),
        F.round(F.percentile("lat_us", 0.9) / 1e6, 6).alias("p90_latency_s"),
        F.round(F.sum("lat_us") * 1.0 / F.count("*") / 1e6, 6).alias("avg_latency_s"),
    )


@query(
    "events_interarrival",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                   ) AS gap_us
            FROM events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_gaps,
               round(quantile_cont(gap_us, 0.5) / 1e6, 6) AS p50_gap_s,
               round(quantile_cont(gap_us, 0.9) / 1e6, 6) AS p90_gap_s,
               round(CAST(max(gap_us) AS BIGINT) / 1e6, 6) AS max_gap_s,
               round(CAST(sum(gap_us) AS BIGINT) * 1.0 / count(*) / 1e6, 6)
                   AS mean_gap_s
        FROM gaps WHERE gap_us IS NOT NULL
        GROUP BY event_type
    """,
    family="analytics",
)
def events_interarrival(spark, sf_dir):
    """Inter-arrival-time distribution per event type (p50/p90/max/mean
    gap seconds) — the traffic-shape fingerprint: Poisson-like streams
    show mean ≈ p50/ln2, heavy tails betray batch jobs, and a max gap
    is an outage detector. One event_type-partitioned lag window (5
    parallel frames, no global sort) + one 5-row hash agg; gaps stay
    EXACT INTEGER micros through sum/max and into the percentile
    interpolation (identical inputs → identical interpolation both
    engines), with the float division per output happening last."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.percentile("gap_us", 0.5) / 1e6, 6).alias("p50_gap_s"),
        F.round(F.percentile("gap_us", 0.9) / 1e6, 6).alias("p90_gap_s"),
        F.round(F.max("gap_us") / 1e6, 6).alias("max_gap_s"),
        F.round(F.sum("gap_us") * 1.0 / F.count("*") / 1e6, 6).alias("mean_gap_s"),
    )


@query(
    "events_adoption_curve",
    oracle="""
        WITH f AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS d0
            FROM events GROUP BY user_id
        ),
        nw AS (
            SELECT d0 AS d, CAST(count(*) AS BIGINT) AS n_new
            FROM f GROUP BY d0
        )
        SELECT CAST(d AS TIMESTAMP) AS d, n_new,
               CAST(sum(n_new) OVER (ORDER BY d) AS BIGINT) AS cum_users
        FROM nw
    """,
    family="analytics",
)
def events_adoption_curve(spark, sf_dir):
    """Cumulative adoption curve: users by first-seen day with the
    running total — the S-curve product teams track against targets
    (the cumulative complement of events_growth_accounting's n_new
    column). One user-keyed hash agg to first-seen days, one day-keyed
    agg, then a cumulative window over the ≤|days| frame (30 rows here
    — the global order is on the REDUCED frame, agg_gini's documented
    trade). Exact integers throughout."""
    e = table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    nw = f.groupBy(F.col("d0").alias("d")).agg(F.count("*").alias("n_new"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return nw.select(
        F.col("d").cast("timestamp").alias("d"),
        "n_new",
        F.sum("n_new").over(w).alias("cum_users"),
    )


@query(
    "abc_analysis",
    oracle="""
        WITH pr AS (
            SELECT l_partkey,
                   CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100.0)
                        AS BIGINT) AS rev_cents
            FROM lineitem GROUP BY l_partkey
        ),
        tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS t FROM pr),
        cum AS (
            SELECT l_partkey, rev_cents,
                   CAST(sum(rev_cents) OVER (
                       ORDER BY rev_cents DESC, l_partkey
                   ) AS BIGINT) AS c
            FROM pr
        ),
        cls AS (
            SELECT rev_cents,
                   CASE WHEN 5 * c <= 4 * t THEN 'A'
                        WHEN 20 * c <= 19 * t THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM cum CROSS JOIN tot
        )
        SELECT abc_class,
               CAST(count(*) AS BIGINT) AS n_parts,
               round(sum(rev_cents) / 100.0, 2) AS revenue,
               round(sum(rev_cents) * 1.0 / max(t), 6) AS revenue_share
        FROM cls CROSS JOIN tot
        GROUP BY abc_class
    """,
    family="analytics",
    bnlj="1-row revenue total broadcast back onto the cumulative-revenue rows",
)
def abc_analysis(spark, sf_dir):
    """ABC (Pareto) classification of parts by revenue: A = parts
    covering the first 80% of cumulative revenue, B = to 95%, C = the
    tail — the inventory-management staple behind "which 20% of SKUs
    earn 80%". All classification arithmetic runs in EXACT INTEGER
    CENTS (5·cum ≤ 4·total for the 80% cut), so the class boundary
    can never move with float drift; the only doubles are the final
    display columns. One lineitem hash agg to the part frame, a
    cumulative window over that reduced frame (|parts| rows — the
    agg_gini documented trade; at catalog scale pre-bin by
    approx-percentile revenue bands), a 3-key fold."""
    li = table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100.0)
        .cast("bigint")
        .alias("rev_cents")
    )
    tot = pr.agg(F.sum("rev_cents").alias("t"))
    w = Window.orderBy(F.desc("rev_cents"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = pr.select("rev_cents", F.sum("rev_cents").over(w).alias("c"))
    cls = cum.join(F.broadcast(tot)).select(
        "rev_cents",
        "t",
        F.when(5 * F.col("c") <= 4 * F.col("t"), "A")
        .when(20 * F.col("c") <= 19 * F.col("t"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum("rev_cents") / 100.0, 2).alias("revenue"),
        F.round(F.sum("rev_cents") * 1.0 / F.max("t"), 6).alias("revenue_share"),
    )


@query(
    "events_cohort_ltv",
    oracle="""
        WITH f AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        ),
        rev AS (
            SELECT e.user_id,
                   date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS offset_d,
                   round(e.value, 6) AS v
            FROM events e JOIN f ON e.user_id = f.user_id
            WHERE e.event_type = 'purchase'
        ),
        daily AS (
            SELECT f.cohort_day, r.offset_d,
                   CAST(count(*) AS BIGINT) AS n_purchases,
                   round(sum(r.v), 4) AS revenue
            FROM rev r JOIN f ON r.user_id = f.user_id
            GROUP BY f.cohort_day, r.offset_d
        ),
        sized AS (SELECT cohort_day, count(*) AS n_users FROM f GROUP BY cohort_day)
        SELECT CAST(d.cohort_day AS TIMESTAMP) AS cohort_day,
               d.offset_d, d.n_purchases, d.revenue,
               CAST(sum(d.revenue) OVER (
                   PARTITION BY d.cohort_day ORDER BY d.offset_d
               ) AS DOUBLE) AS cum_revenue_raw,
               CAST(sum(d.revenue) OVER (
                   PARTITION BY d.cohort_day ORDER BY d.offset_d
               ) / s.n_users AS DOUBLE) AS ltv_per_user
        FROM daily d JOIN sized s ON d.cohort_day = s.cohort_day
        WHERE d.offset_d BETWEEN 0 AND 14
    """,
    family="analytics",
)
def events_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves: cumulative purchase value per signup cohort
    by day offset, normalized per cohort member — the payback-curve
    view (retention_cohort says who comes back, this says what they're
    worth). Values round at 6 dp per event and the per-(cohort,offset)
    sums at 4 dp BEFORE the cumulative window, so both engines fold
    identical addends over identical frames (a ≤15-step cumsum of
    4-dp values — exact). Shapes: two user-keyed aggregates, one
    user_id equi-join, a (cohort, offset)-keyed agg, and the
    cumulative window over the tiny cohort×offset grid. cum_revenue_raw
    is exposed unrounded-but-derived-from-rounded-addends — identical
    cross-engine by the same argument."""
    e = table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("cohort_day"))
    rev = (
        e.where(F.col("event_type") == "purchase")
        .join(f, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day"))
            .cast("bigint")
            .alias("offset_d"),
            F.round("value", 6).alias("v"),
        )
    )
    daily = rev.groupBy("cohort_day", "offset_d").agg(
        F.count("*").alias("n_purchases"), F.round(F.sum("v"), 4).alias("revenue")
    )
    sized = f.groupBy("cohort_day").agg(F.count("*").alias("n_users"))
    w = Window.partitionBy("cohort_day").orderBy("offset_d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        daily.join(F.broadcast(sized), "cohort_day")
        .where(F.col("offset_d").between(0, 14))
        .select(
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            "offset_d",
            "n_purchases",
            "revenue",
            F.sum("revenue").over(w).cast("double").alias("cum_revenue_raw"),
            (F.sum("revenue").over(w) / F.col("n_users"))
            .cast("double")
            .alias("ltv_per_user"),
        )
    )


@query(
    "orders_repeat_interval",
    oracle="""
        WITH gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                       lag(CAST(o_orderdate AS DATE)) OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey
                       ),
                       CAST(o_orderdate AS DATE)) AS gap_d
            FROM orders
        )
        SELECT CAST(count(*) AS BIGINT) AS n_repeat_orders,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_repeat_customers,
               round(quantile_cont(gap_d, 0.5), 6) AS p50_gap_days,
               round(quantile_cont(gap_d, 0.9), 6) AS p90_gap_days,
               round(CAST(sum(gap_d) AS BIGINT) * 1.0 / count(*), 6)
                   AS mean_gap_days
        FROM gaps WHERE gap_d IS NOT NULL
    """,
    family="analytics",
)
def orders_repeat_interval(spark, sf_dir):
    """Repeat-purchase cadence: the distribution of day gaps between a
    customer's consecutive orders (p50/p90/mean) — the number that
    sets re-engagement timing and inventory cycles, and the
    order-table sibling of events_interarrival. One customer-
    partitioned lag window (parallel, fully tiebroken on
    (date, orderkey)) + one global fold; gaps are exact integer days
    through the sum and into the exact-input percentile
    interpolation."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_d"),
    ).where(F.col("gap_d").isNotNull())
    return gaps.agg(
        F.count("*").alias("n_repeat_orders"),
        F.count_distinct("o_custkey").alias("n_repeat_customers"),
        F.round(F.percentile("gap_d", 0.5), 6).alias("p50_gap_days"),
        F.round(F.percentile("gap_d", 0.9), 6).alias("p90_gap_days"),
        F.round(F.sum("gap_d") * 1.0 / F.count("*"), 6).alias("mean_gap_days"),
    )


@query(
    "events_bot_detection",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT)
                       AS span_us,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
            FROM events GROUP BY user_id
        ),
        bursts AS (
            SELECT user_id, CAST(max(cnt) AS BIGINT) AS max_per_minute
            FROM (
                SELECT user_id, date_trunc('minute', ts) AS m,
                       count(*) AS cnt
                FROM events GROUP BY user_id, m
            )
            GROUP BY user_id
        )
        SELECT p.user_id, p.n_events, p.n_types, b.max_per_minute,
               round(p.n_events * 3600e6 / p.span_us, 6) AS rate_per_hour,
               CAST(b.max_per_minute >= 5
                    OR p.n_events * 3600e6 / p.span_us > 12.0
                    AS BOOLEAN) AS is_suspect
        FROM per_user p JOIN bursts b ON p.user_id = b.user_id
        WHERE p.span_us > 0
    """,
    family="analytics",
)
def events_bot_detection(spark, sf_dir):
    """Heuristic bot/abuse screening per user: sustained event rate
    (events per hour over the active span) and peak burst (max events
    in any minute), with a two-rule OR flag — the first-pass
    automation filter every event pipeline runs before analytics
    (bots poison retention, funnels, and training data alike). Two
    user-keyed hash aggs (the burst one pre-groups on (user, minute) —
    bounded fan-out) and one user-keyed join. The rate is a ratio of
    exact integers (identical doubles both engines) and the flag
    thresholds compare exact integers / identical doubles, so the
    verdict is bit-stable. Production tune: rules become a weighted
    score, thresholds come from the gap-CV distribution
    (events_interarrival is the companion diagnostic)."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.max(us) - F.min(us)).alias("span_us"),
        F.count_distinct("event_type").alias("n_types"),
    )
    bursts = (
        e.groupBy("user_id", F.date_trunc("minute", F.col("ts")).alias("m"))
        .agg(F.count("*").alias("cnt"))
        .groupBy("user_id")
        .agg(F.max("cnt").alias("max_per_minute"))
    )
    rate = F.col("n_events") * 3600e6 / F.col("span_us")
    return (
        per_user.join(bursts, "user_id")
        .where(F.col("span_us") > 0)
        .select(
            "user_id",
            "n_events",
            "n_types",
            "max_per_minute",
            F.round(rate, 6).alias("rate_per_hour"),
            ((F.col("max_per_minute") >= 5) | (rate > 12.0)).alias("is_suspect"),
        )
    )


@query(
    "events_paths_topk",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type, 1) OVER w AS p1,
                   lag(event_type, 2) OVER w AS p2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        paths AS (
            SELECT p2 || ' > ' || p1 || ' > ' || event_type AS path,
                   count(*) AS n
            FROM seq WHERE p2 IS NOT NULL
            GROUP BY 1
        )
        SELECT path, n,
               CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rnk
        FROM paths
        ORDER BY n DESC, path
        LIMIT 10
    """,
    family="analytics",
)
def events_paths_topk(spark, sf_dir):
    """Top-10 most-travelled 3-step user paths (event-type trigrams) —
    the "common journeys" report extending path_transitions' bigram
    matrix to the length where sequences become narratives
    (view > click > purchase vs view > error > view). One
    user-partitioned double-lag window with a full (ts, event_id)
    tiebreak, a hash agg over the ≤|types|³ path space, and the
    (count DESC, path) tiebroken top-10 — rank on exact integers, so
    the cut is bit-stable. The path key space is bounded (125 here,
    and vocabulary³ generally), making the final agg constant-size at
    any event volume."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    paths = (
        seq.where(F.col("p2").isNotNull())
        .select(
            F.concat_ws(" > ", F.col("p2"), F.col("p1"), F.col("event_type")).alias(
                "path"
            )
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
    )
    wr = Window.orderBy(F.desc("n"), "path")
    return (
        paths.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rnk") <= 10)
        .orderBy(F.desc("n"), "path")
    )


@query(
    "stats_diff_in_diff",
    oracle="""
        WITH d AS (
            SELECT CAST(user_id % 2 = 0 AS INT) AS treated,
                   CAST(CAST(ts AS DATE) >= DATE '2024-01-16' AS INT) AS post,
                   round(value, 6) AS v
            FROM events WHERE event_type = 'purchase'
        ),
        cells AS (
            SELECT treated, post,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(v), 8) AS m
            FROM d GROUP BY treated, post
        )
        SELECT max(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n_t_pre,
               max(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n_t_post,
               max(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n_c_pre,
               max(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n_c_post,
               round((max(CASE WHEN treated = 1 AND post = 1 THEN m END)
                      - max(CASE WHEN treated = 1 AND post = 0 THEN m END))
                     - (max(CASE WHEN treated = 0 AND post = 1 THEN m END)
                        - max(CASE WHEN treated = 0 AND post = 0 THEN m END)),
                     6) AS did_estimate
        FROM cells
    """,
    family="analytics",
)
def stats_diff_in_diff(spark, sf_dir):
    """Difference-in-differences estimator: (treated post − treated
    pre) − (control post − control pre) on purchase values, with a
    deterministic id-parity "treatment" assignment and a mid-month
    policy date — the workhorse causal design when randomization isn't
    available (the A/B test, stats_ab_test, is its randomized
    sibling; DiD nets out both group-level and time-level
    confounders). One 4-cell filtered aggregate (map-side combining)
    and a closed-form fold of the four means — rounded at 8 dp before
    the subtraction so both engines difference identical doubles. On
    this synthetic fixture the true effect is ~0 (no policy exists) —
    the placebo-test reading, asserted in tests; at scale add the
    parallel-trends check (pre-period slopes per group via
    trend_per_group)."""
    e = table(spark, sf_dir, "events")
    d = e.where(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2 == 0).cast("int").alias("treated"),
        (F.col("ts").cast("date") >= F.lit("2024-01-16").cast("date"))
        .cast("int")
        .alias("post"),
        F.round("value", 6).alias("v"),
    )
    cells = d.groupBy("treated", "post").agg(
        F.count("*").alias("n"), F.round(F.avg("v"), 8).alias("m")
    )

    def cell(t, p, col):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        )

    return cells.agg(
        cell(1, 0, "n").alias("n_t_pre"),
        cell(1, 1, "n").alias("n_t_post"),
        cell(0, 0, "n").alias("n_c_pre"),
        cell(0, 1, "n").alias("n_c_post"),
        F.round(
            (cell(1, 1, "m") - cell(1, 0, "m")) - (cell(0, 1, "m") - cell(0, 0, "m")),
            6,
        ).alias("did_estimate"),
    )


@query(
    "orders_aging_buckets",
    oracle="""
        WITH aged AS (
            SELECT o_orderpriority,
                   date_diff('day', CAST(o_orderdate AS DATE),
                             DATE '2001-12-31') AS age_d,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
            FROM orders WHERE o_orderstatus = 'O'
        )
        SELECT o_orderpriority,
               CASE WHEN age_d <= 365 THEN '0-365'
                    WHEN age_d <= 730 THEN '366-730'
                    WHEN age_d <= 1460 THEN '731-1460'
                    ELSE '1460+' END AS age_bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(price_c) / 100.0, 2) AS open_value
        FROM aged
        GROUP BY 1, 2
    """,
    family="analytics",
)
def orders_aging_buckets(spark, sf_dir):
    """Open-order AGING report: outstanding ('O') orders bucketed by
    age against a fixed as-of date, with counts and open value per
    (priority, bucket) — the accounts-receivable aging statement shape
    (0-30/31-60/… in AR-speak; year-scaled here to the fixture's date
    span). Bucketing is EXACT integer day arithmetic against pinned
    boundaries, value sums are integer cents — fully bit-stable. One
    filtered scan + one hash agg on a ≤20-key grid; the as-of date is
    pinned (never now(): a report that moves under replay is
    unauditable — the determinism rule every operator here follows)."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    age = F.datediff(
        F.lit("2001-12-31").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(age <= 365, "0-365")
        .when(age <= 730, "366-730")
        .when(age <= 1460, "731-1460")
        .otherwise("1460+")
    )
    return (
        o.select(
            "o_orderpriority",
            bucket.alias("age_bucket"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
        )
        .groupBy("o_orderpriority", "age_bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("price_c") / 100.0, 2).alias("open_value"),
        )
    )


@query(
    "stats_srm_check",
    oracle="""
        WITH a AS (
            SELECT CAST(user_id % 2 = 0 AS INT) AS treated,
                   count(DISTINCT user_id) AS n
            FROM events GROUP BY 1
        ),
        c AS (
            SELECT CAST(max(CASE WHEN treated = 1 THEN n END) AS BIGINT) AS n_t,
                   CAST(max(CASE WHEN treated = 0 THEN n END) AS BIGINT) AS n_c
            FROM a
        )
        SELECT n_t, n_c,
               round(n_t * 1.0 / (n_t + n_c), 6) AS treated_share,
               round(pow(n_t - (n_t + n_c) / 2.0, 2) / ((n_t + n_c) / 2.0)
                     + pow(n_c - (n_t + n_c) / 2.0, 2) / ((n_t + n_c) / 2.0),
                     6) AS srm_chi2,
               CAST(pow(n_t - (n_t + n_c) / 2.0, 2) / ((n_t + n_c) / 2.0)
                    + pow(n_c - (n_t + n_c) / 2.0, 2) / ((n_t + n_c) / 2.0)
                    > 3.841 AS BOOLEAN) AS srm_detected
        FROM c
    """,
    family="analytics",
)
def stats_srm_check(spark, sf_dir):
    """Sample-Ratio-Mismatch guardrail: chi-square of observed
    treatment/control unit counts against the designed 50/50 split —
    the experimentation sanity check that MUST run before reading any
    A/B result (stats_ab_test computes the effect; SRM says whether
    the randomization itself broke — a p<0.05 mismatch invalidates
    the experiment regardless of lift). Assignment is the same id
    parity as stats_diff_in_diff; counts are exact distinct-user
    integers, the 1-dof chi-square is identical arithmetic on them,
    and the 3.841 (χ²₀.₉₅,₁) verdict compares identical doubles. One
    distinct-aggregate pass; at scale the unit-count-by-arm frame is
    the 2-row input to this closed form regardless of corpus size."""
    e = table(spark, sf_dir, "events")
    a = e.groupBy((F.col("user_id") % 2 == 0).cast("int").alias("treated")).agg(
        F.count_distinct("user_id").alias("n")
    )
    c = a.agg(
        F.max(F.when(F.col("treated") == 1, F.col("n"))).cast("bigint").alias("n_t"),
        F.max(F.when(F.col("treated") == 0, F.col("n"))).cast("bigint").alias("n_c"),
    )
    half = (F.col("n_t") + F.col("n_c")) / 2.0
    chi2 = F.pow(F.col("n_t") - half, 2) / half + F.pow(F.col("n_c") - half, 2) / half
    return c.select(
        "n_t",
        "n_c",
        F.round(F.col("n_t") * 1.0 / (F.col("n_t") + F.col("n_c")), 6).alias(
            "treated_share"
        ),
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


@query(
    "events_mtbf",
    oracle="""
        WITH errs AS (
            SELECT user_id, epoch_us(ts) AS ts_us, event_id
            FROM events WHERE event_type = 'error'
        ),
        gaps AS (
            SELECT user_id,
                   ts_us - lag(ts_us) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                   ) AS gap_us
            FROM errs
        ),
        per_user AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_gaps,
                   CAST(sum(gap_us) AS BIGINT) AS total_us
            FROM gaps WHERE gap_us IS NOT NULL
            GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n_gaps) AS BIGINT) AS n_intervals,
               round(CAST(sum(total_us) AS BIGINT) * 1.0
                     / sum(n_gaps) / 3.6e9, 6) AS mtbf_hours,
               round(quantile_cont(total_us * 1.0 / n_gaps / 3.6e9, 0.5), 6)
                   AS p50_user_mtbf_hours
        FROM per_user
    """,
    family="analytics",
)
def events_mtbf(spark, sf_dir):
    """Mean time between failures: per-user gaps between consecutive
    error events, folded to the fleet MTBF (total uptime / intervals)
    and the median per-user MTBF — the reliability pair to
    win_time_to_next_error's per-event labels (MTBF summarizes the
    past; TTE labels the future). The fleet MTBF is a ratio of exact
    integer sums; the per-user MTBFs entering the percentile are
    identical int-ratio doubles, so the interpolation matches. One
    filtered scan, one user-partitioned lag window on the ~error
    subset, two folds."""
    e = table(spark, sf_dir, "events")
    errs = e.where(F.col("event_type") == "error").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = errs.select(
        "user_id", (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    per_user = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"), F.sum("gap_us").alias("total_us")
    )
    user_mtbf = F.col("total_us") * 1.0 / F.col("n_gaps") / 3.6e9
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum("n_gaps").alias("n_intervals"),
        F.round(F.sum("total_us") * 1.0 / F.sum("n_gaps") / 3.6e9, 6).alias(
            "mtbf_hours"
        ),
        F.round(F.percentile(user_mtbf, 0.5), 6).alias("p50_user_mtbf_hours"),
    )


@query(
    "orders_shipping_lag",
    oracle="""
        WITH lags AS (
            SELECT o.o_orderpriority,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)) AS lag_d
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(min(lag_d) AS BIGINT) AS min_lag_days,
               round(quantile_cont(lag_d, 0.5), 6) AS p50_lag_days,
               round(quantile_cont(lag_d, 0.9), 6) AS p90_lag_days,
               CAST(max(lag_d) AS BIGINT) AS max_lag_days
        FROM lags
        GROUP BY o_orderpriority
    """,
    family="analytics",
)
def orders_shipping_lag(spark, sf_dir):
    """Order-to-ship lag distribution per priority (min/p50/p90/max
    days from order date to each line's ship date) — the fulfillment
    SLA report that orders_aging_buckets' open-order view complements
    (aging = what's still waiting; this = how long completed lines
    took), and the fact-to-fact join shape (orders⋈lineitem on the
    order key — the engine's bread-and-butter shuffle join, with AQE
    free to broadcast if one side's filtered small). Lags are exact
    integer days into exact-input percentile interpolation."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lags = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lag_d"),
    )
    return lags.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.min("lag_d").cast("bigint").alias("min_lag_days"),
        F.round(F.percentile("lag_d", 0.5), 6).alias("p50_lag_days"),
        F.round(F.percentile("lag_d", 0.9), 6).alias("p90_lag_days"),
        F.max("lag_d").cast("bigint").alias("max_lag_days"),
    )


@query(
    "stats_power_mde",
    oracle="""
        WITH base AS (
            SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   round(var_samp(v), 6) AS sigma2
            FROM (
                SELECT user_id, round(avg(value), 6) AS v
                FROM events WHERE event_type = 'purchase'
                GROUP BY user_id
            )
        )
        SELECT n_users, sigma2,
               round(2.8016 * sqrt(2.0 * sigma2 / (n_users / 2.0)), 6)
                   AS mde_current,
               CAST(ceil(2 * 2.8016 * 2.8016 * sigma2
                         / (0.05 * 0.05 * (SELECT round(avg(v) * avg(v), 4)
                            FROM (SELECT user_id, round(avg(value), 6) AS v
                                  FROM events WHERE event_type = 'purchase'
                                  GROUP BY user_id))))
                    AS BIGINT) AS n_per_arm_for_5pct
        FROM base
    """,
    family="analytics",
)
def stats_power_mde(spark, sf_dir):
    """Experiment power planning: the minimum detectable effect at
    80% power / α=5% for a 50/50 split of the CURRENT user base
    (MDE = (z₀.₀₂₅+z₀.₂)·√(2σ²/n_arm), 2.8016 = 1.96+0.8416), plus
    the per-arm sample size a 5%-of-mean effect would need — the
    "should we even run this test" calculator that belongs beside
    stats_ab_test/stats_srm_check (most underpowered experiments
    should never have launched). The unit of analysis is the USER
    (per-user mean purchase value — randomization unit = analysis
    unit, the cluster-randomization rule), σ² and the mean round
    before the closed form so both engines compute identical doubles.
    Two aggregates over the per-user frame; corpus-sized work is one
    filtered scan."""
    e = table(spark, sf_dir, "events")
    per_user = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    base = per_user.agg(
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.var_samp("v"), 6).alias("sigma2"),
        F.round(F.avg("v") * F.avg("v"), 4).alias("mean_sq"),
    )
    mde = 2.8016 * F.sqrt(2.0 * F.col("sigma2") / (F.col("n_users") / 2.0))
    n_needed = F.ceil(
        2 * 2.8016 * 2.8016 * F.col("sigma2") / (0.05 * 0.05 * F.col("mean_sq"))
    ).cast("bigint")
    return base.select(
        "n_users",
        "sigma2",
        F.round(mde, 6).alias("mde_current"),
        n_needed.alias("n_per_arm_for_5pct"),
    )


@query(
    "orders_segment_migration",
    oracle="""
        WITH mid AS (SELECT TIMESTAMP '1998-01-01' AS cut),
        spend AS (
            SELECT o_custkey,
                   CAST(o_orderdate < cut AS INT) AS era,
                   CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS spend_c
            FROM orders CROSS JOIN mid
            GROUP BY o_custkey, era
        ),
        seg AS (
            SELECT o_custkey, era,
                   CASE WHEN ntile(3) OVER (
                            PARTITION BY era ORDER BY spend_c, o_custkey
                        ) = 3 THEN 'high'
                        WHEN ntile(3) OVER (
                            PARTITION BY era ORDER BY spend_c, o_custkey
                        ) = 2 THEN 'mid'
                        ELSE 'low' END AS segment
            FROM spend
        )
        SELECT a.segment AS segment_before, b.segment AS segment_after,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM seg a JOIN seg b
          ON a.o_custkey = b.o_custkey AND a.era = 1 AND b.era = 0
        GROUP BY a.segment, b.segment
    """,
    family="analytics",
)
def orders_segment_migration(spark, sf_dir):
    """Customer segment MIGRATION matrix: spend-tertile segment in the
    early era (pre-1998) × segment in the late era, counting customers
    per flow — the CRM question rfm_segments' snapshot can't answer
    ("are high-value customers churning down or climbing?"); the 3×3
    matrix is the whole story. Tertiles are fully tiebroken ntile over
    (spend_cents, custkey) per era — exact integers, deterministic
    membership (and the documented global-sort trade per era; at scale
    use approx-percentile cutpoints exactly as feature_quantile_bucket
    prescribes). One hash agg to (customer, era), two windows on that
    reduced frame, one self-join on the customer key."""
    o = table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    spend = o.groupBy(
        "o_custkey", (F.col("o_orderdate") < cut).cast("int").alias("era")
    ).agg(F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("spend_c"))
    w = Window.partitionBy("era").orderBy("spend_c", "o_custkey")
    seg = spend.select(
        "o_custkey",
        "era",
        F.when(F.ntile(3).over(w) == 3, "high")
        .when(F.ntile(3).over(w) == 2, "mid")
        .otherwise("low")
        .alias("segment"),
    )
    a = seg.where(F.col("era") == 1).select(
        "o_custkey", F.col("segment").alias("segment_before")
    )
    b = seg.where(F.col("era") == 0).select(
        F.col("o_custkey").alias("ck_b"), F.col("segment").alias("segment_after")
    )
    return (
        a.join(b, a.o_custkey == b.ck_b)
        .groupBy("segment_before", "segment_after")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "stats_cuped",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   round(avg(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                                  THEN value END), 6) AS pre,
                   round(avg(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                                  THEN value END), 6) AS post
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        both_sides AS (
            SELECT pre, post FROM per_user
            WHERE pre IS NOT NULL AND post IS NOT NULL
        ),
        m AS (
            SELECT count(*) AS n,
                   round(avg(pre), 8) AS mp,
                   round(avg(post), 8) AS mq,
                   round(avg(pre * pre), 7) AS mpp,
                   round(avg(post * post), 7) AS mqq,
                   round(avg(pre * post), 7) AS mpq
            FROM both_sides
        ),
        c AS (
            SELECT n,
                   mpp - mp * mp AS var_pre,
                   mqq - mq * mq AS var_post,
                   mpq - mp * mq AS cov_pq
            FROM m
        )
        SELECT CAST(n AS BIGINT) AS n_users,
               round(cov_pq / var_pre, 6) AS theta,
               round(var_post, 6) AS var_post,
               round(var_post - cov_pq * cov_pq / var_pre, 6) AS var_cuped,
               round(100.0 * (cov_pq * cov_pq / var_pre) / var_post, 6)
                   AS var_reduction_pct
        FROM c
    """,
    family="analytics",
)
def stats_cuped(spark, sf_dir):
    """CUPED variance reduction (Deng et al.): adjust each user's
    post-period metric by θ·(pre − mean_pre), θ = cov(pre,post)/
    var(pre) — the industry-standard trick that shrinks experiment
    variance by the pre-period's explanatory share (reduction =
    ρ²·100%), letting the same experiment detect smaller effects or
    finish sooner (stats_power_mde quantifies exactly how much
    sooner). Computed entirely from ROUNDED power moments over the
    per-user pre/post frame (the ml_linreg_normal discipline — both
    engines fold identical doubles through the closed form); the
    per-user frame itself is one conditional aggregate, user-keyed.
    On this fixture pre and post are independent draws, so the
    measured reduction is honestly near zero — the placebo reading
    (asserted in tests), exactly what CUPED reports when the
    covariate carries no signal."""
    e = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("date")
    per_user = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.round(
                F.avg(F.when(F.col("ts").cast("date") < cut, F.col("value"))), 6
            ).alias("pre"),
            F.round(
                F.avg(F.when(F.col("ts").cast("date") >= cut, F.col("value"))), 6
            ).alias("post"),
        )
        .where(F.col("pre").isNotNull() & F.col("post").isNotNull())
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.round(F.avg("pre"), 8).alias("mp"),
        F.round(F.avg("post"), 8).alias("mq"),
        F.round(F.avg(F.col("pre") * F.col("pre")), 7).alias("mpp"),
        F.round(F.avg(F.col("post") * F.col("post")), 7).alias("mqq"),
        F.round(F.avg(F.col("pre") * F.col("post")), 7).alias("mpq"),
    )
    var_pre = F.col("mpp") - F.col("mp") * F.col("mp")
    var_post = F.col("mqq") - F.col("mq") * F.col("mq")
    cov = F.col("mpq") - F.col("mp") * F.col("mq")
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(cov / var_pre, 6).alias("theta"),
        F.round(var_post, 6).alias("var_post"),
        F.round(var_post - cov * cov / var_pre, 6).alias("var_cuped"),
        F.round(100.0 * (cov * cov / var_pre) / var_post, 6).alias(
            "var_reduction_pct"
        ),
    )


@query(
    "stats_anova",
    oracle="""
        WITH g AS (
            SELECT o_orderpriority AS grp,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(o_totalprice), 6) AS m,
                   round(avg(o_totalprice * o_totalprice), 2) AS m2
            FROM orders GROUP BY o_orderpriority
        ),
        tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS nt,
                   CAST(count(*) AS BIGINT) AS k,
                   round(sum(n * m) / sum(n), 6) AS gm
            FROM g
        ),
        ss AS (
            SELECT nt, k,
                   round(sum(n * (m - gm) * (m - gm)), 2) AS ssb,
                   round(sum(n * (m2 - m * m)), 2) AS ssw
            FROM g CROSS JOIN tot
            GROUP BY nt, k, gm
        )
        SELECT CAST(k - 1 AS BIGINT) AS df_between,
               CAST(nt - k AS BIGINT) AS df_within,
               round((ssb / (k - 1)) / (ssw / (nt - k)), 6) AS f_stat,
               round(ssb / (ssb + ssw), 6) AS eta_squared
        FROM ss
    """,
    family="analytics",
    bnlj="1-row grand totals broadcast onto the per-group stats",
)
def stats_anova(spark, sf_dir):
    """One-way ANOVA across the five order priorities: F = between-
    group variance over within-group variance, with η² effect size —
    the k-group generalization closing the inference family
    (stats_ttest_welch = 2 groups, this = k; chi2/KS cover categorical
    and distributional axes). Built entirely from per-group ROUNDED
    moments (n, mean, mean-square — the ml_linreg_normal discipline),
    so the sums of squares and the F ratio are identical IEEE
    arithmetic in both engines; the group frame is 5 rows, the grand
    mean a weighted fold of it. One single-pass mergeable aggregate
    over the corpus — the distributed-ANOVA shape at any scale. (The
    fixture's priorities are assigned independently of price, so
    F ≈ 1 and η² ≈ 0 — the true-null reading, asserted in tests.)"""
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").alias("n"),
        F.round(F.avg(x), 6).alias("m"),
        F.round(F.avg(x * x), 2).alias("m2"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.count("*").alias("k"),
        F.round(F.sum(F.col("n") * F.col("m")) / F.sum("n"), 6).alias("gm"),
    )
    ss = (
        g.join(F.broadcast(tot))
        .groupBy("nt", "k", "gm")
        .agg(
            F.round(
                F.sum(F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))),
                2,
            ).alias("ssb"),
            F.round(
                F.sum(F.col("n") * (F.col("m2") - F.col("m") * F.col("m"))), 2
            ).alias("ssw"),
        )
    )
    return ss.select(
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("nt") - F.col("k")).cast("bigint").alias("df_within"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("nt") - F.col("k"))),
            6,
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias("eta_squared"),
    )


@query(
    "events_hazard_rate",
    oracle="""
        WITH f AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events
            GROUP BY user_id
        ),
        conv AS (
            SELECT e.user_id,
                   date_diff('day', f.d0, min(CAST(e.ts AS DATE))) AS conv_t
            FROM events e JOIN f ON e.user_id = f.user_id
            WHERE e.event_type = 'purchase'
            GROUP BY e.user_id, f.d0
        ),
        horizon AS (SELECT max(CAST(ts AS DATE)) AS dmax FROM events),
        spine AS (SELECT unnest(range(0, 15)) AS t),
        risk AS (
            SELECT s.t,
                   CAST(count(*) AS BIGINT) AS n_at_risk,
                   CAST(count(*) FILTER (WHERE c.conv_t = s.t) AS BIGINT)
                       AS n_converted
            FROM spine s
            CROSS JOIN horizon h
            JOIN f ON date_diff('day', f.d0, h.dmax) >= s.t
            LEFT JOIN conv c ON c.user_id = f.user_id
            WHERE c.conv_t IS NULL OR c.conv_t >= s.t
            GROUP BY s.t
        )
        SELECT CAST(t AS BIGINT) AS t, n_at_risk, n_converted,
               round(n_converted * 1.0 / n_at_risk, 6) AS hazard
        FROM risk WHERE n_at_risk > 0
    """,
    family="analytics",
    bnlj="1-row horizon and a day spine (15 rows at sf0.01) broadcast",
)
def events_hazard_rate(spark, sf_dir):
    """Discrete-time conversion HAZARD: h(t) = P(first purchase on day
    t | still unconverted and under observation at t) for offsets
    0-14 from each user's first-seen day — the survival-analysis
    proper view that events_survival_curve's descriptive S(t) can't
    give (hazard tells you WHEN the conversion propensity peaks, with
    censoring handled by the risk set: users whose observation window
    ends before t simply leave the denominator, never biasing it —
    the mistake naive "converted by day t" funnels make). Risk sets
    are exact integer day comparisons over the per-user first/
    conversion frame (150 rows here, |users| generally — the
    corpus-sized work is the two first-event aggregates); the 15-day
    spine explodes against it. Exact integer ratios."""
    e = table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    conv = (
        e.where(F.col("event_type") == "purchase")
        .join(f, "user_id")
        .groupBy("user_id", "d0")
        .agg(
            F.datediff(F.min(F.col("ts").cast("date")), F.first("d0")).alias("conv_t")
        )
        .select("user_id", "conv_t")
    )
    horizon = e.agg(F.max(F.col("ts").cast("date")).alias("dmax"))
    spine = spark.range(0, 15).select(F.col("id").cast("bigint").alias("t"))
    base = (
        f.join(conv, "user_id", "left")
        .join(F.broadcast(horizon))
        .select("user_id", "d0", "conv_t", F.datediff("dmax", "d0").alias("obs_t"))
    )
    risk = (
        base.join(F.broadcast(spine), F.col("obs_t") >= F.col("t"))
        .where(F.col("conv_t").isNull() | (F.col("conv_t") >= F.col("t")))
        .groupBy("t")
        .agg(
            F.count("*").alias("n_at_risk"),
            F.count(F.when(F.col("conv_t") == F.col("t"), 1)).alias("n_converted"),
        )
    )
    return risk.where(F.col("n_at_risk") > 0).select(
        "t",
        "n_at_risk",
        "n_converted",
        F.round(F.col("n_converted") * 1.0 / F.col("n_at_risk"), 6).alias("hazard"),
    )


@query(
    "orders_return_rate",
    oracle="""
        WITH lines AS (
            SELECT o.o_orderpriority,
                   CAST(l.l_returnflag = 'R' AS INT) AS is_return,
                   CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_c
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        tot AS (
            SELECT CAST(sum(is_return) AS BIGINT) AS r_all,
                   CAST(count(*) AS BIGINT) AS n_all
            FROM lines
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(is_return) AS BIGINT) AS n_returned,
               round(sum(is_return) * 1.0 / count(*), 6) AS return_rate,
               round((sum(is_return) * 1.0 / count(*))
                     / (r_all * 1.0 / n_all), 6) AS lift_vs_global,
               round(sum(CASE WHEN is_return = 1 THEN price_c ELSE 0 END)
                     / 100.0, 2) AS returned_value
        FROM lines CROSS JOIN tot
        GROUP BY o_orderpriority, r_all, n_all
    """,
    family="analytics",
    bnlj="1-row overall return rate broadcast onto the lines",
)
def orders_return_rate(spark, sf_dir):
    """Return-rate scoreboard per priority: share of lineitems flagged
    'R', the lift against the global base rate, and the returned
    value — the retail quality metric that triages "who's sending
    things back and how much it costs" (lift ≈ 1 everywhere means
    returns are priority-independent — this fixture's truth, which is
    itself the useful placebo reading). One fact⋈fact equi-join on
    the order key (orders_shipping_lag's shape), one hash agg, the
    global base as a 1-row broadcast. Counts and cents exact; rates
    are exact-integer ratios."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        (F.col("l_returnflag") == "R").cast("int").alias("is_return"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
    )
    tot = lines.agg(
        F.sum("is_return").alias("r_all"), F.count("*").alias("n_all")
    )
    rate = F.sum("is_return") * 1.0 / F.count("*")
    return (
        lines.join(F.broadcast(tot))
        .groupBy("o_orderpriority", "r_all", "n_all")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("is_return").alias("n_returned"),
            F.round(rate, 6).alias("return_rate"),
            F.round(rate / (F.col("r_all") * 1.0 / F.col("n_all")), 6).alias(
                "lift_vs_global"
            ),
            F.round(
                F.sum(F.when(F.col("is_return") == 1, F.col("price_c")).otherwise(0))
                / 100.0,
                2,
            ).alias("returned_value"),
        )
        .drop("r_all", "n_all")
    )


@query(
    "events_peak_concurrency",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        ),
        flagged AS (
            SELECT user_id, event_id, ts_us,
                   CASE WHEN lag(ts_us) OVER w IS NULL
                             OR ts_us - lag(ts_us) OVER w >= 600000000
                        THEN 1 ELSE 0 END AS is_new
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ),
        sess AS (
            SELECT user_id,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS seq,
                   ts_us
            FROM flagged
        ),
        intervals AS (
            SELECT CAST(min(ts_us) AS BIGINT) AS s_us,
                   CAST(max(ts_us) AS BIGINT) AS e_us
            FROM sess GROUP BY user_id, seq
        ),
        deltas AS (
            SELECT s_us AS t, 1 AS delta FROM intervals
            UNION ALL
            SELECT e_us AS t, -1 FROM intervals
        ),
        sweep AS (
            SELECT t, delta,
                   CAST(sum(delta) OVER (
                       ORDER BY t, delta
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS load
            FROM deltas
        )
        SELECT CAST(max(load) AS BIGINT) AS peak_concurrent,
               CAST(min(CASE WHEN load = (SELECT max(load) FROM sweep)
                             THEN t END) AS BIGINT) AS first_peak_us,
               CAST(count(*) / 2 AS BIGINT) AS n_sessions
        FROM sweep
    """,
    family="analytics",
    bnlj="1-row peak load broadcast back onto the sweep",
)
def events_peak_concurrency(spark, sf_dir):
    """Peak concurrent sessions via the SWEEP LINE: explode each
    session interval (win_sessionize's gap rule) into (+1 at start,
    −1 at end) deltas, running-sum over the time-sorted delta stream,
    take the max — the capacity-planning number ("how many sessions
    were open AT ONCE") that per-hour counts systematically
    understate. The tie rule is pinned IN THE SORT KEY (t, delta):
    a session ending at instant T closes before one starting at T
    opens, so touching intervals don't double-count — an explicitly
    deterministic convention both engines share. Exact integer micros
    and deltas; the sweep is a global sort of 2×|sessions| rows (the
    reduced frame — agg_gini's trade; at scale, sweep per
    range-partition and stitch boundary offsets, the standard
    distributed sweep-line)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) >= 600_000_000),
            1,
        ).otherwise(0),
    )
    # (ts_us, event_id) ordering on the running sum: tied timestamps get a
    # deterministic session in both engines (ADVICE r4).
    wsum = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = flagged.select(
        "user_id", "ts_us", F.sum("is_new").over(wsum).alias("seq")
    )
    intervals = sess.groupBy("user_id", "seq").agg(
        F.min("ts_us").alias("s_us"), F.max("ts_us").alias("e_us")
    )
    deltas = intervals.select(
        F.col("s_us").alias("t"), F.lit(1).alias("delta")
    ).unionAll(intervals.select(F.col("e_us").alias("t"), F.lit(-1).alias("delta")))
    wsweep = Window.orderBy("t", "delta").rowsBetween(Window.unboundedPreceding, 0)
    sweep = deltas.select("t", "delta", F.sum("delta").over(wsweep).alias("load"))
    peak = sweep.agg(F.max("load").alias("peak"))
    return (
        sweep.join(F.broadcast(peak))
        .agg(
            F.max("load").alias("peak_concurrent"),
            F.min(F.when(F.col("load") == F.col("peak"), F.col("t")))
            .cast("bigint")
            .alias("first_peak_us"),
            (F.count("*") / 2).cast("bigint").alias("n_sessions"),
        )
    )


@query(
    "events_new_vs_returning",
    oracle="""
        WITH f AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events
            GROUP BY user_id
        ),
        p AS (
            SELECT CAST(e.ts AS DATE) AS d,
                   CAST(CAST(e.ts AS DATE) = f.d0 AS INT) AS is_new,
                   round(e.value, 6) AS v
            FROM events e JOIN f ON e.user_id = f.user_id
            WHERE e.event_type = 'purchase'
        )
        SELECT CAST(d AS TIMESTAMP) AS d,
               CAST(count(*) FILTER (WHERE is_new = 1) AS BIGINT)
                   AS n_new_purchases,
               CAST(count(*) FILTER (WHERE is_new = 0) AS BIGINT)
                   AS n_returning_purchases,
               round(coalesce(sum(v) FILTER (WHERE is_new = 1), 0), 4)
                   AS new_revenue,
               round(coalesce(sum(v) FILTER (WHERE is_new = 0), 0), 4)
                   AS returning_revenue
        FROM p GROUP BY d
    """,
    family="analytics",
)
def events_new_vs_returning(spark, sf_dir):
    """Daily revenue split by NEW vs RETURNING purchasers (new = the
    purchase lands on the user's first-ever active day) — the
    composition metric behind "is growth acquisition or retention",
    read alongside events_growth_accounting's user ledger (this is
    the money view of the same split). One user-keyed first-day
    aggregate joined back (broadcast-sized next to events), one
    day-keyed conditional agg. Counts exact; values round at 6 dp
    per event and 4 dp per daily sum (bounded addend counts)."""
    e = table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(f, "user_id")
        .select(
            F.col("ts").cast("date").alias("d"),
            (F.col("ts").cast("date") == F.col("d0")).cast("int").alias("is_new"),
            F.round("value", 6).alias("v"),
        )
    )
    return p.groupBy("d").agg(
        F.count(F.when(F.col("is_new") == 1, 1)).alias("n_new_purchases"),
        F.count(F.when(F.col("is_new") == 0, 1)).alias("n_returning_purchases"),
        F.round(
            F.coalesce(F.sum(F.when(F.col("is_new") == 1, F.col("v"))), F.lit(0.0)), 4
        ).alias("new_revenue"),
        F.round(
            F.coalesce(F.sum(F.when(F.col("is_new") == 0, F.col("v"))), F.lit(0.0)), 4
        ).alias("returning_revenue"),
    ).select(
        F.col("d").cast("timestamp").alias("d"),
        "n_new_purchases",
        "n_returning_purchases",
        "new_revenue",
        "returning_revenue",
    )


@query(
    "orders_duplicate_payment",
    oracle="""
        WITH keyed AS (
            SELECT o_orderkey, o_custkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
                   epoch_us(o_orderdate) AS t_us
            FROM orders
        ),
        flagged AS (
            SELECT o_orderkey, o_custkey, price_c, t_us,
                   lag(t_us) OVER (
                       PARTITION BY o_custkey, price_c
                       ORDER BY t_us, o_orderkey
                   ) AS prev_us,
                   lag(o_orderkey) OVER (
                       PARTITION BY o_custkey, price_c
                       ORDER BY t_us, o_orderkey
                   ) AS prev_key
            FROM keyed
        )
        SELECT o_custkey,
               prev_key AS first_orderkey,
               o_orderkey AS second_orderkey,
               round(price_c / 100.0, 2) AS amount,
               CAST((t_us - prev_us) // 86400000000 AS BIGINT) AS gap_days
        FROM flagged
        WHERE prev_us IS NOT NULL
          AND t_us - prev_us <= 30 * 86400000000
    """,
    family="analytics",
)
def orders_duplicate_payment(spark, sf_dir):
    """Duplicate-payment screen: pairs of orders by the SAME customer
    for the EXACT same amount within 30 days — the double-charge /
    double-entry detector every billing reconciliation runs (exact
    amount match is the point: true duplicates repeat to the cent,
    and fuzzy-amount matching belongs to fuzzy_match). The
    (customer, amount-in-cents) composite key makes it ONE
    partitioned lag window — no self-join, no pair space: candidates
    are consecutive orders within their own tiny key group, which at
    any scale is the shuffle of the orders table once on the
    composite key. Exact integer cents and micros throughout;
    consecutive-pair semantics (A,B,C same amount → pairs A-B, B-C)
    are the auditor's convention — each charge implicated with its
    nearest repeat. On this fixture the screen comes back EMPTY —
    continuous to-the-cent amounts produce no exact repeats — which
    is the correct clean-audit reading; the pytest plants duplicates
    in a staged copy and asserts the detector fires on exactly
    them."""
    o = table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("t_us"),
    )
    w = Window.partitionBy("o_custkey", "price_c").orderBy("t_us", "o_orderkey")
    flagged = keyed.select(
        "o_orderkey",
        "o_custkey",
        "price_c",
        "t_us",
        F.lag("t_us").over(w).alias("prev_us"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
    )
    return (
        flagged.where(
            F.col("prev_us").isNotNull()
            & (F.col("t_us") - F.col("prev_us") <= 30 * 86_400_000_000)
        )
        .select(
            "o_custkey",
            F.col("prev_key").alias("first_orderkey"),
            F.col("o_orderkey").alias("second_orderkey"),
            F.round(F.col("price_c") / 100.0, 2).alias("amount"),
            F.floor((F.col("t_us") - F.col("prev_us")) / 86_400_000_000)
            .cast("bigint")
            .alias("gap_days"),
        )
    )


@query(
    "stats_simpson_check",
    oracle="""
        WITH d AS (
            SELECT CAST(user_id % 2 = 0 AS INT) AS grp,
                   isodow(ts) AS dow,
                   round(value, 6) AS v
            FROM events WHERE event_type = 'purchase'
        ),
        agg AS (
            SELECT round(avg(CASE WHEN grp = 1 THEN v END), 8)
                   - round(avg(CASE WHEN grp = 0 THEN v END), 8) AS diff
            FROM d
        ),
        sub AS (
            SELECT dow,
                   round(avg(CASE WHEN grp = 1 THEN v END), 8)
                   - round(avg(CASE WHEN grp = 0 THEN v END), 8) AS diff
            FROM d GROUP BY dow
        )
        SELECT CAST(sign(agg.diff) AS BIGINT) AS aggregate_direction,
               CAST(count(*) FILTER (WHERE sign(sub.diff) = sign(agg.diff))
                    AS BIGINT) AS n_subgroups_agree,
               CAST(count(*) FILTER (WHERE sign(sub.diff) <> sign(agg.diff))
                    AS BIGINT) AS n_subgroups_disagree,
               CAST(count(*) FILTER (WHERE sign(sub.diff) <> sign(agg.diff))
                    > count(*) / 2.0 AS BOOLEAN) AS simpson_flag
        FROM sub CROSS JOIN agg
        GROUP BY agg.diff
    """,
    family="analytics",
    bnlj="1-row aggregate difference broadcast onto the strata",
)
def stats_simpson_check(spark, sf_dir):
    """Simpson's-paradox screen: does the aggregate group difference
    (treated − control mean purchase value) keep its SIGN inside each
    weekday subgroup, or do a majority of strata point the other way —
    the aggregation-reversal trap every metrics review should test
    before trusting a topline (a flipped majority means a confounder
    correlated with the stratifier is driving the aggregate; read the
    per-stratum numbers, not the topline). Group/stratum means round
    at 8 dp before differencing, so sign() compares identical doubles
    in both engines; the verdict is exact integer counting over the 7
    strata. One conditional aggregate for the topline + one for the
    strata over a single scan."""
    e = table(spark, sf_dir, "events")
    d = e.where(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2 == 0).cast("int").alias("grp"),
        (F.weekday("ts") + 1).alias("dow"),
        F.round("value", 6).alias("v"),
    )

    def diff(df, *keys):
        agg = df.groupBy(*keys) if keys else df
        return agg.agg(
            (
                F.round(F.avg(F.when(F.col("grp") == 1, F.col("v"))), 8)
                - F.round(F.avg(F.when(F.col("grp") == 0, F.col("v"))), 8)
            ).alias("diff")
        )

    agg = diff(d).select(F.col("diff").alias("agg_diff"))
    sub = diff(d, "dow")
    agree = F.signum("diff") == F.signum("agg_diff")
    return (
        sub.join(F.broadcast(agg))
        .groupBy("agg_diff")
        .agg(
            F.count(F.when(agree, 1)).alias("n_subgroups_agree"),
            F.count(F.when(~agree, 1)).alias("n_subgroups_disagree"),
        )
        .select(
            F.signum("agg_diff").cast("bigint").alias("aggregate_direction"),
            "n_subgroups_agree",
            "n_subgroups_disagree",
            (
                F.col("n_subgroups_disagree")
                > (F.col("n_subgroups_agree") + F.col("n_subgroups_disagree")) / 2.0
            ).alias("simpson_flag"),
        )
    )


@query(
    "orders_revenue_bridge",
    oracle="""
        WITH yr AS (
            SELECT CAST(year(o_orderdate) AS INT) AS y,
                   CAST(count(*) AS BIGINT) AS n,
                   round(avg(o_totalprice), 4) AS aov,
                   round(sum(o_totalprice), 2) AS rev
            FROM orders WHERE year(o_orderdate) IN (1996, 1997)
            GROUP BY 1
        )
        SELECT a.rev AS rev_1996, b.rev AS rev_1997,
               round(b.rev - a.rev, 2) AS delta,
               round((b.n - a.n) * a.aov, 2) AS volume_effect,
               round(b.n * (b.aov - a.aov), 2) AS price_effect,
               round((b.rev - a.rev)
                     - (b.n - a.n) * a.aov - b.n * (b.aov - a.aov), 2)
                   AS residual
        FROM yr a JOIN yr b ON a.y = 1996 AND b.y = 1997
    """,
    family="analytics",
    bnlj="1-row x 1-row join of the two per-year aggregates",
)
def orders_revenue_bridge(spark, sf_dir):
    """Revenue BRIDGE (waterfall decomposition) 1996 → 1997:
    Δrevenue = volume effect ((n₂−n₁)·AOV₁, at old prices) + price
    effect (n₂·(AOV₂−AOV₁)) — the Laspeyres-convention split every
    finance review wants under the topline ("did we sell more, or
    sell dearer?"). The identity is exact up to AOV rounding, so a
    residual column carries the (tiny) rounding remainder explicitly
    rather than silently — bridges that don't reconcile to the delta
    get rejected in review, so the residual IS part of the contract.
    One filtered two-group aggregate; the 2-row self-join is
    broadcast-trivial. AOVs round at 4 dp before the arithmetic —
    identical doubles both engines; revenue at 2 dp (money grid)."""
    o = table(spark, sf_dir, "orders")
    yr = (
        o.where(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(F.year("o_orderdate").cast("int").alias("y"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("aov"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
    )
    a, b = yr.alias("a"), yr.alias("b")
    c = F.col
    delta = c("b.rev") - c("a.rev")
    vol = (c("b.n") - c("a.n")) * c("a.aov")
    price = c("b.n") * (c("b.aov") - c("a.aov"))
    return (
        a.join(b, (c("a.y") == 1996) & (c("b.y") == 1997))
        .select(
            c("a.rev").alias("rev_1996"),
            c("b.rev").alias("rev_1997"),
            F.round(delta, 2).alias("delta"),
            F.round(vol, 2).alias("volume_effect"),
            F.round(price, 2).alias("price_effect"),
            F.round(delta - vol - price, 2).alias("residual"),
        )
    )


@query(
    "orders_whale_concentration",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS spend_c
            FROM orders GROUP BY o_custkey
        ),
        top10 AS (
            SELECT spend_c FROM spend
            ORDER BY spend_c DESC, o_custkey
            LIMIT 10
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_customers,
                   CAST(sum(spend_c) AS BIGINT) AS total_c
            FROM spend
        )
        SELECT tot.n_customers,
               round(sum(top10.spend_c) / 100.0, 2) AS top10_revenue,
               round(tot.total_c / 100.0, 2) AS total_revenue,
               round(sum(top10.spend_c) * 1.0 / tot.total_c, 6) AS top10_share
        FROM top10 CROSS JOIN tot
        GROUP BY tot.n_customers, tot.total_c
    """,
    family="analytics",
    bnlj="1-row revenue total broadcast onto the top-10 customers",
)
def orders_whale_concentration(spark, sf_dir):
    """Whale-risk concentration: the revenue share held by the top-10
    customers — the single number sales leadership quotes next to the
    Gini (agg_gini) and the ABC classes (abc_analysis): "how exposed
    are we if our biggest accounts churn". The top-10 comes from a
    TakeOrderedAndProject heap (each task keeps 10 rows — NO global
    sort, the limit_topk discipline; this is deliberately different
    from the gini/ABC global-rank forms because a fixed top-N never
    needs one), totals are a 1-row aggregate broadcast in, and
    everything folds in exact integer cents with a fully tiebroken
    (spend, custkey) cut."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("spend_c")
    )
    top10 = spend.orderBy(F.desc("spend_c"), "o_custkey").limit(10)
    tot = spend.agg(
        F.count("*").alias("n_customers"), F.sum("spend_c").alias("total_c")
    )
    return (
        top10.join(F.broadcast(tot))
        .groupBy("n_customers", "total_c")
        .agg(
            F.round(F.sum("spend_c") / 100.0, 2).alias("top10_revenue"),
            F.round(F.sum("spend_c") * 1.0 / F.max("total_c"), 6).alias(
                "top10_share"
            ),
        )
        .select(
            "n_customers",
            "top10_revenue",
            F.round(F.col("total_c") / 100.0, 2).alias("total_revenue"),
            "top10_share",
        )
    )


@query(
    "stats_spearman",
    oracle="""
        WITH src AS (
            SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
        ),
        rx AS (
            SELECT x, sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW)
                      - c + (c + 1) / 2.0 AS r
            FROM (SELECT x, CAST(count(*) AS BIGINT) AS c
                  FROM src GROUP BY x)
        ),
        ry AS (
            SELECT y, sum(c) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND CURRENT ROW)
                      - c + (c + 1) / 2.0 AS r
            FROM (SELECT y, CAST(count(*) AS BIGINT) AS c
                  FROM src GROUP BY y)
        ),
        rr AS (
            SELECT CAST(2 * rx.r AS BIGINT) AS a,
                   CAST(2 * ry.r AS BIGINT) AS b
            FROM src JOIN rx USING (x) JOIN ry USING (y)
        ),
        s AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(CAST(sum(a) AS BIGINT) AS DOUBLE) AS sa,
                   CAST(CAST(sum(b) AS BIGINT) AS DOUBLE) AS sb,
                   CAST(CAST(sum(a * b) AS BIGINT) AS DOUBLE) AS sab,
                   CAST(CAST(sum(a * a) AS BIGINT) AS DOUBLE) AS saa,
                   CAST(CAST(sum(b * b) AS BIGINT) AS DOUBLE) AS sbb
            FROM rr
        )
        SELECT CAST(n AS BIGINT) AS n,
               round((n * sab - sa * sb)
                     / (sqrt(n * saa - sa * sa)
                        * sqrt(n * sbb - sb * sb)), 6) AS spearman_rho,
               round(round((n * sab - sa * sb)
                     / (sqrt(n * saa - sa * sa)
                        * sqrt(n * sbb - sb * sb)), 6)
                     * sqrt(n - 1), 6) AS z_stat,
               CAST(abs(round((n * sab - sa * sb)
                     / (sqrt(n * saa - sa * sa)
                        * sqrt(n * sbb - sb * sb)), 6)
                     * sqrt(n - 1)) < 1.96 AS BOOLEAN) AS independent_95
        FROM s
    """,
    family="analytics",
)
def stats_spearman(spark, sf_dir):
    """Spearman rank correlation as an INDEPENDENCE SCREEN between
    quantity and line revenue — the rank-based companion to
    corr_matrix's Pearson (monotone association, outlier-immune) and
    the third member of the midrank family (stats_mann_whitney's rank
    fold, reused for TWO variables and fed into Pearson-on-ranks, the
    tie-correct Spearman definition). The fixture's generator draws
    the columns independently and the statistic confirms it: rho ~ 0,
    |z| = |rho|*sqrt(n-1) < 1.96 — the screen a feature pipeline runs
    before dropping a 'redundant' column. Determinism: midranks per
    DISTINCT value land on the exact 0.5 grid (doubled to BIGINTs),
    all five moment sums are EXACT integers (< 2^63 through sf0.1;
    beyond that widen to int128/decimal — noted, not needed here),
    and the final Pearson combination runs on doubles built from
    those exact integers — every engine computes the identical IEEE
    expression, so the 6-dp rounding sits on identical values. Shape:
    two per-value cumulative windows over |distinct| frames (the
    stats_ks_test global-sort trade), two rank-map joins back to the
    corpus, one moment fold."""
    li = table(spark, sf_dir, "lineitem")
    src = li.select(F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)

    def rank_map(col):
        byv = src.groupBy(F.col(col).alias("v")).agg(F.count("*").alias("c"))
        return byv.select(
            F.col("v").alias(col),
            (
                2 * (F.sum("c").over(w) - F.col("c") + (F.col("c") + 1) / 2.0)
            ).cast("bigint").alias(f"r_{col}"),
        )

    rr = src.join(rank_map("x"), "x").join(rank_map("y"), "y").select(
        F.col("r_x").alias("a"), F.col("r_y").alias("b")
    )
    s = rr.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("a").cast("double").alias("sa"),
        F.sum("b").cast("double").alias("sb"),
        F.sum(F.col("a") * F.col("b")).cast("double").alias("sab"),
        F.sum(F.col("a") * F.col("a")).cast("double").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("double").alias("sbb"),
    )
    rho = F.round(
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
        / (
            F.sqrt(F.col("n") * F.col("saa") - F.col("sa") * F.col("sa"))
            * F.sqrt(F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
        ),
        6,
    )
    z = F.round(rho * F.sqrt(F.col("n") - 1), 6)
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        rho.alias("spearman_rho"),
        z.alias("z_stat"),
        (F.abs(rho * F.sqrt(F.col("n") - 1)) < 1.96).alias("independent_95"),
    )
