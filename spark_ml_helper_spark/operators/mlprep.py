"""ML data-prep operators — SURVEY.md §2.I (prep half).

The MLlib-wrapper-style utilities, implemented natively where that keeps
them exact and oracle-checkable (scaling, bucketizing, splitting), with
seeded-sampling forms as rows-only twins.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table


@query(
    "class_balance",
    oracle="""
        SELECT label, count(*) AS n,
               round(count(*) * 1.0 / (SELECT count(*) FROM embeddings), 6) AS pct
        FROM embeddings
        GROUP BY label
    """,
    family="mlprep",
    bnlj="1-row total count crossJoined onto the per-label counts",
)
def class_balance(spark, sf_dir):
    """Label distribution (count + fraction of corpus) — the first thing a
    training pipeline checks before sampling."""
    e = table(spark, sf_dir, "embeddings")
    total = e.agg(F.count("*").alias("total"))
    return (
        e.groupBy("label")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .select("label", "n", F.round(F.col("n") * 1.0 / F.col("total"), 6).alias("pct"))
    )


@query(
    "class_sample_stratified",
    oracle="""
        SELECT vec_id, label
        FROM embeddings
        WHERE label >= 5
           OR (('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100) < 50
    """,
    family="mlprep",
)
def class_sample_stratified(spark, sf_dir):
    """Stratified downsample: keep 50% of labels 0-4, all of labels 5-9.
    The keep decision is md5(vec_id) mod 100 < 50 — the same
    engine-neutral hash-bucket discipline as train_test_split — instead
    of sampleBy's engine-specific RNG, which makes the sample
    reproducible across runs, engines, partitionings, and data order
    AND lets the driver hash-match it (this entry was rows-only until
    the md5 rewrite). Map-only: the stratified downsample of 100 TB
    costs one scan, no shuffle, and the per-label fraction table
    extends by adding predicates (or a broadcast-joined fraction dim
    for many classes)."""
    e = table(spark, sf_dir, "embeddings")
    bucket = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("bigint") % 100
    return e.filter((F.col("label") >= 5) | (bucket < 50)).select("vec_id", "label")


@query(
    "feature_scale",
    oracle="""
        SELECT c_custkey,
               round((c_acctbal - s.m) / s.sd, 6) AS z,
               round((c_acctbal - s.mn) / (s.mx - s.mn), 6) AS mm
        FROM customer
        CROSS JOIN (
            SELECT avg(c_acctbal) AS m, stddev_samp(c_acctbal) AS sd,
                   min(c_acctbal) AS mn, max(c_acctbal) AS mx
            FROM customer
        ) s
    """,
    family="mlprep",
    bnlj="1-row min/max/mean stats crossJoined onto the customers",
)
def feature_scale(spark, sf_dir):
    """Z-score + min-max scaling (StandardScaler/MinMaxScaler equivalent,
    natively): global stats via a 1-row aggregate broadcast back over the
    data — two passes, no shuffle of the fact table."""
    c = table(spark, sf_dir, "customer")
    stats = c.agg(
        F.avg("c_acctbal").alias("m"),
        F.stddev_samp("c_acctbal").alias("sd"),
        F.min("c_acctbal").alias("mn"),
        F.max("c_acctbal").alias("mx"),
    )
    return c.crossJoin(F.broadcast(stats)).select(
        "c_custkey",
        F.round((F.col("c_acctbal") - F.col("m")) / F.col("sd"), 6).alias("z"),
        F.round((F.col("c_acctbal") - F.col("mn")) / (F.col("mx") - F.col("mn")), 6).alias("mm"),
    )


@query(
    "feature_bucketize",
    oracle="""
        SELECT o_orderkey,
               CAST(least(greatest(floor(o_totalprice / 50000.0), 0), 9) AS INTEGER) AS bucket
        FROM orders
    """,
    family="mlprep",
)
def feature_bucketize(spark, sf_dir):
    """Fixed-width bucketing of a continuous column (Bucketizer equivalent;
    explicit arithmetic — DuckDB has no width_bucket — clamped to [0, 9])."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.least(F.greatest(F.floor(F.col("o_totalprice") / 50000.0), F.lit(0)), F.lit(9))
        .cast("int")
        .alias("bucket"),
    )


@query(
    "train_test_split",
    oracle="""
        SELECT o_orderkey,
               (('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100) < 80 AS is_train
        FROM orders
    """,
    family="mlprep",
    max_exchanges=0,  # map-side hash split: any shuffle is a bug
)
def train_test_split(spark, sf_dir):
    """Deterministic 80/20 split keyed on md5(key) — reproducible across
    runs, engines, and data layout, unlike randomSplit (whose assignment
    depends on partitioning). Engine-native hash() differs across engines,
    so the bucket comes from the first 8 hex chars of md5 (SURVEY.md §7.4
    hazard 6). Map-only — the split of 100 TB costs one scan."""
    o = table(spark, sf_dir, "orders")
    bucket = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    return o.select("o_orderkey", (bucket < 80).alias("is_train"))


@query(
    "feature_quantile_bucket",
    oracle="""
        WITH t AS (
            SELECT o_totalprice,
                   ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
            FROM orders
        )
        SELECT bucket, count(*) AS n,
               round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        FROM t GROUP BY bucket
    """,
    family="mlprep",
    global_window="exact ntile; scale path = approx_percentile cutpoints + width_bucket",
)
def feature_quantile_bucket(spark, sf_dir):
    """Equal-frequency (quantile) bucketing — QuantileDiscretizer
    equivalent with exact quartiles: ntile(4) over a fully-tiebroken
    order, then per-bucket count and value range. The unpartitioned
    window forces a global sort here, which is the EXACT formulation;
    at 100 TB compute approximate boundaries first (agg_approx_percentile
    — one pass, mergeable sketch) and assign buckets with width_bucket
    per row, shuffle-free — the standard exactness/scale trade both
    formulations of which this registry carries."""
    o = table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(4).over(w).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "feature_class_weights",
    oracle="""
        WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
             t AS (SELECT count(*) AS total, count(DISTINCT label) AS k FROM embeddings)
        SELECT c.label, c.n,
               round(t.total / (CAST(t.k AS DOUBLE) * c.n), 6) AS weight
        FROM c, t
    """,
    family="mlprep",
    bnlj="1-row total/class-count frame crossJoined onto the label counts",
)
def feature_class_weights(spark, sf_dir):
    """Balanced class weights (sklearn `class_weight='balanced'` formula:
    total / (k · n_label)) — what a trainer feeds the loss to counter
    label imbalance. One hash agg for counts + a broadcast single-row agg
    for the totals; no collect."""
    e = table(spark, sf_dir, "embeddings")
    counts = e.groupBy("label").agg(F.count("*").alias("n"))
    totals = e.agg(F.count("*").alias("total"), F.count_distinct("label").alias("k"))
    return counts.crossJoin(F.broadcast(totals)).select(
        "label",
        "n",
        F.round(F.col("total") / (F.col("k").cast("double") * F.col("n")), 6).alias("weight"),
    )


@query(
    "feature_hashing",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
        )
        SELECT doc_id,
               (('0x' || substring(md5(w), 1, 8))::BIGINT % 32) AS bucket,
               count(*) AS n
        FROM tok GROUP BY doc_id, bucket
    """,
    family="mlprep",
)
def feature_hashing(spark, sf_dir):
    """Hashing-trick featurizer (HashingTF equivalent, engine-neutral):
    token → md5-derived bucket in [0, 32), per-document sparse counts in
    long form (doc_id, bucket, n) — the fixed-width featurization that
    needs NO vocabulary pass, no fitted dictionary, and no driver state,
    which is why it is the default at 100 TB (CountVectorizer's vocab
    build is itself a corpus-wide agg + broadcast). md5 instead of
    Spark's native hash() keeps the bucket assignment reproducible in
    any engine (hazard-6 discipline) at the cost of a slower hash —
    swap murmur3 back in when cross-engine parity stops mattering. One
    explode + one hash agg keyed (doc_id, bucket); collisions are the
    accepted trade (32 buckets over a 31-token vocab collides on
    purpose here so tests see the effect)."""
    from spark_ml_helper_spark.operators.text import _tokens

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("w"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 8), 16, 10).cast("bigint")
        % 32
    )
    return tok.groupBy("doc_id", bucket.alias("bucket")).agg(F.count("*").alias("n"))


@query(
    "pit_features",
    oracle="""
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        ),
        d AS (
            SELECT user_id, date_trunc('day', ts) + INTERVAL 1 DAY AS d_snap_ts,
                   count(*) AS d_clicks, round(avg(value), 6) AS d_avg_value
            FROM events WHERE event_type = 'click'
            GROUP BY user_id, date_trunc('day', ts)
        ),
        w AS (
            SELECT user_id, date_trunc('week', ts) + INTERVAL 7 DAY AS w_snap_ts,
                   count(*) AS w_events, round(sum(value), 6) AS w_sum_value
            FROM events
            GROUP BY user_id, date_trunc('week', ts)
        ),
        sel_d AS (
            SELECT p.purchase_id, d.d_snap_ts, d.d_clicks, d.d_avg_value,
                   row_number() OVER (PARTITION BY p.purchase_id
                                      ORDER BY d.d_snap_ts DESC) AS rn
            FROM p JOIN d ON d.user_id = p.user_id AND d.d_snap_ts <= p.purchase_ts
        ),
        sel_w AS (
            SELECT p.purchase_id, w.w_snap_ts, w.w_events, w.w_sum_value,
                   row_number() OVER (PARTITION BY p.purchase_id
                                      ORDER BY w.w_snap_ts DESC) AS rn
            FROM p JOIN w ON w.user_id = p.user_id AND w.w_snap_ts <= p.purchase_ts
        )
        SELECT p.purchase_id, p.user_id, p.purchase_ts,
               sd.d_snap_ts, sd.d_clicks, sd.d_avg_value,
               sw.w_snap_ts, sw.w_events, sw.w_sum_value
        FROM p
        LEFT JOIN sel_d sd ON sd.purchase_id = p.purchase_id AND sd.rn = 1
        LEFT JOIN sel_w sw ON sw.purchase_id = p.purchase_id AND sw.rn = 1
    """,
    family="mlprep",
)
def pit_features(spark, sf_dir):
    """Point-in-time (feature-store) join: enrich each training label
    (purchase) with the LATEST-at-or-before snapshot from MULTIPLE feature
    tables — here a daily per-user click profile and a weekly per-user
    activity profile, both derived leakage-safe (a day's features become
    visible only at the NEXT day/week boundary, so no label ever sees
    same-interval data). This is THE correctness-critical operator of
    training-data assembly: a plain as-of join per feature table is the
    naive form; this implementation instead union-merges labels and all
    snapshot rows into one stream and computes every feature with
    last_value(ignoreNulls) over a single (user_id)-partitioned window —
    the PIT merge costs ONE shuffle total regardless of how many feature
    tables participate (vs join+window shuffle pairs per table), and the
    plan contains no Join node at all. Snapshot kinds sort before labels
    at equal timestamps, making the at-or-before boundary inclusive.
    At 100 TB: snapshots are narrow per-entity rows, labels dominate; the
    single exchange keys on entity id, and a skewed entity is one hot
    window partition — salt by time range if one entity exceeds a task."""
    e = table(spark, sf_dir, "events")
    nul = lambda t: F.lit(None).cast(t)

    labels = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(2).alias("kind"),
        F.col("event_id").alias("purchase_id"),
        nul("timestamp_ntz").alias("d_snap_ts"),
        nul("bigint").alias("d_clicks"),
        nul("double").alias("d_avg_value"),
        nul("timestamp_ntz").alias("w_snap_ts"),
        nul("bigint").alias("w_events"),
        nul("double").alias("w_sum_value"),
    )
    daily = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("d0"))
        .agg(F.count("*").alias("d_clicks"), F.round(F.avg("value"), 6).alias("d_avg_value"))
        .select(
            "user_id",
            F.expr("d0 + INTERVAL 1 DAY").alias("t"),
            F.lit(0).alias("kind"),
            nul("bigint").alias("purchase_id"),
            F.expr("d0 + INTERVAL 1 DAY").alias("d_snap_ts"),
            "d_clicks",
            "d_avg_value",
            nul("timestamp_ntz").alias("w_snap_ts"),
            nul("bigint").alias("w_events"),
            nul("double").alias("w_sum_value"),
        )
    )
    weekly = (
        e.groupBy("user_id", F.date_trunc("week", "ts").alias("w0"))
        .agg(F.count("*").alias("w_events"), F.round(F.sum("value"), 6).alias("w_sum_value"))
        .select(
            "user_id",
            F.expr("w0 + INTERVAL 7 DAY").alias("t"),
            F.lit(1).alias("kind"),
            nul("bigint").alias("purchase_id"),
            nul("timestamp_ntz").alias("d_snap_ts"),
            nul("bigint").alias("d_clicks"),
            nul("double").alias("d_avg_value"),
            F.expr("w0 + INTERVAL 7 DAY").alias("w_snap_ts"),
            "w_events",
            "w_sum_value",
        )
    )
    merged = labels.unionByName(daily).unionByName(weekly)
    win = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind", "purchase_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(c, ignorenulls=True).over(win).alias(c)
        for c in ["d_snap_ts", "d_clicks", "d_avg_value", "w_snap_ts", "w_events", "w_sum_value"]
    ]
    return (
        merged.select("user_id", "t", "kind", "purchase_id", *carried)
        .filter(F.col("kind") == 2)
        .select(
            "purchase_id",
            "user_id",
            F.col("t").alias("purchase_ts"),
            "d_snap_ts",
            "d_clicks",
            "d_avg_value",
            "w_snap_ts",
            "w_events",
            "w_sum_value",
        )
    )


_TE_SMOOTH = 20  # pseudo-count weight of the global prior


@query(
    "feature_target_encode",
    oracle=f"""
        WITH j AS (
            SELECT p.p_brand,
                   CAST(l.l_returnflag = 'R' AS INT) AS y
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        g AS (SELECT avg(y) AS prior FROM j)
        SELECT p_brand, count(*) AS n,
               round(avg(y), 6) AS raw_rate,
               round((sum(y) + {_TE_SMOOTH} * prior)
                     / (count(*) + {_TE_SMOOTH}), 6) AS encoded
        FROM j CROSS JOIN g
        GROUP BY p_brand, prior
    """,
    family="mlprep",
    bnlj="1-row global prior broadcast onto the per-brand stats",
)
def feature_target_encode(spark, sf_dir):
    """Smoothed target (mean) encoding of a categorical feature: encode
    p_brand by the return rate (l_returnflag = 'R') of its lineitems,
    shrunk toward the global rate with m=20 pseudo-counts — the
    standard high-cardinality-categorical featurizer that replaces
    one-hot blowup. Plan: broadcast join lineitem→part (dim side tiny),
    ONE hash agg per brand for (n, Σy), a 1-row global prior broadcast
    back, closed-form shrinkage arithmetic — every stage map-side
    partial, shuffle only on the brand key. At 100 TB the same plan
    holds; for leakage-safe training splits, compute (n, Σy) per fold
    once and subtract the own-fold partials — the sufficient statistics
    here are exactly the mergeable state that needs."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_brand", (F.col("l_returnflag") == "R").cast("int").alias("y")
    )
    g = j.agg(F.avg("y").alias("prior"))
    return (
        j.groupBy("p_brand")
        .agg(F.count("*").alias("n"), F.sum("y").alias("sy"), F.avg("y").alias("raw"))
        .join(F.broadcast(g))
        .select(
            "p_brand",
            "n",
            F.round("raw", 6).alias("raw_rate"),
            F.round(
                (F.col("sy") + _TE_SMOOTH * F.col("prior")) / (F.col("n") + _TE_SMOOTH),
                6,
            ).alias("encoded"),
        )
    )


@query(
    "feature_winsorize",
    oracle="""
        WITH cuts AS (
            SELECT c_mktsegment,
                   quantile_cont(c_acctbal, 0.01) AS lo,
                   quantile_cont(c_acctbal, 0.99) AS hi
            FROM customer GROUP BY c_mktsegment
        )
        SELECT c_custkey, c.c_mktsegment,
               round(c_acctbal, 6) AS c_acctbal,
               round(least(greatest(c_acctbal, lo), hi), 6) AS winsorized,
               CAST(c_acctbal < lo OR c_acctbal > hi AS BOOLEAN) AS clipped
        FROM customer c JOIN cuts ON c.c_mktsegment = cuts.c_mktsegment
    """,
    family="mlprep",
)
def feature_winsorize(spark, sf_dir):
    """Per-group winsorization: clip c_acctbal to the [p01, p99] band of
    its market segment — the outlier-robust alternative to dropping
    rows before fitting scale-sensitive models. Exact interpolated
    percentiles per segment are ONE hash aggregate over the group key
    (5 rows), broadcast-joined back, and the clip is a pure projection
    — no window over the data, no global sort, two scans of customer.
    Cross-engine safe because Spark `percentile` and DuckDB
    `quantile_cont` share the linear-interpolation definition (the
    agg_percentile entry pins that equivalence). At 100 TB substitute
    approx_percentile for the exact cutpoints (same plan shape,
    mergeable sketch) — winsorization tolerates cutpoint error by
    construction."""
    c = table(spark, sf_dir, "customer")
    cuts = c.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.01)").alias("lo"),
        F.expr("percentile(c_acctbal, 0.99)").alias("hi"),
    )
    j = c.join(F.broadcast(cuts), "c_mktsegment")
    wins = F.least(F.greatest(F.col("c_acctbal"), F.col("lo")), F.col("hi"))
    return j.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 6).alias("c_acctbal"),
        F.round(wins, 6).alias("winsorized"),
        ((F.col("c_acctbal") < F.col("lo")) | (F.col("c_acctbal") > F.col("hi"))).alias(
            "clipped"
        ),
    )


@query(
    "feature_mutual_info",
    oracle="""
        WITH j AS (
            SELECT d.source AS x, e.label AS y
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        ),
        n AS (SELECT count(*) AS n FROM j),
        jx AS (SELECT x, count(*) AS cx FROM j GROUP BY x),
        jy AS (SELECT y, count(*) AS cy FROM j GROUP BY y),
        jxy AS (SELECT x, y, count(*) AS cxy FROM j GROUP BY x, y)
        SELECT n,
               round(sum((cxy / n) * ln((cxy * n) / (cx * cy))), 6) AS mi_nats,
               round((SELECT -sum((cx / n) * ln(cx / n)) FROM jx CROSS JOIN n), 6) AS h_x,
               round((SELECT -sum((cy / n) * ln(cy / n)) FROM jy CROSS JOIN n), 6) AS h_y,
               round(sum((cxy / n) * ln((cxy * n) / (cx * cy)))
                     / sqrt((SELECT -sum((cx / n) * ln(cx / n)) FROM jx CROSS JOIN n)
                            * (SELECT -sum((cy / n) * ln(cy / n)) FROM jy CROSS JOIN n)),
                     6) AS nmi
        FROM jxy JOIN jx USING (x) JOIN jy USING (y) CROSS JOIN n
        GROUP BY n
    """,
    family="mlprep",
    bnlj="1-row pair count broadcast onto the marginal and joint counts",
)
def feature_mutual_info(spark, sf_dir):
    """Mutual information between a categorical feature (document
    source) and the class label (via the 1:1 embeddings join), plus the
    marginal entropies and normalized MI — the model-free
    feature-relevance screen run before training a classifier. All
    counts-based: joint and marginal distributions are three hash aggs
    over the joined frame; the MI sum runs over the |X|·|Y| contingency
    cells (200 here), never the row count, with marginals broadcast
    back onto the cells. ln() is the same IEEE primitive on both
    engines and the cell sum is 6-dp rounded. At 100 TB the only
    data-sized stage is the doc→embedding equi-join and the first
    count agg — both shuffle on their natural keys with map-side
    partials; the contingency table stays tiny for any real categorical
    (and a high-cardinality X would be pre-bucketed anyway)."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    j = d.join(e, d.doc_id == e.vec_id).select(
        F.col("source").alias("x"), F.col("label").alias("y")
    )
    jxy = j.groupBy("x", "y").agg(F.count("*").alias("cxy"))
    jx = j.groupBy("x").agg(F.count("*").alias("cx"))
    jy = j.groupBy("y").agg(F.count("*").alias("cy"))
    n = j.agg(F.count("*").alias("n"))
    hx = (
        jx.join(F.broadcast(n))
        .agg(-F.sum((F.col("cx") / F.col("n")) * F.log(F.col("cx") / F.col("n"))))
        .toDF("h_x")
    )
    hy = (
        jy.join(F.broadcast(n))
        .agg(-F.sum((F.col("cy") / F.col("n")) * F.log(F.col("cy") / F.col("n"))))
        .toDF("h_y")
    )
    cells = (
        jxy.join(F.broadcast(jx), "x")
        .join(F.broadcast(jy), "y")
        .join(F.broadcast(n))
    )
    mi = cells.agg(
        F.first("n").alias("n"),
        F.sum(
            (F.col("cxy") / F.col("n"))
            * F.log(F.col("cxy") * F.col("n") / (F.col("cx") * F.col("cy")))
        ).alias("mi"),
    )
    return (
        mi.join(F.broadcast(hx))
        .join(F.broadcast(hy))
        .select(
            "n",
            F.round("mi", 6).alias("mi_nats"),
            F.round("h_x", 6).alias("h_x"),
            F.round("h_y", 6).alias("h_y"),
            F.round(F.col("mi") / F.sqrt(F.col("h_x") * F.col("h_y")), 6).alias("nmi"),
        )
    )


@query(
    "feature_woe_iv",
    oracle="""
        WITH j AS (
            SELECT p.p_brand AS cat,
                   CAST(l.l_returnflag = 'R' AS INT) AS bad
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        g AS (
            SELECT cat,
                   count(*) FILTER (WHERE bad = 0) AS n_good,
                   count(*) FILTER (WHERE bad = 1) AS n_bad
            FROM j GROUP BY cat
        ),
        tot AS (SELECT sum(n_good) AS tg, sum(n_bad) AS tb FROM g)
        SELECT cat, n_good, n_bad,
               round(ln(((n_good + 0.5) / tg) / ((n_bad + 0.5) / tb)), 6) AS woe,
               round(((n_good + 0.5) / tg - (n_bad + 0.5) / tb)
                     * ln(((n_good + 0.5) / tg) / ((n_bad + 0.5) / tb)), 6) AS iv_contrib
        FROM g CROSS JOIN tot
    """,
    family="mlprep",
    bnlj="1-row good/bad totals broadcast onto the per-category counts",
)
def feature_woe_iv(spark, sf_dir):
    """Weight of Evidence and Information Value of a categorical
    feature against a binary target (brand vs lineitem return flag) —
    the credit-scoring feature screen that complements
    feature_mutual_info (MI is symmetric-information; WOE gives the
    signed per-category direction and IV the additive predictive-power
    decomposition). Laplace 0.5 smoothing keeps empty cells finite and
    deterministic. One broadcast dim join, one (category) hash agg
    producing good/bad counts simultaneously, a 1-row totals aggregate
    broadcast back, closed-form ln arithmetic — the contingency shape
    scales exactly like target encoding: corpus-sized work is the
    first agg only, and the counts are the mergeable state an
    incremental refresh would keep."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_brand").alias("cat"),
        (F.col("l_returnflag") == "R").cast("int").alias("bad"),
    )
    g = j.groupBy("cat").agg(
        F.count(F.when(F.col("bad") == 0, 1)).alias("n_good"),
        F.count(F.when(F.col("bad") == 1, 1)).alias("n_bad"),
    )
    tot = g.agg(F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb"))
    pg = (F.col("n_good") + 0.5) / F.col("tg")
    pb = (F.col("n_bad") + 0.5) / F.col("tb")
    woe = F.log(pg / pb)
    return (
        g.join(F.broadcast(tot))
        .select(
            "cat",
            "n_good",
            "n_bad",
            F.round(woe, 6).alias("woe"),
            F.round((pg - pb) * woe, 6).alias("iv_contrib"),
        )
    )


@query(
    "feature_crossed",
    oracle="""
        SELECT c_custkey,
               c_nationkey, c_mktsegment,
               CAST(('0x' || substring(
                        md5(CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment),
                        1, 8))::BIGINT % 256 AS BIGINT) AS cross_bucket
        FROM customer
    """,
    family="mlprep",
)
def feature_crossed(spark, sf_dir):
    """Hashed feature cross (nation × market-segment → 256 buckets) —
    the wide-model / recommender trick for learning interaction terms
    without materializing the full cross vocabulary: hash the
    concatenated pair into a fixed bucket space (collisions are the
    accepted trade, exactly as in feature_hashing's single-column
    form). md5 keeps the bucket engine-neutral and stable across
    runs — a model trained on these ids scores identically anywhere.
    Map-only, no shuffle; the bucket count (256) dials the
    collision-rate/width trade and at 100 TB crosses of 3+ columns
    just extend the concat."""
    c = table(spark, sf_dir, "customer")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("c_nationkey").cast("string"), F.col("c_mktsegment")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(256),
    )
    return c.select(
        "c_custkey", "c_nationkey", "c_mktsegment", bucket.alias("cross_bucket")
    )


@query(
    "ml_kfold_assign",
    oracle="""
        WITH folds AS (
            SELECT (('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                    % 5) AS fold,
                   label
            FROM embeddings
        )
        SELECT CAST(fold AS BIGINT) AS fold,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
               round(count(*) * 1.0
                     / (SELECT count(*) FROM embeddings), 6) AS fold_share
        FROM folds
        GROUP BY fold
    """,
    family="mlprep",
    bnlj="1-row total broadcast onto the per-fold counts",
)
def ml_kfold_assign(spark, sf_dir):
    """Deterministic k-fold assignment (md5(id) mod 5) with the fold
    balance report — the auditable version of cross-validation's
    split step (ml_cross_validate runs MLlib's internal CV; this
    exposes WHICH rows land where so folds are reproducible across
    engines, runs, and team members — the same hash discipline as
    train_test_split, extended to k partitions). The report per fold
    (size, share, label coverage) is what you eyeball before trusting
    CV numbers: a fold missing a label invalidates stratified
    metrics. Map-only assignment + one hash agg; at 100 TB each
    fold's train set is a ≠-fold filter on the same scan — no
    materialized copies."""
    e = table(spark, sf_dir, "embeddings")
    fold = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint"),
        F.lit(5),
    )
    folds = e.select(fold.alias("fold"), "label")
    tot = e.agg(F.count("*").alias("t"))
    return (
        folds.groupBy("fold")
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("label").alias("n_labels"),
        )
        .join(F.broadcast(tot))
        .withColumn("fold_share", F.round(F.col("n_rows") * 1.0 / F.col("t"), 6))
        .drop("t")
    )
