"""Joins — SURVEY.md §2.C.

Strategy discipline for 100 TB: declare the *logical* join, let Catalyst
pick physical (broadcast-hash for small sides under the threshold, AQE
converts sort-merge→broadcast at runtime when a side turns out small, AQE
skew-join splits hot keys). Dimension tables (region/nation/customer at
ratio scale) are always broadcast-able; fact-fact joins (orders⋈lineitem)
shuffle on the join key — at scale you co-locate them by bucketing both
tables on the key so the shuffle disappears entirely.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import load_tables, table


@query(
    "join_inner",
    oracle="""
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer JOIN orders ON c_custkey = o_custkey
    """,
    family="joins",
)
def join_inner(spark, sf_dir):
    """Equi inner join customer⋈orders (1:N). customer is small at every
    ratio → broadcast-hash join, no shuffle of the fact side."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "inner").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_left",
    oracle="""
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
    family="joins",
)
def join_left(spark, sf_dir):
    """Left outer join — customers with no orders survive with NULL order
    columns."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full",
    oracle="""
        WITH lhs AS (
            SELECT c_custkey, c_name FROM customer WHERE c_custkey < 800
        ),
        rhs AS (
            SELECT o_custkey, count(*) AS n_orders
            FROM orders WHERE o_custkey >= 700 GROUP BY o_custkey
        )
        SELECT coalesce(c_custkey, o_custkey) AS k, c_name, n_orders
        FROM lhs FULL JOIN rhs ON c_custkey = o_custkey
    """,
    family="joins",
)
def join_full(spark, sf_dir):
    """Full outer join over deliberately part-overlapping key ranges
    (<800 vs >=700) so all three match classes appear."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 800).select("c_custkey", "c_name")
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") >= 700)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        F.coalesce("c_custkey", "o_custkey").alias("k"), "c_name", "n_orders"
    )


@query(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    family="joins",
)
def join_semi(spark, sf_dir):
    """Left-semi join: customers having at least one order (no duplication,
    right side only probed)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0
        )
    """,
    family="joins",
)
def join_anti(spark, sf_dir):
    """Left-anti join: customers with no large (>300k) order. (Plain
    "no orders at all" is empty at every sf — all customers order.)"""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_broadcast",
    oracle="""
        SELECT c_custkey, c_name, n_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
    family="joins",
    max_exchanges=0,  # THE broadcast demo: a shuffle defeats it
)
def join_broadcast(spark, sf_dir):
    """Explicitly-pinned broadcast join of a 25-row dim table (the hint is
    what you reach for when stats mislead the planner at scale)."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )


@query(
    "join_range",
    oracle="""
        SELECT s_suppkey, s_name, count(*) AS n_close
        FROM supplier s JOIN customer c
          ON c.c_acctbal BETWEEN s.s_acctbal - 10.0 AND s.s_acctbal + 10.0
        GROUP BY s_suppkey, s_name
    """,
    family="joins",
    bnlj="the theta join is the operator; the supplier build side grows with the "
    "data (100 rows at sf0.01, 1,000 at sf0.1) — join_range_banded is the scale form",
)
def join_range(spark, sf_dir):
    """Non-equi (theta/range) join: customers whose balance is within ±10 of
    a supplier's. Physical plan is broadcast-nested-loop with the supplier
    side as the build side. That side is small but NOT constant: supplier
    scales with the data (100 rows at sf0.01, 1,000 at sf0.1), so the join
    is O(n·m) and its cost grows with the square of the scale factor.
    ``join_range_banded`` implements the scale form: band the range (join
    on floor(bal/width) buckets ± 1, then filter) to make it an
    equi-join, with the same oracle and output."""
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    cond = (c.c_acctbal >= s.s_acctbal - 10.0) & (c.c_acctbal <= s.s_acctbal + 10.0)
    return (
        s.join(c, cond)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_close"))
    )


@query(
    "join_asof",
    oracle="""
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT event_id AS click_id, user_id, ts AS click_ts
            FROM events WHERE event_type = 'click'
        ),
        ranked AS (
            SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts,
                   row_number() OVER (
                       PARTITION BY p.purchase_id
                       ORDER BY c.click_ts DESC, c.click_id DESC
                   ) AS rn
            FROM p LEFT JOIN c
              ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts
        )
        SELECT purchase_id, user_id, purchase_ts, click_id, click_ts
        FROM ranked WHERE rn = 1
    """,
    family="joins",
    max_exchanges=1,
)
def join_asof(spark, sf_dir):
    """AS-OF join (Spark has no native one): for each purchase, the latest
    click by the same user at-or-before the purchase time. Composition:
    time-filtered equi-join on user_id + per-purchase top-1 window, with
    (ts, event_id) tiebreak for determinism. Scale note: the shuffle is on
    user_id for both sides; with heavily active users the window is bounded
    by per-user event count — for true trades/quotes scale, pre-bucket both
    sides by user and month so the join is co-located and the window sees
    one month at a time."""
    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts")
    )
    joined = p.join(c, (p.user_id == c.c_user_id) & (c.click_ts <= p.purchase_ts), "left")
    w = Window.partitionBy("purchase_id").orderBy(F.col("click_ts").desc(), F.col("click_id").desc())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")
    )


@query(
    "join_cross",
    oracle="""
        SELECT a.r_name AS r1, b.r_name AS r2
        FROM region a CROSS JOIN region b
    """,
    family="joins",
    bnlj="the region x region cross join (5 x 5 rows) is the operator",
)
def join_cross(spark, sf_dir):
    """Cartesian product of two tiny dims (25 rows). Only ever legitimate
    when at least one side is broadcast-small."""
    a = table(spark, sf_dir, "region").select(F.col("r_name").alias("r1"))
    b = table(spark, sf_dir, "region").select(F.col("r_name").alias("r2"))
    return a.crossJoin(b)


@query(
    "join_multi",
    oracle="""
        SELECT o.o_orderkey, o.o_orderdate,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
    """,
    family="joins",
    max_exchanges=1,
)
def join_multi(spark, sf_dir):
    """3-table star join (TPC-H Q3 shape): filter a dim, join two facts,
    aggregate, top-10 with deterministic (revenue, orderkey) tiebreak.
    Plan shape at scale: customer filter broadcast into orders, then
    orders⋈lineitem shuffles on orderkey (or is free if both bucketed)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "join_self_pairs",
    oracle="""
        SELECT a.label, count(*) AS n_pairs
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        GROUP BY a.label
    """,
    family="joins",
)
def join_self_pairs(spark, sf_dir):
    """Self-join generating within-label vector pairs (a.vec_id < b.vec_id).
    The equi key (label) keeps this a hash join + filter, NOT a cross join —
    the same skeleton the exact-similarity ops build on. Scale note: within-
    group pairing is quadratic in group size; at 100 TB you LSH-bucket first
    (see dedup_minhash / sim_ann_lsh)."""
    e = table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("a_id"), F.col("label").alias("label"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("label").alias("b_label"))
    return (
        a.join(b, (a.label == b.b_label) & (a.a_id < b.b_id))
        .groupBy("label")
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "join_hint_shuffle_hash",
    oracle="""
        SELECT o.o_orderkey, c.c_name, round(o.o_totalprice, 2) AS price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > 400000
    """,
    family="joins",
)
def join_hint_shuffle_hash(spark, sf_dir):
    """Join strategy hint: SHUFFLE_HASH forces a shuffled hash join where
    the planner would otherwise broadcast (small dim) or sort-merge (two
    big sides). The legitimate use at scale: a build side too big to
    broadcast but small enough to hash per-partition — hash join skips
    both sort phases of SMJ. The hint is advisory on the LOGICAL side;
    tests assert the physical plan actually took it (ShuffledHashJoin,
    no sort phases)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = table(spark, sf_dir, "customer").hint("shuffle_hash")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name", F.round("o_totalprice", 2).alias("price")
    )


@query(
    "join_lateral",
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders o WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE c.c_custkey < 100
    """,
    family="joins",
)
def join_lateral(spark, sf_dir):
    """Correlated LATERAL join (Spark 4 SQL): a per-row subquery — each
    customer's top-2 orders by price — expressed as the SQL standard's
    lateral derived table. Catalyst decorrelates it into a ranked window
    join (same physical plan as the win_topk_group formulation), which is
    exactly why LATERAL is safe at scale: it does NOT execute the subquery
    per row."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders o WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE c.c_custkey < 100
        """
    )


_SCALAR_SUBQ = """
    SELECT c_custkey, c_name,
           (SELECT round(max(o_totalprice), 2) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS max_order_total,
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderpriority = '1-URGENT') AS n_urgent
    FROM customer c
"""


@query("join_scalar_subquery", oracle=_SCALAR_SUBQ, family="joins")
def join_scalar_subquery(spark, sf_dir):
    """Correlated scalar subqueries — two per row (max order total and
    urgent-order count per customer), submitted as the identical SQL
    text both engines parse. Catalyst DECORRELATES each subquery into a
    left-outer aggregate join (RewriteCorrelatedScalarSubquery), so the
    executed plan is two c_custkey-keyed hash joins against pre-
    aggregated order frames — no per-row re-execution, which is what
    makes the construct safe at 100 TB where naive correlated execution
    would be O(|customer| × |orders|). The COUNT subquery exercises the
    null→0 repair the rewrite must apply for empty groups."""
    for t in ("customer", "orders"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SCALAR_SUBQ)


@query(
    "join_null_safe",
    oracle="""
        WITH a AS (
            SELECT c_custkey, nullif(c_nationkey % 5, 3) AS grp, c_acctbal
            FROM customer
        ),
        b AS (
            SELECT nullif(n_nationkey % 5, 3) AS grp, count(*) AS n_nations
            FROM nation GROUP BY 1
        )
        SELECT a.c_custkey, a.grp, b.n_nations
        FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
    """,
    family="joins",
)
def join_null_safe(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of silently dropping — the semantics a
    dimension join needs when "unknown" is itself a category (here a
    nullified bucket column on both sides). Spark plans eqNullSafe as an
    ordinary hash join on a null-tolerant key, so the dim side still
    broadcasts; contrast with a plain equi-join, which drops every
    NULL-keyed row of both sides. Forgetting this distinction is a
    classic silent-data-loss bug in SCD pipelines."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 5, F.lit(3)).alias("grp"), "c_acctbal"
    )
    n = (
        table(spark, sf_dir, "nation")
        .select(F.nullif(F.col("n_nationkey") % 5, F.lit(3)).alias("grp"))
        .groupBy("grp")
        .agg(F.count("*").alias("n_nations"))
    )
    return c.join(F.broadcast(n), c.grp.eqNullSafe(n.grp)).select(
        "c_custkey", c.grp.alias("grp"), "n_nations"
    )


@query(
    "join_interval_overlap",
    oracle="""
        WITH p AS (
            SELECT event_id AS p_id, ts AS p_start, ts + INTERVAL 90 SECOND AS p_end
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT event_id AS c_id, ts AS c_start, ts + INTERVAL 90 SECOND AS c_end
            FROM events WHERE event_type = 'click'
        )
        SELECT p.p_id, c.c_id
        FROM p JOIN c ON p.p_start <= c.c_end AND c.c_start <= p.p_end
    """,
    family="joins",
)
def join_interval_overlap(spark, sf_dir):
    """Interval-overlap join between two large interval sets (purchase and
    click activity windows, 90 s each) with NO shared equi-key — the shape
    Spark's join planner turns into a BroadcastNestedLoopJoin (all-pairs
    predicate evaluation) if expressed naively. The scale form used here is
    bin replication: each interval is exploded to the 1-minute epoch bins it
    spans (sequence() — ≤ 3 bins for a 90 s interval), the join runs as an
    EQUI-join on bin id with the overlap predicate as a residual filter,
    and a distinct collapses the ≤ bins-per-pair duplicate matches. Work is
    O(intervals × bins_per_interval + true_overlaps·bins), never |A|·|B|;
    the shuffle keys on bin id, whose cardinality grows with the time span
    (and the bin width is the skew dial: hot minutes → narrower bins).
    This is the standard genomic/temporal range-join strategy on
    MapReduce-lineage engines; at 100 TB both sides partition by
    (bin bucket), and AQE's skew split handles burst minutes."""
    e = table(spark, sf_dir, "events")
    dur = F.expr("INTERVAL 90 SECOND")

    def intervals(tpe, idc, sc, ec):
        iv = e.filter(F.col("event_type") == tpe).select(
            F.col("event_id").alias(idc),
            F.col("ts").alias(sc),
            (F.col("ts") + dur).alias(ec),
        )
        return iv.withColumn(
            "bin",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(sc) / 60).cast("bigint"),
                    F.floor(F.unix_timestamp(ec) / 60).cast("bigint"),
                )
            ),
        )

    p = intervals("purchase", "p_id", "p_start", "p_end")
    c = intervals("click", "c_id", "c_start", "c_end")
    return (
        p.join(c, "bin")
        .filter((F.col("p_start") <= F.col("c_end")) & (F.col("c_start") <= F.col("p_end")))
        .select("p_id", "c_id")
        .distinct()
    )


_NEAREST_TOL_US = 300_000_000  # ±300 s


@query(
    "join_asof_nearest",
    oracle=f"""
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT event_id AS c_id, user_id, ts AS c_ts
            FROM events WHERE event_type = 'click'
        ),
        prev AS (
            SELECT p.purchase_id, c.c_id, c.c_ts,
                   epoch_us(p.purchase_ts) - epoch_us(c.c_ts) AS dt_us,
                   row_number() OVER (PARTITION BY p.purchase_id
                                      ORDER BY c.c_ts DESC, c.c_id DESC) AS rn
            FROM p JOIN c ON c.user_id = p.user_id AND c.c_ts <= p.purchase_ts
        ),
        nxt AS (
            SELECT p.purchase_id, c.c_id, c.c_ts,
                   epoch_us(c.c_ts) - epoch_us(p.purchase_ts) AS dt_us,
                   row_number() OVER (PARTITION BY p.purchase_id
                                      ORDER BY c.c_ts ASC, c.c_id ASC) AS rn
            FROM p JOIN c ON c.user_id = p.user_id AND c.c_ts > p.purchase_ts
        )
        SELECT p.purchase_id, p.user_id, p.purchase_ts,
               CASE WHEN pv_ok AND (NOT nx_ok OR pv.dt_us <= nx.dt_us)
                    THEN pv.c_id
                    WHEN nx_ok THEN nx.c_id END AS click_id,
               CASE WHEN pv_ok AND (NOT nx_ok OR pv.dt_us <= nx.dt_us)
                    THEN pv.c_ts
                    WHEN nx_ok THEN nx.c_ts END AS click_ts,
               CASE WHEN pv_ok AND (NOT nx_ok OR pv.dt_us <= nx.dt_us)
                    THEN pv.dt_us
                    WHEN nx_ok THEN nx.dt_us END AS dt_us
        FROM p
        LEFT JOIN prev pv ON pv.purchase_id = p.purchase_id AND pv.rn = 1
        LEFT JOIN nxt nx ON nx.purchase_id = p.purchase_id AND nx.rn = 1
        CROSS JOIN LATERAL (SELECT
            coalesce(pv.dt_us <= {_NEAREST_TOL_US}, FALSE) AS pv_ok,
            coalesce(nx.dt_us <= {_NEAREST_TOL_US}, FALSE) AS nx_ok)
    """,
    family="joins",
)
def join_asof_nearest(spark, sf_dir):
    """Nearest-event as-of join with tolerance: each purchase matched to
    the temporally NEAREST click by the same user within ±300 s, either
    direction (ties → the earlier click; candidates beyond tolerance are
    ignored even when the other direction has none in range). This is the
    sensor-fusion / trade-quote form of as-of — join_asof's at-or-before
    is one half of it. Implemented join-free: clicks and purchases
    union-merge into one (user)-partitioned stream, one window pass
    carries last-click-backward and first-click-forward per purchase
    (kind orders clicks before purchases at equal ts, making 'before'
    inclusive and 'after' strict), and exact microsecond deltas pick the
    winner. ONE shuffle on user_id, no join node, frame state is two
    carried values — at any scale this beats the two range-join + top-1
    windows it replaces. Tolerance math in exact integer micros on both
    engines (epoch_us / unix_micros) — no truncation-boundary parity
    risk."""
    e = table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("bigint").alias("purchase_id"),
        F.col("event_id").alias("c_id"),
        F.col("ts").alias("c_ts"),
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("purchase_id"),
        F.lit(None).cast("bigint").alias("c_id"),
        F.lit(None).cast("timestamp_ntz").alias("c_ts"),
    )
    m = clicks.unionByName(purch)
    ordr = [F.col("t"), F.col("kind"), F.coalesce("c_id", "purchase_id")]
    wprev = (
        Window.partitionBy("user_id").orderBy(*ordr)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wnext = (
        Window.partitionBy("user_id").orderBy(*ordr)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    scored = (
        m.withColumn("pv_id", F.last("c_id", ignorenulls=True).over(wprev))
        .withColumn("pv_ts", F.last("c_ts", ignorenulls=True).over(wprev))
        .withColumn("nx_id", F.first("c_id", ignorenulls=True).over(wnext))
        .withColumn("nx_ts", F.first("c_ts", ignorenulls=True).over(wnext))
        .filter(F.col("kind") == 1)
    )
    dt_pv = us("t") - us("pv_ts")
    dt_nx = us("nx_ts") - us("t")
    pv_ok = F.coalesce(dt_pv <= _NEAREST_TOL_US, F.lit(False))
    nx_ok = F.coalesce(dt_nx <= _NEAREST_TOL_US, F.lit(False))
    take_pv = pv_ok & (~nx_ok | (dt_pv <= dt_nx))
    return scored.select(
        "purchase_id",
        "user_id",
        F.col("t").alias("purchase_ts"),
        F.when(take_pv, F.col("pv_id")).when(nx_ok, F.col("nx_id")).alias("click_id"),
        F.when(take_pv, F.col("pv_ts")).when(nx_ok, F.col("nx_ts")).alias("click_ts"),
        F.when(take_pv, dt_pv).when(nx_ok, dt_nx).alias("dt_us"),
    )


@query(
    "join_asof_tolerance",
    oracle="""
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
            FROM events WHERE event_type = 'click'
        ),
        ranked AS (
            SELECT p.purchase_id, p.user_id, p.p_us, c.click_id, c.c_us,
                   row_number() OVER (
                       PARTITION BY p.purchase_id
                       ORDER BY c.c_us DESC, c.click_id DESC
                   ) AS rn
            FROM p LEFT JOIN c
              ON p.user_id = c.user_id
             AND c.c_us <= p.p_us
             AND c.c_us >= p.p_us - 3600000000
        )
        SELECT purchase_id, user_id, click_id,
               CAST(CASE WHEN click_id IS NULL THEN NULL
                    ELSE p_us - c_us END AS BIGINT) AS staleness_us
        FROM ranked WHERE rn = 1
    """,
    family="joins",
)
def join_asof_tolerance(spark, sf_dir):
    """AS-OF join WITH TOLERANCE (pandas merge_asof's `tolerance`, kdb's
    windowed wj): the latest same-user click at-or-before each
    purchase, but only if it is at most 1 HOUR stale — older matches
    are rejected and the purchase keeps a NULL attribution (the
    correct semantics for attribution windows and sensor-reading
    joins, where an arbitrarily old match is worse than none). Same
    user_id-shuffled composition as join_asof with the staleness bound
    as a second residual predicate; the bound also CAPS the per-key
    window the top-1 ranking scans, which at trades-and-quotes scale
    is the difference between a bounded and an unbounded as-of state.
    All comparisons on exact integer epoch-micros."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", us.alias("p_us")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        us.alias("c_us"),
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user_id)
        & (c.c_us <= p.p_us)
        & (c.c_us >= p.p_us - 3_600_000_000),
        "left",
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("c_us").desc(), F.col("click_id").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            F.when(F.col("click_id").isNull(), F.lit(None).cast("bigint"))
            .otherwise(F.col("p_us") - F.col("c_us"))
            .alias("staleness_us"),
        )
    )


@query(
    "join_range_banded",
    oracle="""
        SELECT s_suppkey, s_name, count(*) AS n_close
        FROM supplier s JOIN customer c
          ON c.c_acctbal BETWEEN s.s_acctbal - 10.0 AND s.s_acctbal + 10.0
        GROUP BY s_suppkey, s_name
    """,
    family="joins",
)
def join_range_banded(spark, sf_dir):
    """The BANDED rewrite of join_range — same oracle, same output,
    different physical plan: bucket both sides by floor(balance/10)
    (band width = range width, so a match is always in the same or an
    adjacent bucket), explode the small side to its 3 candidate
    buckets, EQUI-join on the bucket key, and apply the exact range
    predicate as a residual filter. This turns the O(n·m)
    nested-loop theta join into a hash join whose shuffle key is the
    bucket — the scale form of join_range, hash-verified EQUAL to the
    nested-loop form.
    Each qualifying pair lands in exactly one bucket of the exploded
    side, so no dedup is needed; the 3× explode is on the small side
    only. Bucket width is the selectivity dial: width ≈ range keeps
    the candidate count within ~3× the true matches."""
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal",
        F.floor(F.col("s_acctbal") / 10.0).cast("bigint").alias("sb"),
    )
    s3 = s.select(
        "s_suppkey",
        "s_name",
        "s_acctbal",
        F.explode(
            F.array(F.col("sb") - 1, F.col("sb"), F.col("sb") + 1)
        ).alias("bucket"),
    )
    c = table(spark, sf_dir, "customer").select(
        F.col("c_acctbal"),
        F.floor(F.col("c_acctbal") / 10.0).cast("bigint").alias("bucket"),
    )
    return (
        s3.join(c, "bucket")
        .where(
            (F.col("c_acctbal") >= F.col("s_acctbal") - 10.0)
            & (F.col("c_acctbal") <= F.col("s_acctbal") + 10.0)
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_close"))
    )


@query(
    "join_nearest_value",
    oracle="""
        WITH c AS (
            SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
                   0 AS side, c_custkey AS key
            FROM customer
        ),
        s AS (
            SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS bal_c,
                   1 AS side, s_suppkey AS key
            FROM supplier
        ),
        u AS (SELECT * FROM c UNION ALL SELECT * FROM s),
        nav AS (
            SELECT bal_c, side, key,
                   last_value(CASE WHEN side = 0 THEN bal_c END IGNORE NULLS)
                       OVER w_prev AS prev_bal,
                   last_value(CASE WHEN side = 0 THEN key END IGNORE NULLS)
                       OVER w_prev AS prev_key,
                   first_value(CASE WHEN side = 0 THEN bal_c END IGNORE NULLS)
                       OVER w_next AS next_bal,
                   first_value(CASE WHEN side = 0 THEN key END IGNORE NULLS)
                       OVER w_next AS next_key
            FROM u
            WINDOW
                w_prev AS (ORDER BY bal_c, side, key
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                w_next AS (ORDER BY bal_c, side, key
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT key AS s_suppkey,
               CAST(CASE
                   WHEN next_bal IS NULL
                        OR (prev_bal IS NOT NULL
                            AND bal_c - prev_bal <= next_bal - bal_c)
                   THEN prev_key ELSE next_key END AS BIGINT) AS nearest_custkey,
               round(least(
                   coalesce(bal_c - prev_bal, 9223372036854775807),
                   coalesce(next_bal - bal_c, 9223372036854775807)
               ) / 100.0, 2) AS bal_diff
        FROM nav WHERE side = 1
    """,
    family="joins",
    global_window="merge-pattern nearest join; scale path = value range-partition + seam replication",
)
def join_nearest_value(spark, sf_dir):
    """Nearest-value join: each supplier matched to the customer with
    the CLOSEST account balance — the numeric-axis sibling of the
    as-of join (asof = nearest on time, one-sided; this is nearest on
    value, two-sided), solved with the MERGE pattern: union both
    sides, one global sort on (balance, side, key), and last/first
    IGNORE NULLS navigation windows pick each supplier's adjacent
    customer above and below — O(n log n) total instead of the O(n·m)
    min-|diff| join. All comparisons on exact integer cents; ties
    break toward the lower balance, and among equal-balance customers
    the sort order pins the last one (side 0 sorts before side 1, so
    an exact-equal customer is always the prev candidate at diff 0).
    The sort is global (agg_gini's documented trade) — at scale,
    range-partition by balance and handle the partition seams by
    replicating each boundary row to its neighbor."""
    c = table(spark, sf_dir, "customer").select(
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
        F.lit(0).alias("side"),
        F.col("c_custkey").alias("key"),
    )
    s = table(spark, sf_dir, "supplier").select(
        F.round(F.col("s_acctbal") * 100).cast("bigint").alias("bal_c"),
        F.lit(1).alias("side"),
        F.col("s_suppkey").alias("key"),
    )
    u = c.unionAll(s)
    order = [F.col("bal_c"), F.col("side"), F.col("key")]
    w_prev = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy(*order).rowsBetween(0, Window.unboundedFollowing)
    cub = F.when(F.col("side") == 0, F.col("bal_c"))
    cuk = F.when(F.col("side") == 0, F.col("key"))
    nav = u.select(
        "bal_c",
        "side",
        "key",
        F.last(cub, ignorenulls=True).over(w_prev).alias("prev_bal"),
        F.last(cuk, ignorenulls=True).over(w_prev).alias("prev_key"),
        F.first(cub, ignorenulls=True).over(w_next).alias("next_bal"),
        F.first(cuk, ignorenulls=True).over(w_next).alias("next_key"),
    )
    big = F.lit(9223372036854775807)
    pick_prev = F.col("next_bal").isNull() | (
        F.col("prev_bal").isNotNull()
        & (F.col("bal_c") - F.col("prev_bal") <= F.col("next_bal") - F.col("bal_c"))
    )
    return (
        nav.where(F.col("side") == 1)
        .select(
            F.col("key").alias("s_suppkey"),
            F.when(pick_prev, F.col("prev_key"))
            .otherwise(F.col("next_key"))
            .cast("bigint")
            .alias("nearest_custkey"),
            F.round(
                F.least(
                    F.coalesce(F.col("bal_c") - F.col("prev_bal"), big),
                    F.coalesce(F.col("next_bal") - F.col("bal_c"), big),
                )
                / 100.0,
                2,
            ).alias("bal_diff"),
        )
    )


@query(
    "join_spatial_grid",
    oracle="""
        WITH cpts AS (
            SELECT c_custkey AS key,
                   ('0x' || substring(md5('x' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                       % 1000 AS x,
                   ('0x' || substring(md5('y' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                       % 1000 AS y
            FROM customer
        ),
        spts AS (
            SELECT s_suppkey AS key,
                   ('0x' || substring(md5('x' || CAST(s_suppkey + 900000 AS VARCHAR)), 1, 8))::BIGINT
                       % 1000 AS x,
                   ('0x' || substring(md5('y' || CAST(s_suppkey + 900000 AS VARCHAR)), 1, 8))::BIGINT
                       % 1000 AS y
            FROM supplier
        ),
        sc AS (
            SELECT s.key AS s_key, s.x AS sx, s.y AS sy,
                   cx.gx, cy.gy
            FROM spts s
            CROSS JOIN (SELECT unnest([-1, 0, 1]) AS gx) cx
            CROSS JOIN (SELECT unnest([-1, 0, 1]) AS gy) cy
        )
        SELECT sc.s_key AS s_suppkey, c.key AS c_custkey,
               CAST((sc.sx - c.x) * (sc.sx - c.x)
                    + (sc.sy - c.y) * (sc.sy - c.y) AS BIGINT) AS dist2
        FROM sc JOIN cpts c
          ON c.x // 25 = sc.sx // 25 + sc.gx
         AND c.y // 25 = sc.sy // 25 + sc.gy
        WHERE (sc.sx - c.x) * (sc.sx - c.x)
              + (sc.sy - c.y) * (sc.sy - c.y) <= 625
    """,
    family="joins",
)
def join_spatial_grid(spark, sf_dir):
    """Spatial radius join on a GRID INDEX: all (supplier, customer)
    point pairs within Euclidean distance 25 on a synthetic 1000×1000
    plane (coordinates are md5 functions of the keys — deterministic
    test geometry), computed by snapping points to 25-unit grid cells
    and EQUI-joining each supplier's 3×3 cell neighborhood against
    customer cells, with the exact distance predicate as a residual
    filter — the standard geo-join rewrite (geohash/S2/H3 cells all
    instantiate it) that turns O(n·m) point pairs into a hash join on
    cell ids. Cell width = radius guarantees the 3×3 neighborhood
    covers the circle; the 9× explode rides the small side. All
    arithmetic exact integers (squared distance, no sqrt). At 100 TB
    the cell id is the shuffle key and skewed cells (cities) get the
    salting treatment of join_skew_salted."""
    def pts(df, key_col, shift):
        k = (F.col(key_col) + shift).cast("string")
        def coord(prefix):
            return F.pmod(
                F.conv(F.substring(F.md5(F.concat(F.lit(prefix), k).cast("binary")), 1, 8), 16, 10).cast("bigint"),
                F.lit(1000),
            )
        return df.select(
            F.col(key_col).alias("key"), coord("x").alias("x"), coord("y").alias("y")
        )

    c = pts(table(spark, sf_dir, "customer"), "c_custkey", 0).select(
        "key", "x", "y",
        F.floor(F.col("x") / 25).alias("cx"),
        F.floor(F.col("y") / 25).alias("cy"),
    )
    s = pts(table(spark, sf_dir, "supplier"), "s_suppkey", 900_000)
    offs = F.array(F.lit(-1), F.lit(0), F.lit(1))
    s9 = (
        s.select("key", "x", "y", F.explode(offs).alias("gx"))
        .select("key", "x", "y", "gx", F.explode(offs).alias("gy"))
        .select(
            F.col("key").alias("s_key"),
            F.col("x").alias("sx"),
            F.col("y").alias("sy"),
            (F.floor(F.col("x") / 25) + F.col("gx")).alias("cx"),
            (F.floor(F.col("y") / 25) + F.col("gy")).alias("cy"),
        )
    )
    d2 = (F.col("sx") - F.col("x")) * (F.col("sx") - F.col("x")) + (
        F.col("sy") - F.col("y")
    ) * (F.col("sy") - F.col("y"))
    return (
        s9.join(c, ["cx", "cy"])
        .where(d2 <= 625)
        .select(
            F.col("s_key").alias("s_suppkey"),
            F.col("key").alias("c_custkey"),
            d2.cast("bigint").alias("dist2"),
        )
    )


@query(
    "join_asof_forward",
    oracle="""
        WITH c AS (
            SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
            FROM events WHERE event_type = 'click'
        ),
        p AS (
            SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_us
            FROM events WHERE event_type = 'purchase'
        ),
        ranked AS (
            SELECT c.click_id, c.user_id, p.purchase_id, p.p_us, c.c_us,
                   row_number() OVER (
                       PARTITION BY c.click_id
                       ORDER BY p.p_us ASC, p.purchase_id ASC
                   ) AS rn
            FROM c LEFT JOIN p
              ON c.user_id = p.user_id AND p.p_us >= c.c_us
        )
        SELECT click_id, user_id, purchase_id,
               CAST(CASE WHEN purchase_id IS NULL THEN NULL
                    ELSE p_us - c_us END AS BIGINT) AS lead_us
        FROM ranked WHERE rn = 1
    """,
    family="joins",
)
def join_asof_forward(spark, sf_dir):
    """FORWARD as-of join (pandas merge_asof direction='forward'): for
    each click, the same user's EARLIEST purchase at-or-after it —
    the conversion-attribution direction, completing the as-of family
    (join_asof = backward, join_asof_nearest = either side,
    join_asof_tolerance = backward + staleness bound). Identical
    user_id-shuffled composition with the inequality flipped and the
    top-1 ranked ascending; clicks that never convert keep NULL (the
    left join preserves them — dropping them silently is the classic
    attribution bug). Exact integer micros."""
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", us.alias("c_us")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        us.alias("p_us"),
    )
    joined = c.join(
        p, (c.user_id == p.p_user_id) & (p.p_us >= c.c_us), "left"
    )
    w = Window.partitionBy("click_id").orderBy(
        F.asc("p_us"), F.asc("purchase_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "click_id",
            "user_id",
            "purchase_id",
            F.when(F.col("purchase_id").isNull(), F.lit(None).cast("bigint"))
            .otherwise(F.col("p_us") - F.col("c_us"))
            .alias("lead_us"),
        )
    )
