"""Aggregations — SURVEY.md §2.D.

All of these compile to Spark's partial (map-side) + final hash aggregate:
the shuffle moves only per-group partial states, never raw rows. That is the
property that makes them 100 TB-safe — group cardinality, not input size,
bounds the shuffle. Skewed group keys are handled by AQE skew mitigation;
`spark.sql.shuffle.partitions` sizes the reduce side.

Float discipline: every floating aggregate is rounded to 6 decimals in both
the Spark query and its DuckDB oracle so cross-engine summation-order
differences cannot flip the value hash (SURVEY.md §7.4 hazard 4).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table


@query(
    "agg_global",
    oracle="""
        SELECT round(sum(l_quantity), 6)      AS sum_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               min(l_shipdate)                AS min_ship,
               max(l_shipdate)                AS max_ship,
               count(*)                       AS n_rows
        FROM lineitem
    """,
    family="aggregates",
)
def agg_global(spark, sf_dir):
    """Ungrouped global aggregate (single-row result; partial agg means the
    shuffle carries one row per map task)."""
    return table(spark, sf_dir, "lineitem").agg(
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.count("*").alias("n_rows"),
    )


@query(
    "agg_group",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 6)      AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 6)      AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               count(*)                       AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    family="aggregates",
    max_exchanges=2,  # partial->final agg + output sort
)
def agg_group(spark, sf_dir):
    """Flagship: TPC-H Q1-shape pricing summary (filter → grouped agg →
    sort). The scan reads only the 6 needed columns of lineitem, the
    shipdate filter pushes into parquet, and the groupBy is a 6-group hash
    aggregate — the canonical map-combine plan. The price SUMS are
    rounded at 2 dp (the money grid), not 6: per-group totals reach
    ~3e9 at sf0.1, where cross-engine summation-order drift (~1e-5)
    crosses a 1e-6 grid — observed as a last-digit mismatch before this
    pin. sum_qty (integer-valued quantities, drift-free) and the avgs
    (divided by n, drift ~1e-10) stay at 6."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_distinct",
    oracle="""
        SELECT o_orderstatus,
               count(DISTINCT o_custkey)                 AS n_custs,
               CAST(sum(DISTINCT o_custkey) AS BIGINT)   AS sum_custkeys,
               count(*)                                  AS n_orders
        FROM orders
        GROUP BY o_orderstatus
    """,
    family="aggregates",
)
def agg_distinct(spark, sf_dir):
    """COUNT(DISTINCT) / SUM(DISTINCT) (expand + two-phase distinct agg in
    Spark; scales as a two-shuffle plan). DuckDB's integer SUM returns
    HUGEINT, so the oracle casts to BIGINT to match Spark's LongType."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count_distinct("o_custkey").alias("n_custs"),
            F.sum_distinct(F.col("o_custkey")).alias("sum_custkeys"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "agg_approx_distinct",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
               TRUE AS within_rsd
        FROM orders GROUP BY o_orderstatus
    """,
    family="aggregates",
)
def agg_approx_distinct(spark, sf_dir):
    """HyperLogLog++ approximate distinct — SQL-oracled (round 5, was
    rows-only) with the exact-twin + bounded-error-boolean pattern: the
    HLL estimate isn't hash-stable across engines, so the hash-matched
    columns are the exact distinct count plus a boolean asserting the
    estimate landed within 5× the configured rsd (0.02; HLL++ error is
    ~1 rsd rms, so 5σ is deterministic-fixture-safe while still failing
    loudly on any real defect — wrong column, wrong grouping, broken
    merge). The oracle emits literal TRUE; an estimate excursion flips
    the boolean → hash mismatch. The exact twin is the fixture-scale
    verification device only — at 100 TB the sketch column IS the
    operator (fixed-size mergeable state per group, no expand; the
    exact arm would be agg_distinct's shuffle)."""
    o = table(spark, sf_dir, "orders")
    approx = F.approx_count_distinct("o_custkey", 0.02)
    exact = F.count_distinct("o_custkey")
    return o.groupBy("o_orderstatus").agg(
        exact.alias("n_custs"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= 5 * 0.02 * exact.cast("double") + 1.0
        ).alias("within_rsd"),
    )


@query(
    "agg_rollup",
    oracle="""
        SELECT r_name, n_name,
               count(*) AS n_cust,
               round(sum(c_acctbal), 6) AS sum_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    family="aggregates",
)
def agg_rollup(spark, sf_dir):
    """ROLLUP hierarchy (region ← nation ← grand total). Dim joins broadcast
    (nation/region are tiny); rollup expands each row into its grouping
    sets before the hash agg."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"), F.round(F.sum("c_acctbal"), 6).alias("sum_bal"))
    )


@query(
    "agg_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    family="aggregates",
)
def agg_cube(spark, sf_dir):
    """CUBE over two dims (all 4 grouping sets)."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


@query(
    "agg_grouping_sets",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INTEGER)   AS g_status,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
               count(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    family="aggregates",
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping() markers distinguishing which
    dimension each output row aggregates over."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT)   AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "agg_filtered",
    oracle="""
        SELECT l_returnflag,
               round(sum(CASE WHEN l_quantity > 25.0 THEN l_extendedprice END), 2) AS sum_big_qty_price,
               count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """,
    family="aggregates",
)
def agg_filtered(spark, sf_dir):
    """Conditional aggregation (sum over CASE, count_if)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.when(F.col("l_quantity") > 25.0, F.col("l_extendedprice"))), 2).alias("sum_big_qty_price"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count("*").alias("n_rows"),
    )


@query(
    "agg_collect",
    oracle="""
        SELECT c_nationkey,
               array_to_string(list_sort(list(c_name)), '|') AS names
        FROM customer
        WHERE c_custkey < 200
        GROUP BY c_nationkey
    """,
    family="aggregates",
)
def agg_collect(spark, sf_dir):
    """array_agg per group, sorted for cross-engine determinism (collect
    order is partition-order-dependent in any distributed engine), then
    serialized to a '|'-joined string — the driver comparator cannot sort
    list-valued cells (functions/canon.py)."""
    from spark_ml_helper_spark.functions.canon import join_str_array

    return (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .groupBy("c_nationkey")
        .agg(join_str_array(F.sort_array(F.collect_list("c_name"))).alias("names"))
    )


@query(
    "agg_stats",
    oracle="""
        SELECT l_returnflag,
               round(stddev_samp(l_quantity), 6)            AS sd_qty,
               round(var_samp(l_quantity), 6)               AS var_qty,
               round(corr(l_quantity, l_extendedprice), 6)  AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 6) AS cov_qty_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
    family="aggregates",
)
def agg_stats(spark, sf_dir):
    """Statistical aggregates (stddev/variance/corr/covar)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("cov_qty_price"),
    )


@query(
    "agg_string",
    oracle="""
        SELECT c_nationkey,
               array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',') AS segments,
               count(DISTINCT c_mktsegment) AS n_segments
        FROM customer
        GROUP BY c_nationkey
    """,
    family="aggregates",
)
def agg_string(spark, sf_dir):
    """String aggregation (listagg/string_agg surface) with deterministic
    ordering: distinct market segments per nation, sorted then joined —
    collect_set order is partition-dependent in ANY distributed engine, so
    the sort before the join is what makes this oracle-checkable."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias("segments"),
        F.count_distinct("c_mktsegment").alias("n_segments"),
    )


@query(
    "agg_mode",
    oracle="""
        WITH c AS (
            SELECT o_orderstatus, o_orderpriority, count(*) AS n
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        )
        SELECT o_orderstatus, o_orderpriority AS mode_priority, n
        FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                                           ORDER BY n DESC, o_orderpriority) AS rn
              FROM c)
        WHERE rn = 1
    """,
    family="aggregates",
)
def agg_mode(spark, sf_dir):
    """Deterministic mode (most frequent value per group) as count-groupBy
    + top-1 window with an explicit tiebreak — NOT the native mode()
    aggregate, whose tie winner is engine/partition-order dependent.
    Two-level shuffle: (status, priority) count cardinality bounds level 1;
    level 2 shuffles only one row per (status, priority) — scale-safe."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), "o_orderpriority")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


@query(
    "agg_percentile",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_quantity, 0.5), 6)  AS med_qty,
               round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
               round(quantile_cont(l_quantity, 0.75), 6) AS p75_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    family="aggregates",
)
def agg_percentile(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`). Scale note: exact percentiles buffer per-group values;
    at 100 TB swap in `approx_percentile` (t-digest-like sketch, mergeable)
    — semantics then become approximate, which is why the exact form is the
    oracle-checked one."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 6).alias("med_qty"),
        F.round(F.percentile("l_quantity", 0.25), 6).alias("p25_qty"),
        F.round(F.percentile("l_quantity", 0.75), 6).alias("p75_qty"),
    )


@query(
    "agg_minmax_by",
    oracle="""
        SELECT c_nationkey,
               arg_max(c_name, c_acctbal) AS richest,
               arg_min(c_name, c_acctbal) AS poorest,
               round(max(c_acctbal), 6)   AS max_bal
        FROM customer
        GROUP BY c_nationkey
    """,
    family="aggregates",
)
def agg_minmax_by(spark, sf_dir):
    """arg-max / arg-min (max_by / min_by). Deterministic here because
    c_acctbal values are continuous doubles (no ties in the fixture)."""
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.max_by("c_name", "c_acctbal").alias("richest"),
            F.min_by("c_name", "c_acctbal").alias("poorest"),
            F.round(F.max("c_acctbal"), 6).alias("max_bal"),
        )
    )


@query(
    "agg_approx_percentile",
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_quantity, 0.5), 6)  AS med_qty,
               round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
               round(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
               TRUE AS med_in_bounds,
               TRUE AS p25_in_bounds,
               TRUE AS p75_in_bounds
        FROM lineitem
        GROUP BY l_returnflag
    """,
    family="aggregates",
)
def agg_approx_percentile(spark, sf_dir):
    """Approximate percentiles via Spark's mergeable quantile sketch
    (`approx_percentile`, accuracy 10000) — the 100 TB form of
    agg_percentile: fixed-size state per group, no per-group value
    buffer. SQL-oracled (round 5, was rows-only) with the EXACT-TWIN +
    BOUNDED-ERROR pattern: the sketch estimate itself isn't
    hash-stable across engines, so the output hash-matches on the
    exact percentile columns and on per-quantile booleans asserting
    the sketch landed inside its documented rank guarantee — the
    estimate must sit between the exact values at quantiles q ± 2ε
    (ε = 1/accuracy; 2× is slack for the interpolation gap between
    a rank bound and quantile_cont's interpolated value). The oracle
    emits literal TRUE: a sketch excursion past its bound flips the
    boolean → hash mismatch → driver FAIL. Tests additionally assert
    the estimates land within 1% of the exact twin. The exact columns
    double as the ground truth (they ARE agg_percentile's values), so
    one driver row now checks both the sketch's contract and the
    group-by plumbing around it."""
    li = table(spark, sf_dir, "lineitem")
    eps = 2.0 / 10000

    def in_bounds(q: float):
        lo = F.expr(f"percentile(l_quantity, {max(q - eps, 0.0)})")
        hi = F.expr(f"percentile(l_quantity, {min(q + eps, 1.0)})")
        ap = F.expr(f"approx_percentile(l_quantity, {q}, 10000)")
        return (ap >= lo - 1e-9) & (ap <= hi + 1e-9)

    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("med_qty"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("p25_qty"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("p75_qty"),
        in_bounds(0.5).alias("med_in_bounds"),
        in_bounds(0.25).alias("p25_in_bounds"),
        in_bounds(0.75).alias("p75_in_bounds"),
    )


@query(
    "rollup_time_multires",
    oracle="""
        WITH base AS (
            SELECT date_trunc('day', o_orderdate) AS d,
                   date_trunc('month', o_orderdate) AS m,
                   o_totalprice
            FROM orders WHERE year(o_orderdate) = 1997
        )
        SELECT strftime(m, '%Y-%m') AS month_key,
               CASE WHEN d IS NULL THEN NULL ELSE strftime(d, '%Y-%m-%d') END AS day_key,
               count(o_totalprice) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM base
        GROUP BY ROLLUP (m, d)
        HAVING m IS NOT NULL
    """,
    family="aggregates",
)
def rollup_time_multires(spark, sf_dir):
    """Hypertable-style multi-resolution time rollup: one pass produces the
    daily AND monthly continuous-aggregate levels via GROUP BY ROLLUP over
    (month, day) — the map-side partial agg is shared across resolutions,
    so adding a coarser level costs no extra scan. Keys are emitted as
    strings so the NULL-padding of super-aggregate rows is unambiguous.
    At 100 TB this pairs with sink_partitioned's layout: rollup written
    back partitioned by month is the materialized-view refresh unit."""
    o = table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    base = o.select(
        F.date_trunc("day", "o_orderdate").alias("d"),
        F.date_trunc("month", "o_orderdate").alias("m"),
        "o_totalprice",
    )
    return (
        base.rollup("m", "d")
        .agg(
            F.count("o_totalprice").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .filter(F.col("m").isNotNull())
        .select(
            F.date_format("m", "yyyy-MM").alias("month_key"),
            F.date_format("d", "yyyy-MM-dd").alias("day_key"),
            "n_orders",
            "revenue",
        )
    )


@query(
    "agg_hll_sketch",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               TRUE AS within_5pct
        FROM events GROUP BY event_type
        UNION ALL
        SELECT '__ALL__',
               CAST(count(DISTINCT user_id) AS BIGINT),
               TRUE
        FROM events
    """,
    family="aggregates",
)
def agg_hll_sketch(spark, sf_dir):
    """Mergeable HyperLogLog sketches (Apache DataSketches via Spark 3.5+
    hll_sketch_agg): per-event-type distinct-user sketches, re-merged with
    hll_union_agg into a corpus-wide estimate WITHOUT touching raw data
    again. The merge step is the 100 TB story: sketches are tiny fixed-size
    binaries, so daily/partition-level sketches roll up to any grouping at
    interactive cost — the pattern exact count_distinct can't follow
    because its state is the value set itself. SQL-oracled (round 5, was
    rows-only) via the exact-twin + bounded-error-boolean pattern: the
    hash-matched columns are the exact distinct counts (per type and for
    the merged __ALL__ row), plus a boolean asserting each DataSketches
    estimate — including the one that went through the hll_union_agg
    merge — landed within 5% of exact (lgK=14 → rms error ~0.8%, so 5%
    is fixture-deterministic). The oracle emits literal TRUE; a sketch
    or merge defect flips the boolean → hash mismatch. The exact twin is
    fixture-scale verification only; production emits the sketch
    columns. tests/test_pipeline.py additionally checks merged ≤ sum of
    parts."""
    e = table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    est = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    ).select(F.lit("__ALL__").alias("event_type"), "approx_users")
    est_all = est.unionByName(merged)
    exact = e.groupBy("event_type").agg(F.count_distinct("user_id").alias("n_users"))
    exact_all = e.agg(F.count_distinct("user_id").alias("n_users")).select(
        F.lit("__ALL__").alias("event_type"), "n_users"
    )
    ex = exact.unionByName(exact_all)
    return est_all.join(ex, "event_type").select(
        "event_type",
        "n_users",
        (
            F.abs(F.col("approx_users").cast("double") - F.col("n_users").cast("double"))
            <= 0.05 * F.col("n_users").cast("double")
        ).alias("within_5pct"),
    )


@query(
    "agg_bool",
    oracle="""
        SELECT o_orderstatus,
               bool_and(o_totalprice > 1000) AS all_over_1k,
               bool_or(o_totalprice > 400000) AS any_over_400k,
               CAST(count(*) FILTER (o_totalprice > 200000) AS BIGINT) AS n_over_200k
        FROM orders
        GROUP BY o_orderstatus
    """,
    family="aggregates",
)
def agg_bool(spark, sf_dir):
    """Boolean aggregates (every/any + filtered count) per status —
    short-circuitable partials: bool_and/bool_or partial state is one
    bit, so the map-side combine reduces each partition to a single row
    per group before the shuffle."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_over_200k"),
    )


@query(
    "agg_weighted",
    oracle="""
        SELECT l_returnflag,
               round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6)
                   AS wavg_price,
               round(sum(l_quantity), 2) AS total_w
        FROM lineitem
        GROUP BY l_returnflag
    """,
    family="aggregates",
)
def agg_weighted(spark, sf_dir):
    """Quantity-weighted average price per return flag — the weighted
    mean every sampling/importance pipeline needs, expressed as two
    plain sums (both map-side combinable) rather than any special
    aggregate, so the shuffle carries one partial row per group."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")) / F.sum("l_quantity"), 6
        ).alias("wavg_price"),
        F.round(F.sum("l_quantity"), 2).alias("total_w"),
    )


@query(
    "agg_count_histogram",
    oracle="""
        WITH per_cust AS (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey
        )
        SELECT c_count, count(*) AS n_custs
        FROM per_cust GROUP BY c_count
    """,
    family="aggregates",
)
def agg_count_histogram(spark, sf_dir):
    """Count-distribution histogram (TPC-H Q13 shape): orders per
    customer including zero-order customers (left join), then the
    distribution of those counts. Two chained hash aggs — the first
    shuffles on c_custkey, the second on the tiny count key space —
    with the left join ensuring the empty groups real count
    distributions must include. The double-aggregation is the canonical
    'aggregate the aggregate' pattern; partial aggs fire on both."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("n_custs"))


@query(
    "agg_entropy",
    oracle="""
        WITH cnt AS (
            SELECT source, lang, count(*) AS c
            FROM documents GROUP BY source, lang
        ),
        tot AS (
            SELECT source, sum(c) AS n, count(*) AS n_langs
            FROM cnt GROUP BY source
        )
        SELECT cnt.source, CAST(n AS BIGINT) AS n_docs, n_langs,
               round(-sum((c / n) * ln(c / n)), 6) AS entropy_nats,
               round(sum((c / n) * (c / n)), 6) AS hhi
        FROM cnt JOIN tot ON cnt.source = tot.source
        GROUP BY cnt.source, n, n_langs
    """,
    family="aggregates",
)
def agg_entropy(spark, sf_dir):
    """Distributional concentration per group: Shannon entropy (nats)
    and Herfindahl-Hirschman index of each source's language mix — the
    diversity / concentration diagnostics run on corpus strata before
    sampling-weight decisions. Two chained hash aggregates: (source,
    lang) counts collapse the corpus, then per-source totals join back
    on the tiny count frame and a final agg folds the Σ p·ln p / Σ p²
    terms — the data-sized stage is only the first count agg
    (map-side partial on a two-column key); everything after runs on
    |sources|×|langs| rows. Same shape at any corpus size."""
    d = table(spark, sf_dir, "documents")
    cnt = d.groupBy("source", "lang").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("source").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_langs")
    )
    p = F.col("c") / F.col("n")
    return (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source", "n", "n_langs")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.round(F.sum(p * p), 6).alias("hhi"),
        )
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            "n_langs",
            "entropy_nats",
            "hhi",
        )
    )


@query(
    "agg_gini",
    oracle="""
        WITH spend AS (
            SELECT o_custkey, sum(o_totalprice) AS x
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i
            FROM spend
        )
        SELECT count(*) AS n,
               round(sum(x), 2) AS total_spend,
               round(2.0 * sum(i * x) / (count(*) * sum(x))
                     - (count(*) + 1.0) / count(*), 6) AS gini
        FROM ranked
    """,
    family="aggregates",
)
def agg_gini(spark, sf_dir):
    """Gini coefficient of customer spend concentration — the
    continuous-distribution inequality measure completing the
    concentration family (agg_entropy/HHI cover categorical mixes).
    Uses the rank identity G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over the
    fully-tiebroken ascending spend order. The rank is a global
    row_number — the EXACT formulation, same documented trade as
    feature_quantile_bucket: per-customer spend is one hash agg
    (corpus-sized work), the ranked frame is |customers| rows, and at
    100 TB you either accept one sort of that reduced frame (customers
    ≪ orders) or switch to the binned approximation (Gini from a
    quantile histogram — agg_approx_percentile's sketch). The output
    ratio divides two same-order sums, so summation drift cancels to
    ~1e-12 relative — far inside the 6-dp grid. total_spend rounds at
    2 dp (money-grid rule)."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("x"))
    w = Window.orderBy("x", "o_custkey")
    ranked = spend.select("x", F.row_number().over(w).alias("i"))
    return ranked.agg(
        F.count("*").alias("n"),
        F.round(F.sum("x"), 2).alias("total_spend"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.count("*") * F.sum("x"))
            - (F.count("*") + 1.0) / F.count("*"),
            6,
        ).alias("gini"),
    )


@query(
    "agg_heavy_hitters",
    oracle="""
        WITH c AS (
            SELECT l_partkey, count(*) AS cnt
            FROM lineitem GROUP BY l_partkey
        ),
        tot AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS n,
                   count(*) AS nd
            FROM c
        )
        SELECT l_partkey, cnt,
               round(cnt * 1.0 / n, 6) AS support
        FROM c CROSS JOIN tot
        WHERE 2 * cnt * nd >= 3 * n
    """,
    family="aggregates",
    bnlj="1-row total/distinct count broadcast back onto the value counts",
)
def agg_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters: parts whose lineitem frequency is ≥ 1.5×
    the mean per-key frequency (cnt ≥ 1.5·n/n_keys), with support.
    The threshold test is kept in INTEGER arithmetic
    (2·cnt·n_keys ≥ 3·n) so the cut is bit-identical cross-engine —
    no float boundary rows. One map-side-combining hash agg builds the
    per-key counts; the (n, n_keys) totals are a 1-row aggregate OF
    that count frame broadcast back, so nothing after the first agg is
    corpus-sized. This is the exact form; at 100 TB with a hot-key
    budget (top-k in bounded memory) the streaming analogue is
    Misra-Gries / SpaceSaving with the same output contract — the
    sketch's candidate set is then verified by exactly this query
    shape over one more pass."""
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    tot = c.agg(
        F.sum("cnt").alias("n"), F.count("*").alias("nd")
    )
    return (
        c.join(F.broadcast(tot))
        .where(2 * F.col("cnt") * F.col("nd") >= 3 * F.col("n"))
        .select(
            "l_partkey",
            "cnt",
            F.round(F.col("cnt") * 1.0 / F.col("n"), 6).alias("support"),
        )
    )


@query(
    "agg_money_decimal",
    oracle="""
        SELECT o_orderpriority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS VARCHAR)
                   AS revenue_exact,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
    """,
    family="aggregates",
)
def agg_money_decimal(spark, sf_dir):
    """Money aggregation in EXACT DECIMAL(18,2) arithmetic — the
    financial-reporting discipline where double sums are not
    acceptable at any drift: cast to decimal at ingest, sum in
    decimal (Spark widens to DECIMAL(28,2) internally; DuckDB to
    HUGEINT-backed decimal), emit the canonical string so the oracle
    compares EXACT digits, not rounded floats. This is the engine's
    answer to the money-grid hazard the float operators manage by
    rounding: for ledgers, don't manage drift — eliminate it. Decimal
    partial aggs merge exactly like longs (128-bit sums), so the
    map-side-combine plan is identical to the double form at any
    scale; the cost is ~2× the per-row add, which scan time dwarfs."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("string")
        .alias("revenue_exact"),
        F.count("*").alias("n_orders"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
        WITH words AS (
            SELECT event_type, user_id // 63 AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT))
                       AS word_mask
            FROM events
            GROUP BY event_type, user_id // 63
        )
        SELECT event_type,
               CAST(sum(bit_count(word_mask)) AS BIGINT) AS n_users
        FROM words GROUP BY event_type
    """,
    family="aggregates",
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct-user counts via bitmap aggregation — the
    Doris/ClickHouse bitmap-index technique on plain SQL: pack user
    ids into 63-user blocks of one BIGINT each (word = id/63, bit =
    id mod 63 — bits 0..62, leaving the sign bit untouched so the
    shifted mask is always positive in both engines), bit_or the
    masks per (type, word), popcount and sum. Versus COUNT(DISTINCT)'s
    per-key row expansion, the shuffle carries ≤ |id-space|/63 words
    per group — fixed-size mergeable state like a sketch, but EXACT,
    and the per-(type,word) partials roll up across days/partitions
    for free (the incremental-distinct pattern agg_incremental
    documents for sums). Needs dense integer ids — at 100 TB that's a
    dictionary-encode step first (feature_hashing's md5 trick in
    reverse). Pure integer ops, bit-identical cross-engine."""
    e = table(spark, sf_dir, "events")
    words = e.groupBy(
        "event_type", F.floor(F.col("user_id") / 63).cast("bigint").alias("word_idx")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))")
        ).alias("word_mask")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word_mask")).alias("n_users")
    )


@query(
    "agg_weighted_median",
    oracle="""
        WITH v AS (
            SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                   CAST(l_quantity AS BIGINT) AS wgt
            FROM lineitem
        ),
        g AS (
            SELECT price_c, CAST(sum(wgt) AS BIGINT) AS w
            FROM v GROUP BY price_c
        ),
        c AS (
            SELECT price_c, w,
                   CAST(sum(w) OVER (ORDER BY price_c) AS BIGINT) AS cw
            FROM g
        ),
        t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM g)
        SELECT CAST(max(tw) AS BIGINT) AS total_weight,
               round(min(price_c) / 100.0, 2) AS weighted_median
        FROM c CROSS JOIN t
        WHERE 2 * cw >= tw
    """,
    family="aggregates",
    bnlj="1-row total weight broadcast onto the cumulative-weight rows",
)
def agg_weighted_median(spark, sf_dir):
    """Quantity-weighted median line price — the lower weighted median
    (first value whose cumulative weight reaches half the total),
    selected ENTIRELY IN INTEGER ARITHMETIC: prices as exact cents,
    weights as exact units, the 2·cum ≥ total cut on integers — no
    interpolation, no float boundary, bit-identical cross-engine
    (unlike engines' percentile(…, weight) builtins, which disagree on
    interpolation). One hash agg to the per-price frame, a cumulative
    window over it (distinct prices ≤ rows — the agg_gini documented
    trade; at 100 TB bin prices to a grid first, which bounds the
    sorted frame AND the answer's precision explicitly)."""
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
        F.col("l_quantity").cast("bigint").alias("wgt"),
    )
    g = v.groupBy("price_c").agg(F.sum("wgt").alias("w"))
    w = Window.orderBy("price_c").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select("price_c", F.sum("w").over(w).alias("cw"))
    t = g.agg(F.sum("w").alias("tw"))
    return (
        c.join(F.broadcast(t))
        .where(2 * F.col("cw") >= F.col("tw"))
        .agg(
            F.max("tw").alias("total_weight"),
            F.round(F.min("price_c") / 100.0, 2).alias("weighted_median"),
        )
    )


@query(
    "agg_histogram_equiwidth",
    oracle="""
        WITH v AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc
            FROM orders
        ),
        bounds AS (
            SELECT CAST(min(xc) AS BIGINT) AS lo, CAST(max(xc) AS BIGINT) AS hi
            FROM v
        )
        SELECT CAST(least(9, (xc - lo) * 10 // (hi - lo + 1)) AS BIGINT)
                   AS bucket,
               round((lo + least(9, (xc - lo) * 10 // (hi - lo + 1))
                      * (hi - lo + 1) / 10.0) / 100.0, 2) AS bin_lo,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM v CROSS JOIN bounds
        GROUP BY 1, 2
    """,
    family="aggregates",
    bnlj="1-row min/max bounds broadcast onto the values",
)
def agg_histogram_equiwidth(spark, sf_dir):
    """Equal-width 10-bin value histogram of order totals — the
    distribution plot behind every dashboard, with bin assignment in
    EXACT INTEGER arithmetic: cents-scaled values, bin =
    min(9, (x−lo)·10 div (hi−lo+1)) — integer floor division, no float
    boundary can move a row between bins cross-engine (the hazard in
    width_bucket-style float binning). Complements
    agg_count_histogram (count-of-counts) and feature_bucketize
    (fixed splits) with data-driven equal-width bins. One aggregate
    for the bounds (1-row broadcast back), one map-side-combining agg
    on ≤10 keys; two scans — or one, fusing bounds via approx min/max
    when a prior stats pass exists."""
    o = table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 100).cast("bigint").alias("xc"))
    bounds = v.agg(
        F.min("xc").alias("lo"), F.max("xc").alias("hi")
    )
    width = F.col("hi") - F.col("lo") + 1
    bucket = F.least(
        F.lit(9), F.floor((F.col("xc") - F.col("lo")) * 10 / width)
    ).cast("bigint")
    return (
        v.join(F.broadcast(bounds))
        .select(
            bucket.alias("bucket"),
            F.round(
                (F.col("lo") + bucket * width / 10.0) / 100.0, 2
            ).alias("bin_lo"),
        )
        .groupBy("bucket", "bin_lo")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "agg_moments_shape",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   count(*) AS n,
                   round(avg(value), 8)                         AS m1,
                   round(avg(value * value), 7)                 AS m2,
                   round(avg(value * value * value), 6)         AS m3,
                   round(avg(value * value * value * value), 5) AS m4
            FROM events GROUP BY event_type
        ),
        c AS (
            SELECT event_type, n, m1,
                   m2 - m1 * m1 AS v,
                   m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1 AS mu3,
                   m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2
                      - 3 * m1 * m1 * m1 * m1 AS mu4
            FROM m
        )
        SELECT event_type, n,
               round(m1, 6) AS mean,
               round(sqrt(v), 6) AS std_pop,
               round(mu3 / pow(v, 1.5), 6) AS skewness,
               round(mu4 / (v * v) - 3.0, 6) AS excess_kurtosis
        FROM c
    """,
    family="aggregates",
)
def agg_moments_shape(spark, sf_dir):
    """Distribution-shape aggregates — population skewness and excess
    kurtosis per event type — computed from RAW POWER MOMENTS with the
    ml_linreg_normal rounding discipline, because the engines' native
    skewness()/kurtosis() builtins disagree on bias correction
    (sample vs population) and would never hash-match. Each avg(xᵏ)
    moment rounds at a per-magnitude grid before the closed-form
    central-moment expansion, so both engines run identical IEEE
    arithmetic downstream. One single-pass mergeable aggregate (the
    moment vector is THE distributed-statistics shape — partials merge
    by weighted average at any scale); the 5-row closed form is free.
    Values are O(100) with v ~ O(1000): the rounded-moment grids keep
    ~1e-9 relative error into mu3/mu4, inside the 6-dp output grid."""
    e = table(spark, sf_dir, "events")
    x = F.col("value")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(x), 8).alias("m1"),
        F.round(F.avg(x * x), 7).alias("m2"),
        F.round(F.avg(x * x * x), 6).alias("m3"),
        F.round(F.avg(x * x * x * x), 5).alias("m4"),
    )
    v = F.col("m2") - F.col("m1") * F.col("m1")
    mu3 = (
        F.col("m3")
        - 3 * F.col("m1") * F.col("m2")
        + 2 * F.col("m1") * F.col("m1") * F.col("m1")
    )
    mu4 = (
        F.col("m4")
        - 4 * F.col("m1") * F.col("m3")
        + 6 * F.col("m1") * F.col("m1") * F.col("m2")
        - 3 * F.col("m1") * F.col("m1") * F.col("m1") * F.col("m1")
    )
    return m.select(
        "event_type",
        "n",
        F.round(F.col("m1"), 6).alias("mean"),
        F.round(F.sqrt(v), 6).alias("std_pop"),
        F.round(mu3 / F.pow(v, 1.5), 6).alias("skewness"),
        F.round(mu4 / (v * v) - 3.0, 6).alias("excess_kurtosis"),
    )


@query(
    "agg_mean_family",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(o_totalprice), 2) AS mean_arith,
               round(exp(round(avg(ln(o_totalprice)), 9)), 2) AS mean_geom,
               round(count(*) / round(sum(1.0 / o_totalprice), 12), 2)
                   AS mean_harm,
               round(sqrt(round(avg(o_totalprice * o_totalprice), 0)), 2)
                   AS mean_quad
        FROM orders
        WHERE o_totalprice > 0
        GROUP BY o_orderpriority
    """,
    family="aggregates",
)
def agg_mean_family(spark, sf_dir):
    """The Pythagorean-means family per priority — arithmetic,
    geometric (exp∘mean∘ln — the right average for ratios/growth),
    harmonic (the right average for rates), quadratic (RMS) — with
    the HM ≤ GM ≤ AM ≤ QM ordering as a built-in sanity invariant
    (asserted in tests). Cross-engine discipline: the inner
    aggregates (avg of logs, sum of reciprocals, avg of squares) are
    rounded at per-magnitude grids BEFORE the nonlinear transform, so
    exp/sqrt/division run on identical doubles in both engines — the
    ml_linreg_normal moment treatment applied to means. One
    single-pass mergeable aggregate; all four partials merge like any
    moment vector at scale."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    x = F.col("o_totalprice")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.avg(x), 2).alias("mean_arith"),
        F.round(F.exp(F.round(F.avg(F.log(x)), 9)), 2).alias("mean_geom"),
        F.round(
            F.count("*") / F.round(F.sum(1.0 / x), 12), 2
        ).alias("mean_harm"),
        F.round(F.sqrt(F.round(F.avg(x * x), 0)), 2).alias("mean_quad"),
    )


@query(
    "agg_bitmap_intersect",
    oracle="""
        WITH words AS (
            SELECT event_type, user_id // 63 AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT))
                       AS word_mask
            FROM events
            GROUP BY event_type, user_id // 63
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(sum(bit_count(a.word_mask & b.word_mask)) AS BIGINT)
                   AS n_both,
               CAST(sum(bit_count(a.word_mask | b.word_mask)) AS BIGINT)
                   AS n_either,
               round(sum(bit_count(a.word_mask & b.word_mask)) * 1.0
                     / sum(bit_count(a.word_mask | b.word_mask)), 6)
                   AS jaccard
        FROM words a JOIN words b
          ON a.word_idx = b.word_idx AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    """,
    family="aggregates",
)
def agg_bitmap_intersect(spark, sf_dir):
    """EXACT audience-overlap matrix via bitmap set algebra: for every
    event-type pair, how many distinct users did BOTH (AND), EITHER
    (OR), and the Jaccard overlap — the segment-intersection query
    that COUNT(DISTINCT CASE ...) handles one pair at a time and
    bitmap words handle all at once: the per-(type, word) masks from
    agg_bitmap_distinct's packing are joined on the word index and
    popcounted under & and |. The shuffle carries |types| ×
    |id-space|/63 fixed-size words — mergeable exact state, the
    bitmap-index pattern (Doris/ClickHouse/roaring) on plain SQL.
    Caveat folded in from the distinct op: ids must be dense (or
    dictionary-encoded first). Pure integer ops — bit-identical.
    Note the OR count needs the word join to be FULL on missing words
    in general; here every (type, word) exists because each 63-user
    block contains every type's users — asserted in tests against
    COUNT(DISTINCT) ground truth, which is the real contract."""
    e = table(spark, sf_dir, "events")
    words = e.groupBy(
        "event_type", F.floor(F.col("user_id") / 63).cast("bigint").alias("word_idx")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)))").alias(
            "word_mask"
        )
    )
    a = words.select(
        F.col("event_type").alias("type_a"),
        "word_idx",
        F.col("word_mask").alias("ma"),
    )
    b = words.select(
        F.col("event_type").alias("type_b"),
        "word_idx",
        F.col("word_mask").alias("mb"),
    )
    both = F.sum(F.bit_count(F.col("ma").bitwiseAND(F.col("mb"))))
    either = F.sum(F.bit_count(F.col("ma").bitwiseOR(F.col("mb"))))
    return (
        a.join(b, ["word_idx"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            both.alias("n_both"),
            either.alias("n_either"),
            F.round(both * 1.0 / either, 6).alias("jaccard"),
        )
    )


@query(
    "agg_ratio_to_report",
    oracle="""
        WITH c AS (
            SELECT o_orderkey, o_custkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
            FROM orders WHERE o_custkey < 50
        )
        SELECT o_orderkey, o_custkey,
               round(price_c / 100.0, 2) AS price,
               round(price_c * 1.0 / sum(price_c) OVER
                     (PARTITION BY o_custkey), 6) AS share_of_customer,
               round(price_c * 1.0 / sum(price_c) OVER (), 6) AS share_of_total
        FROM c
    """,
    family="aggregates",
    bnlj="1-row grand total broadcast back (replaced an unpartitioned sum window)",
)
def agg_ratio_to_report(spark, sf_dir):
    """RATIO_TO_REPORT — each order's share of its customer's spend
    and of the grand total, the percent-of-total idiom every BI layer
    reimplements (Oracle ships it as a named function; on Spark/DuckDB
    it is a windowed-sum ratio). Denominators are EXACT INTEGER CENTS
    summed exactly, so both engines divide identical integers — no
    float accumulation anywhere before the final division. The
    customer share is a partitioned window (parallel by key); the
    grand total is a SEPARATE 1-row aggregate broadcast-joined back —
    NOT a global window, which would move every row to a single task
    (the round-12 global-window audit class). Same integers, same
    hash, and the plan scales: one partial+final agg for the total,
    one map-side broadcast join for the division."""
    o = table(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    c = o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
    )
    w_cust = Window.partitionBy("o_custkey")
    tot = c.agg(F.sum("price_c").alias("_tot"))
    return c.crossJoin(F.broadcast(tot)).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("price_c") / 100.0, 2).alias("price"),
        F.round(F.col("price_c") * 1.0 / F.sum("price_c").over(w_cust), 6).alias(
            "share_of_customer"
        ),
        F.round(F.col("price_c") * 1.0 / F.col("_tot"), 6).alias(
            "share_of_total"
        ),
    )


@query(
    "rollup_ytd",
    oracle="""
        WITH monthly AS (
            SELECT CAST(year(o_orderdate) AS INT) AS y,
                   CAST(month(o_orderdate) AS INT) AS m,
                   CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS rev_c,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY 1, 2
        )
        SELECT y, m, n_orders,
               round(rev_c / 100.0, 2) AS revenue,
               round(CAST(sum(rev_c) OVER (
                   PARTITION BY y ORDER BY m
               ) AS BIGINT) / 100.0, 2) AS revenue_ytd,
               CAST(sum(n_orders) OVER (
                   PARTITION BY y ORDER BY m
               ) AS BIGINT) AS orders_ytd
        FROM monthly
    """,
    family="aggregates",
)
def rollup_ytd(spark, sf_dir):
    """Year-to-date running totals with a YEARLY RESET — the fiscal
    cumulative every finance report pairs with the monthly number
    (rollup_time_multires gives the grains; this gives the
    within-year accumulation that resets at January, i.e. a
    PARTITIONED cumulative window, not a global one — the reset IS
    the partition key). Cumulative state is exact integer cents and
    counts; the window partitions by year so it parallelizes across
    years and never needs a global sort. One corpus hash agg to the
    ~84-month frame, windows on the reduced frame."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("y"),
        F.month("o_orderdate").cast("int").alias("m"),
    ).agg(
        F.round(F.sum("o_totalprice") * 100).cast("bigint").alias("rev_c"),
        F.count("*").alias("n_orders"),
    )
    w = Window.partitionBy("y").orderBy("m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return monthly.select(
        "y",
        "m",
        "n_orders",
        F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
        F.round(F.sum("rev_c").over(w) / 100.0, 2).alias("revenue_ytd"),
        F.sum("n_orders").over(w).alias("orders_ytd"),
    )


@query(
    "agg_hll_rollup",
    oracle="""
        SELECT date_trunc('month', ts) AS month,
               CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
                   AS n_days,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               TRUE AS within_5pct
        FROM events GROUP BY 1
    """,
    family="aggregates",
)
def agg_hll_rollup(spark, sf_dir):
    """HIERARCHICAL sketch rollup across the TIME dimension — the
    warehouse pattern agg_hll_sketch's docstring prices but doesn't
    show: build one HLL sketch PER DAY (the granularity a partitioned
    table materializes alongside each partition), then answer the
    monthly distinct-user question by MERGING the daily sketches with
    hll_union_agg — no second scan of raw events, which at 100 TB is
    the difference between an interactive rollup over ~30 fixed-size
    binaries per month and a full re-aggregation of the fact table
    (exact count_distinct cannot follow: its partial state is the
    value set itself, and day-level distincts don't add). SQL-oracled
    via the exact-twin + bounded-error-boolean pattern: hash-matched
    columns are the month, the day count entering each merge, and the
    exact monthly distinct, plus a boolean asserting the
    merged-sketch estimate lands within 5% of exact (lgK=14, rms
    ~0.8%); the oracle emits literal TRUE, so a merge defect flips
    the hash. Tests additionally pin the sketch-vs-exact identity at
    the daily level."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("month", "ts").alias("month"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    monthly = daily.groupBy("month").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
    )
    exact = e.groupBy(F.date_trunc("month", "ts").alias("month")).agg(
        F.count_distinct("user_id").alias("n_users")
    )
    return monthly.join(exact, "month").select(
        "month",
        "n_days",
        "n_users",
        (
            F.abs(
                F.col("approx_users").cast("double")
                - F.col("n_users").cast("double")
            )
            <= 0.05 * F.col("n_users").cast("double")
        ).alias("within_5pct"),
    )


# Pinned multiply-mod hash rows for the count-min sketch: h_i(k) =
# ((a_i*k + b_i) mod P) mod W, P Mersenne-31 — universal-family integer
# arithmetic both engines evaluate bit-identically (no engine hash
# function is cross-compatible; Spark xxhash64 != DuckDB hash).
_CMS_P = 2_147_483_647
_CMS_ROWS = [(1_000_003, 12_345), (999_983, 54_321), (1_000_033, 98_765)]
_CMS_WIDTHS = [64, 2048]
_CMS_TOPK = 10


def _cms_width_cte(w: int) -> str:
    cells = " UNION ALL ".join(
        f"""SELECT {i} AS row_i,
                   (({a} * k + {b}) % {_CMS_P}) % {w} AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM keys GROUP BY 2"""
        for i, (a, b) in enumerate(_CMS_ROWS)
    )
    case = " ".join(
        f"WHEN {i} THEN (({a} * p.k + {b}) % {_CMS_P}) % {w}"
        for i, (a, b) in enumerate(_CMS_ROWS)
    )
    return f"""
        cells{w} AS ({cells}),
        est{w} AS (
            SELECT p.k, CAST(min(c.cnt) AS BIGINT) AS est
            FROM probes p
            JOIN cells{w} c ON c.bucket = CASE c.row_i {case} END
            GROUP BY p.k
        )"""


_CMS_ORACLE = f"""
        WITH keys AS (
            SELECT CAST(o_custkey AS BIGINT) AS k FROM orders
        ),
        exact AS (
            SELECT k, CAST(count(*) AS BIGINT) AS exact_cnt
            FROM keys GROUP BY k
        ),
        probes AS (
            SELECT k, exact_cnt FROM exact
            ORDER BY exact_cnt DESC, k LIMIT {_CMS_TOPK}
        ),{",".join(_cms_width_cte(w) for w in _CMS_WIDTHS)}
        SELECT p.k AS custkey, p.exact_cnt,
               e64.est AS est_w64, e64.est - p.exact_cnt AS over_w64,
               e2048.est AS est_w2048, e2048.est - p.exact_cnt AS over_w2048
        FROM probes p
        JOIN est64 e64 ON e64.k = p.k
        JOIN est2048 e2048 ON e2048.k = p.k
"""


@query("agg_cms_sketch", oracle=_CMS_ORACLE, family="aggregates")
def agg_cms_sketch(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan 2005) over customer
    order frequencies as a WIDTH-TRADEOFF table (the
    dedup_minhash_band_curve pattern): the top-10 exact keys are
    probed against TWO sketches, d=3 pinned multiply-mod rows x w=64
    and w=2048 buckets, so one result shows the paper's additive
    error bound eps*N = e*N/w moving with w — at w=64 the uniform
    custkey stream is CMS's worst case (every bucket absorbs ~N/w
    mass, est ~ exact + N/w, measured overestimate ~220 on ~20 true
    at sf0.01) while w=2048 drops the same probe to near-exact;
    est >= exact ALWAYS (one-sided error) and both engines replay the
    identical integer arithmetic, so a probabilistic structure
    hash-verifies exactly. The 100 TB story is the build shape: one
    map-side-combining groupBy to a FIXED d x w cell frame regardless
    of corpus size or key cardinality, and cells are counters, so
    shards/days/streams merge by cell-wise ADDITION — the same
    mergeable-state property agg_bitmap_distinct and agg_hll_rollup
    exploit, which is why CMS is the standard streaming frequency
    sketch; the probe side is a broadcast join of the tiny cell frame
    against the probe keys."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("k")
    )
    exact = o.groupBy("k").agg(F.count("*").cast("bigint").alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), "k").limit(_CMS_TOPK)
    out = probes
    for w in _CMS_WIDTHS:
        cells = (
            o.select(
                F.posexplode(
                    F.array(
                        *[
                            ((F.lit(a) * F.col("k") + F.lit(b)) % _CMS_P) % w
                            for a, b in _CMS_ROWS
                        ]
                    )
                ).alias("row_i", "bucket")
            )
            .groupBy("row_i", "bucket")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
        probe_buckets = probes.select(
            "k",
            F.posexplode(
                F.array(
                    *[
                        ((F.lit(a) * F.col("k") + F.lit(b)) % _CMS_P) % w
                        for a, b in _CMS_ROWS
                    ]
                )
            ).alias("row_i", "bucket"),
        )
        est = (
            probe_buckets.join(F.broadcast(cells), ["row_i", "bucket"])
            .groupBy("k")
            .agg(F.min("cnt").cast("bigint").alias(f"est_w{w}"))
        )
        out = out.join(est, "k")
    return out.select(
        F.col("k").alias("custkey"),
        "exact_cnt",
        *[
            col
            for w in _CMS_WIDTHS
            for col in (
                F.col(f"est_w{w}"),
                (F.col(f"est_w{w}") - F.col("exact_cnt")).alias(f"over_w{w}"),
            )
        ],
    )


_BLOOM_M = 4096
_BLOOM_HASHES = [(1_000_003, 101), (999_983, 797), (1_000_033, 4099)]


@query(
    "agg_bloom_filter",
    oracle=f"""
        WITH members AS (
            SELECT CAST(c_custkey AS BIGINT) AS k
            FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        bits AS (
            SELECT DISTINCT (({_BLOOM_HASHES[0][0]} * k + {_BLOOM_HASHES[0][1]})
                             % {_CMS_P}) % {_BLOOM_M} AS bit FROM members
            UNION
            SELECT (({_BLOOM_HASHES[1][0]} * k + {_BLOOM_HASHES[1][1]})
                    % {_CMS_P}) % {_BLOOM_M} FROM members
            UNION
            SELECT (({_BLOOM_HASHES[2][0]} * k + {_BLOOM_HASHES[2][1]})
                    % {_CMS_P}) % {_BLOOM_M} FROM members
        ),
        probes AS (
            SELECT CAST(c_custkey AS BIGINT) AS k,
                   CAST(c_mktsegment = 'BUILDING' AS BOOLEAN) AS is_member
            FROM customer
        ),
        pb AS (
            SELECT k, is_member,
                   (({_BLOOM_HASHES[0][0]} * k + {_BLOOM_HASHES[0][1]})
                    % {_CMS_P}) % {_BLOOM_M} AS b0,
                   (({_BLOOM_HASHES[1][0]} * k + {_BLOOM_HASHES[1][1]})
                    % {_CMS_P}) % {_BLOOM_M} AS b1,
                   (({_BLOOM_HASHES[2][0]} * k + {_BLOOM_HASHES[2][1]})
                    % {_CMS_P}) % {_BLOOM_M} AS b2
            FROM probes
        ),
        flagged AS (
            SELECT k, is_member,
                   (b0 IN (SELECT bit FROM bits)
                    AND b1 IN (SELECT bit FROM bits)
                    AND b2 IN (SELECT bit FROM bits)) AS maybe_member
            FROM pb
        )
        SELECT CAST(count(*) FILTER (WHERE is_member) AS BIGINT) AS n_members,
               CAST(count(*) AS BIGINT) AS n_probes,
               CAST((SELECT count(*) FROM bits) AS BIGINT) AS n_bits_set,
               CAST(count(*) FILTER (WHERE maybe_member) AS BIGINT) AS n_flagged,
               CAST(count(*) FILTER (WHERE is_member AND NOT maybe_member)
                    AS BIGINT) AS n_false_neg,
               CAST(count(*) FILTER (WHERE maybe_member AND NOT is_member)
                    AS BIGINT) AS n_false_pos,
               round(count(*) FILTER (WHERE maybe_member AND NOT is_member)
                     * 1.0 / count(*) FILTER (WHERE NOT is_member), 6)
                   AS fpr_measured,
               round((SELECT count(*) FROM bits) * 1.0 / {_BLOOM_M}, 6)
                   AS fill_ratio
        FROM flagged
    """,
    family="aggregates",
    bnlj="1-row bits-set count crossJoined onto the 1-row report",
)
def agg_bloom_filter(spark, sf_dir):
    """Bloom-filter membership (Bloom 1970) built and audited end to
    end with pinned integer hashes: k=3 multiply-mod rows over an
    m=4096-bit array, members = BUILDING-segment customers, probes =
    ALL customers. The report pins the two structural guarantees —
    n_false_neg is ZERO (Bloom filters never miss a member) and every
    extra flag is a false positive whose measured rate sits near the
    fill-ratio bound (fpr ~ fill^k) — both as exact integer counts,
    plus the exact-ratio fill and FPR at 6 dp (integer ratios, no fp
    hazard). Distribution shape: the bit array is a DISTINCT over
    3|members| ints collapsing to <= m rows — broadcast-sized by
    construction at ANY corpus scale (that is the point of a Bloom
    filter) — and the probe is a broadcast semi-join of each hash
    column against it, the same plan Spark's own runtime row-level
    bloom pushdown (join_runtime_bloom) builds internally; this
    operator makes the structure inspectable and its error measurable.
    Unlike the native bloom_filter_agg, pinned hashes make the filter
    REPLAYABLE cross-engine: the DuckDB oracle rebuilds the identical
    bit set, so the driver hash-verifies a probabilistic data
    structure exactly."""
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("k"),
        (F.col("c_mktsegment") == "BUILDING").alias("is_member"),
    )
    members = c.filter("is_member")
    bits = None
    hcols = []
    for j, (a, b) in enumerate(_BLOOM_HASHES):
        h = ((F.lit(a) * F.col("k") + F.lit(b)) % _CMS_P) % _BLOOM_M
        hcols.append(h.alias(f"b{j}"))
        s = members.select(h.alias("bit"))
        bits = s if bits is None else bits.unionByName(s)
    bits = bits.distinct()
    pb = c.select("k", "is_member", *hcols)
    for j in range(len(_BLOOM_HASHES)):
        pb = pb.join(
            F.broadcast(bits.withColumnRenamed("bit", f"b{j}")),
            f"b{j}",
            "left_semi",
        )
    flagged_keys = pb.select("k", F.lit(True).alias("maybe_member"))
    flagged = c.join(flagged_keys, "k", "left").fillna(
        False, subset=["maybe_member"]
    )
    n_bits = bits.agg(F.count("*").cast("bigint").alias("n_bits_set"))
    fp = F.col("maybe_member") & ~F.col("is_member")
    return (
        flagged.agg(
            F.count(F.when(F.col("is_member"), 1)).alias("n_members"),
            F.count("*").alias("n_probes"),
            F.count(F.when(F.col("is_member") & ~F.col("maybe_member"), 1)).alias(
                "n_false_neg"
            ),
            F.count(F.when(F.col("maybe_member"), 1)).alias("n_flagged"),
            F.count(F.when(fp, 1)).alias("n_false_pos"),
            F.round(
                F.count(F.when(fp, 1))
                * 1.0
                / F.count(F.when(~F.col("is_member"), 1)),
                6,
            ).alias("fpr_measured"),
        )
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_members",
            "n_probes",
            "n_bits_set",
            "n_flagged",
            "n_false_neg",
            "n_false_pos",
            "fpr_measured",
            F.round(F.col("n_bits_set") * 1.0 / _BLOOM_M, 6).alias("fill_ratio"),
        )
    )


_HLL_M = 256
_HLL_ALPHA = 0.718273  # 0.7213 / (1 + 1.079/m), Flajolet et al. 2007


@query(
    "agg_hll_manual",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT
                   ('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                       ::BIGINT AS hv
            FROM customer
        ),
        reg AS (
            SELECT hv % {_HLL_M} AS bucket,
                   CAST(max(CASE WHEN hv // {_HLL_M} = 0 THEN 25
                            ELSE 25 - length(bin(hv // {_HLL_M})) END)
                        AS BIGINT) AS rank
            FROM h GROUP BY hv % {_HLL_M}
        ),
        allreg AS (
            SELECT b.bucket, coalesce(reg.rank, 0) AS rank
            FROM (SELECT unnest(range({_HLL_M})) AS bucket) b
            LEFT JOIN reg ON reg.bucket = b.bucket
        ),
        est AS (
            SELECT {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                       / sum(pow(2.0, -rank)) AS raw_est,
                   CAST(count(*) FILTER (WHERE rank = 0) AS BIGINT) AS zeros,
                   CAST(sum(rank) AS BIGINT) AS reg_checksum
            FROM allreg
        ),
        ex AS (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_exact
               FROM customer)
        SELECT n_exact,
               round(CASE WHEN raw_est <= 2.5 * {_HLL_M} AND zeros > 0
                          THEN {_HLL_M} * ln({_HLL_M} * 1.0 / zeros)
                          ELSE raw_est END, 2) AS est_hll,
               zeros AS zero_registers,
               reg_checksum
        FROM est CROSS JOIN ex
    """,
    family="aggregates",
    bnlj="1-row exact-count frame crossJoined onto the 1-row estimate",
)
def agg_hll_manual(spark, sf_dir):
    """Hand-rolled HyperLogLog (Flajolet et al. 2007) with the pinned
    md5 hash bridge, completing the replayable-sketch trio (CMS =
    frequency, Bloom = membership, HLL = cardinality): m=256 registers
    keep max(rank) of the hashed key's high bits, rank computed as
    25 - length(bin(w)) — an exact INTEGER string op, no fp log2 —
    with the standard small-range linear-counting correction (zeros
    present and raw estimate <= 2.5m → m·ln(m/V)). The register state
    itself is pinned exactly (reg_checksum = Σ rank), the harmonic sum
    Σ2^-rank is a sum of exact dyadic rationals (bit-identical in any
    IEEE engine), and the one ln sits under a 2-dp rounding. Measured
    accuracy against the exact count in the same row: ~4% at
    sf0.01/0.1 (1.04/√m = 6.5% expected σ), LC-corrected ~3% at
    sf0.001. The 100 TB story matches agg_approx_distinct's native
    HLL++ but INSPECTABLE: registers are a fixed 256-row frame built
    by one map-side-combining groupBy, merged across shards/days by
    register-wise MAX — the same mergeable-state family as
    agg_cms_sketch (addition) and agg_bloom_filter (OR). Unlike the
    native sketch binary, every register is visible, testable, and
    bit-replayed by the DuckDB oracle."""
    c = table(spark, sf_dir, "customer")
    hv = F.conv(
        F.substring(F.md5(F.col("c_custkey").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("bigint")
    h = c.select(hv.alias("hv")).distinct()
    w = F.expr(f"hv div {_HLL_M}")
    # rho of an all-zero window is the window width + 1 (Flajolet rho)
    rho = F.when(w == 0, F.lit(25)).otherwise(25 - F.length(F.bin(w)))
    reg = h.groupBy((F.col("hv") % _HLL_M).alias("bucket")).agg(
        F.max(rho).cast("bigint").alias("rank")
    )
    allreg = (
        spark.range(_HLL_M)
        .select(F.col("id").alias("bucket"))
        .join(reg, "bucket", "left")
        .fillna(0, subset=["rank"])
    )
    est = allreg.agg(
        (
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            / F.sum(F.pow(F.lit(2.0), -F.col("rank")))
        ).alias("raw_est"),
        F.count(F.when(F.col("rank") == 0, 1)).alias("zeros"),
        F.sum("rank").cast("bigint").alias("reg_checksum"),
    )
    ex = c.agg(F.count_distinct("c_custkey").cast("bigint").alias("n_exact"))
    lc = F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / F.col("zeros"))
    return (
        est.crossJoin(F.broadcast(ex))
        .select(
            "n_exact",
            F.round(
                F.when(
                    (F.col("raw_est") <= 2.5 * _HLL_M) & (F.col("zeros") > 0), lc
                ).otherwise(F.col("raw_est")),
                2,
            ).alias("est_hll"),
            F.col("zeros").alias("zero_registers"),
            "reg_checksum",
        )
    )
