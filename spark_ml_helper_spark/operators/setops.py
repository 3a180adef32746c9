"""Sorts, limits, set operations, deduplication — SURVEY.md §2.F.

Set ops map 1:1 to Spark: UNION ALL = unionByName, UNION = +distinct,
INTERSECT/EXCEPT are distinct-semantics (matching ANSI). Survivor choice in
subset-dedup is made deterministic (min key wins) — nondeterministic
dropDuplicates can never be oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table


@query(
    "sort_multi",
    oracle="""
        SELECT c_custkey, c_nationkey, c_acctbal,
               rank() OVER (ORDER BY c_nationkey ASC, c_acctbal DESC, c_custkey ASC) AS global_pos
        FROM customer
    """,
    family="setops",
    global_window="total order is the contract (rank column demo)",
)
def sort_multi(spark, sf_dir):
    """Multi-key mixed-direction global sort, materialized as an explicit
    global position so the (order-insensitive) hash still verifies ordering.
    Scale note: the global window here is a single-reducer pattern — kept
    ONLY because a total order is the semantic; Spark's orderBy itself
    range-partitions and scales fine when you don't need the rank column."""
    c = table(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_nationkey").asc(), F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return c.select(
        "c_custkey", "c_nationkey", "c_acctbal", F.rank().over(w).cast("bigint").alias("global_pos")
    )


@query(
    "limit_topk",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    family="setops",
)
def limit_topk(spark, sf_dir):
    """Global top-k: Spark plans TakeOrderedAndProject — each task keeps a
    k-heap, driver merges k·tasks rows; no global sort ever materializes.
    That is exactly the 100 TB-safe shape for small k."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@query(
    "set_union_all",
    oracle="""
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    """,
    family="setops",
)
def set_union_all(spark, sf_dir):
    """UNION ALL (bag semantics — BUILDING rows appear twice, proving no
    implicit dedup). unionByName: zero-shuffle concatenation."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    a = c.filter(F.col("c_mktsegment") == "BUILDING")
    b = c.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
    return a.unionByName(b)


@query(
    "set_union",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        UNION
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    family="setops",
)
def set_union(spark, sf_dir):
    """UNION DISTINCT (concat + hash-distinct shuffle)."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.unionByName(b).distinct()


@query(
    "set_intersect",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    family="setops",
)
def set_intersect(spark, sf_dir):
    """INTERSECT (distinct semantics): customers with both open and filled
    orders."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@query(
    "set_except",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    family="setops",
)
def set_except(spark, sf_dir):
    """EXCEPT (distinct semantics): customers with open but no filled
    orders."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.subtract(b)


@query(
    "distinct_subset",
    oracle="""
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment
        FROM (
            SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
                   row_number() OVER (
                       PARTITION BY c_nationkey, c_mktsegment ORDER BY c_custkey
                   ) AS rn
            FROM customer
        ) WHERE rn = 1
    """,
    family="setops",
)
def distinct_subset(spark, sf_dir):
    """Deduplicate on a column subset with a DETERMINISTIC survivor (min
    c_custkey per (nation, segment)). Raw dropDuplicates picks an arbitrary
    survivor — unusable under a value-hash contract and unreproducible in
    production pipelines; this is the form this engine ships."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy("c_custkey")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    )


@query(
    "set_intersect_all",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    family="setops",
)
def set_intersect_all(spark, sf_dir):
    """INTERSECT ALL (bag semantics): each customer key appears
    min(#open, #filled) times — the multiplicity-preserving form the
    distinct variant (set_intersect) throws away, and the one
    reconciliation jobs need when row COUNTS carry meaning
    ("how many order slots match on both sides"). Spark's
    intersectAll plans as a counted hash aggregate per side + a
    min-of-counts regenerate — one shuffle per side on the key, no
    row-pair join. Exact integer multiplicities — bit-stable."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersectAll(b)


@query(
    "set_except_all",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    family="setops",
)
def set_except_all(spark, sf_dir):
    """EXCEPT ALL (bag semantics): each customer key survives
    max(#open − #filled, 0) times — multiset subtraction, the form
    that answers "how many MORE open than filled orders does each
    customer have" in one operator (the distinct EXCEPT collapses
    that to membership). Same counted-aggregate plan shape as
    INTERSECT ALL; exact integer multiplicities."""
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.exceptAll(b)
