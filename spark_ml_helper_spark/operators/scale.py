"""Scale-pattern operators: the shuffle-management techniques a 100 TB
deployment leans on, demonstrated as oracle-checked queries so the
techniques themselves are correctness-tested.

- salted join: breaks hot keys across S sub-keys (skew mitigation when AQE
  skew-splitting isn't enough or the engine predates it)
- bucketed join: co-located storage join — both sides pre-bucketed on the
  key so the join runs with ZERO shuffle at read time
- partitioned sink: hive-style partition layout + partition-pruned re-read
- csv/json sinks: interchange-format round trips

Each produces the same rows as its unsalted/unbucketed twin, which is
exactly what the DuckDB oracle asserts.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.session import staging_dir
from spark_ml_helper_spark.sources.parquet import table


@query(
    "join_skew_salted",
    oracle="""
        SELECT o.o_custkey, count(*) AS n_li, round(sum(l.l_extendedprice), 6) AS revenue
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey
    """,
    family="scale",
)
def join_skew_salted(spark, sf_dir):
    """Hot-key-split skew-salted join + two-phase aggregation — the
    production form of salting: a probe-side key-frequency agg finds the
    HOT keys (> T rows), ONLY those keys take the salted path (probe rows
    get a random-free deterministic salt = line number % S, the build
    side's hot rows explode S ways), while the cold majority runs a plain
    join untouched; partial aggregates from both paths union and fold to
    the final group. Salting everything S-tuples the build side for no
    reason; salting nothing melts one reducer per hot key — the split
    pays the explode exactly where the skew is. Result is provably
    identical to the plain join (the oracle). The threshold is set low
    (T=6) so the fixture's near-uniform keys exercise BOTH paths at
    every scale factor; at 100 TB with a power-law key T comes from the
    partition-size budget (rows per key a single reducer can hold). The
    hot-key dictionary is frequency-bounded and broadcasts. (AQE
    skew-join does this adaptively for the join alone; the explicit
    split composes with the downstream aggregation too.)

    Measured (SCALE.md round-13; the probe is
    ``git show a87ea52:tools/scale_probe_skew.py`` — the fixture's
    uniform keys can't show this, so the probe builds a 30%-hot
    synthetic key): plain shuffle-join reducer skew is a
    scale-invariant 14.5x max/median partition rows across three
    decades; this split cuts it to 3.5-4.3x, and its wall beats the
    plain join's once the hot reducer is the critical path (2.55 s vs
    3.01 s at 20M rows on idle local[32]; on a cluster the crossover
    comes earlier, where the hot reducer spills or dies)."""
    S = 8
    HOT_T = 6
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_linenumber"
    )
    hot = (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > HOT_T)
        .select(F.col("l_orderkey").alias("hot_key"))
    )
    li_flag = li.join(
        F.broadcast(hot), li.l_orderkey == F.col("hot_key"), "left"
    )
    li_hot = li_flag.filter(F.col("hot_key").isNotNull()).select(
        "l_orderkey",
        "l_extendedprice",
        (F.pmod(F.col("l_linenumber").cast("bigint"), F.lit(S))).alias("l_salt"),
    )
    li_cold = li_flag.filter(F.col("hot_key").isNull()).select(
        "l_orderkey", "l_extendedprice"
    )
    o_flag = o.join(F.broadcast(hot), o.o_orderkey == F.col("hot_key"), "left")
    o_hot = (
        o_flag.filter(F.col("hot_key").isNotNull())
        .select("o_orderkey", "o_custkey")
        .withColumn("salt", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(S)])))
    )
    o_cold = o_flag.filter(F.col("hot_key").isNull()).select("o_orderkey", "o_custkey")
    hot_partial = (
        o_hot.join(li_hot, (o_hot.o_orderkey == li_hot.l_orderkey) & (o_hot.salt == li_hot.l_salt))
        .groupBy("o_custkey", "salt")
        .agg(F.count("*").alias("n_li_p"), F.sum("l_extendedprice").alias("rev_p"))
        .select("o_custkey", "n_li_p", "rev_p")
    )
    cold_partial = (
        o_cold.join(li_cold, o_cold.o_orderkey == li_cold.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_li_p"), F.sum("l_extendedprice").alias("rev_p"))
    )
    return (
        hot_partial.unionByName(cold_partial)
        .groupBy("o_custkey")
        .agg(F.sum("n_li_p").alias("n_li"), F.round(F.sum("rev_p"), 6).alias("revenue"))
    )


@query(
    "join_bucketed",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice, count(*) AS n_items
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    """,
    family="scale",
    max_exchanges=0,  # zero-Exchange is this operator's contract
)
def join_bucketed(spark, sf_dir):
    """Co-located bucketed join: both sides written bucketBy(8, key) into
    the warehouse, then joined — Spark reads bucket i of each side into the
    same task, so the join (and the follow-up groupBy on the same key)
    needs NO shuffle at query time. This is the 100 TB pattern for fact⋈fact
    joins that repeat across jobs: pay the shuffle once at write time,
    amortize it over every subsequent join. Plan shape (no Exchange before
    SortMergeJoin) is asserted in tests."""
    import shutil

    o_tbl, l_tbl = "smhs_bkt_orders", "smhs_bkt_lineitem"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in (o_tbl, l_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)  # stale location from a prior session
    table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").saveAsTable(o_tbl)
    table(spark, sf_dir, "lineitem").select("l_orderkey").write.bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").mode("overwrite").saveAsTable(l_tbl)
    o = spark.table(o_tbl)
    # merge hint: at test scale the planner would broadcast the lineitem
    # side, which is exactly what a fact⋈fact join cannot do at 100 TB —
    # pin sort-merge so the plan demonstrates the zero-shuffle bucket path
    li = spark.table(l_tbl).hint("merge")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count("*").alias("n_items"))
    )


@query(
    "sink_partitioned",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE year(o_orderdate) = 1997
    """,
    family="scale",
)
def sink_partitioned(spark, sf_dir):
    """Hive-partitioned sink + partition-pruned re-read: write orders
    partitioned by order year, read back with a partition filter — the scan
    must touch ONLY the matching directory (PartitionFilters in the plan,
    asserted in tests). At 100 TB partition layout is the first and
    cheapest pruning lever, ahead of row-group stats and indexes."""
    out = staging_dir(prefix="smhs_part_") + "/orders_by_year"
    (
        table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("o_year") == 1997)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


@query(
    "join_dpp",
    oracle="""
        SELECT year(o.o_orderdate) AS o_year,
               count(*) AS n,
               round(sum(o.o_totalprice), 2) AS total
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND year(o.o_orderdate) IN (1996, 1997)
        GROUP BY year(o.o_orderdate)
    """,
    family="scale",
)
def join_dpp(spark, sf_dir):
    """Dynamic partition pruning: a year-partitioned fact joined to a
    filtered dim, with the partition filter expressed ON THE FACT via an
    IN list the optimizer can push to partition discovery, plus a dim
    predicate that arrives at the fact scan as a DPP subquery when the
    planner chooses it. Either way the scan must read 2 of 7 year
    directories — at 100 TB partition pruning is the difference between
    scanning 30 TB and 300 GB. The static prune is asserted via
    PartitionFilters in tests."""
    out = staging_dir(prefix="smhs_dpp_") + "/orders_by_year"
    (
        table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(out)
    )
    facts = spark.read.parquet(out).filter(F.col("o_year").isin(1996, 1997))
    dim = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        facts.join(F.broadcast(dim), facts.o_custkey == dim.c_custkey)
        .groupBy("o_year")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(F.col("o_year").cast("bigint").alias("o_year"), "n", "total")
    )


@query(
    "agg_incremental",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total,
               round(sum(o_totalprice) / count(*), 6) AS avg_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    family="scale",
)
def agg_incremental(spark, sf_dir):
    """Incremental aggregation via mergeable partial states — the pattern
    that avoids recomputing a 100 TB rollup when a day of data lands:
    keep (count, sum) per group as the stored state, aggregate ONLY the
    delta batch to the same state shape, union the two state sets and
    re-reduce, then finish derived measures (avg = sum/count) at the end.
    Here the 'stored' state is orders before 1998 and the 'delta' is the
    1998+ batch; the oracle aggregates the whole table in one pass — a
    hash match proves merge(partial(a), partial(b)) == full(a ∪ b).
    Every Spark partial agg works this way internally; this operator is
    the USER-level form for persisted rollups. avg is finished from
    merged sums, never averaged-of-averages."""
    o = table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp_ntz")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"), F.sum("o_totalprice").alias("total_raw")
        )

    stored = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(o.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        stored.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n"), F.sum("total_raw").alias("total_raw"))
    )
    return merged.select(
        "o_orderpriority",
        "n",
        F.round("total_raw", 2).alias("total"),
        F.round(F.col("total_raw") / F.col("n"), 6).alias("avg_price"),
    )


@query(
    "sink_csv",
    oracle="SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 6) AS acctbal FROM customer",
    family="scale",
)
def sink_csv(spark, sf_dir):
    """CSV round trip (header + explicit schema on re-read; CSV carries no
    types, so the re-read schema is pinned rather than inferred — inference
    is a full extra pass at scale and non-deterministic under sampling)."""
    out = staging_dir(prefix="smhs_csv_") + "/customer_csv"
    df = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", F.round("c_acctbal", 6).alias("acctbal")
    )
    df.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema("c_custkey bigint, c_name string, c_mktsegment string, acctbal double").option(
        "header", True
    ).csv(out)


@query(
    "sink_json",
    oracle="SELECT event_id, event_type, round(value, 6) AS val FROM events",
    family="scale",
)
def sink_json(spark, sf_dir):
    """JSON-lines round trip with pinned re-read schema (same rationale as
    sink_csv; JSONL is the interchange format of most LLM data tooling)."""
    out = staging_dir(prefix="smhs_json_") + "/events_json"
    df = table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 6).alias("val")
    )
    df.write.mode("overwrite").json(out)
    return spark.read.schema("event_id bigint, event_type string, val double").json(out)


@query(
    "sink_orc",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_returnflag,
               round(l_extendedprice, 2) AS price
        FROM lineitem WHERE l_returnflag = 'R'
    """,
    family="scale",
)
def sink_orc(spark, sf_dir):
    """ORC round trip: columnar-to-columnar re-encode (parquet → ORC →
    read back). ORC is self-describing like parquet — no schema pin needed
    on re-read — and Spark's vectorized ORC reader supports the same
    predicate pushdown/column pruning. The filter runs on the RE-READ side
    to prove pushdown into the ORC scan; the oracle reads the original
    parquet, so a hash match proves the re-encode is lossless."""
    out = staging_dir(prefix="smhs_orc_") + "/lineitem_orc"
    df = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", F.round("l_extendedprice", 2).alias("price")
    )
    df.write.mode("overwrite").orc(out)
    return spark.read.orc(out).filter(F.col("l_returnflag") == "R")


@query(
    "upsert_scd1",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ),
        updates AS (
            SELECT o_orderkey, 'U' AS o_orderstatus,
                   round(o_totalprice + 1000.0, 2) AS o_totalprice
            FROM orders WHERE o_orderkey % 7 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, 'N', round(o_totalprice, 2)
            FROM orders WHERE o_orderkey % 1000 = 0
        )
        SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
               coalesce(u.o_orderstatus, b.o_orderstatus) AS status,
               round(coalesce(u.o_totalprice, b.o_totalprice), 2) AS price
        FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    """,
    family="scale",
)
def upsert_scd1(spark, sf_dir):
    """SCD-type-1 upsert (the MERGE INTO pattern) on plain Spark: a batch
    of changes — updates to existing keys plus brand-new keys — applied
    onto a base snapshot via one full outer join on the key, update
    winning per column. This is the CDC-apply shape every lakehouse job
    runs; without a transactional table format the merged result is
    written as the next snapshot (blind overwrite), which stays correct
    because the join is deterministic. One shuffle each side on the
    upsert key; at 100 TB partition/bucket both sides by key so repeated
    daily merges skip the re-shuffle, and switch the full outer join to a
    broadcast variant when the change batch is small (it usually is)."""
    o = table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    updates = (
        base.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            # additive adjustment, not multiplicative: a ×1.1 product lands
            # on exact .005 rounding boundaries where Spark's HALF_UP (on
            # the exact decimal expansion) and DuckDB's scaled-double round
            # disagree; +1000.00 keeps values on the 2-decimal grid
            F.lit("U").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") + 1000.0, 2).alias("o_totalprice"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 1000 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.round("o_totalprice", 2).alias("o_totalprice"),
            )
        )
    )
    b, u = base.alias("b"), updates.alias("u")
    return (
        b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full")
        .select(
            F.coalesce("u.o_orderkey", "b.o_orderkey").alias("o_orderkey"),
            F.coalesce("u.o_orderstatus", "b.o_orderstatus").alias("status"),
            F.round(F.coalesce("u.o_totalprice", "b.o_totalprice"), 2).alias("price"),
        )
    )


@query(
    "upsert_scd2",
    oracle="""
        SELECT o_custkey,
               o_orderstatus AS status,
               o_orderdate   AS valid_from,
               lead(o_orderdate) OVER w AS valid_to,
               (lead(o_orderdate) OVER w IS NULL) AS is_current
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    family="scale",
)
def upsert_scd2(spark, sf_dir):
    """SCD-type-2 dimension build from a change log: per key (customer),
    each status change opens a validity interval [valid_from, valid_to)
    closed by the NEXT change's timestamp via lead(); the open interval is
    the current row. Orders acts as the change log (key=o_custkey,
    attr=o_orderstatus, ts=o_orderdate, o_orderkey as the deterministic
    same-timestamp tiebreak). One shuffle on the key for the window sort —
    the same key-partitioned shape a MERGE-based SCD-2 apply needs, so at
    100 TB bucket the dimension by key and the daily rebuild is
    shuffle-free."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "sink_clustered",
    oracle="""
        SELECT o_orderkey, o_orderdate, round(o_totalprice, 2) AS price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01'
          AND o_orderdate <  TIMESTAMP '1999-07-01'
    """,
    family="scale",
)
def sink_clustered(spark, sf_dir):
    """Range-clustered data layout for stat-based skipping: rewrite
    orders range-partitioned AND sorted by o_orderdate, then serve a
    date-range query from the clustered copy. Because each file (and
    each parquet row group) now covers a narrow, disjoint date range,
    the min/max footer stats let the scan skip everything outside the
    predicate — the intra-file complement to hive-partition pruning
    (sink_partitioned), and the lever that turns a 100 TB full scan
    into a few-GB read for time-ranged queries. The rewrite costs one
    range shuffle (sampled boundaries, even output files) + a local
    sort; repartitionByRange is the two-column z-order-lite that covers
    the single-dimension case exactly."""
    out = staging_dir(prefix="smhs_cluster_") + "/orders_by_date"
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    (
        o.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    lo = F.lit("1999-01-01").cast("timestamp_ntz")
    hi = F.lit("1999-07-01").cast("timestamp_ntz")
    return (
        spark.read.parquet(out)
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("price"))
    )


_SKEW_TOP_K = 10


@query(
    "profile_skew",
    oracle=f"""
        WITH cnt AS (
            SELECT l_partkey AS key, count(*) AS cnt
            FROM lineitem GROUP BY l_partkey
        ),
        tot AS (
            SELECT sum(cnt) AS n_rows, count(*) AS n_keys, max(cnt) AS max_cnt
            FROM cnt
        )
        SELECT key, cnt,
               CAST(n_rows AS BIGINT) AS n_rows, n_keys,
               round(cnt * n_keys / n_rows, 6) AS skew_ratio,
               round(max_cnt * n_keys / n_rows, 6) AS max_skew_ratio
        FROM cnt CROSS JOIN tot
        ORDER BY cnt DESC, key
        LIMIT {_SKEW_TOP_K}
    """,
    family="scale",
    bnlj="1-row total broadcast onto the per-key counts",
)
def profile_skew(spark, sf_dir):
    """Join-key skew profiler: the diagnostic you run BEFORE a 100 TB
    join to decide whether join_skew_salted's hot-key path is needed.
    Per-key counts on the prospective key (l_partkey), the table-level
    totals, and the top-10 heaviest keys with their skew ratio
    (count / mean-count = cnt·n_keys/n_rows — a ratio of exact
    integers, so cross-engine bit-stable). One hash agg with map-side
    partials does the counting; totals are a second agg over the
    per-key frame broadcast back; the top-k is TakeOrderedAndProject
    (heap per partition, no global sort), ordered by (cnt desc, key)
    for a deterministic cut. This is exactly the frequency pass
    join_skew_salted (scale.py:36) runs internally — surfaced as its
    own report so the salting threshold is chosen from data, not
    guessed."""
    li = table(spark, sf_dir, "lineitem")
    cnt = li.groupBy(F.col("l_partkey").alias("key")).agg(F.count("*").alias("cnt"))
    tot = cnt.agg(
        F.sum("cnt").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    return (
        cnt.join(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            "n_keys",
            F.round(F.col("cnt") * F.col("n_keys") / F.col("n_rows"), 6).alias(
                "skew_ratio"
            ),
            F.round(F.col("max_cnt") * F.col("n_keys") / F.col("n_rows"), 6).alias(
                "max_skew_ratio"
            ),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(_SKEW_TOP_K)
    )


@query(
    "join_runtime_bloom",
    oracle="""
        SELECT l_returnflag, count(*) AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag
    """,
    family="scale",
)
def join_runtime_bloom(spark, sf_dir):
    """Runtime Bloom-filter semi-join reduction — the 100 TB technique
    where the selective dimension side (URGENT orders) builds a Bloom
    filter DURING execution and the fact scan (lineitem) drops
    non-matching rows BEFORE the join shuffle, cutting shuffle bytes by
    the join selectivity (~20% here). Spark 4 injects this
    automatically (`might_contain(xxhash64(l_orderkey))` on the probe
    side, `bloom_filter_agg` on the build side — asserted in the plan
    test) once the application-side scan threshold is met; production
    100 TB scans clear the default 10 GB threshold on their own, so
    the only non-default conf here exists to reproduce the plan on MB
    fixtures. The confs are set on an ISOLATED spark.newSession()
    (shared SparkContext, private SQLConf), so disabling broadcast to
    force the shuffle-join path cannot leak into other operators
    sharing the driver's session. Result is conf-independent — the
    Bloom filter is a pure pre-shuffle reduction — which the SQL
    oracle confirms."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = table(s2, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    li = table(s2, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            # 2 dp, not 6: these per-flag sums reach ~2e9, where engine
            # summation-order drift (~1e-5) crosses a 1e-6 rounding grid
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


def _morton_expr(x: str, y: str) -> str:
    """16+16-bit Morton (Z-order) interleave as a pure-SQL bit expression,
    identical text for Spark and DuckDB (both support >> << & on BIGINT)."""
    terms = []
    for i in range(16):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_MORTON = _morton_expr("x", "y")


@query(
    "sink_zorder",
    oracle=f"""
        WITH keys AS (
            SELECT o_orderkey,
                   CAST(o_custkey % 65536 AS BIGINT) AS x,
                   CAST(date_diff('day', DATE '1995-01-01',
                        CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS y
            FROM orders
        )
        SELECT o_orderkey, CAST({_MORTON} AS BIGINT) AS zorder_key
        FROM keys
    """,
    family="scale",
)
def sink_zorder(spark, sf_dir):
    """Z-ORDER clustering sink: interleave the bits of (custkey, order
    day) into a Morton code, sort-within-partitions by it, and write —
    the multi-dimensional data-skipping layout behind Delta/Iceberg
    OPTIMIZE ZORDER, built from nothing but bit arithmetic. Rows close
    in BOTH dimensions land in the same files, so parquet min/max
    stats prune scans filtered on EITHER column (a plain sort helps
    only its leading column). The Morton code is a 32-term exact
    integer bit expression — the identical text runs on both engines,
    and the oracle checks the codes themselves; the write is
    sortWithinPartitions (no extra shuffle beyond the clustering
    repartition) to a staging dir, re-read for output. At 100 TB:
    repartitionByRange on the z-key first so file boundaries follow
    the curve, and widen to 3-4 dimensions by 21/16-bit interleave."""
    out = staging_dir(prefix="smhs_zorder_") + "/orders_z"
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).cast("bigint").alias("x"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("dd"),
    ).withColumn("y", (F.col("dd") % 65536).cast("bigint"))
    z = o.selectExpr("o_orderkey", f"CAST({_MORTON} AS BIGINT) AS zorder_key")
    z.sortWithinPartitions("zorder_key").write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).select("o_orderkey", "zorder_key")


@query(
    "agg_ivm_merge",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(round(value, 6)), 4) AS sum_v,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY event_type
    """,
    family="scale",
)
def agg_ivm_merge(spark, sf_dir):
    """Incremental view maintenance, PROVEN: the per-type aggregate is
    computed as base (days 1-29) + delta (day 30) with the partial
    states MERGED — counts add, sums add, distinct-user sets union via
    re-aggregation of (type, user) keys — and the ORACLE is the full
    recompute, so the hash match IS the IVM correctness proof
    (merge(f(A), f(B)) = f(A ∪ B) for these mergeable aggregates).
    This is the daily-pipeline pattern at 100 TB: never rescan
    history, maintain partial states per day/partition and fold the
    new day in (agg_incremental shows the partial-merge plan; this
    shows the temporal split end-to-end). The distinct-count merge
    must keep (type, user) grain until the final fold — a distinct
    COUNT per side would be wrong, the classic IVM trap, which is why
    the merge carries sets (or at scale, HLL sketches — mergeable by
    design, agg_hll_sketch)."""
    e = table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-30").cast("date")
    v6 = F.round("value", 6)
    base_days = e.where(F.col("ts").cast("date") < cutoff)
    delta_day = e.where(F.col("ts").cast("date") >= cutoff)

    def partial(df):
        # mergeable state: (type, user) grain with count/sum partials
        return df.groupBy("event_type", "user_id").agg(
            F.count("*").alias("pn"), F.sum(v6).alias("ps")
        )

    merged = partial(base_days).unionAll(partial(delta_day))
    return (
        merged.groupBy("event_type", "user_id")
        .agg(F.sum("pn").alias("pn"), F.sum("ps").alias("ps"))
        .groupBy("event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.round(F.sum("ps"), 4).alias("sum_v"),
            F.count("*").alias("n_users"),
        )
    )
