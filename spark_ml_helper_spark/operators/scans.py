"""Scans, sources, sinks — SURVEY.md §2.A.

Scale notes: parquet scans are the only data entry point; correctness of
pushdown here is what makes every downstream operator viable at 100 TB.
``scan_pruned`` is paired with an explain()-based test asserting
PushedFilters/ReadSchema actually reach the scan.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from spark_ml_helper_spark.functions.literals import inline_rows
from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.session import staging_dir
from spark_ml_helper_spark.sources.parquet import table


@query(
    "scan_parquet",
    oracle="SELECT * FROM lineitem",
    family="scans",
)
def scan_parquet(spark, sf_dir):
    """Full-fidelity parquet scan of the widest table (all columns)."""
    return table(spark, sf_dir, "lineitem")


@query(
    "scan_pruned",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 200000.0
    """,
    family="scans",
    max_exchanges=0,
)
def scan_pruned(spark, sf_dir):
    """Column-pruned + predicate-pushed scan: only 2 of 6 columns read, and
    the filter reaches the parquet reader (verified via explain in tests)."""
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 200000.0)
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "sink_parquet",
    oracle="SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders",
    family="scans",
)
def sink_parquet(spark, sf_dir):
    """Write → re-read round trip (parquet sink fidelity, incl. ntz
    timestamps). Scale note: on a cluster the write is the shuffle-free
    per-partition path; here we write to a temp dir and read it back."""
    out = staging_dir(prefix="smhs_sink_") + "/orders_roundtrip"
    df = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    df.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "source_json_col",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
    """,
    family="scans",
    max_exchanges=0,  # map-side JSON extraction
)
def source_json_col(spark, sf_dir):
    """Parse a JSON-encoded string column (events.props = '{"k": <int>}').

    Uses get_json_object (JVM-side, codegen'd); at scale this beats any
    Python-side json.loads by orders of magnitude."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@query(
    "scan_observed",
    oracle="""
        SELECT count(*) AS n_rows,
               round(sum(l_quantity), 6) AS sum_qty,
               count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted
        FROM lineitem
    """,
    family="scans",
)
def scan_observed(spark, sf_dir):
    """Observation metrics (df.observe): named aggregates collected AS A
    SIDE EFFECT of executing another action over the frame — the
    zero-extra-pass way to emit row counts / quality counters from a
    production job (vs. a second full scan per metric). The observed map
    is returned as the result frame here so the oracle can hash-check the
    metric VALUES; in production the result would be the data itself and
    the metrics would feed monitoring."""
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("li_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the "real" action
    m = obs.get
    row = (m["n_rows"], m["sum_qty"], m["n_discounted"])
    return spark.sql(
        f"SELECT {inline_rows([row], 'n_rows bigint, sum_qty double, n_discounted bigint')}"
    )


@query(
    "scan_file_rowcounts",
    oracle="""
        SELECT 'orders.parquet' AS file_name,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'lineitem.parquet', CAST(count(*) AS BIGINT)
        FROM lineitem
    """,
    family="scans",
)
def scan_file_rowcounts(spark, sf_dir):
    """Per-file row counts via the hidden `_metadata.file_name` column —
    the small-files diagnosis query (feeds compact_small_files: a
    table whose file row counts are tiny and many needs compaction;
    one huge file needs splitting). `_metadata` is populated by the
    file reader per split with NO extra I/O, the count aggregates
    map-side per file, and the output is |files| rows at any scale —
    this is how you audit a 100 TB table's file layout without
    touching the object-store listing API. The oracle can't read file
    paths through the driver's table views, so it pins the fixture's
    known single-file-per-table layout — the Spark side must DERIVE
    exactly those basenames from `_metadata`, which is the plumbing
    under test."""
    dfs = [
        table(spark, sf_dir, t).select(
            F.regexp_extract(F.col("_metadata.file_name"), r"([^/]+)$", 1).alias(
                "file_name"
            )
        )
        for t in ("orders", "lineitem")
    ]
    u = dfs[0].unionAll(dfs[1])
    return u.groupBy("file_name").agg(F.count("*").alias("n_rows"))


@query(
    "source_synthetic",
    oracle="""
        SELECT i AS id,
               ['alpha', 'beta', 'gamma', 'delta', 'epsilon'][(i % 5) + 1]
                   AS category,
               round((('0x' || substring(md5(CAST(i AS VARCHAR)), 1, 8))::BIGINT
                      % 1000000) / 1000.0, 3) AS value,
               TIMESTAMP '2024-01-01' + INTERVAL (i % 30) DAY AS d
        FROM range(0, 10000) t(i)
    """,
    family="scans",
)
def source_synthetic(spark, sf_dir):
    """Deterministic synthetic-data generator — the dbgen pattern on
    the engine itself: spark.range() provides the distributed integer
    spine (N rows split across tasks with zero input I/O) and every
    column is a PURE FUNCTION of the row id (modular category,
    md5-derived uniform value, cyclic date), so the "data" is
    reproducible across engines, partitionings, and scales — the same
    hash discipline as train_test_split. This is how you scale-test a
    pipeline at 100 TB without a 100 TB fixture: range(1e12) costs
    nothing until computed, generation is map-only and
    embarrassingly parallel, and any slice regenerates independently.
    The md5-uniform is the engine-neutral PRNG; never use rand()
    (partition-layout-dependent) for data anyone will compare."""
    return spark.range(0, 10000).select(
        F.col("id"),
        F.element_at(
            F.array(*[F.lit(c) for c in ["alpha", "beta", "gamma", "delta", "epsilon"]]),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("category"),
        F.round(
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("id").cast("string").cast("binary")), 1, 8),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(1000000),
            )
            / 1000.0,
            3,
        ).alias("value"),
        F.expr(
            "TIMESTAMP '2024-01-01' + make_interval(0, 0, 0, CAST(id % 30 AS INT), 0, 0, 0)"
        ).alias("d"),
    )
