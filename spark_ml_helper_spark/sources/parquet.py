"""Parquet sources: the ten driver-provided tables.

Every read declares its schema (``SCHEMAS``, FIXTURES.md is the spec), so
``spark.read.schema(ddl).parquet(path)`` plans from the DDL and launches no
job: an undeclared ``spark.read.parquet`` runs one schema-inference job per
read (95-120 ms warm, even for the 5-row ``region``). The vectorized reader
still checks each file's footer against the declared types, and filters
and column projections placed on these DataFrames push down to the scan
(assert with ``plans.explain_utils``). ``tests/test_pipeline.py`` pins each
declared schema to the inferred one for every fixture copy, so fixture
drift fails loudly.

``events.ts`` is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) in every
fixture copy, read as TIMESTAMP_NTZ (the session is pinned to UTC).

Scale note (100 TB): at the design target each "table" is a directory of
many files, possibly partitioned; ``spark.read.parquet`` handles both
identically, and a declared schema skips the inference pass that would
otherwise list and sample the directory on every read. Nothing here
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_ml_helper_spark.session import apply_runtime_confs

SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, "
        "p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLES = list(SCHEMAS)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table with its declared schema."""
    apply_runtime_confs(spark)
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all ten tables and register them as temp views (mirrors the
    DuckDB oracle side, which pre-registers the same view names)."""
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
