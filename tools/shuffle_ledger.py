"""Per-query data-VOLUME ledger from Spark's SQL status store.

The timing benches (bench.py, perfbench/) answer "how long"; this
answers the question the 100 TB design brief actually asks: HOW MUCH
DATA MOVES. For each query it materializes the plan once and aggregates
the executed plan's SQLMetrics across every SQL execution the query
triggered (fixpoint loops trigger several):

- shuffle_write_bytes / shuffle_records — total exchange volume. THE
  scale metric: a query whose shuffle volume grows super-linearly in
  input is the one that dies at 1000 executors, regardless of its
  local[32] wall time.
- shuffle_read_bytes — local + remote fetch volume (> write when an
  exchange output is read by several consumers or re-fetched across
  fixpoint rounds).
- scan_bytes — parquet bytes actually read ("size of files read"):
  column-pruning/pushdown evidence measured, not inferred from the plan.
- spill_bytes — memory-pressure canary; nonzero at small SF means the
  operator is already outgrowing partitions and will fall over at scale.
- max_node_rows — the LARGEST "number of output rows" of any single
  plan node: a pair-space blowup shows up here as ~n² long before it
  shows up in wall time.

Volumes, unlike wall times, need no warm-up, no GC discipline, and no
sentinel: they are properties of the PLAN + data, reproducible across
box temperatures — which makes decade ratios (sf0.01 → sf0.1) a
drift-proof scaling exponent. SCALE.md round-13 records the sweep.

Usage:  python -m tools.shuffle_ledger [name ...]     (default: bench.py
        HEADLINE set). Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS.
Prints one JSON line per query.

Mechanism: SharedState.statusStore() (the SQLAppStatusStore backing the
SQL UI, populated with or without the UI) — the query's executions are
the ids above the pre-materialization max (id windowing, NOT list
indices: the store evicts beyond spark.sql.ui.retainedExecutions=1000,
measured as 126/429 empty windows on the index-based first draft; a
single query staying under the cap is safe — the largest fixpoint here
triggers 134). The listener bus is drained before each window edge
(the store is fed asynchronously; fast queries otherwise land outside
their window). executionMetrics() yields formatted metric strings
("1,234", "4.6 KiB", or the multi-line "total (min, med, max)" form —
parsers below handle all three). Pure observation: no listener
registration, no event-log config, no effect on the measured plans.
"""

from __future__ import annotations

import json
import os
import re
import sys

UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}

#: metric name -> (ledger key, parser, aggregator)
SUMMED_SIZES = {
    "shuffle bytes written": "shuffle_write_bytes",
    "spill size": "spill_bytes",
    "size of files read": "scan_bytes",
}
READ_SIZES = ("local bytes read", "remote bytes read")


def parse_size(s: str) -> float | None:
    """'4.6 KiB' | '0.0 B' | 'total (min, med, max…)\\n1.0 MiB (…)' → bytes."""
    s = s.strip().splitlines()[-1].strip()
    m = re.match(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", s)
    return float(m.group(1).replace(",", "")) * UNITS[m.group(2)] if m else None


def parse_count(s: str) -> int | None:
    """'1,234' (optionally in the multi-line total form) → int."""
    s = s.strip().splitlines()[-1].strip()
    m = re.match(r"([\d,]+)", s.split(" ")[0])
    return int(m.group(1).replace(",", "")) if m else None


def max_execution_id(store) -> int:
    """Largest executionId currently in the store (-1 when empty).

    Windowing by EXECUTION ID, not list index: the store retains only
    `spark.sql.ui.retainedExecutions` (default 1000) entries, so on a
    long multi-query sweep the oldest executions are EVICTED — list
    size plateaus (every query after the cap read n_execs=0, measured:
    126/429) and indices shift under concurrent eviction. Ids are
    monotonic and the executions just produced are the newest, never
    the evicted ones, so an id window stays correct at any sweep
    length."""
    execs = store.executionsList()
    n = execs.size()
    return max(
        (execs.apply(i).executionId() for i in range(n)), default=-1
    )


def drain_listener_bus(spark) -> None:
    """The status store is fed ASYNCHRONOUSLY by the listener bus:
    right after save() returns, the execution (or its final metric
    values) may not be in the store yet, which mis-attributes fast
    queries to their successor's [first, last) window (observed:
    126/429 entries read n_execs=0 before this drain). The same
    barrier Spark's own test suites use; degrade to a fixed sleep
    if the private accessor moves."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10000)
    except Exception:
        import time

        time.sleep(1.0)


def execution_window(spark, fn, sf_dir: str) -> tuple:
    """Run one query through the noop sink inside an execution-id window.

    Drains the listener bus, takes max_execution_id, builds
    ``fn(spark, sf_dir)`` and writes it to the noop sink, then drains
    again. Returns ``(store, after_id)``: the executions the query
    triggered — actions during plan construction included — are the
    store's executions with id > after_id."""
    store = spark._jsparkSession.sharedState().statusStore()
    drain_listener_bus(spark)
    after_id = max_execution_id(store)
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    drain_listener_bus(spark)
    return store, after_id


def collect_execution_metrics(store, after_id: int) -> dict:
    """Aggregate SQLMetrics over every execution with id > after_id."""
    agg: dict[str, list[str]] = {}
    n_execs = 0
    execs = store.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() <= after_id:
            continue
        n_execs += 1
        vals = store.executionMetrics(e.executionId())
        mets = e.metrics()
        for j in range(mets.size()):
            m = mets.apply(j)
            if vals.contains(m.accumulatorId()):
                agg.setdefault(m.name(), []).append(vals.apply(m.accumulatorId()))
    out = {"n_execs": n_execs}
    for name, key in SUMMED_SIZES.items():
        out[key] = round(
            sum(v for v in map(parse_size, agg.get(name, [])) if v), 1
        )
    out["shuffle_read_bytes"] = round(
        sum(
            v
            for name in READ_SIZES
            for v in map(parse_size, agg.get(name, []))
            if v
        ),
        1,
    )
    out["shuffle_records"] = sum(
        v for v in map(parse_count, agg.get("shuffle records written", [])) if v
    )
    rows = [v for v in map(parse_count, agg.get("number of output rows", [])) if v]
    out["max_node_rows"] = max(rows) if rows else 0
    return out


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not names:
        from bench import HEADLINE

        names = list(HEADLINE)

    from spark_ml_helper_spark.registry import REGISTRY, load_all_operators
    from spark_ml_helper_spark.session import get_spark

    load_all_operators()
    spark = get_spark(app_name="smhs-shuffle-ledger", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        store, after_id = execution_window(spark, REGISTRY[name].fn, sf_dir)
        rec = {"query": name, "sf_dir": sf_dir}
        rec.update(collect_execution_metrics(store, after_id))
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
