"""Output checks, run once per run outside the timed passes.

- SQL-oracled queries: columns, row count and an order-insensitive
  fingerprint of ``check.canon_rows`` must equal the record that
  make_expected.py wrote from the query's DuckDB oracle.
- Synthetic graph rows: the closed-form facts of the pinned fixture (the
  facts tests/test_pipeline.py::test_synth_graph_bench_fixtures derives at
  a scaled-down pin).

Each check returns a list of problems; an empty list means the output is
correct.
"""

from __future__ import annotations

from contextlib import contextmanager

import spark_ml_helper_spark.operators.graph_bench as gb
from spark_ml_helper_spark.check import canon_rows
from spark_ml_helper_spark.registry import REGISTRY

from metrics import compare_record, result_record


def coreness_sizes(df) -> dict:
    return {r["coreness"]: r["count"] for r in df.groupBy("coreness").count().collect()}


#: synthetic graph row -> (facts of its output, the facts' closed form)
SYNTHETIC_FACTS = {
    # a size-s clique has coreness s-1, so each level holds CORE_COPIES*s nodes
    "graph_coreness": (
        coreness_sizes,
        lambda: {s - 1: gb.CORE_COPIES * s for s in gb.CORE_SIZES},
    ),
}


@contextmanager
def graph_sink(wrap):
    """Replace the noop sink that every SYNTH_GRAPH_BENCH runner ends with
    by ``wrap(original_sink)`` for the duration of the block."""
    sink = gb._noop
    gb._noop = wrap(sink)
    try:
        yield
    finally:
        gb._noop = sink


def check_synthetic(name: str, runner) -> list[str]:
    """Run the SYNTH_GRAPH_BENCH thunk once with its noop sink swapped for
    a capture, then compare the output's facts to the closed form."""
    captured = []
    with graph_sink(lambda _sink: captured.append):
        runner()
    facts, closed_form = SYNTHETIC_FACTS[name]
    got, expected = facts(captured[0]), closed_form()
    return [f"{name}: expected {expected}, got {got}"] if got != expected else []


def check_query(spark, name: str, sf_dir: str, expected: dict, runners: dict) -> list[str]:
    if name in gb.SYNTH_GRAPH_BENCH:
        return check_synthetic(name, runners[name])
    pdf = REGISTRY[name].fn(spark, sf_dir).toPandas()
    return [
        f"{name}: {p}"
        for p in compare_record(expected[name], result_record(pdf.columns, canon_rows(pdf)))
    ]
