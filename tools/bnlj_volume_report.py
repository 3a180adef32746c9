"""Measured build-side volume of every BroadcastNestedLoopJoin.

Each query that keeps a nested-loop join declares it on its
registration (``@query(..., bnlj="...")``) as "a broadcast of a
constant-size stat/spine frame" — a 1-row global aggregate joined back
to the stream, a bucket spine, a date grid. A nested-loop join over
anything NOT constant-size is a scale defect, so the claim deserves a
number: this tool executes each query and reads, for every BNLJ node in
the executed plan, the row count of the BroadcastExchange actually
feeding it (per-node SQLMetrics via the plan graph — the first
BroadcastExchange reached walking DOWN from the BNLJ node is the build
side; the probe side has no broadcast on its path).

Usage: python -m tools.bnlj_volume_report [name ...]
       (default: every query declaring ``bnlj``; a query that plans an
       undeclared BNLJ is what `python -m tools.plan_audit` reports).
Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS. One JSON line per query
that contains at least one BNLJ; a summary line at the end gives the
registry-wide maximum.

Measured (2026-08-16, SCALE.md round-13): see SCALE.md's round-13
entry for the registry-wide sweep numbers at sf0.01 and sf0.1. The
tool's own first draft was a finding: a BFS that descended into the
probe subtree counted nested broadcast-HASH-join dimensions as BNLJ
frames (orders_return_rate read 150k); the build-side-only walk is the
corrected measurement.
"""

from __future__ import annotations

import json
import os
import sys


#: AQE wrapper nodes the build-side walk may descend THROUGH — anything
#: else on a direct-child path is the probe subtree and must not be
#: entered (a BroadcastExchange deeper inside the probe side belongs to
#: a nested broadcast-HASH-join, not to this BNLJ: the first sweep
#: counted those and misread orders_return_rate's probe-side 15k-row
#: dimension broadcast as the BNLJ frame).
_BUILD_WRAPPERS = ("QueryStage", "ReusedExchange", "AQEShuffleRead")


def bnlj_build_rows(store, after_id: int) -> list:
    """[(execution_id, build_rows)] for every BNLJ node in executions
    with id > after_id. build_rows is the row metric of the
    BroadcastExchange on the join's BUILD side: a DIRECT child of the
    BNLJ node, possibly behind AQE wrapper nodes (None if no row metric
    is exposed, e.g. a ReusedExchange referent — report, don't guess)."""
    from tools.window_volume_report import (
        iter_execution_ids,
        node_rows,
        plan_graph_maps,
    )

    out = []
    for eid in iter_execution_ids(store, after_id):
        byid, children, vals = plan_graph_maps(store, eid)
        for nid, n in byid.items():
            if "BroadcastNestedLoopJoin" not in n.name():
                continue
            got = None
            frontier = list(children.get(nid, []))
            seen: set = set()
            while frontier:
                c = frontier.pop()
                if c in seen:
                    continue
                seen.add(c)
                cn = byid.get(c)
                if cn is None:
                    continue
                if "BroadcastExchange" in cn.name():
                    r = node_rows(byid, vals, c)
                    if r is not None:
                        got = r if got is None else max(got, r)
                elif any(w in cn.name() for w in _BUILD_WRAPPERS):
                    frontier.extend(children.get(c, []))
                # anything else: probe subtree — do not descend
            out.append((eid, got))
    return out


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from spark_ml_helper_spark.registry import REGISTRY, load_all_operators
    from spark_ml_helper_spark.session import get_spark

    load_all_operators()
    names = sys.argv[1:] or [n for n, s in REGISTRY.items() if s.bnlj]
    spark = get_spark(app_name="smhs-bnlj-volume", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from tools.shuffle_ledger import execution_window

    overall = 0
    for name in names:
        store, after_id = execution_window(spark, REGISTRY[name].fn, sf_dir)
        joins = bnlj_build_rows(store, after_id)
        if not joins:
            continue
        rows = [r for _, r in joins if r is not None]
        overall = max(overall, max(rows, default=0))
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    "bnlj_build_rows": rows,
                    "max_build_rows": max(rows, default=None),
                }
            ),
            flush=True,
        )
    print(json.dumps({"registry_max_bnlj_build_rows": overall, "sf_dir": sf_dir}), flush=True)


if __name__ == "__main__":
    main()
