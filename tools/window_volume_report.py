"""Measured input volume of every Window node in a query's executed plan.

Each query that keeps a global window declares WHY on its registration
(``@query(..., global_window="...")``) — "bounded by construction: k=8",
"group cardinality", "global cumsum with a per-shard scale path". This
tool turns those claims into MEASURED numbers: it executes each query
and reads, for every Window node in the executed plan, the row count
actually flowing into it (per-node SQLMetrics via the status store's
plan graph — the Window node itself carries only a spill metric, so
the walk descends the plan graph to the first descendant exposing
"number of output rows" / "records read", taking the max across join
branches).

Usage: python -m tools.window_volume_report [name ...]
       (default: every query declaring ``global_window``). Honors
       SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS. One JSON line per query.

Measured at sf0.01 / sf0.1 (2026-08-16, recorded in SCALE.md): the
bounded-class claims hold exactly — `ml_pca` **8 / 8** rows into both windows (k=8,
input-size-INDEPENDENT), `ml_eval_auc` + `ml_eval_calibration`
500 / 2,000 (distinct-rounded-score cardinality, sub-linear),
`win_pareto_frontier` 1,500 / 14,999 (customer-group cardinality) —
while the documented full-stream trades measure at exactly their
declared table cardinality: `sort_multi` 1,500 / 15,000 (customer),
`feature_quantile_bucket` 15,000 / 150,000 (orders — the largest
retained global stream, its docstring prices the approx-percentile
scale path), `join_nearest_value` 1,600 / 16,000 (merged spine),
and the documents-table cumsums (`corpus_token_budget`,
`corpus_pack_sequences`, `pipeline_pretrain_report` ×5 stage windows)
at 500 / 5,000.
"""

from __future__ import annotations

import json
import os
import re
import sys

_WINDOW_NODES = ("Window", "WindowInPandas")
_ROW_METRICS = ("number of output rows", "records read")


def _parse_rows(s: str) -> int | None:
    s = s.strip().splitlines()[-1].split(" ")[0]
    m = re.match(r"([\d,]+)", s)
    return int(m.group(1).replace(",", "")) if m else None


def plan_graph_maps(store, eid: int) -> tuple[dict, dict, "object"]:
    """(node-by-id, children-by-id, metric-values) of one executed plan.
    Children map follows data flow: edge fromId → toId means fromId
    FEEDS toId, so children[to] lists the nodes below it."""
    g = store.planGraph(eid)
    vals = store.executionMetrics(eid)
    nodes, edges = g.allNodes(), g.edges()
    byid: dict = {}
    children: dict = {}
    for j in range(nodes.size()):
        n = nodes.apply(j)
        byid[n.id()] = n
    for j in range(edges.size()):
        e = edges.apply(j)
        children.setdefault(e.toId(), []).append(e.fromId())
    return byid, children, vals


def node_rows(byid: dict, vals, nid: int) -> int | None:
    """The node's own row metric, if it exposes one."""
    n = byid.get(nid)
    if n is None:
        return None
    mets = n.metrics()
    for k in range(mets.size()):
        m = mets.apply(k)
        if m.name() in _ROW_METRICS and vals.contains(m.accumulatorId()):
            return _parse_rows(vals.apply(m.accumulatorId()))
    return None


def descendant_frontier_rows(
    byid: dict, children: dict, vals, nid: int
) -> int | None:
    """Max row metric over the first row-bearing descendant frontier of
    ``nid`` (max across join branches); None if no descendant exposes
    one (e.g. a driver-local ExistingRDD leaf — exactly the case the
    static audit cannot size either)."""
    seen: set = set()
    frontier = list(children.get(nid, []))
    got = None
    while frontier:
        c = frontier.pop()
        if c in seen:
            continue
        seen.add(c)
        r = node_rows(byid, vals, c)
        if r is not None:
            got = r if got is None else max(got, r)
        else:
            frontier.extend(children.get(c, []))
    return got


def iter_execution_ids(store, after_id: int):
    execs = store.executionsList()
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid > after_id:
            yield eid


def window_input_rows(store, after_id: int) -> list:
    """[(execution_id, node_name, input_rows)] for every Window node in
    executions with id > after_id."""
    out = []
    for eid in iter_execution_ids(store, after_id):
        byid, children, vals = plan_graph_maps(store, eid)
        for nid, n in byid.items():
            if n.name() not in _WINDOW_NODES:
                continue
            got = descendant_frontier_rows(byid, children, vals, nid)
            out.append((eid, n.name(), got))
    return out


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from spark_ml_helper_spark.registry import REGISTRY, load_all_operators
    from spark_ml_helper_spark.session import get_spark

    load_all_operators()
    names = sys.argv[1:] or [n for n, s in REGISTRY.items() if s.global_window]
    spark = get_spark(app_name="smhs-window-volume", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from tools.shuffle_ledger import execution_window

    for name in names:
        store, after_id = execution_window(spark, REGISTRY[name].fn, sf_dir)
        wins = window_input_rows(store, after_id)
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    "windows": [
                        {"exec": e, "node": n, "input_rows": r}
                        for e, n, r in wins
                    ],
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
