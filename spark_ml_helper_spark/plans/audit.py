"""Physical-plan inspection utilities and the plan-contract check.

The engine's scale posture (pushdown reaches the scan, dims broadcast,
aggs have partial phases, no accidental nested-loop joins) is a property
of the PLAN, not of any test dataset — these helpers extract that
evidence from a DataFrame so tests and tools can assert it. Each query
declares the plan shapes it is allowed on its ``@query`` registration
(``bnlj``, ``cartesian``, ``global_window``, ``max_exchanges``);
`contract_violations`
checks one plan against that declaration. Used by the CI plan audit
(tests/test_pipeline.py, over PLAN_AUDIT_FAMILIES) and by
`python -m tools.plan_audit` (every registered query).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: Families whose plans CI builds: plan construction there is plan
#: inspection, not minutes of work. Left out: graph/ml/streaming/scale,
#: where building a plan runs fixpoints, MLlib fits or stream runs —
#: `python -m tools.plan_audit` sweeps those with the rest.
PLAN_AUDIT_FAMILIES = frozenset({
    "joins", "aggregates", "windows", "setops", "analytics", "timeseries",
    "mlprep", "sqlapi", "filters", "scans", "reshape", "vectors",
    "corpus", "curation", "text", "functions", "pipeline",
    "multimodal", "sources", "udfs",
})


def _plan_text(df_or_plan) -> str:
    return df_or_plan if isinstance(df_or_plan, str) else explain_formatted(df_or_plan)


def explain_formatted(df: DataFrame) -> str:
    """The `explain("formatted")` text, without printing to stdout."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_summary(df_or_plan) -> dict:
    """One-line health summary of a physical plan (a DataFrame or its
    formatted plan text).

    Keys: exchanges (shuffle boundaries), reused_exchanges,
    broadcast_joins / sortmerge_joins / nested_loop_joins /
    cartesian_products, partial_aggs (HashAggregate nodes before the
    final merge — partial→final pairs show up as 2 nodes per agg),
    codegen_spans (WholeStageCodegen regions), parquet_scans, and
    scans_with_pushdown (scans whose PushedFilters is non-empty).
    """
    plan = _plan_text(df_or_plan)
    # count TREE nodes "(n) Op", not the details section that repeats
    # each operator name as a header. Node names are matched by PREFIX:
    # a catalog-qualified scan renders as e.g.
    # "(1) Scan parquet spark_catalog.db.t" and must still count as a
    # parquet scan (exact-equality matching silently read 0 for those).
    nodes = [n.strip() for n in re.findall(r"\(\d+\) ([A-Za-z][A-Za-z_. ]*)", plan)]

    def count_prefix(prefix: str) -> int:
        return sum(1 for n in nodes if n == prefix or n.startswith(prefix + " "))

    pushed = re.findall(r"PushedFilters: \[(?!\])", plan)
    return {
        "exchanges": count_prefix("Exchange"),
        "reused_exchanges": count_prefix("ReusedExchange"),
        "broadcast_joins": count_prefix("BroadcastHashJoin"),
        "sortmerge_joins": count_prefix("SortMergeJoin"),
        "nested_loop_joins": count_prefix("BroadcastNestedLoopJoin"),
        "cartesian_products": count_prefix("CartesianProduct"),
        "partial_aggs": count_prefix("HashAggregate"),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "parquet_scans": count_prefix("Scan parquet"),
        "scans_with_pushdown": len(pushed),
    }


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan — the column-pruning evidence:
    a scan that reads all columns for a two-column projection is wrong."""
    plan = explain_formatted(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def parse_plan_tree(plan: str) -> list[dict]:
    """Parse the tree section(s) of ``explain('formatted')`` into a flat
    node list ``[{'id', 'name', 'depth'}]`` in pre-order. A node's subtree
    is the contiguous run of following nodes with strictly greater depth —
    enough structure to ask "is there an aggregate below this window?"
    without reaching into Catalyst internals. Detail-section headers like
    ``(4) Window`` start with '(' and are ignored by construction.

    Codegen-starred lines — ``+- * HashAggregate (3)``, the rendering
    non-AQE plans use for whole-stage-codegen nodes — parse like their
    unstarred twins: the star is consumed OUTSIDE the indent group, so
    depth stays comparable with unstarred siblings (round-13 advice: the
    old indent class dropped these nodes entirely, and a reducing
    aggregate vanishing from the tree false-positived
    ``global_window_risks`` on reduced-input global windows whenever AQE
    was off)."""
    nodes = []
    for line in plan.splitlines():
        m = re.match(
            r"^([ :+|\-]*)(?:\*\s*)?([A-Za-z][\w .]*?)\s*\((\d+)\)\s*$", line
        )
        if not m:
            continue
        indent, name, nid = m.groups()
        nodes.append({"id": int(nid), "name": name.strip(), "depth": len(indent)})
    return nodes


def _top_level_group_texts(s: str) -> list:
    """The top-level ``[...]`` group contents of a detail Arguments string."""
    depth = 0
    groups = []
    buf = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def _global_window_ids(plan: str) -> set:
    """Window-node ids whose spec has NO partition clause but DOES sort.

    The formatted Arguments line renders the spec as top-level bracket
    groups, and the four shapes are distinguishable:
      ``[funcs], [partition], [order]`` — partitioned + ordered: fine
      ``[funcs], [partition]``          — partition-only: fine
      ``[funcs], [order ... ASC/DESC]`` — GLOBAL SORT: every row to one task
      ``[funcs]``                       — global unordered agg frame: also
                                          single-partition (flagged too)
    A 2-group spec is an order spec (not a partition spec) iff it carries
    sort directions."""
    out = set()
    for m in re.finditer(
        r"^\((\d+)\) Window(?:InPandas)?\s*$((?:\n(?!\().*)*)", plan, re.M
    ):
        nid, block = int(m.group(1)), m.group(2)
        am = re.search(r"^Arguments: (.*)$", block, re.M)
        if not am:
            continue
        groups = _top_level_group_texts(am.group(1))
        if len(groups) >= 3:
            continue  # [funcs], [partition], [order]
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC)\b", groups[1]):
            continue  # [funcs], [partition] — partition-only, parallel
        out.add(nid)
    return out


#: Nodes below a global window that bound its input to a small frame:
#: aggregates reduce to group cardinality; limit-style nodes cap rows.
_REDUCING_NODES = frozenset(
    {
        "HashAggregate",
        "SortAggregate",
        "ObjectHashAggregate",
        "TakeOrderedAndProject",
        "CollectLimit",
        "GlobalLimit",
    }
)


def _reuse_referents(plan: str) -> dict:
    """ReusedExchange node id → referent operator id.

    The tree line renders a reuse as a bare leaf (``+- ReusedExchange
    (8)``); the referent lives only in the detail section
    (``(8) ReusedExchange [Reuses operator id: 4]``), so resolution needs
    the full plan text, not just the parsed tree."""
    return {
        int(a): int(b)
        for a, b in re.findall(
            r"^\((\d+)\) ReusedExchange\b.*?Reuses operator id: (\d+)",
            plan,
            re.M,
        )
    }


def _all_leaf_paths_reduced(
    nodes: list, i: int, reuse: dict | None = None, _seen: frozenset = frozenset()
) -> bool:
    """True iff EVERY leaf path under ``nodes[i]`` passes through a
    reducing node. A single reducing node anywhere in the subtree is not
    enough: a HashAggregate on the BUILD side of a join bounds that
    branch only, while the probe side still streams its full frame into
    the window above (the round-13 advice's audit false negative). The
    pre-order walk keeps a covered-ancestor stack, so a leaf counts as
    bounded only when a reducing node dominates it.

    A ``ReusedExchange`` leaf is resolved through ``reuse`` (the
    detail-section referent map): the leaf carries exactly the rows its
    referent exchange emits, so it counts as bounded iff every leaf path
    under the REFERENT crosses a reducing node — recursively, with a
    visited set so a malformed self-referential map degrades to the
    conservative non-reduced reading instead of recursing forever.
    (Reducing nodes ABOVE the referent elsewhere in the tree do not
    vouch for the reuse: they bound a different edge of the DAG, not the
    exchange's own output.) In practice Spark's ReuseExchange picks the
    innermost common exchange, so the reducing aggregate usually stays
    visible above the reuse leaf and this path rarely fires — it exists
    so the detector is exact, not merely conservative, on reuse plans."""
    wdepth = nodes[i]["depth"]
    j = i + 1
    sub = []
    while j < len(nodes) and nodes[j]["depth"] > wdepth:
        sub.append(nodes[j])
        j += 1
    if not sub:
        return False  # no visible input — conservatively non-reduced
    stack: list = []  # (depth, covered-by-reducing-ancestor-or-self)
    for k, n in enumerate(sub):
        while stack and stack[-1][0] >= n["depth"]:
            stack.pop()
        covered = (stack[-1][1] if stack else False) or (
            n["name"].split(" ")[0] in _REDUCING_NODES
        )
        stack.append((n["depth"], covered))
        is_leaf = k + 1 == len(sub) or sub[k + 1]["depth"] <= n["depth"]
        if is_leaf and not covered:
            if not _reuse_leaf_reduced(nodes, n, reuse, _seen):
                return False
    return True


def _reuse_leaf_reduced(
    nodes: list, leaf: dict, reuse: dict | None, _seen: frozenset
) -> bool:
    """Resolve an uncovered leaf through the exchange-reuse map.

    Bounded iff the leaf is a ReusedExchange whose referent subtree is
    itself all-leaf-paths-reduced. Anything unresolvable (no map, unknown
    referent id, reuse cycle) stays non-reduced — the conservative
    direction: the detector may flag, never silently pass."""
    if leaf["name"].split(" ")[0] != "ReusedExchange" or not reuse:
        return False
    # Cycle guard keys on the LEAF id — the same id space _seen
    # accumulates below. Guarding on ref_id (an Exchange id, disjoint
    # space) let a mutual cycle (reuse A → exchange E ⊃ reuse B →
    # exchange F ⊃ reuse A) recurse to RecursionError (round-14 advice).
    if leaf["id"] in _seen:
        return False
    ref_id = reuse.get(leaf["id"])
    if ref_id is None:
        return False
    for r, cand in enumerate(nodes):
        if cand["id"] == ref_id:
            return _all_leaf_paths_reduced(
                nodes, r, reuse, _seen | {leaf["id"]}
            )
    return False


def global_window_risks(df_or_plan) -> list:
    """Scale-killer detector: WindowExec with NO partition spec over a
    NON-REDUCED input. An unpartitioned window forces every input row —
    payload included — through a single task (SinglePartition exchange +
    one-task sort), which is a full-table single-machine sort at 100 TB.
    It is legitimate only when the input is already reduced (an aggregate
    or limit below bounds the frame to group-cardinality / top-k rows) —
    and "below" means DOMINATING: every leaf path under the window must
    cross a reducing node, so an aggregate on one join branch cannot
    vouch for the other branch's full-size probe stream
    (_all_leaf_paths_reduced). Returns one finding string per risky
    Window node; [] is a clean plan. The vec_pairwise_dist_hist round-11
    defect (row_number over the full embeddings table to keep 100 rows)
    is exactly this class — fixed with orderBy().limit() →
    TakeOrderedAndProject, which this rule accepts.

    A ReusedExchange leaf is resolved through the detail section's
    ``[Reuses operator id: N]`` referent (_reuse_leaf_reduced): it counts
    as bounded iff the referent exchange's own subtree is reduced.
    Unresolvable reuse (missing detail line, cycle) stays non-reduced —
    the conservative direction: the detector may flag, never silently
    pass, such plans."""
    plan = _plan_text(df_or_plan)
    nodes = parse_plan_tree(plan)
    global_ids = _global_window_ids(plan)
    reuse = _reuse_referents(plan)
    risks = []
    for i, n in enumerate(nodes):
        if n["name"] not in ("Window", "WindowInPandas"):
            continue
        if n["id"] not in global_ids:
            continue  # has a PARTITION BY — parallel by construction
        if not _all_leaf_paths_reduced(nodes, i, reuse):
            risks.append(
                f"Window({n['id']}): global sort over non-reduced input "
                "(single-task full-frame sort at scale)"
            )
    return risks


def contract_violations(spec, plan: str) -> list[str]:
    """Where ``plan`` breaks the contract ``spec`` (a registry QuerySpec)
    declares, one ``"<property>: <finding>"`` string each; [] is a clean
    plan. A BroadcastNestedLoopJoin, a CartesianProduct or a global window
    over a non-reduced input needs a declared reason, in any family, and
    a declared one must still be planned — a stale declaration would
    hide the next, unbounded one."""
    s = plan_summary(plan)
    out = []
    if s["nested_loop_joins"] and not spec.bnlj:
        out.append("bnlj: undeclared BroadcastNestedLoopJoin")
    if spec.bnlj and not s["nested_loop_joins"]:
        out.append("bnlj: declared, but no BroadcastNestedLoopJoin planned")
    if s["cartesian_products"] and not spec.cartesian:
        out.append("cartesian: undeclared CartesianProduct")
    if spec.cartesian and not s["cartesian_products"]:
        out.append("cartesian: declared, but no CartesianProduct planned")
    risky = bool(global_window_risks(plan))
    if risky and not spec.global_window:
        out.append("global_window: undeclared global window over non-reduced input")
    if spec.global_window and not risky:
        out.append("global_window: declared, but no global window planned")
    if spec.max_exchanges is not None and s["exchanges"] > spec.max_exchanges:
        out.append(f"max_exchanges: {s['exchanges']} over {spec.max_exchanges}")
    return out
