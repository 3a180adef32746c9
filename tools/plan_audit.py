"""Whole-registry plan audit: every query's physical plan against the
contract it declares on its ``@query`` registration.

Prints one JSON line per query: the plan_summary dict (exchanges, join
strategies, nested-loop/cartesian counts, codegen spans, pushdown
coverage), the global-window risk count, and the contract violations
(plans.audit.contract_violations: an undeclared BroadcastNestedLoopJoin,
CartesianProduct or global window, a declared one no longer planned, an
exchange count over ``max_exchanges``). A
last line gives the totals and exit status is 1 if any query violates
its contract or fails to build.

The sweep covers every registered query, graph/ml/streaming/scale
included: CI (tests/test_pipeline.py) builds only PLAN_AUDIT_FAMILIES
plus the declaring queries, because building the other plans runs
fixpoints, MLlib fits and stream runs. Use it to spot a regressed plan
(new Exchange, lost broadcast, lost pushdown) before the bench does.

Usage: python -m tools.plan_audit [name ...]   (default: every query)
Honors SPARK_GRAFT_SF_DIR (default sf0.01) / SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    from spark_ml_helper_spark.plans.audit import (
        contract_violations,
        explain_formatted,
        global_window_risks,
        plan_summary,
    )
    from spark_ml_helper_spark.registry import REGISTRY, load_all_operators
    from spark_ml_helper_spark.session import get_spark

    load_all_operators()
    names = sys.argv[1:] or list(REGISTRY)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="smhs-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    bad, cartesian, t0 = [], [], time.time()
    for name in names:
        spec = REGISTRY[name]
        try:
            plan = explain_formatted(spec.fn(spark, sf_dir))
        except Exception as exc:  # report, keep going
            bad.append(name)
            print(json.dumps({"query": name, "error": str(exc)[:120]}), flush=True)
            continue
        rec = {"query": name, **plan_summary(plan)}
        rec["global_window_risks"] = len(global_window_risks(plan))
        rec["violations"] = contract_violations(spec, plan)
        if rec["violations"]:
            bad.append(name)
        if rec["cartesian_products"]:
            cartesian.append(name)
        print(json.dumps(rec), flush=True)
    print(
        json.dumps(
            {
                "audited": len(names),
                "failing": bad,
                "cartesian": cartesian,
                "sf_dir": sf_dir,
                "seconds": round(time.time() - t0),
            }
        ),
        flush=True,
    )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
