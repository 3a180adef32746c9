"""Central query registry.

Every operator in SURVEY.md §2 registers here via the ``@query`` decorator,
providing (a) a Spark callable ``(spark, sf_dir) -> DataFrame`` and (b) an
optional DuckDB oracle SQL string over the pre-registered table views.
``__spark_entry__.py`` simply re-exports this registry to the driver.

Column-name contract: the driver's comparator sorts columns by name before
hashing, so every computed column is aliased IDENTICALLY in the Spark code
and the oracle SQL. Float outputs are rounded to 6 decimals on both sides so
double-arithmetic-order differences between engines cannot flip the hash
(SURVEY.md §7.4 hazard 4).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL; None → driver records rows-only check
    family: str = ""
    doc: str = ""
    # Plan contract (checked by the plan audit, plans/audit.py): a
    # one-line reason per allowed plan shape, and an exchange budget.
    bnlj: str = ""
    cartesian: str = ""
    global_window: str = ""
    max_exchanges: Optional[int] = None


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: Optional[str] = None,
    family: str = "",
    *,
    bnlj: str = "",
    cartesian: str = "",
    global_window: str = "",
    max_exchanges: Optional[int] = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register an operator. ``oracle=None`` marks a rows-only (non-SQL-
    expressible or approximate) operator.

    The plan contract sits next to the code it describes: ``bnlj`` says
    why the plan may (and must) hold a BroadcastNestedLoopJoin (and how
    its build side scales), ``cartesian`` why it may (and must) hold a
    CartesianProduct, ``global_window`` why an unpartitioned
    window over a non-reduced input is the semantic, each in one line
    (the docstring prices the scale path); ``max_exchanges`` is the
    plan's shuffle budget."""

    def deco(fn: QueryFn) -> QueryFn:
        # A duplicate name would silently shadow an earlier operator (plain
        # dict assignment) — that bit us once (ml_eval_calibration, round 5),
        # so make it loud at import time.
        if name in REGISTRY:
            raise ValueError(f"duplicate query registration: {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, family=family, doc=fn.__doc__ or "",
            bnlj=bnlj, cartesian=cartesian, global_window=global_window,
            max_exchanges=max_exchanges,
        )
        return fn

    return deco


def load_all_operators() -> dict[str, QuerySpec]:
    """Import every operator module (side effect: registry population)."""
    import spark_ml_helper_spark.operators  # noqa: F401

    return REGISTRY
