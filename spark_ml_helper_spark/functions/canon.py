"""Cross-engine canonical serialization of array columns.

The driver's comparator loads both result sets into pandas and sorts by
every column before hashing; a list-valued cell makes that sort raise
``TypeError: unhashable type: 'list'`` (observed in CORRECTNESS_r01
``agg_collect``). So no SQL-oracled query may return an array column —
instead both sides serialize arrays to one canonical string:

- delimiter ``|`` (absent from all fixture token/name domains),
- numeric elements rendered via DECIMAL(38,6) → string, which formats
  identically in Spark and DuckDB (verified: ``1.000000``, ``0.123457``,
  ``0.000000`` for -0.0, no scientific notation),
- empty array → ``''`` and NULL → NULL on both engines.

DuckDB twins (paste into oracle SQL):
- strings:  ``array_to_string(X, '|')``
- doubles:  ``array_to_string(list_transform(X,
              x -> CAST(CAST(round(x, 6) AS DECIMAL(38,6)) AS VARCHAR)), '|')``
- integers: ``array_to_string(list_transform(X, x -> CAST(x AS VARCHAR)), '|')``
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "|"


def round_half_up(x: float, digits: int) -> float:
    """Driver-side round() with HALF_UP ties — the mode F.round and
    DuckDB's round() share. Python's builtin round() is banker's
    half-even, which disagrees exactly on the 0.5·10^-digits grid; any
    driver-side fold state that the oracle replays through SQL round()
    must use this instead (r17 verdict item 1 closed the class: the
    Mann-Whitney test replay hit the grid at rank-biserial 0.3515625).
    Decimal(repr(x)) reproduces Spark's BigDecimal.valueOf(double)
    shortest-representation semantics.

    Non-finite x passes through unchanged (ADVICE r18): Decimal
    quantize raises InvalidOperation on inf/NaN, where the builtin
    round() this replaced propagated them — a diverging gradient fold
    should surface as an inspectable inf/NaN result, not a mid-loop
    crash."""
    if not math.isfinite(x):
        return x
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def join_str_array(a: Column) -> Column:
    """array<string> → canonical '|'-joined string."""
    return F.array_join(a, SEP)


def join_double_array(a: Column) -> Column:
    """array<double-ish> → '|'-joined string of round-6 DECIMAL renderings."""
    return F.array_join(
        F.transform(a, lambda x: F.round(x.cast("double"), 6).cast("decimal(38,6)").cast("string")),
        SEP,
    )


def join_int_array(a: Column) -> Column:
    """array<int-ish> → '|'-joined string."""
    return F.array_join(F.transform(a, lambda x: x.cast("string")), SEP)
