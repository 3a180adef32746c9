"""Driver-held rows as SQL text.

``spark.createDataFrame(<python list>, ddl)`` is ``sc.parallelize`` plus a
re-serializing ``PythonRDD``: every action over the frame starts a Python
worker task. Rendering the same rows as a typed
``inline(array(named_struct(...)))`` generator keeps them in the plan as
literals, so reading them needs no Python worker. Warm, 12 rows collected:
0.32 s as createDataFrame, 0.07 s as SQL text (OPERATING.md, loop bodies).

Use ``spark.sql(f"SELECT {inline_rows(rows, ddl)}")`` for a standalone
table, or ``df.selectExpr(inline_rows(rows, ddl), *cols)`` to project the
rows onto a 1-row frame (no join, no broadcast).
"""

from __future__ import annotations


def sql_literal(value, sql_type: str) -> str:
    """One typed SQL literal. Doubles are written as
    ``CAST('<repr>' AS DOUBLE)``: Python's repr is the shortest string that
    round-trips, and Spark's string cast reads it back to the same bits
    (``nan``, ``inf`` and ``-inf`` included)."""
    t = sql_type.upper()
    if value is None:
        return f"CAST(NULL AS {t})"
    if t == "DOUBLE":
        return f"CAST('{float(value)!r}' AS DOUBLE)"
    if t in ("INT", "BIGINT"):
        return f"CAST({int(value)} AS {t})"
    if t == "BOOLEAN":
        return "TRUE" if value else "FALSE"
    if t == "STRING":
        s = str(value).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    raise ValueError(f"no SQL literal for type {sql_type!r}")


def inline_rows(rows, ddl: str) -> str:
    """A generator expression yielding ``rows`` (tuples in ``ddl`` column
    order) with the column names and types of ``ddl``, a flat
    ``"name type, ..."`` list. An empty ``rows`` still yields the typed
    columns, with zero rows."""
    fields = [part.split() for part in ddl.split(",")]

    def struct(row):
        return "named_struct(" + ", ".join(
            f"'{name}', {sql_literal(v, t)}" for (name, t), v in zip(fields, row, strict=True)
        ) + ")"

    if not rows:
        return f"inline(filter(array({struct([None] * len(fields))}), r -> false))"
    return f"inline(array({', '.join(struct(row) for row in rows)}))"
