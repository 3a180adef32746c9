"""Unit tests for the benchmark's pure parts; no SparkSession is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(1, str(HERE.parent.parent))  # spark_ml_helper_spark, for canon_rows

from metrics import (  # noqa: E402
    compare_record,
    pass_order,
    result_record,
    split_wall,
    union_length,
)


def test_union_of_disjoint_and_overlapping_intervals():
    assert union_length([(1, 2), (3, 5)], 0, 10) == 3
    assert union_length([(1, 4), (2, 3), (3.5, 6)], 0, 10) == 5
    assert union_length([], 0, 10) == 0


def test_union_clips_to_the_window():
    # a job that started before the window or ended after it counts only
    # its part inside the window; one wholly outside counts nothing
    assert union_length([(-5, 1), (9, 20), (30, 40)], 0, 10) == 2


def test_split_wall_gives_driver_time_as_the_uncovered_rest():
    in_job, driver = split_wall([(1, 3), (2, 4), (6, 7)], 0, 10)
    assert in_job == 4
    assert driver == 6
    assert split_wall([], 2, 5) == (0, 3)


def test_pass_order_is_a_seeded_permutation():
    names = ["a", "b", "c", "d", "e", "f"]
    first = pass_order(names, seed=7, pass_index=0)
    assert sorted(first) == names
    assert pass_order(names, seed=7, pass_index=0) == first
    orders = {tuple(pass_order(names, seed=s, pass_index=p)) for s in range(4) for p in range(4)}
    assert len(orders) > 1


def test_fingerprint_ignores_row_order_and_sees_any_cell_change():
    from spark_ml_helper_spark.check import canon_rows
    import pandas as pd

    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
    shuffled = df.iloc[[2, 0, 1]][["v", "k"]]
    rec = result_record(df.columns, canon_rows(df))
    assert compare_record(rec, result_record(shuffled.columns, canon_rows(shuffled))) == []

    changed = df.copy()
    changed.loc[1, "v"] = 0.0
    problems = compare_record(rec, result_record(changed.columns, canon_rows(changed)))
    assert len(problems) == 1 and problems[0].startswith("sha256")

    fewer = df.iloc[:2]
    problems = compare_record(rec, result_record(fewer.columns, canon_rows(fewer)))
    assert {p.split(":")[0] for p in problems} == {"rows", "sha256"}

