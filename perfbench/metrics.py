"""Pure arithmetic of the benchmark: no Spark, no I/O.

Everything here is unit-tested in perfbench/tests without a SparkSession:
the seed-to-order permutation, the union of job intervals that splits a
query's wall time into in-job and driver time, and the order-insensitive
result fingerprint.
"""

from __future__ import annotations

import hashlib
import json
import random


def pass_order(names, seed: int, pass_index: int) -> list:
    """The query order of one pass: a permutation of ``names`` fixed by
    (seed, pass_index). The same seed gives the same orders in every run."""
    rng = random.Random(seed * 1_000_003 + pass_index)
    return rng.sample(list(names), len(names))


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of [start, end] intervals clipped to [lo, hi].

    Jobs of one query can overlap (async broadcasts, subqueries), so the
    in-job time is the union of their intervals, not the sum."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def split_wall(intervals, lo: float, hi: float) -> tuple[float, float]:
    """(in_job_s, driver_s) of the window [lo, hi]: driver time is the wall
    time that no job interval covers."""
    in_job = union_length(intervals, lo, hi)
    return in_job, (hi - lo) - in_job


def fingerprint(rows) -> str:
    """sha256 over canonical row tuples (``check.canon_rows`` output, which
    is already sorted), so equal row multisets give equal digests."""
    h = hashlib.sha256()
    for row in rows:
        h.update(json.dumps(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def result_record(columns, rows) -> dict:
    """What the expected file stores for one oracled query."""
    return {
        "columns": sorted(columns),
        "rows": len(rows),
        "sha256": fingerprint(rows),
    }


def compare_record(expected: dict, got: dict) -> list[str]:
    """Human-readable differences between two result records (empty when
    they agree)."""
    return [
        f"{key}: expected {expected.get(key)!r}, got {got.get(key)!r}"
        for key in ("columns", "rows", "sha256")
        if expected.get(key) != got.get(key)
    ]
