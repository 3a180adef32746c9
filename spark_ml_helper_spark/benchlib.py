"""Shared bench measurement loops.

Callers: bench.py (``run_interleaved`` over ``make_runners`` for the
headline rows, ``warm_runs`` for its solo instruments), perfbench/run.py
(``make_runners`` and ``collect_garbage``) and tools/scale_probe
(``warm_runs``). The interleaved loop runs one warm-up pass, then N
timed ROUND-ROBIN passes with Python+JVM GC before every run, so box
state is common-mode across rows instead of tracking a row's position
in the suite. ``make_runners`` routes the SYNTH_GRAPH_BENCH rows to
their pinned-fixture runners, so every caller times the same quantity.
"""

from __future__ import annotations

import gc
import time

from spark_ml_helper_spark.operators.graph_bench import SYNTH_GRAPH_BENCH


def make_runners(spark, names, materialize) -> dict:
    """name -> zero-arg thunk executing one full materialization.

    Synthetic fixpoint rows get their pinned inputs built and
    localCheckpoint-ed HERE, outside any timed run — the thunk times
    the loop only."""
    return {
        name: (
            SYNTH_GRAPH_BENCH[name](spark)
            if name in SYNTH_GRAPH_BENCH
            else (lambda n=name: materialize(n))
        )
        for name in names
    }


def collect_garbage(spark) -> None:
    """Python then JVM GC: drops Python-side DataFrame refs so the
    ContextCleaner can reclaim localCheckpoint blocks before the next
    timed run."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def warm_runs(spark, run, n_runs: int = 2):
    """One warm-up call of ``run`` (JIT, plan cache, file listing), then
    ``n_runs`` timed calls with Python+JVM GC before each; returns
    ``(seconds per timed call, result of the last call)``. The solo
    timing loop of bench.py's instruments and tools/scale_probe."""
    out = run()
    times = []
    for _ in range(n_runs):
        collect_garbage(spark)
        t0 = time.perf_counter()
        out = run()
        times.append(time.perf_counter() - t0)
    return times, out


def run_interleaved(spark, runners: dict, order, n_passes: int) -> dict:
    """One warm-up pass (JIT, plan cache, file listing), then
    ``n_passes`` timed round-robin passes; returns {name: [sec/pass]}."""
    for name in order:
        runners[name]()
    all_runs: dict = {name: [] for name in order}
    for _ in range(n_passes):
        for name in order:
            collect_garbage(spark)
            t0 = time.perf_counter()
            runners[name]()
            all_runs[name].append(time.perf_counter() - t0)
    return all_runs
