"""Engine benchmark: one workload per run, in a fresh SparkSession.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads, their queries and the load shape
are declared in perfbench/workloads.json. One run:

1. set-up: ``session.get_spark`` + ``registry.load_all_operators`` + the
   synthetic graph fixtures (``benchlib.make_runners``);
2. cold pass: the first execution of every query in the fresh session, in
   declared order;
3. verification (untimed, doubles as warm-up): every output is checked
   once against perfbench/expected.json or its closed-form facts;
4. warm-up: untimed passes for WARMUP_S seconds;
5. warm passes, one after another until ``--seconds`` have passed (at
   least MIN_PASSES).

Before every timed query both the Python and the JVM collectors run. A
pass's time is the sum of its queries' times. The seed permutes the query
order of every pass but the cold one. With ``--trace 1`` half of the warm
passes are traced and the run reports per-layer metrics (perfbench/tracing.py)
instead of the end-to-end ones.

The last stdout line is the result JSON; the line before it holds the
per-query details and sample counts. Spark logs go to stderr.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path
from statistics import geometric_mean, median

from metrics import pass_order, split_wall

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIN_PASSES = 3
#: untimed warm-up after verification, in seconds
WARMUP_S = 10
#: counters that must repeat exactly between traced warm passes
REPEATING = ("py4j.calls", "catalyst.executions", "checkpoint.calls")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine(work_dir: Path, cpus: int, driver_memory: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work_dir``
    and size the session; must run before pyspark launches its JVM."""
    tmp = work_dir / "tmp"
    tmp.mkdir(parents=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(work_dir / "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=driver_memory,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
        SPARK_LAUNCHER_OPTS=java_opts,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


class Workload:
    """One run of one workload in one SparkSession."""

    def __init__(self, spark, queries, sf_dir: str, runners: dict, clock: dict):
        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.runners = runners
        self.clock = clock
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_query(self, name: str) -> float:
        """GC, then one timed execution; a raising query counts as failed
        and the run goes on."""
        from spark_ml_helper_spark.benchlib import collect_garbage

        collect_garbage(self.spark)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.runners[name]()
        except Exception as exc:  # a failing query must not end the run
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
        return time.perf_counter() - t0

    def run_pass(self, order) -> dict:
        return {name: self.run_query(name) for name in order}

    def verify(self, order, expected: dict) -> None:
        from verify import check_query

        for name in order:
            self.attempted += 1
            try:
                problems = check_query(self.spark, name, self.sf_dir, expected, self.runners)
            except Exception as exc:  # a failing query must not end the run
                problems = [f"{name}: {type(exc).__name__}: {exc}"[:500]]
            if problems:
                self.failed += 1
                self.errors.extend(problems)


def build(spark, queries, sf_dir: str, clock: dict):
    """The runners of ``benchlib.make_runners``. ``clock["built"]`` is set
    when a query's DataFrame is built and its noop sink is about to run, so
    the traced run can split operator build time from the action (synthetic
    graph runners are marked by ``traced_pass``)."""
    from spark_ml_helper_spark.benchlib import make_runners
    from spark_ml_helper_spark.registry import REGISTRY

    def materialize(name: str) -> None:
        df = REGISTRY[name].fn(spark, sf_dir)
        clock["built"] = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()

    return make_runners(spark, queries, materialize)


def traced_pass(work: Workload, order) -> tuple[dict, dict]:
    """One warm pass with every layer instrument on: per-query wall time
    and per-query layer counts."""
    from spark_ml_helper_spark.benchlib import collect_garbage
    from tracing import CheckpointCounter, Py4JCounter, StatusStore
    from verify import graph_sink

    def mark_built(sink):
        # registry queries are marked by build()'s materialize
        def marked(df):
            work.clock["built"] = time.perf_counter()
            sink(df)

        return marked

    store = StatusStore(work.spark)
    times, layers = {}, {}
    with graph_sink(mark_built), Py4JCounter(work.spark) as py4j, CheckpointCounter() as ckpt:
        for name in order:
            collect_garbage(work.spark)
            edge = store.edge()
            calls0, ckpt0 = py4j.calls, ckpt.calls
            work.attempted += 1
            lo = time.time()
            work.clock["built"] = None
            t0 = time.perf_counter()
            try:
                work.runners[name]()
            except Exception as exc:  # a failing query must not end the run
                work.failed += 1
                work.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
            t1, hi = time.perf_counter(), time.time()
            # counters first: the store reads below are py4j calls too
            rec = {
                "py4j.calls": py4j.calls - calls0,
                "checkpoint.calls": ckpt.calls - ckpt0,
                "operators.build_s": (work.clock["built"] or t1) - t0,
            }
            layer = store.read(edge)
            rec["spark.in_job_s"], rec["spark.driver_s"] = split_wall(layer.pop("intervals"), lo, hi)
            rec.update(layer)
            times[name], layers[name] = t1 - t0, rec
    return times, layers


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "spark_ml_helper_spark" / "__init__.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    config = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in config["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = config["workloads"][args.workload]
    cpus = len(os.sched_getaffinity(0))
    work_dir = ROOT / ".perfbench" / f"run-{os.getpid()}"
    confine(work_dir, cpus, config["load"]["driver_memory"])
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # remove work_dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(1, str(ROOT))
    try:
        detail, result = run(args, spec, cpus)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            work_dir.parent.rmdir()
        except OSError:
            pass  # another run still uses it
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, spec: dict, cpus: int) -> tuple[dict, dict]:
    from spark_ml_helper_spark.registry import load_all_operators
    from spark_ml_helper_spark.session import get_spark

    queries = spec["queries"]
    sf_dir = str(ROOT / spec["sf_dir"])
    expected = json.loads((HERE / "expected.json").read_text())

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus)
    t1 = time.perf_counter()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        load_all_operators()
        t2 = time.perf_counter()
        clock: dict = {}
        runners = build(spark, queries, sf_dir, clock)
        t3 = time.perf_counter()
        setup = {
            "session.start_s": t1 - t0,
            "registry.load_s": t2 - t1,
            "operators.graph_bench.fixture_s": t3 - t2,
        }
        work = Workload(spark, queries, sf_dir, runners, clock)
        # the cold pass runs in declared order: a first execution's cost
        # depends on what ran before it in the fresh JVM, so permuting it
        # would make cold_pass_s bimodal across seeds
        cold = work.run_pass(queries)
        t4 = time.perf_counter()
        work.verify(pass_order(queries, args.seed, 1), expected)
        verify_s = time.perf_counter() - t4
        orders = (pass_order(queries, args.seed, 2 + i) for i in itertools.count())
        # untimed passes while the JIT is still compiling: on a busy host
        # compilation also finishes later, which would add the host's
        # slowdown to the timed passes a second time
        deadline = time.perf_counter() + WARMUP_S
        while time.perf_counter() < deadline:
            work.run_pass(next(orders))
        if args.trace:
            return traced_run(work, orders, setup, args.seconds)
        deadline = time.perf_counter() + args.seconds
        warm = []
        while len(warm) < MIN_PASSES or time.perf_counter() < deadline:
            warm.append(work.run_pass(next(orders)))
    finally:
        stop_spark(spark)

    per_query = {name: median([p[name] for p in warm]) for name in queries}
    metrics = {
        "setup_s": sum(setup.values()),
        "cold_pass_s": sum(cold.values()),
        "warm_pass_s": median([sum(p.values()) for p in warm]),
        "query_geomean_s": geometric_mean(per_query.values()),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "samples": {"setup_s": 1, "cold_pass_s": 1, "warm_pass_s": len(warm), "query_geomean_s": len(warm)},
        "failed_frac": work.failed / work.attempted,
        "setup": setup,
        "verify_s": verify_s,
        "cold_query_s": cold,
        "warm_query_median_s": per_query,
        "warm_passes_s": [sum(p.values()) for p in warm],
        "errors": work.errors,
    }
    return detail, result_line(work, {k: (v, "s") for k, v in metrics.items()})


def result_line(work: Workload, metrics: dict) -> dict:
    return {
        "correct": work.failed == 0,
        "attempted": work.attempted,
        "failed": work.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced_run(work: Workload, orders, setup: dict, seconds: float) -> tuple[dict, dict]:
    """Warm passes run untraced, traced, traced, untraced, ... so a warm-up
    trend across passes does not bias the tracing overhead."""
    untraced, traced = [], []
    deadline = time.perf_counter() + seconds
    for i, order in enumerate(orders):
        # stop only after a whole group of four, once the time is up
        if i >= 4 and i % 4 == 0 and time.perf_counter() >= deadline:
            break
        if i % 4 in (1, 2):
            traced.append(traced_pass(work, order))
        else:
            untraced.append(work.run_pass(order))

    untraced_s = median([sum(p.values()) for p in untraced])
    traced_s = median([sum(times.values()) for times, _ in traced])
    keys = list(traced[0][1][work.queries[0]])
    per_pass = [{k: sum(layers[q][k] for q in work.queries) for k in keys} for _, layers in traced]
    metrics = {k: (median([p[k] for p in per_pass]), unit_of(k)) for k in keys}
    for name, value in setup.items():
        metrics[name] = (value, "s")
    metrics["trace.warm_pass_s"] = (traced_s, "s")
    metrics["trace.overhead_s"] = (traced_s - untraced_s, "s")
    for k in REPEATING:
        repeats = all(
            layers[q][k] == traced[0][1][q][k] for _, layers in traced for q in work.queries
        )
        metrics[f"{k}.repeats"] = (int(repeats), "bool")
        if not repeats:
            print(f"perfbench: {k} did not repeat across warm passes; unusable for count claims", file=sys.stderr)
    detail = {
        **{f"query.{q}_s": median([times[q] for times, _ in traced]) for q in work.queries},
        "layers_last_pass": {q: traced[-1][1][q] for q in work.queries},
        "samples": {"traced_passes": len(traced), "untraced_passes": len(untraced)},
        "failed_frac": work.failed / work.attempted,
        "errors": work.errors,
    }
    return detail, result_line(work, metrics)


def unit_of(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
