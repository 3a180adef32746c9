"""Pinned synthetic-graph fixpoint runners for the bench rows
(round 14, judge item 4).

TPC-H scaling DILUTES co-occurrence (10x customers x 10x suppliers,
constant lines per order), so the >=4-cooccur fixture graph DEGENERATES
at sf0.1 — 1 edge (round-12 measurement; BASELINE.md). The headline
bench rows for `graph_mst` / `graph_sssp_weighted` /
`graph_sssp_delta` there timed the orders⋈lineitem edge-build scan plus
an empty fixpoint, and `graph_coreness` peeled a 182-pair remnant:
scan-only walls whose scheduling-floor jitter generated false watch
crossings every hot round (two of round-13's four crossings were this
family). From round 14 those four rows time REAL fixpoint loops over
pinned DETERMINISTIC synthetic fixtures — the SCALE.md sssp/mst probe
shapes at bench-sized pins (coreness uses a clique bundle, see
CORE_SIZES). Inputs are built and localCheckpoint-ed ONCE outside
the timed runs, so each row is a pure loop-cost signal, the same
protocol as the ivfpq probe-only row and the per-round fixpoint
instruments. Correctness for the family is untouched: the registry
queries still run the TPC-H co-occurrence graph against their DuckDB
oracles at sf0.001/0.01 where the fixture is real.

Every generator is seed-free arithmetic over ``spark.range`` (layered
DAG, binary-tournament path bundle, clique bundle) — byte-identical
inputs on every box, every round, so movement on these rows means
the LOOP changed, never the fixture. Fixture non-degeneracy (every
level/round carries real mass) is pytest-pinned with exact expected
counts (tests/test_pipeline.py::test_synth_graph_bench_fixtures).

Consumers: bench.py (headline rows) and perfbench/run.py (the loops
workload), both through ``benchlib.make_runners``, which branches on
``SYNTH_GRAPH_BENCH``; perfbench/verify.py checks the fixture sizes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_ml_helper_spark.operators.graph import (
    boruvka_msf,
    coreness_decomposition,
    delta_stepping_fixpoint,
    sssp_fixpoint,
)

#: Layered DAG for the SSSP pair: L layers x W nodes, node (l, i) edges
#: to (l+1, i) and (l+1, (i+1) mod W), integer weights 1 + (i+l) % 5,
#: seeds = all of layer 0 — diameter L-1, so the delta-frontier loop
#: runs a real L-1-round relaxation with a W-row frontier and a
#: 2(L-1)W-row edge join per round (the SCALE.md sssp probe shape).
#: Sizes are pinned for a 2-4 s band row: the distributed round floor
#: is ~0.3-1 s at local[32] (measured round 14: the probe's 24x20k
#: fixture = 23 rounds cost 23 s), so bench rows keep rounds AT the
#: probe's measured per-round cost but few enough that the row stays
#: in the suite's 1-5 s range — loop-cost changes still move the row
#: proportionally, which is the watch signal.
SSSP_LAYERS = 6
SSSP_WIDTH = 20_000

#: The delta-stepping row's own (smaller) DAG: on this all-short-edge
#: shape every bucket settles layer by layer, so wall cost tracks the
#: DIAMETER, not the bucket count (measured round 14: L=6 cost 7.3 s
#: even at 3 buckets). L=4 keeps 2 real buckets x multi-iteration
#: settles at ~4 s.
SSSP_DELTA_LAYERS = 4

#: Delta for the delta-stepping row: weights span 1..5 and the L=4 DAG
#: has a 3-edge longest path -> max dist <= 15; delta=10 gives 2 real
#: buckets, each with multi-iteration settles, without the many-bucket
#: x ~1 s/round cost the graph.py default (delta=3) produced on larger
#: pins (measured round 14: L=24/delta=3 cost 66 s, L=6/delta=6's 5
#: buckets still 7.7 s; the accepted pin converges in ~8 rounds).
SSSP_BENCH_DELTA = 10

#: Borůvka fixture: MST_PATHS disjoint paths of MST_PATH_LEN nodes,
#: binary-tournament weights WITHIN each path (w(j) = 1 + v2(j+1)) —
#: every component merges strictly pairwise, so the loop runs exactly
#: log2(MST_PATH_LEN) forced rounds, but over a 28k-edge frame (real
#: per-round volume). The full-log2-N ROUND-GROWTH evidence is in
#: SCALE.md (``git show a87ea52:tools/scale_probe_mst.py``); a single
#: 256-node tournament path here cost
#: 7.4 s (8 rounds x ~0.9 s floor — Borůvka rounds carry an inner
#: min-label closure), measured round 14.
MST_PATHS = 4_096
MST_PATH_LEN = 8

#: Clique bundle for coreness: CORE_COPIES disjoint cliques of each
#: size in CORE_SIZES (a size-s clique has coreness s-1). Every clique
#: member starts the h-index fixpoint at its degree s-1, which is
#: already its coreness, so the fixpoint converges in its first round
#: over a real edge frame — one round, real volume: the right shape for
#: a band row. (The staircase probe shape lowers one node per round — an
#: adversarial ROUND-GROWTH probe, not a band fixture; it cost 12-19 s
#: here under the old per-level loop, and the 3..7 clique sweep cost
#: 11-12 s, measured round 14; SCALE.md has the staircase numbers of
#: the h-index fixpoint.)
CORE_COPIES = 2_000
CORE_SIZES = (3, 4)


def layered_dag(spark, L=SSSP_LAYERS):
    """Layered DAG of L layers x SSSP_WIDTH nodes and its layer-0 seeds,
    both checkpointed (see SSSP_LAYERS for the shape)."""
    W = SSSP_WIDTH
    base = spark.range(L - 1).selectExpr("id AS l").crossJoin(
        spark.range(W).selectExpr("id AS i")
    )
    edges = (
        base.selectExpr(
            f"l * CAST({W} AS BIGINT) + i AS src",
            f"(l + 1) * CAST({W} AS BIGINT) + i AS dst",
            "CAST(1 + (i + l) % 5 AS BIGINT) AS w",
        )
        .unionByName(
            base.selectExpr(
                f"l * CAST({W} AS BIGINT) + i AS src",
                f"(l + 1) * CAST({W} AS BIGINT) + (i + 1) % {W} AS dst",
                "CAST(1 + (i + l) % 5 AS BIGINT) AS w",
            )
        )
        .localCheckpoint(eager=True)
    )
    seeds = (
        spark.range(W)
        .select(F.col("id").alias("node"), F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint(eager=True)
    )
    return edges, seeds


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def make_sssp_weighted(spark):
    edges, seeds = layered_dag(spark)
    # edge count computed at MAKE time, like the checkpoint itself —
    # input metadata stays outside the timed runs (r18; the fixpoint
    # would otherwise run its own metadata count inside the loop timing)
    n_edges = edges.count()

    def run() -> None:
        dist, _rounds = sssp_fixpoint(
            edges, seeds, max_rounds=SSSP_LAYERS + 2, n_edges=n_edges
        )
        _noop(dist)

    return run


def sssp_delta_max_rounds() -> int:
    """Pinned round budget for the Δ-stepping band row. Bound, not
    estimate: buckets <= 5*L/delta (max dist is really 5*(L-1)) plus up
    to L settle iterations and slack — the L=4 pin converges in ~8 of
    these 10. delta_stepping_fixpoint RAISES on budget exhaustion (it
    does not silently under-report), so an insufficient pin would crash
    bench.py; the fixture test therefore runs under THIS same budget so
    CI exercises the production pin (round-15 advisor finding — the old
    test passed max_rounds=50 and never verified the 10)."""
    return (5 * SSSP_DELTA_LAYERS) // SSSP_BENCH_DELTA + SSSP_DELTA_LAYERS + 4


def make_sssp_delta(spark):
    edges, seeds = layered_dag(spark, L=SSSP_DELTA_LAYERS)
    n_edges = edges.count()  # make-time metadata, outside the timed runs

    def run() -> None:
        dist, _rounds = delta_stepping_fixpoint(
            edges, seeds, delta=SSSP_BENCH_DELTA,
            max_rounds=sssp_delta_max_rounds(), n_edges=n_edges,
        )
        _noop(dist)

    return run


def mst_bench_inputs(spark):
    # w(j) = 1 + v2(j+1), the 2-adic valuation via bit_count((x&-x)-1),
    # applied to the WITHIN-PATH index j so every path merges pairwise.
    return (
        spark.range(MST_PATHS)
        .selectExpr("id AS c")
        .crossJoin(spark.range(MST_PATH_LEN - 1).selectExpr("id AS j"))
        .select(
            (F.col("c") * MST_PATH_LEN + F.col("j")).alias("lo"),
            (F.col("c") * MST_PATH_LEN + F.col("j") + 1).alias("hi"),
            (
                1
                + F.bit_count(
                    (F.col("j") + 1).bitwiseAND(-(F.col("j") + 1)) - 1
                )
            )
            .cast("bigint")
            .alias("w"),
        )
        .localCheckpoint(eager=True)
    )


def make_mst(spark):
    eu = mst_bench_inputs(spark)
    n_edges = eu.count()  # make-time metadata, outside the timed runs

    def run() -> None:
        _noop(boruvka_msf(eu, n_edges=n_edges))

    return run


def coreness_bench_edges(spark):
    fwd = None
    base = 0
    for s in CORE_SIZES:
        # CORE_COPIES disjoint s-cliques: clique c holds node ids
        # base + c*s + j for j in 0..s-1; edges = all pairs j < j2.
        pairs = (
            spark.range(s)
            .selectExpr("id AS j")
            .crossJoin(spark.range(s).selectExpr("id AS j2"))
            .where("j < j2")
        )
        e = (
            spark.range(CORE_COPIES)
            .selectExpr("id AS c")
            .crossJoin(pairs)
            .selectExpr(
                f"CAST({base} AS BIGINT) + c * {s} + j AS src",
                f"CAST({base} AS BIGINT) + c * {s} + j2 AS dst",
            )
        )
        fwd = e if fwd is None else fwd.unionByName(e)
        base += CORE_COPIES * s
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)


def make_coreness(spark):
    edges = coreness_bench_edges(spark)

    def run() -> None:
        _noop(coreness_decomposition(edges))

    return run


#: name -> (spark -> run_thunk). The thunk executes ONE full fixpoint
#: and materializes its result through the noop sink; inputs were
#: checkpointed at make-time and are NOT part of the timed run.
SYNTH_GRAPH_BENCH = {
    "graph_sssp_weighted": make_sssp_weighted,
    "graph_sssp_delta": make_sssp_delta,
    "graph_mst": make_mst,
    "graph_coreness": make_coreness,
}
