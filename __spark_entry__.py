"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``spark_ml_helper_spark``; this module just
re-exports the registry (spark_ml_helper_spark/registry.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_ml_helper_spark.registry import REGISTRY, load_all_operators

load_all_operators()

# Queries whose implementation changed since their last driver check, or whose
# only recorded result is a FAIL — surfaced first so the driver's per-round
# verification window (~50 queries, taken from the head of ``queries()``)
# re-records them.
#
# Head: the ten queries whose driver-held rows became SQL-text literals
# instead of createDataFrame frames (ml_gmm_em also takes its init
# statistics in one aggregate and returns the oracle's rows on empty
# embeddings). Then graph_coreness, now one delta h-index fixpoint instead
# of a per-level peel loop, and ml_gmm_em's SQL-text EM rounds. Then graph_cc, whose edge list now comes
# from the shared _cooccur_edges builder, and graph_pagerank, which now
# returns an empty frame on empty events instead of raising. Then the
# queries whose code paths lost a probe-only
# option or gained a shared helper — Borůvka without its prune/edge-count
# switches, the SSSP relax-merge shared with Δ-stepping, the set-similarity
# kernels without n_blocks, and round_half_up's isfinite guard (ml_gmm_em).
# All were locally oracle-verified at sf0.01+sf0.001. Then the r19 pins
# (Borůvka round fusion, kcore/Δ-stepping checkpoint trims, the
# pretrain-funnel fusion, the incremental-dedup decision fusion, the lazy
# per-round training checkpoints); the stalest-first tail then drains the
# oldest record ring.
_REVERIFY_FIRST: list[str] = [
    "ml_gmm_em",
    "ml_logreg_gd",
    "ml_pca",
    "ml_cross_validate",
    "vec_kmeans_elbow",
    "scan_observed",
    "text_sentiment",
    "tokenizer_bpe_train",
    "text_heaps_law",
    "pipeline_retrieval",
    "graph_coreness",
    "graph_cc",
    "graph_pagerank",
    "graph_mst",
    "graph_sssp_weighted",
    "graph_sssp_delta",
    "dedup_containment",
    "dedup_ngram",
    "graph_kcore",
    "pipeline_pretrain_report",
    "dedup_incremental",
    "vec_kmeans_lloyd",
    "vec_kmeans_elbow",
    "dedup_semantic",
    "vec_pq_encode",
    "sim_pq_adc",
    "sim_ann_ivfpq",
    "pipeline_pq_retrieval",
    "vec_pca_power",
    "vec_pca_deflate",
]


def _latest_record_round() -> dict[str, int]:
    """Per query name, the latest round with a driver CORRECTNESS row."""
    import glob
    import json
    import re

    latest: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                names = json.load(fh).keys()
        except (OSError, ValueError):
            continue
        for n in names:
            latest[n] = max(latest.get(n, 0), rnd)
    return latest


def _ordered_names() -> list[str]:
    """Registry names, never-driver-verified first.

    The driver verifies only the first ~50 entries of ``queries()`` per
    round; putting unverified entries (and the re-verify pins) at the head
    rotates coverage across rounds with no manual reordering — each round's
    CORRECTNESS_r{N}.json feeds the next round's ordering.
    """
    latest = _latest_record_round()
    pins = [n for n in _REVERIFY_FIRST if n in REGISTRY]
    unseen = [n for n in REGISTRY if n not in latest and n not in pins]
    # SQL-oracled entries first within the unseen block: a hash-match row is
    # strictly stronger evidence than a rows-only run, so spend the window on
    # those before the approx/streaming/MLlib entries that can only ever get
    # a rows-only record.
    unseen.sort(key=lambda n: REGISTRY[n].oracle is None)
    rest = [n for n in REGISTRY if n in latest and n not in pins]
    # Stalest record first: whatever is left of the driver's ~50-query
    # window after pins+unseen automatically re-records the OLDEST entries,
    # so every record converges to <= a few rounds old with no manual
    # rotation list (r11; the verdict's rotation ask, automated).
    rest.sort(key=lambda n: latest[n])
    return pins + unseen + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shape pricing summary) on sf0.001."""
    return REGISTRY["agg_group"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; rows-only operators are omitted."""
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
