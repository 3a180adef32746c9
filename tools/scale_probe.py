"""Table-driven scale probe: the measured decades in SCALE.md.

Usage:  python -m tools.scale_probe <row> [factor]

Each row of ``ROWS`` is one scale claim: the tables it replicates with
each key column's stride (replica k adds k * stride: N key-disjoint
copies, texts and vectors unchanged; ``cc`` and ``setsim`` size a
generator instead), a filter on the replicas (``k`` is the replica
index), the cells to time — a registered query or engine callable
``module:name`` plus the function that builds its input and returns the
timed thunk — and the invariant across scales 1, factor/10 (if above 1)
and factor. The base is $SPARK_GRAFT_SF_DIR, else the row's default.
Each (cell, scale) runs in its own subprocess with a fresh ``get_spark``
session (long-lived sessions skewed later cells 2-3x), one warm-up and
N_RUNS timed runs (``benchlib.warm_runs``); shuffle volume comes from
the SQL status store (``tools.shuffle_ledger``). Replicas are written
once under the temp directory. Prints one JSON line per (cell, scale),
then the invariant; exits 1 if it fails.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
from dataclasses import dataclass, field
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_ROOT = "/root/testdata"  # fixture root, see TESTDATA.md
N_RUNS = 3


@dataclass(frozen=True)
class Row:
    sf: str  # default base scale factor under DATA_ROOT
    factor: int  # default largest replication factor
    #: cell -> (target, make); make(fn, ctx) returns the timed thunk
    #: (which returns the record's fields) or a reason to skip the cell
    cells: dict
    claim: str
    holds: Callable[[list], bool]
    tables: dict = field(default_factory=dict)  # table -> {key: stride}
    where: str | None = None


@dataclass(frozen=True)
class Ctx:
    spark: object
    sf_dir: str  # base directory at scale 1, else the replicas
    scale: int
    work: str  # scratch directory of this (row, base, scale)


def _count(fn, ctx):
    return lambda: {"rows": fn(ctx.spark, ctx.sf_dir).count()}


def _col_max(fn, ctx):
    """Row count plus each numeric column's maximum over the rows."""

    def run():
        rows = [r.asDict() for r in fn(ctx.spark, ctx.sf_dir).collect()]
        nums = [k for k, v in rows[0].items() if isinstance(v, (int, float))]
        return {"rows": len(rows), **{k: max(r[k] for r in rows) for k in nums}}

    return run


def _communities(fn, ctx):
    def run():
        df = fn(ctx.spark, ctx.sf_dir)
        return {"rows": df.count(), "communities": df.select("community").distinct().count()}

    return run


def _docs(ctx, residue_test):
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.text import hash_documents

    docs = ctx.spark.read.parquet(f"{ctx.sf_dir}/documents.parquet")
    return hash_documents(docs.where(residue_test(F.col("doc_id") % 10)))


def _index_build(fn, ctx):
    """Index and persist the doc_id % 10 != 0 documents (per snapshot)."""

    def run():
        reps, bands = fn(_docs(ctx, lambda r: r != 0))
        reps.write.mode("overwrite").parquet(f"{ctx.work}/reps.parquet")
        bands.write.mode("overwrite").parquet(f"{ctx.work}/bands.parquet")
        return {"rows": ctx.spark.read.parquet(f"{ctx.work}/reps.parquet").count()}

    return run


def _index_decide(fn, ctx):
    """Admit the doc_id % 10 == 0 batch against the persisted index."""

    def run():
        reps = ctx.spark.read.parquet(f"{ctx.work}/reps.parquet")
        bands = ctx.spark.read.parquet(f"{ctx.work}/bands.parquet")
        return {"rows": fn(_docs(ctx, lambda r: r == 0), reps, bands).count()}

    return run


def _semdedup_pairs(key_col):
    """Cosine candidates within each ``key_col`` group (None: global)."""

    def make(fn, ctx):
        from pyspark.sql import functions as F

        from spark_ml_helper_spark.functions.blockpairs import threshold_kernel
        from spark_ml_helper_spark.functions.vector_math import l2_norm
        from spark_ml_helper_spark.operators.vectors import _SEMDEDUP_TAU, _km_train

        _, _, final = _km_train(ctx.spark, ctx.sf_dir)
        v = final.select(
            "vec_id",
            F.col("emb").alias("embedding"),
            l2_norm(F.col("emb")).alias("nrm"),
            "cluster",
        ).localCheckpoint(eager=True)
        keys = [key_col] if key_col else []
        sizes = [r["count"] for r in v.groupBy(*keys).count().collect()]
        kernel = threshold_kernel(_SEMDEDUP_TAU)
        return lambda: {
            "rows": fn(ctx.spark, v, kernel, key_col=key_col).count(),
            "vectors": sum(sizes),
            "max_block": max(sizes),
            "pair_space": sum(n * (n - 1) // 2 for n in sizes),
        }

    return make


CC_NODES = 10_000  # path length at scale 1; the diameter CC must cross


def _path(canonical):
    """A path of CC_NODES x scale nodes (diameter = node count), as the
    canonical hi > lo frame or with both directions."""

    def make(fn, ctx):
        path = ctx.spark.range(CC_NODES * ctx.scale - 1).selectExpr(
            "id AS lo", "id + 1 AS hi"
        )
        if canonical:
            edges, kw = path.select("hi", "lo"), {}
        else:
            edges = path.selectExpr("lo AS src", "hi AS dst").unionByName(
                path.selectExpr("hi AS src", "lo AS dst")
            )
            # force the distributed loop, not the single-task union-find
            kw = {"max_rounds": 200, "small_graph_nodes": 0}
        edges = edges.localCheckpoint(eager=True)

        def run():
            labels, rounds = fn(edges, **kw)
            comps = labels.select("lab").distinct().count()
            return {"rows": CC_NODES * ctx.scale, "rounds": rounds, "components": comps}

        return run

    return make


SETSIM_DOCS = 2_000  # corpus size at scale 1
SETSIM_TAU = 0.8


def _corpus(spark, n_docs, vocab):
    """n_docs sets of 20 tokens, ~4 docs per template: slot s of template
    t is token xxhash64(t, s) mod vocab, and variant k = doc_id % 3
    swaps its first k slots for doc-unique tokens, so same-template
    variants sit at Jaccard 0.82-1.0 and k=0 twins collapse."""
    from pyspark.sql import functions as F

    def tok(a, b):
        return F.concat(F.lit("t"), F.pmod(F.xxhash64(a, b), F.lit(vocab)))

    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % max(n_docs // 4, 1)).alias("tpl"),
        (F.col("id") % 3).alias("k"),
    )
    elems = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda s: F.when(s < F.col("k"), tok(F.col("doc_id") + 1_000_000_000, s))
            .otherwise(tok(F.col("tpl"), s)),
        )
    )
    sets = base.select("doc_id", elems.alias("elems")).repartition(64)
    return sets.localCheckpoint(eager=True)


def _containment(fn, ctx):
    """Directed containment doc pairs over the 31-token corpus."""
    sets = _corpus(ctx.spark, SETSIM_DOCS * ctx.scale, 31)
    return lambda: {"rows": fn(sets, SETSIM_TAU, "c").count()}


def _jaccard(vocab, max_docs=None):
    """Rep-level PPJoin pairs with the filter counters; ``vocab`` None keeps
    density constant (2.5 tokens per doc, how shingled text grows)."""

    def make(fn, ctx):
        n_docs = SETSIM_DOCS * ctx.scale
        v = vocab or n_docs * 5 // 2
        if max_docs and n_docs > max_docs:
            return f"{v} common tokens: prefix filter degenerates toward n_reps^2/2"
        from spark_ml_helper_spark.functions.setsim import _collapse_identical_sets

        sets, counters = _corpus(ctx.spark, n_docs, v), {}

        def run():
            rep_sets = _collapse_identical_sets(sets)[3]
            c = None if counters else counters  # count on the warm-up only
            pairs = fn(rep_sets, SETSIM_TAU, "jac", counters=c).count()
            return {"rows": pairs, "vocab": v, **counters}

        return run

    return make


def _by(records, cell, key="rows"):
    """{scale: record[key]} of one cell."""
    return {r["scale"]: r[key] for r in records if r["cell"] == cell}


def _each(cells, keys, test):
    """test(value, scale, value at scale 1) for every key of every cell."""
    return lambda recs: all(
        test(v, s, d.get(1))
        for c in cells
        for k in keys
        for d in [_by(recs, c, k)]
        for s, v in d.items()
    )


def _dominates(big, small, times=1, key="rows"):
    """big >= times x small at every scale both cells ran."""

    def holds(recs):
        b, s = _by(recs, big, key), _by(recs, small, key)
        return all(b[k] >= times * s[k] for k in s if k in b)

    return holds


_GRAPH = "spark_ml_helper_spark.operators.graph"
_TEXT = "spark_ml_helper_spark.operators.text"
_SETSIM = "spark_ml_helper_spark.functions.setsim"
_PAIRS = "spark_ml_helper_spark.functions.blockpairs:block_pair_candidates"


def _same(v, s, v1):
    return v == v1


def _scaled(v, s, v1):
    return v == s * v1


ROWS = {
    # rep-level dedup pipeline on duplicate groups that grow N-fold while
    # distinct content stays fixed
    "dedup": Row(
        sf="sf0.1",
        factor=100,
        tables={"documents": {"doc_id": 1_000_000}},
        cells={q: (q, _count) for q in ("dedup_exact", "dedup_minhash", "dedup_clusters")},
        # dedup_minhash is not flat: replicas turn every set into an
        # exact-duplicate group, which adds a self-row
        claim="dedup_exact rows are equal and dedup_clusters rows grow with the factor",
        holds=lambda recs: _each(["dedup_exact"], ["rows"], _same)(recs)
        and _each(["dedup_clusters"], ["rows"], _scaled)(recs),
    ),
    # a fixed batch (the base doc_id % 10 == 0 docs) against an index
    # corpus that grows: the stride keeps residues, the filter drops the
    # batch-residue replicas
    "incremental": Row(
        sf="sf0.1",
        factor=10,
        tables={"documents": {"doc_id": 1_000_000}},
        where="k = 0 OR doc_id % 10 != 0",
        cells={
            "build": (f"{_TEXT}:build_dedup_index", _index_build),
            "decide": (f"{_TEXT}:incremental_decisions", _index_decide),
        },
        claim="the decision row count is equal at every scale",
        holds=_each(["decide"], ["rows"], _same),
    ),
    # full-corpus ADC scan vs IVF cell probe; replicas landing on the
    # vec_id % 100 == 0 query residue are dropped, pinning the queries
    "ivfpq": Row(
        sf="sf0.1",
        factor=10,
        tables={"embeddings": {"vec_id": 1_000_003}},
        where="k = 0 OR vec_id % 100 != 0",
        cells={q: (q, _count) for q in ("sim_pq_adc", "sim_ann_ivfpq")},
        claim="both result row counts are equal at every scale",
        holds=_each(["sim_pq_adc", "sim_ann_ivfpq"], ["rows"], _same),
    ),
    # disjoint copies of the customer-supplier graph; customers must
    # stay below the 1e6 supplier offset (max custkey 1500 at sf0.01), or
    # node ids collide and the invariant fails. Community counts need not
    # scale: the move score weighs the global edge count
    "louvain": Row(
        sf="sf0.01",
        factor=100,
        tables={
            "orders": {"o_orderkey": 10_000_000, "o_custkey": 9_000},
            "lineitem": {"l_orderkey": 10_000_000, "l_suppkey": 5_000},
        },
        cells={
            "phase1": ("graph_louvain", _communities),
            "both": ("graph_louvain_multilevel", _communities),
        },
        claim="nodes grow exactly with the factor; phase 2 never adds communities",
        holds=lambda recs: _each(["phase1", "both"], ["rows"], _scaled)(recs)
        and _dominates("phase1", "both", key="communities")(recs),
    ),
    # key cardinality and stream mass grow with the factor while every
    # sketch keeps a fixed-size state frame
    "sketch": Row(
        sf="sf0.01",
        factor=100,
        tables={
            "customer": {"c_custkey": 1_000_000},
            "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
        },
        cells={
            "hll": ("agg_hll_manual", _col_max),
            "cms": ("agg_cms_sketch", _col_max),
            "bloom": ("agg_bloom_filter", _col_max),
        },
        claim="the Bloom filter has no false negative at any scale",
        holds=_each(["bloom"], ["n_false_neg"], lambda v, s, v1: v == 0),
    ),
    # SemDeDup's cell restriction: identical replicas land in identical
    # Lloyd cells
    "semantic": Row(
        sf="sf0.1",
        factor=10,
        tables={"embeddings": {"vec_id": 1_000_000}},
        cells={
            "within_cell": (_PAIRS, _semdedup_pairs("cluster")),
            "global": (_PAIRS, _semdedup_pairs(None)),
        },
        claim="within-cell candidates and pair space never exceed the global ones",
        holds=lambda recs: all(
            _dominates("global", "within_cell", key=k)(recs) for k in ("rows", "pair_space")
        ),
    ),
    "cc": Row(
        sf="sf0.01",  # unused: the input is synthetic
        factor=10,
        cells={
            "largestar": (f"{_GRAPH}:largestar_fixpoint", _path(canonical=True)),
            "minlabel": (f"{_GRAPH}:min_label_fixpoint", _path(canonical=False)),
        },
        claim="both engines find exactly one component at every scale",
        holds=_each(["largestar", "minlabel"], ["components"], lambda v, s, v1: v == 1),
    ),
    # PPJoin's prefix filter (large vocabularies) and the block-matmul
    # containment kernel (its bounded-vocabulary design domain); the
    # multi-hot containment at 50k tokens is rows x V float64 per block
    # pair, out of its domain, so it has no cell
    "setsim": Row(
        sf="sf0.01",  # unused: the input is synthetic
        factor=100,
        cells={
            "jaccard_v50k": (f"{_SETSIM}:rep_jaccard_pairs", _jaccard(50_000)),
            "jaccard_dense": (f"{_SETSIM}:rep_jaccard_pairs", _jaccard(None)),
            "jaccard_v31": (f"{_SETSIM}:rep_jaccard_pairs", _jaccard(31, max_docs=20_000)),
            "containment_v31": (f"{_SETSIM}:smallvocab_containment_pairs", _containment),
        },
        # C(A->B) >= J(A, B) both ways, so every Jaccard rep pair yields
        # at least two ordered containment doc pairs
        claim="containment_v31 rows >= 2 x jaccard_v31 rows at every scale",
        holds=_dominates("containment_v31", "jaccard_v31", 2),
    ),
}


def resolve(target: str):
    """A cell target: ``module:name`` or a registered query name."""
    if ":" in target:
        module, name = target.split(":")
        return getattr(importlib.import_module(module), name)
    from spark_ml_helper_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    return REGISTRY[target].fn


def _work_dir(name: str, base: str, scale: int) -> str:
    tag = os.path.basename(base.rstrip("/"))
    return os.path.join(tempfile.gettempdir(), f"smhs_probe_{name}_{tag}_{scale}x")


def _replicate(spark, row: Row, base: str, scale: int, out: str) -> None:
    """Write ``scale`` key-shifted copies of the row's tables under ``out``,
    unless an earlier cell already did."""
    from pyspark.sql import functions as F

    if os.path.exists(f"{out}/{list(row.tables)[-1]}.parquet/_SUCCESS"):
        return
    reps = F.broadcast(spark.range(scale).withColumnRenamed("id", "k"))
    for table, strides in row.tables.items():
        df = spark.read.parquet(f"{base}/{table}.parquet").crossJoin(reps)
        for col, stride in strides.items():
            df = df.withColumn(col, F.col(col) + F.col("k") * stride)
        if row.where:
            df = df.where(row.where)
        df = df.drop("k").repartition(32)
        df.write.mode("overwrite").parquet(f"{out}/{table}.parquet")


def _single(name: str, cell: str, scale: str, base: str) -> None:
    """Subprocess body: one (cell, scale) in a fresh session."""
    from spark_ml_helper_spark.benchlib import warm_runs
    from spark_ml_helper_spark.session import get_spark
    from tools.shuffle_ledger import collect_execution_metrics, drain_listener_bus, max_execution_id

    row, scale = ROWS[name], int(scale)
    spark = get_spark(app_name=f"smhs-scale-probe-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    work = _work_dir(name, base, scale)
    os.makedirs(work, exist_ok=True)
    sf_dir = base
    if row.tables and scale > 1:
        _replicate(spark, row, base, scale, work)
        sf_dir = work
    target, make = row.cells[cell]
    run = make(resolve(target), Ctx(spark, sf_dir, scale, work))
    rec = {"cell": cell, "scale": scale}
    if isinstance(run, str):
        rec["skipped"] = run
    else:
        store = spark._jsparkSession.sharedState().statusStore()
        drain_listener_bus(spark)
        after = max_execution_id(store)
        times, fields = warm_runs(spark, run, N_RUNS)
        drain_listener_bus(spark)
        shuffled = collect_execution_metrics(store, after)["shuffle_write_bytes"]
        rec.update(
            fields,
            runs=[round(t, 2) for t in times],
            best=round(min(times), 2),
            median=round(statistics.median(times), 2),
            # every run, warm-up included, executes the same plans
            shuffle_write_mb=round(shuffled / 1e6 / (N_RUNS + 1), 1),
        )
    print("PROBE " + json.dumps(rec), flush=True)


def main(argv: list[str]) -> int:
    if argv[:1] == ["--single"]:
        _single(*argv[1:])
        return 0
    if not argv or argv[0] not in ROWS:
        print("usage: python -m tools.scale_probe {%s} [factor]" % ",".join(ROWS), file=sys.stderr)
        return 2
    name, row = argv[0], ROWS[argv[0]]
    factor = int(argv[1]) if len(argv) > 1 else row.factor
    base = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(DATA_ROOT, row.sf))
    records = []
    for scale in sorted({1, factor // 10, factor} - {0}):
        for cell in row.cells:
            args = ["--single", name, cell, str(scale), base]
            out = subprocess.run(
                [sys.executable, "-m", "tools.scale_probe", *args],
                capture_output=True, text=True, cwd=ROOT,
            )
            lines = [ln[6:] for ln in out.stdout.splitlines() if ln.startswith("PROBE ")]
            error = {"cell": cell, "scale": scale, "error": out.stderr[-500:]}
            rec = json.loads(lines[0]) if lines else error
            print(json.dumps(rec), flush=True)
            records.append(rec)
    ran = [r for r in records if "skipped" not in r]
    holds = not any("error" in r for r in ran) and row.holds(ran)
    print(json.dumps({"row": name, "factor": factor, "invariant": row.claim, "holds": holds}))
    return 0 if holds else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
