"""Graph operators over relational edge lists — co-purchase graphs from
`lineitem` and item-transition graphs from `events`.

Graphs at 100 TB live as edge-list DataFrames and every algorithm here is
expressed as joins + aggregates over them (the GraphX/GraphFrames
execution model, without the dependency): degree counting is one hash
agg, triangle counting is the classic two-hop join with ordered vertex
ids, PageRank is a bounded loop of out-degree-normalized contribution
shuffles. Nothing collects edges to the driver; the only driver-side
state in PageRank is the loop counter (the rank frame itself stays
distributed and is localCheckpoint'ed per round to cut lineage — on a
cluster use reliable checkpoint / a staging table, SCALE.md lesson 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table


#: bounded_loop_frame thresholds (r18). A loop input under SMALL_LOOP_ROWS
#: is "small": its per-round cost is task scheduling, not data, so its
#: partition count is capped at ceil(rows / LOOP_ROWS_PER_PART) by a NARROW
#: coalesce. Above the threshold the caller's partitioning is kept
#: untouched — at cluster scale the loop frames must stay distributed and
#: a blind coalesce would serialize real work. Both knobs are plain module
#: constants (not magic inline numbers) so a deployment can retune them.
#: 500k narrow (id, id, weight) rows is ~10-25 MB per partition — an order
#: of magnitude under the guide's 100 MB-1 GB scan band ON PURPOSE: the
#: target here is task-scheduling amortization for frames re-scanned every
#: loop round, not scan throughput, and a loop-frame partition also feeds
#: joins/aggregates whose per-task state multiplies the input size
#: (ADVICE r18: the old comment claimed the scan band and would have
#: misled a retune).
SMALL_LOOP_ROWS = 4_000_000
LOOP_ROWS_PER_PART = 500_000


def bounded_loop_frame(df, n_rows):
    """Adaptive-parallelism guard for fixpoint loop inputs — the
    min_label_fixpoint "adaptive parallelism" strategy (round 4)
    generalized to the whole family (r18, guide §2.2/§6).

    A fixpoint re-scans its edge frame EVERY round, so a small frame
    that arrived over-partitioned (synthetic generators multiply
    partition counts through crossJoin/union; map-only broadcast-join
    chains never hit an exchange, so AQE never re-coalesces them) pays
    task launches proportional to the partition count per round, not to
    the data: measured on the coreness clique-bundle fixture, the 36k-row
    edge list carried 128 partitions and every deg/restrict pass cost
    1-1.6 s of pure scheduling at local[32]. The fix is a NARROW coalesce
    (no shuffle, no row movement across executors beyond block reads)
    down to ceil(n_rows / LOOP_ROWS_PER_PART) partitions, only when the
    caller-supplied row count is under SMALL_LOOP_ROWS. Large inputs are
    returned unchanged, so cluster-scale behavior is untouched.

    r19: the coalesce is applied UNCONDITIONALLY for small inputs —
    ``coalesce(n)`` on a frame already at <= n partitions is a no-op by
    definition (coalesce never raises the partition count), so the old
    ``df.rdd.getNumPartitions()`` probe bought nothing and cost a full
    physical-planning pass (``toRdd``) per loop entry — and, on a
    non-materialized input, could even materialize shuffle stages at
    call time (ADVICE r18). No probe, no hidden job, any input welcome.

    Row VALUES are never affected: the loops in this family do per-row
    arithmetic plus order-independent aggregates (min/count/exact-integer
    sums), and coalesce is order-stable within partitions. NOTE: a
    consumer folding FLOATS in partition order (an FP Σ, pagerank-style)
    must NOT rely on this helper for bit-stability — partition counts
    change the fold tree (ADVICE r18 rewording)."""
    if n_rows >= SMALL_LOOP_ROWS:
        return df
    parts = max(1, -(-int(n_rows) // LOOP_ROWS_PER_PART))
    return df.coalesce(parts)


def _copurchase_edges(spark, sf_dir):
    """Undirected distinct part-part edges: two parts co-occurring in one
    order, canonicalized src < dst. Built as groupBy(order) →
    within-group pair expansion (nested transform over the sorted part
    array) rather than a self-join on l_orderkey: one shuffle of the
    600k-row (order, part) projection instead of two join inputs, and
    the bounded per-order fan-out (a handful of lineitems) expands
    map-side — measured ~30% faster at sf0.1. The distinct's shuffle
    carries the deduped edge list, never the raw pair stream."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), y -> struct(x as src, y as dst))))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )


_EDGES_SQL = """
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
"""


@query(
    "graph_degree",
    oracle=f"""
        WITH edges AS MATERIALIZED ({_EDGES_SQL}),
        deg AS (
            SELECT v, count(*) AS degree FROM (
                SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges
            ) GROUP BY v
        )
        SELECT degree, count(*) AS n_vertices FROM deg GROUP BY degree
    """,
    family="graph",
)
def graph_degree(spark, sf_dir):
    """Degree distribution of the part co-purchase graph: histogram of
    per-vertex degrees. Edge build (order-local pair expansion + distinct)
    → vertex explode → two hash aggs, all partial→final; the output key
    space is the distinct-degree set, which stays tiny at any scale."""
    edges = _copurchase_edges(spark, sf_dir)
    verts = edges.select(F.col("src").alias("v")).unionAll(
        edges.select(F.col("dst").alias("v"))
    )
    deg = verts.groupBy("v").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_vertices"))


@query(
    "graph_triangles",
    oracle=f"""
        WITH edges AS MATERIALIZED ({_EDGES_SQL})
        SELECT count(*) AS n_triangles FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
    family="graph",
)
def graph_triangles(spark, sf_dir):
    """Global triangle count via the ordered two-hop join: with every edge
    stored src < dst, each triangle {a<b<c} is counted exactly once as
    (a,b)+(b,c)+(a,c) — no /6 correction, no direction bookkeeping. Two
    self-equi-joins on vertex keys; the wedge stream (Σ out_deg² ≈ 49M at
    sf0.1) is pruned by the closing-edge join before the single-row agg.

    Measured negative result (recorded so it is not retried): the classic
    degree orientation — re-orient every edge toward its higher-(degree,
    id) endpoint to cap out-degree at O(√m) — was implemented and timed
    SLOWER here (10.6 s vs ~7.5 s): this co-purchase graph is near-regular
    (max degree 199 on 20k vertices), so orientation cut wedges only 49M →
    41M while adding two degree joins to the edge build. Orientation pays
    on power-law graphs where hubs own the wedge volume (web, social,
    follower graphs) — apply it there; the near-regular case is cheaper
    without it."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint()  # 3 branches, SCALE.md lesson 2
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    wedges = e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
    tri = wedges.join(
        e3,
        (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
    )
    return tri.agg(F.count("*").alias("n_triangles"))


def _pagerank_oracle(iters: int = 10) -> str:
    """DuckDB twin of graph_pagerank: the fixed iteration count lets the
    fixpoint unroll into ``iters`` chained CTE pairs (dangling-mass scalar
    + rank update), avoiding aggregation over a recursive reference, which
    standard SQL forbids inside WITH RECURSIVE. Literals are cast to DOUBLE
    so DuckDB's decimal literals don't diverge from Spark's IEEE doubles."""
    head = """
        WITH lagd AS MATERIALIZED (
            SELECT lag(event_id % 50) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
                   event_id % 50 AS dst
            FROM events
        ),
        edges AS MATERIALIZED (
            SELECT src, dst, count(*) AS weight FROM lagd
            WHERE src IS NOT NULL AND src <> dst GROUP BY src, dst
        ),
        trans AS MATERIALIZED (
            SELECT e.src, e.dst, e.weight * CAST(1.0 AS DOUBLE) / o.out_w AS p
            FROM edges e
            JOIN (SELECT src, sum(weight) AS out_w FROM edges GROUP BY src) o ON e.src = o.src
        ),
        verts AS MATERIALIZED (
            SELECT DISTINCT item FROM (
                SELECT src AS item FROM trans UNION ALL SELECT dst FROM trans
            )
        ),
        nv AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
        pr0 AS MATERIALIZED (SELECT item, CAST(1.0 AS DOUBLE) / (SELECT n FROM nv) AS rank FROM verts)
    """
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
        dang{k} AS MATERIALIZED (
            SELECT coalesce(sum(rank), CAST(0.0 AS DOUBLE)) AS dm FROM pr{k - 1}
            WHERE item NOT IN (SELECT src FROM trans)
        ),
        pr{k} AS MATERIALIZED (
            SELECT v.item,
                   CAST(0.15 AS DOUBLE) / (SELECT n FROM nv)
                   + CAST(0.85 AS DOUBLE) * (
                       coalesce(c.contrib, CAST(0.0 AS DOUBLE))
                       + (SELECT dm FROM dang{k}) / (SELECT n FROM nv)
                   ) AS rank
            FROM verts v
            LEFT JOIN (
                SELECT t.dst, sum(p.rank * t.p) AS contrib
                FROM pr{k - 1} p JOIN trans t ON p.item = t.src GROUP BY t.dst
            ) c ON v.item = c.dst
        )""")
    tail = f"""
        SELECT item, round(rank, 6) AS rank FROM pr{iters}
        ORDER BY rank DESC, item LIMIT 10
    """
    return head + "," + ",".join(steps) + tail


@query("graph_pagerank", oracle=_pagerank_oracle(), family="graph")
def graph_pagerank(spark, sf_dir):
    """PageRank (damping 0.85, 10 fixed iterations) on the directed item
    transition graph from events: edge item_a → item_b when a user's
    consecutive events touch those items (item = event_id % 50, the same
    derivation as ml_als). Each iteration is one join (ranks ⋈ edges on
    src) + one hash agg on dst — the contribution shuffle — and the rank
    frame is localCheckpoint'ed so lineage stays O(1) instead of O(iters).
    Rank mass lost at dangling vertices (no out-edges) is redistributed
    uniformly each iteration — the standard correction — so ranks form a
    true distribution (Σ=1, asserted in tests); the per-iteration dangling
    mass is a 1-row aggregate broadcast into the update, never a
    driver-side collect. SQL-oracled: the fixed iteration count unrolls
    into chained CTEs in DuckDB (see _pagerank_oracle). Returns the top-10
    items by rank with ties broken on item id."""
    ranks = _pagerank_ranks(spark, sf_dir)
    return (
        ranks.select("item", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "item")
        .limit(10)
    )


def _pagerank_ranks(spark, sf_dir):
    """Full rank distribution after 10 iterations (all vertices, unrounded)
    — exposed separately so tests can assert total mass Σrank = 1."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    item = (F.col("event_id") % 50).alias("item")
    seq = e.select("user_id", "ts", "event_id", item)
    edges = (
        seq.select(
            F.lag("item").over(w).alias("src"), F.col("item").alias("dst")
        )
        .filter(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("weight"))
    )
    # out-degree-normalized transition weights, cached: reused every iteration
    out = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    # The item vocabulary is bounded (event_id % 50 → ≤50 vertices, ≤2450
    # edges at any data scale), so the iterative frames are coalesced to 1
    # partition: otherwise 10 iterations × 32-partition checkpoints leave
    # thousands of near-empty block files (and fds) behind. On an unbounded
    # vertex set, drop the coalesce and size partitions to the rank frame.
    # Checkpoint-stats audit (round 12): ranks is referenced twice per
    # round (dang + contribs) but the iteration count is FIXED at 10 —
    # measured max 52 digits (+5/round), harmless; an unbounded variant
    # would want fresh_stats_checkpoint here.
    trans = (
        edges.join(out, "src")
        .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("p"))
        .coalesce(1)
        .localCheckpoint()
    )
    verts = trans.select(F.col("src").alias("item")).union(
        trans.select(F.col("dst").alias("item"))
    ).distinct().coalesce(1).localCheckpoint()
    n = verts.count()  # scalar cardinality, driver-side by design
    if n == 0:  # no events: no vertices to rank, and no 1/n to seed with
        return verts.select("item", F.lit(0.0).alias("rank"))
    sources = trans.select("src").distinct()
    ranks = verts.select("item", F.lit(1.0 / n).alias("rank"))
    for _ in range(10):
        # rank mass sitting on dangling vertices this iteration (1 row)
        dang = ranks.join(
            sources, ranks["item"] == sources["src"], "left_anti"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        contribs = (
            ranks.join(trans, ranks["item"] == trans["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("p")).alias("contrib"))
        )
        ranks = (
            verts.join(contribs, verts["item"] == contribs["dst"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "item",
                (
                    0.15 / n
                    + 0.85
                    * (F.coalesce("contrib", F.lit(0.0)) + F.col("dm") / n)
                ).alias("rank"),
            )
            .coalesce(1)
            # lazy (r18): the next iteration's dangling-mass broadcast
            # build materializes this checkpoint in the same job — the
            # eager form paid one extra job per iteration
            .localCheckpoint(eager=False)
        )
    return ranks


_CC_MIN_COOCCUR = 4
_CC_SUPP_OFFSET = 1_000_000


def _cooccur(spark, sf_dir, min_cooccur):
    """The customer-supplier co-occurrence graph every co-occurrence
    operator derives its edge shape from: ``(c, s, n)`` per customer c
    and supplier s (shifted by _CC_SUPP_OFFSET so the two key spaces
    never collide) that co-occur in ``n >= min_cooccur`` orders."""
    return (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_cooccur)
        .select("c", (F.col("s") + _CC_SUPP_OFFSET).alias("s"), "n")
    )


def _cooccur_edges(spark, sf_dir, min_cooccur=None):
    """Bidirectional customer-supplier co-occurrence edge list shared by
    the community/traversal operators (cc, label_prop, modularity,
    louvain, bfs_layers, kcore, coreness) and bench.py's min-label
    instrument (so it times the fixpoint, not the edge build): the
    ``_cooccur`` pairs with n >= min_cooccur, both directions.
    localCheckpoint'ed because every caller fans the frame into multiple
    lineage branches (SCALE.md lesson 2)."""
    if min_cooccur is None:
        min_cooccur = _CC_MIN_COOCCUR
    fwd = _cooccur(spark, sf_dir, min_cooccur).select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    )
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)


def fresh_stats_checkpoint(df, eager=True):
    """localCheckpoint that DROPS the preserved plan-statistics estimate.

    ``Dataset.localCheckpoint`` carries the optimized plan's
    ``sizeInBytes`` into the resulting ``LogicalRDD``. In a
    SELF-REFERENTIAL join loop (the frame on the left of round r's join
    is the checkpoint of round r−1's join) those BigInteger estimates
    MULTIPLY every round, so their digit count grows geometrically —
    measured on the Borůvka loop: comp stats 5 → 28 → 151 → 818 digits
    in four rounds, and by round 9 the driver spends 60+ s per round
    inside million-digit ``BigInteger.multiplyToomCook3`` calls during
    planning (jstack-verified on the path probe kept at
    ``git show a87ea52:tools/scale_probe_mst.py``; the pinning test
    named below guards it now). Fixture queries never showed it because
    their graphs converge in 2–4 rounds.

    Rebuilding the checkpointed internal RDD via
    ``internalCreateDataFrame`` produces a ``LogicalRDD`` with NO
    preserved estimate — downstream stats fall back to the engine
    default, which compounds ADDITIVELY (digits grow linearly with
    rounds), keeping driver planning O(1) per round for arbitrarily
    long fixpoints. Cost: the rebuilt node loses the checkpoint's
    outputPartitioning, so a downstream join may re-shuffle the frame
    once — negligible against the loop's per-round shuffles, and only
    loops that feed a frame back into ITSELF need this form (linear
    chains like sssp_fixpoint's distance merge grow additively already
    — their 64–72-round probes stay flat).

    COMPAT: this reaches into ``private[sql]`` Spark internals over py4j
    (``SparkSession.internalCreateDataFrame``, ``queryExecution().toRdd``)
    — stable across OSS Spark 3.x–4.1 but not API-guaranteed, and the
    tree's ONLY non-public-API dependency. A py4j ``JavaObject`` answers
    ``hasattr`` True for any name, so the symbol cannot be probed ahead
    of the call; if an upgrade removes it, the call raises ``Py4JError``
    and tests/test_pipeline.py::test_fresh_stats_checkpoint_bounds_estimate_growth
    fails in pytest, not mid-fixpoint."""
    ck = df.localCheckpoint(eager=eager)
    jdf = ck._jdf
    fresh = ck.sparkSession._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(fresh, ck.sparkSession)


def min_label_fixpoint(edges, max_rounds=50, small_graph_nodes=100_000):
    """Min-label propagation to fixpoint over an undirected edge list
    (``edges``: src/dst with both directions present, materialized by
    the caller or a narrow derivation of a checkpointed frame, which
    each round re-evaluates — boruvka_msf passes such a projection of
    its sel checkpoint). Returns (node, lab) for every
    edge-touched node; the fixpoint — each node labeled with the min
    node id reachable — is unique regardless of propagation schedule,
    so both callers' oracles (recursive-CTE closure / doc-level
    expansion) are unaffected by the optimizations here.

    Two scale adaptations (round 4; shared by graph_cc and
    dedup_clusters, measured on the 1,226-node near-dup rep graph at
    sf0.1 where the plain per-neighbor loop took 11 × 0.42 s):
    - **path halving**: each round takes min(own, neighbors' labels,
      label-of-label). The extra pointer-jump join makes label chains
      collapse in O(log diameter) rounds instead of O(diameter) — the
      standard pointer-doubling trick of MapReduce CC (Kiveris et al.).
    - **adaptive parallelism**: when the edge-touched node set is tiny
      (< ``small_graph_nodes``), per-round shuffle scheduling dominates
      real work, so the loop frames coalesce to 1 partition — the same
      bounded-set call graph_pagerank makes. Above the threshold the
      frames keep the session's shuffle parallelism: at web scale the
      rounds must stay distributed, and only the round COUNT benefits
      from path halving.
    Convergence check: Σlab is monotonically non-increasing and labels
    only ever decrease, so an unchanged sum IS the fixpoint; a graph
    that hasn't converged in ``max_rounds`` raises instead of returning
    labels that break the min-label invariant.

    Returns ``(labels, rounds)`` — the converged (node, lab) frame and
    the number of propagation rounds it took (1 for the single-task
    union-find path), so scale probes read convergence cost from the
    declared API rather than a smuggled attribute."""
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("lab"))
    )
    n_nodes = labels.count()
    if n_nodes < small_graph_nodes:
        return _union_find_single_task(edges), 1
    labels = labels.localCheckpoint(eager=True)
    prev_sum = labels.agg(F.sum("lab")).first()[0]
    rounds = 0
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lab").alias("nbr_lab"))
        )
        hop = labels.select(F.col("node").alias("ref"), F.col("lab").alias("lab2"))
        merged = (
            labels.join(nbr_min, "node", "left")
            .join(hop, F.col("lab") == F.col("ref"), "left")
            .select(
                "node",
                F.least(
                    "lab",
                    F.coalesce("nbr_lab", "lab"),
                    F.coalesce("lab2", "lab"),
                ).alias("lab"),
            )
        )
        # labels is self-referential ×3 per round (nbr_min and hop both
        # derive from it): fresh_stats_checkpoint drops the preserved
        # stats estimate or its digits triple every round (the Borůvka
        # lesson). eager=False so the convergence agg below both
        # materializes the round's labels AND computes the sum in ONE
        # job — an eager checkpoint + separate agg was 2 jobs/round, and
        # job submission overhead dominates these dictionary-sized rounds.
        labels = fresh_stats_checkpoint(merged, eager=False)
        cur_sum = labels.agg(F.sum("lab")).first()[0]
        rounds += 1
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"min_label_fixpoint: no convergence in {max_rounds} rounds"
        )
    return labels, rounds


def _union_find_single_task(edges):
    """Small-graph CC: all edges coalesce into one partition and a single
    Arrow-batched task runs union-find with path compression — O(E α(E))
    total, ONE Spark job, versus O(diameter) scheduled rounds. Labels are
    canonicalized to the component minimum, the same fixpoint the
    distributed loop reaches. Only called below the small_graph_nodes
    threshold, where per-round scheduling (not data volume) is the cost."""
    import pandas as pd

    def uf(batches):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
                s, d = int(s), int(d)
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    # union by min keeps every root the component minimum
                    if rs < rd:
                        parent[rd] = rs
                    else:
                        parent[rs] = rd
        nodes = sorted(parent)
        yield pd.DataFrame(
            {"node": nodes, "lab": [find(n) for n in nodes]},
            dtype="int64",
        )

    return edges.coalesce(1).mapInPandas(uf, schema="node bigint, lab bigint")


@query(
    "graph_cc",
    oracle=f"""
        WITH RECURSIVE e0 AS (
            SELECT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_COOCCUR}
        ),
        nodes AS (
            SELECT DISTINCT c AS node FROM e0
            UNION SELECT DISTINCT s + {_CC_SUPP_OFFSET} FROM e0
        ),
        edges AS (
            SELECT c AS src, s + {_CC_SUPP_OFFSET} AS dst FROM e0
            UNION ALL SELECT s + {_CC_SUPP_OFFSET}, c FROM e0
        ),
        walk(node, lab) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.node
        )
        SELECT node, min(lab) AS cluster_id FROM walk GROUP BY node
    """,
    family="graph",
)
def graph_cc(spark, sf_dir):
    """Connected components over a relational co-occurrence graph: the
    bipartite customer–supplier graph with an edge where a pair
    co-occurs in ≥ 4 line items (suppliers offset into their own id
    space). Components are trading communities — the entity-resolution /
    account-linking shape (shared devices, shared counterparties) that a
    relational warehouse answers with CC, not joins. Same iterative
    min-label propagation as dedup_clusters (each round every node takes
    the min of its own and its neighbors' labels; stop when the global
    label sum fixes; localCheckpoint truncates lineage per round), with
    the recursive-CTE min-label closure as the oracle — the iterative
    loop must hit the identical fixpoint. Per-round shuffles key on node
    id, never the pair space; the co-occurrence threshold is the density
    dial (it bounds edge count and, at web scale, keeps hub vertices
    from gluing everything into one giant component). At extreme scale
    swap in large-star/small-star exactly as dedup_clusters documents."""
    edges = _cooccur_edges(spark, sf_dir)
    labels, _ = min_label_fixpoint(edges)
    return labels.select("node", F.col("lab").alias("cluster_id"))


_LPA_ROUNDS = 4


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    """Unrolled synchronous label propagation: each round, every node
    adopts the most frequent label among its neighbors (min label wins
    ties) — the same fixed-round unrolling discipline as the pagerank
    oracle, so DuckDB replays the identical deterministic schedule."""
    parts = [
        f"""
        e0 AS (
            SELECT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_COOCCUR}
        ),
        edges AS (
            SELECT c AS src, s + {_CC_SUPP_OFFSET} AS dst FROM e0
            UNION ALL SELECT s + {_CC_SUPP_OFFSET}, c FROM e0
        ),
        lab0 AS (
            SELECT DISTINCT src AS node, src AS lab FROM edges
        )"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""",
        cnt{k} AS (
            SELECT e.src AS node, l.lab, count(*) AS c
            FROM edges e JOIN lab{k - 1} l ON l.node = e.dst
            GROUP BY e.src, l.lab
        ),
        lab{k} AS (
            SELECT node, lab FROM (
                SELECT node, lab,
                       row_number() OVER (
                           PARTITION BY node ORDER BY c DESC, lab
                       ) AS rn
                FROM cnt{k}
            ) WHERE rn = 1
        )"""
        )
    return (
        "WITH "
        + "".join(parts)
        + f"\n        SELECT node, lab AS community FROM lab{rounds}"
    )


@query("graph_label_prop", oracle=_lpa_oracle(), family="graph")
def graph_label_prop(spark, sf_dir):
    """Community detection by synchronous label propagation (LPA) on the
    customer-supplier co-occurrence graph: every node starts as its own
    label and, for a fixed 4 rounds, adopts the most frequent label
    among its neighbors with min-label tie-break — the deterministic
    textbook schedule, which is what makes a SQL oracle possible at all
    (asynchronous LPA is order-dependent and unverifiable). Each round
    is one shuffle-on-node join (edges ⋈ labels), one (node, label)
    count agg, and one per-node top-1 window — all keyed on node ids,
    so a 10⁹-edge graph rounds in edge-shuffle time exactly like the
    pagerank loop; the labels frame is localCheckpoint'd per round to
    cut the lineage like min_label_fixpoint does. Rounds is the dial:
    LPA empirically converges in <10 rounds on social-scale graphs, and
    the fixed count keeps batch replays bit-reproducible."""
    edges = _cooccur_edges(spark, sf_dir)
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "lab", F.col("node")
    )
    for _ in range(_LPA_ROUNDS):
        # top-1 by (max count, min label) as a min-struct aggregate
        # instead of a row_number window (r18, guide §2.4): the window
        # re-shuffled the (node, lab, c) frame by node AND sorted every
        # partition; the argmin aggregate is map-side combinable and
        # needs no sort. (-c, lab) lexicographic min IS (desc c, asc lab)
        # rank-1 — exact integer arithmetic, so the selected labels are
        # identical. Checkpoints are lazy: a fixed-round loop with no
        # convergence action materializes once at the caller's action,
        # each round's persist riding the same job (r18 consolidation).
        labels = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"), "lab")
            .agg(F.count("*").alias("c"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lab").alias("lab"))
                ).alias("b")
            )
            .select("node", F.col("b.lab").alias("lab"))
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("lab").alias("community"))


@query(
    "graph_modularity",
    oracle=f"""
        WITH RECURSIVE e0 AS (
            SELECT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_COOCCUR}
        ),
        nodes AS (
            SELECT DISTINCT c AS node FROM e0
            UNION SELECT DISTINCT s + {_CC_SUPP_OFFSET} FROM e0
        ),
        edges AS (
            SELECT c AS src, s + {_CC_SUPP_OFFSET} AS dst FROM e0
            UNION ALL SELECT s + {_CC_SUPP_OFFSET}, c FROM e0
        ),
        walk(node, lab) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.node
        ),
        comm AS (SELECT node, min(lab) AS community FROM walk GROUP BY node),
        m2 AS (SELECT count(*) AS m2 FROM edges),
        internal AS (
            SELECT cs.community, count(*) AS int_dir
            FROM edges e
            JOIN comm cs ON cs.node = e.src
            JOIN comm cd ON cd.node = e.dst AND cd.community = cs.community
            GROUP BY cs.community
        ),
        degsum AS (
            SELECT c.community, count(*) AS d_sum
            FROM edges e JOIN comm c ON c.node = e.src
            GROUP BY c.community
        )
        SELECT d.community,
               CAST(coalesce(i.int_dir, 0) AS BIGINT) AS internal_halfedges,
               d.d_sum AS degree_sum,
               round(coalesce(i.int_dir, 0) / m2
                     - (d.d_sum / m2) * (d.d_sum / m2), 6) AS q_contrib
        FROM degsum d LEFT JOIN internal i ON i.community = d.community
        CROSS JOIN m2
    """,
    family="graph",
    bnlj="1-row total edge weight broadcast onto the per-community sums",
)
def graph_modularity(spark, sf_dir):
    """Newman modularity of the connected-component partition of the
    customer-supplier graph: per community, Q_c = e_c/m - (d_c/2m)² —
    the standard partition-quality score a community-detection pass
    (graph_label_prop) is judged by. Everything is counting: the
    directed edge list joined twice against the broadcast community
    map (components ≪ edges), one count agg per side, closed-form
    arithmetic on exact integer ratios (bit-stable across engines).
    The expensive input — the labels — comes from the same
    min_label_fixpoint the CC operator uses; at 10⁹ edges the two
    community joins shuffle on node ids exactly like one LPA round, so
    modularity costs ~one extra round of whatever propagation produced
    the labels."""
    edges = _cooccur_edges(spark, sf_dir)
    comm, _ = min_label_fixpoint(edges)
    comm = comm.select(
        "node", F.col("lab").alias("community")
    )
    m2 = edges.agg(F.count("*").alias("m2"))
    cs = comm.select(F.col("node").alias("src"), F.col("community").alias("c_src"))
    cd = comm.select(F.col("node").alias("dst"), F.col("community").alias("c_dst"))
    internal = (
        edges.join(F.broadcast(cs), "src")
        .join(F.broadcast(cd), "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.count("*").alias("int_dir"))
    )
    degsum = (
        edges.join(F.broadcast(cs), "src")
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.count("*").alias("d_sum"))
    )
    return (
        degsum.join(internal, "community", "left")
        .join(F.broadcast(m2))
        .select(
            "community",
            F.coalesce(F.col("int_dir"), F.lit(0)).cast("bigint").alias(
                "internal_halfedges"
            ),
            F.col("d_sum").alias("degree_sum"),
            F.round(
                F.coalesce(F.col("int_dir"), F.lit(0)) / F.col("m2")
                - (F.col("d_sum") / F.col("m2")) * (F.col("d_sum") / F.col("m2")),
                6,
            ).alias("q_contrib"),
        )
    )


@query(
    "graph_assortativity",
    oracle=f"""
        WITH edges AS MATERIALIZED ({_EDGES_SQL}),
        deg AS (
            SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges
            ) GROUP BY v
        ),
        pairs AS (
            SELECT ds.d AS du, dd.d AS dv
            FROM edges e
            JOIN deg ds ON ds.v = e.src
            JOIN deg dd ON dd.v = e.dst
        ),
        sums AS (
            SELECT CAST(2 * count(*) AS BIGINT) AS n,
                   CAST(sum(du + dv) AS BIGINT) AS sx,
                   CAST(sum(2 * du * dv) AS BIGINT) AS sxy,
                   CAST(sum(du * du + dv * dv) AS BIGINT) AS sxx
            FROM pairs
        )
        SELECT CAST(n / 2 AS BIGINT) AS n_edges,
               round((n * sxy - sx * sx) * 1.0 / (n * sxx - sx * sx), 6)
                   AS assortativity
        FROM sums
    """,
    family="graph",
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all edges (Newman 2002) —
    positive means hubs link to hubs, negative means hub-and-spoke.
    For the undirected graph each edge contributes both (du,dv) and
    (dv,du), which collapses the closed form to
    r = (n·Σ2dudv − (Σ(du+dv))²) / (n·Σ(du²+dv²) − (Σ(du+dv))²) over
    EXACT INTEGER sums — no float accumulation, bit-stable
    cross-engine. Plan: one hash agg for degrees (vertex-keyed), two
    vertex-keyed equi-joins to tag each edge's endpoint degrees (the
    degree frame is |V| rows — broadcast-sized next to the edge list),
    one 1-row aggregate. Every shuffle key is a vertex id; nothing is
    pair-space."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("src").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    pairs = (
        edges.join(F.broadcast(deg).withColumnRenamed("v", "src").withColumnRenamed("d", "du"), "src")
        .join(F.broadcast(deg).withColumnRenamed("v", "dst").withColumnRenamed("d", "dv"), "dst")
    )
    sums = pairs.agg(
        (2 * F.count("*")).alias("n"),
        F.sum(F.col("du") + F.col("dv")).alias("sx"),
        F.sum(2 * F.col("du") * F.col("dv")).alias("sxy"),
        F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv")).alias("sxx"),
    )
    return sums.select(
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx"))
            * 1.0
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("assortativity"),
    )


@query(
    "graph_knn_degree",
    oracle=f"""
        WITH edges AS MATERIALIZED ({_EDGES_SQL}),
        deg AS (
            SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges
            ) GROUP BY v
        ),
        nbr AS (
            SELECT e.src AS v, dd.d AS nd FROM edges e JOIN deg dd ON dd.v = e.dst
            UNION ALL
            SELECT e.dst AS v, ds.d AS nd FROM edges e JOIN deg ds ON ds.v = e.src
        ),
        per_v AS (
            SELECT n.v, dv.d,
                   CAST(sum(n.nd) AS BIGINT) AS snd,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM nbr n JOIN deg dv ON dv.v = n.v
            GROUP BY n.v, dv.d
        )
        SELECT d AS degree,
               CAST(count(*) AS BIGINT) AS n_vertices,
               round(sum(snd) * 1.0 / sum(cnt), 6) AS avg_neighbor_degree
        FROM per_v
        GROUP BY d
    """,
    family="graph",
)
def graph_knn_degree(spark, sf_dir):
    """The k_nn(k) curve — average neighbor degree as a function of a
    vertex's own degree — the DETAILED view of graph_assortativity's
    single correlation number (a rising curve = assortative mixing, a
    falling curve = hubs feeding leaves; the shape matters for
    epidemic/diffusion modeling on the co-purchase graph).
    Vertex-keyed joins tag each edge endpoint with the other side's
    degree, one vertex-keyed agg, one degree-keyed fold — every
    shuffle key is a vertex id or a degree value, nothing pair-space.
    Exact integer sums into one final ratio per degree class."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("src").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    nbr = (
        edges.join(
            F.broadcast(deg.select(F.col("v").alias("dst"), F.col("d").alias("nd"))),
            "dst",
        ).select(F.col("src").alias("v"), "nd")
    ).unionAll(
        edges.join(
            F.broadcast(deg.select(F.col("v").alias("src"), F.col("d").alias("nd"))),
            "src",
        ).select(F.col("dst").alias("v"), "nd")
    )
    per_v = (
        nbr.join(F.broadcast(deg), "v")
        .groupBy("v", "d")
        .agg(F.sum("nd").alias("snd"), F.count("*").alias("cnt"))
    )
    return per_v.groupBy(F.col("d").alias("degree")).agg(
        F.count("*").alias("n_vertices"),
        F.round(F.sum("snd") * 1.0 / F.sum("cnt"), 6).alias("avg_neighbor_degree"),
    )


@query(
    "graph_cc_largestar",
    oracle=f"""
        WITH RECURSIVE e0 AS (
            SELECT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_COOCCUR}
        ),
        nodes AS (
            SELECT DISTINCT c AS node FROM e0
            UNION SELECT DISTINCT s + {_CC_SUPP_OFFSET} FROM e0
        ),
        edges AS (
            SELECT c AS src, s + {_CC_SUPP_OFFSET} AS dst FROM e0
            UNION ALL SELECT s + {_CC_SUPP_OFFSET}, c FROM e0
        ),
        walk(node, lab) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.node
        )
        SELECT node, min(lab) AS cluster_id FROM walk GROUP BY node
    """,
    family="graph",
)
def graph_cc_largestar(spark, sf_dir):
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al., 'Connected Components in MapReduce and Beyond',
    SoCC 2014) — the algorithm SCALE.md and the dedup_clusters /
    graph_cc docstrings name as the high-diameter scale tool, now
    implemented and hash-checked against the SAME recursive-CTE
    min-label closure oracle as graph_cc: two different algorithms,
    one fixpoint. Edges live in canonical (hi > lo) orientation;
    large-star hooks every larger neighbor of u onto min(Γ(u) ∪ {u}),
    small-star re-points each node's smaller neighbors (and itself)
    at the local minimum, and the alternation converges in O(log n)
    rounds REGARDLESS OF GRAPH DIAMETER — the property min-label
    propagation (O(diameter) rounds) lacks, and the reason this
    variant wins on path-shaped near-dup chains at 100 TB. Every
    round's shuffle keys on node id over the CURRENT edge set (which
    only shrinks toward the star forest: |E| never grows under
    either step, per the paper's invariant); convergence is an
    edge-set fixpoint detected by count + order-insensitive hash sum
    in one aggregate per round; non-convergence in 30 rounds raises.
    At the fixpoint the edge set IS the star forest (node → component
    minimum), so labels fall out without a closure pass."""
    canon = (
        _cooccur(spark, sf_dir, _CC_MIN_COOCCUR).select(
            F.greatest("c", "s").alias("hi"), F.least("c", "s").alias("lo")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels, _ = largestar_fixpoint(canon)
    return labels.select("node", F.col("lab").alias("cluster_id"))


def largestar_fixpoint(canon, max_rounds=30):
    """Alternating large-star / small-star rounds over a canonical
    (hi > lo) edge frame until the edge-set fixpoint; returns
    ``(labels, rounds)`` where labels is (node, lab) with lab =
    component minimum and rounds is the star-round count. Shared by
    graph_cc_largestar and the high-diameter scale probe
    (``python -m tools.scale_probe cc``).

    Checkpoint-stats audit (round 12): although each round references
    ``canon`` multiple times, the per-round groupBy aggregates reset the
    size estimate toward the default, so digits grow ADDITIVELY —
    measured ~+1 digit/round on a 4096-node chain (13 rounds, max 15
    digits). No fresh_stats_checkpoint needed; the geometric-compounding
    mechanism itself is pinned by
    tests/test_pipeline.py::test_fresh_stats_checkpoint_bounds_estimate_growth."""

    def edge_sig(df):
        row = df.agg(
            F.count("*").alias("n"),
            # pmod before the sum: ANSI mode makes a raw Σxxhash64 overflow
            F.sum(F.pmod(F.xxhash64("hi", "lo"), F.lit(10**12))).alias("h"),
        ).first()
        return row["n"], row["h"]

    def large_star(df):
        bi = df.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            df.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        m = bi.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
        return (
            bi.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )

    def small_star(df):
        m = df.groupBy("hi").agg(F.min("lo").alias("m"))
        withm = df.join(m, "hi")
        re_pointed = withm.where(F.col("lo") != F.col("m")).select(
            F.col("lo").alias("hi"), F.col("m").alias("lo")
        )
        self_edge = m.select(F.col("hi"), F.col("m").alias("lo"))
        return re_pointed.unionByName(self_edge).distinct()

    sig = edge_sig(canon)
    rounds = 0
    for _ in range(max_rounds):
        canon = small_star(large_star(canon)).localCheckpoint(eager=False)
        rounds += 1
        new_sig = edge_sig(canon)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"largestar_fixpoint: no convergence in {max_rounds} rounds")
    roots = canon.select(F.col("lo").alias("node")).distinct().join(
        canon.select(F.col("hi").alias("node")).distinct(), "node", "anti"
    )
    labels = canon.select(
        F.col("hi").alias("node"), F.col("lo").alias("lab")
    ).unionByName(roots.select("node", F.col("node").alias("lab")))
    return labels, rounds


_LOUVAIN_ROUNDS = 3


def _louvain_prefix(rounds: int = _LOUVAIN_ROUNDS) -> str:
    # Unrolled per-round CTE chain (the _lpa_oracle pattern). All scores
    # are EXACT INTEGERS — 2m*k_iC - k_i*(Sigma_C - [i in C]*k_i) is the
    # modularity gain scaled by 2m^2 > 0 — so argmax + min-community
    # tie-break is bit-stable with no fp anywhere. Rounds alternate the
    # moving SIDE of the bipartite graph (odd: customers, even:
    # suppliers); the frozen side carries its label forward.
    ctes = []
    for r in range(1, rounds + 1):
        p = f"c{r - 1}"
        mover = (
            f"< {_CC_SUPP_OFFSET}" if r % 2 == 1 else f">= {_CC_SUPP_OFFSET}"
        )
        ctes.append(f"""
        sig{r} AS (
            SELECT p.c, CAST(sum(d.k) AS BIGINT) AS sig
            FROM {p} p JOIN deg d ON d.node = p.node GROUP BY p.c
        ),
        nb{r} AS (
            SELECT e.src AS node, p.c, CAST(count(*) AS BIGINT) AS kic
            FROM edges e JOIN {p} p ON p.node = e.dst
            WHERE e.src {mover}
            GROUP BY e.src, p.c
        ),
        cand{r} AS (
            SELECT node, c, max(kic) AS kic FROM (
                SELECT node, c, kic FROM nb{r}
                UNION ALL
                SELECT node, c, CAST(0 AS BIGINT) FROM {p}
                WHERE node {mover}
            ) GROUP BY node, c
        ),
        sc{r} AS (
            SELECT g.node, g.c,
                   m2.m2 * g.kic
                   - d.k * (s.sig - CASE WHEN p.c = g.c THEN d.k
                                         ELSE CAST(0 AS BIGINT) END) AS score
            FROM cand{r} g
            JOIN deg d ON d.node = g.node
            JOIN sig{r} s ON s.c = g.c
            JOIN {p} p ON p.node = g.node
            CROSS JOIN m2
        ),
        c{r} AS MATERIALIZED (
            SELECT node, c FROM (
                SELECT node, c,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY score DESC, c) AS rn
                FROM sc{r}) WHERE rn = 1
            UNION ALL
            SELECT node, c FROM {p} WHERE NOT (node {mover})
        )""")
    chain = ",".join(ctes)
    return f"""
        WITH e0 AS (
            SELECT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_COOCCUR}
        ),
        edges AS MATERIALIZED (
            SELECT c AS src, s + {_CC_SUPP_OFFSET} AS dst FROM e0
            UNION ALL SELECT s + {_CC_SUPP_OFFSET}, c FROM e0
        ),
        deg AS MATERIALIZED (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS k
            FROM edges GROUP BY src
        ),
        m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges),
        c0 AS (SELECT node, node AS c FROM deg),{chain}"""


def _louvain_oracle(rounds: int = _LOUVAIN_ROUNDS) -> str:
    return f"""{_louvain_prefix(rounds)}
        SELECT node, c AS community FROM c{rounds}
    """


_LOUVAIN_ML_ROUNDS = 2  # phase-2 weighted local-move rounds


def _louvain_ml_oracle() -> str:
    # Phase 2 (Blondel et al. §2 "the second phase"): contract phase-1
    # communities into a WEIGHTED super-graph (self-loops = internal
    # edges; m2 is invariant under contraction) and repeat the integer
    # local moves with sum(w) in place of count(*). The contracted graph
    # is no longer bipartite, so the mover schedule is node-id PARITY
    # (deterministic 2-coloring; measured in the prototype: Q 0.9139 ->
    # 0.9507 in two rounds on the sf0.01 graph). k_iC excludes the
    # self-loop (e.src <> e.dst); Sigma_C minus own k when staying.
    p1 = f"c{_LOUVAIN_ROUNDS}"
    ctes = []
    for q in range(1, _LOUVAIN_ML_ROUNDS + 1):
        p = f"d{q - 1}"
        par = q % 2
        ctes.append(f"""
        dsig{q} AS (
            SELECT p.c, CAST(sum(d.k) AS BIGINT) AS sig
            FROM {p} p JOIN sdeg d ON d.node = p.node GROUP BY p.c
        ),
        dnb{q} AS (
            SELECT e.src AS node, p.c, CAST(sum(e.w) AS BIGINT) AS kic
            FROM sedges e JOIN {p} p ON p.node = e.dst
            WHERE e.src <> e.dst AND e.src % 2 = {par}
            GROUP BY e.src, p.c
        ),
        dcand{q} AS (
            SELECT node, c, max(kic) AS kic FROM (
                SELECT node, c, kic FROM dnb{q}
                UNION ALL
                SELECT node, c, CAST(0 AS BIGINT) FROM {p}
                WHERE node % 2 = {par}
            ) GROUP BY node, c
        ),
        dsc{q} AS (
            SELECT g.node, g.c,
                   m2.m2 * g.kic
                   - d.k * (s.sig - CASE WHEN p.c = g.c THEN d.k
                                         ELSE CAST(0 AS BIGINT) END) AS score
            FROM dcand{q} g
            JOIN sdeg d ON d.node = g.node
            JOIN dsig{q} s ON s.c = g.c
            JOIN {p} p ON p.node = g.node
            CROSS JOIN m2
        ),
        d{q} AS MATERIALIZED (
            SELECT node, c FROM (
                SELECT node, c,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY score DESC, c) AS rn
                FROM dsc{q}) WHERE rn = 1
            UNION ALL
            SELECT node, c FROM {p} WHERE node % 2 <> {par}
        )""")
    return f"""{_louvain_prefix(_LOUVAIN_ROUNDS)},
        sedges AS MATERIALIZED (
            SELECT p1.c AS src, p2.c AS dst, CAST(count(*) AS BIGINT) AS w
            FROM edges e
            JOIN {p1} p1 ON p1.node = e.src
            JOIN {p1} p2 ON p2.node = e.dst
            GROUP BY p1.c, p2.c
        ),
        sdeg AS (
            SELECT src AS node, CAST(sum(w) AS BIGINT) AS k
            FROM sedges GROUP BY src
        ),
        d0 AS (SELECT node, node AS c FROM sdeg),{",".join(ctes)}
        SELECT n.node, d.c AS community
        FROM {p1} n JOIN d{_LOUVAIN_ML_ROUNDS} d ON d.node = n.c
    """


@query("graph_louvain", oracle=_louvain_oracle(), family="graph")
def graph_louvain(spark, sf_dir):
    """Louvain-style community detection, one level, ALTERNATING-SIDE
    parallel local moves (Blondel et al. 2008 phase 1; the alternation
    is the graph-coloring trick parallel Louvain implementations use to
    avoid simultaneous neighbor moves — on this strictly BIPARTITE
    customer-supplier graph the two sides ARE the coloring): in odd
    rounds every customer, in even rounds every supplier, joins the
    neighbor community with the best modularity gain while the other
    side stays frozen; _LOUVAIN_ROUNDS pinned rounds from singleton
    init. A fully synchronous variant was measured first and REJECTED:
    with both sides moving at once, singleton labels chase each other
    (i adopts {j} while j leaves) and three rounds ended BELOW the
    singleton partition's modularity (-0.0072 vs -0.0052 at sf0.01);
    the alternating schedule reaches Q = 0.914 on the same graph in one
    round. The gain comparison is EXACT INTEGER arithmetic — DeltaQ of
    i joining C is proportional to 2m*k_iC - k_i*Sigma_C (Sigma_C
    excludes i when C is i's own community), all counts — so argmax
    with a min-community-id tie-break is deterministic and the whole
    run SQL-oracles with zero floating point (unlike classic sequential
    Louvain, whose result depends on visit order).

    Per round: Sigma_C is one groupBy over the node map; k_iC is one
    edges-join-labels + count (the LPA shuffle shape); scoring joins are
    node- or community-keyed, never pair-keyed; the argmax is a
    map-side min(struct(-score, c)) — no window over the corpus. At
    10^9 edges each round costs ~one LPA round (edges shuffle on dst,
    counts shuffle on node); the label frame rides localCheckpoint
    between rounds exactly like min_label_fixpoint. Community count
    collapses ~4x on this graph (tests pin the exact partition quality
    via graph_modularity-style counting: Q_louvain > 0 > Q_singletons).
    """
    comm, _, _ = _louvain_phase1(spark, sf_dir)
    return comm.select("node", F.col("c").alias("community"))


def _louvain_phase1(spark, sf_dir):
    """Shared phase-1 local-move pass: returns (comm(node, c), edges,
    m2) — graph_louvain emits comm directly, graph_louvain_multilevel
    contracts it."""
    edges = _cooccur_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("k")
    )
    m2 = edges.agg(F.count("*").cast("bigint").alias("m2"))
    comm = deg.select("node", F.col("node").alias("c"))
    for r in range(1, _LOUVAIN_ROUNDS + 1):
        if r % 2 == 1:
            is_mover = F.col("node") < _CC_SUPP_OFFSET
            src_mover = F.col("src") < _CC_SUPP_OFFSET
        else:
            is_mover = F.col("node") >= _CC_SUPP_OFFSET
            src_mover = F.col("src") >= _CC_SUPP_OFFSET
        sig = comm.join(deg, "node").groupBy("c").agg(
            F.sum("k").cast("bigint").alias("sig")
        )
        nb = (
            edges.filter(src_mover)
            .join(comm.select(F.col("node").alias("dst"), "c"), "dst")
            .groupBy(F.col("src").alias("node"), "c")
            .agg(F.count("*").cast("bigint").alias("kic"))
        )
        cand = (
            nb.unionByName(
                comm.filter(is_mover).select(
                    "node", "c", F.lit(0).cast("bigint").alias("kic")
                )
            )
            .groupBy("node", "c")
            .agg(F.max("kic").alias("kic"))
        )
        cur = comm.select("node", F.col("c").alias("c_cur"))
        own_k = F.when(F.col("c") == F.col("c_cur"), F.col("k")).otherwise(
            F.lit(0).cast("bigint")
        )
        sc = (
            cand.join(deg, "node")
            .join(sig, "c")
            .join(cur, "node")
            .crossJoin(F.broadcast(m2))
            .withColumn(
                "score", F.col("m2") * F.col("kic") - F.col("k") * (F.col("sig") - own_k)
            )
        )
        moved = (
            sc.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("score")).alias("ns"), F.col("c").alias("c"))
                ).alias("b")
            )
            .select("node", F.col("b.c").alias("c"))
        )
        # checkpoint-stats audit (round 12): comm self-references ×4 per
        # round, but _LOUVAIN_ROUNDS is a small constant (oracle unrolls
        # it), so estimates can't compound — no fresh_stats_checkpoint.
        # EAGER on purpose (r18 measured): a lazy chain here ran the six
        # rounds as one mega-DAG job and read 4.4-4.8 s warm vs 3.5 s
        # with per-round materialization — the ×4 in-round reuse of comm
        # plans better against a materialized LogicalRDD.
        comm = (
            moved.unionByName(comm.filter(~is_mover))
            .localCheckpoint(eager=True)
        )
    return comm, edges, m2


@query("graph_louvain_multilevel", oracle=_louvain_ml_oracle(), family="graph")
def graph_louvain_multilevel(spark, sf_dir):
    """Full two-level Louvain (Blondel et al. 2008): phase-1's
    alternating-side local moves, then PHASE 2 — contract each
    community into one super-node of a WEIGHTED graph (edge weight =
    inter-community directed edge count, self-loops = internal edges;
    2m is invariant under contraction) and repeat the integer local
    moves with weighted gains (sum(w) replacing count(*)). The
    contracted graph is no longer bipartite, so the mover schedule is
    node-id PARITY (a deterministic 2-coloring standing in for the
    graph coloring parallel Louvain uses); self-loops are excluded
    from k_iC and counted in k_i, the textbook bookkeeping. Measured
    on the sf0.01 graph: Q 0.9139 (phase 1) -> 0.9507 after two
    phase-2 rounds, 86 -> 76 communities — the hierarchy step is what
    makes Louvain Louvain rather than one-shot label refinement; the
    test pins the improvement. Scale shape: the super-graph is
    |communities| nodes — orders of magnitude smaller than the corpus
    graph — so phase 2's joins are broadcast-sized at any corpus
    scale; the only corpus-scale stages remain phase 1's rounds and
    the one contraction groupBy (shuffles on the community key)."""
    comm, edges, m2 = _louvain_phase1(spark, sf_dir)
    cs = comm.select(F.col("node").alias("src"), F.col("c").alias("c_src"))
    cd = comm.select(F.col("node").alias("dst"), F.col("c").alias("c_dst"))
    sedges = (
        edges.join(cs, "src")
        .join(cd, "dst")
        .groupBy(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .agg(F.count("*").cast("bigint").alias("w"))
        .localCheckpoint(eager=True)
    )
    sdeg = sedges.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").cast("bigint").alias("k")
    )
    d = sdeg.select("node", F.col("node").alias("c"))
    for q in range(1, _LOUVAIN_ML_ROUNDS + 1):
        par = q % 2
        is_mover = F.col("node") % 2 == par
        sig = d.join(sdeg, "node").groupBy("c").agg(
            F.sum("k").cast("bigint").alias("sig")
        )
        nb = (
            sedges.filter((F.col("src") % 2 == par) & (F.col("src") != F.col("dst")))
            .join(d.select(F.col("node").alias("dst"), "c"), "dst")
            .groupBy(F.col("src").alias("node"), "c")
            .agg(F.sum("w").cast("bigint").alias("kic"))
        )
        cand = (
            nb.unionByName(
                d.filter(is_mover).select(
                    "node", "c", F.lit(0).cast("bigint").alias("kic")
                )
            )
            .groupBy("node", "c")
            .agg(F.max("kic").alias("kic"))
        )
        cur = d.select("node", F.col("c").alias("c_cur"))
        own_k = F.when(F.col("c") == F.col("c_cur"), F.col("k")).otherwise(
            F.lit(0).cast("bigint")
        )
        sc = (
            cand.join(sdeg, "node")
            .join(sig, "c")
            .join(cur, "node")
            .crossJoin(F.broadcast(m2))
            .withColumn(
                "score", F.col("m2") * F.col("kic") - F.col("k") * (F.col("sig") - own_k)
            )
        )
        moved = (
            sc.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("score")).alias("ns"), F.col("c").alias("c"))
                ).alias("b")
            )
            .select("node", F.col("b.c").alias("c"))
        )
        # checkpoint-stats audit (round 12): d is self-referential here,
        # but the move loop is FIXED at a handful of rounds (the oracle
        # unrolls the same count), so preserved estimates can't compound
        # far enough to matter — no fresh_stats_checkpoint needed
        d = moved.unionByName(d.filter(~is_mover)).localCheckpoint(eager=True)
    return comm.join(
        d.select(F.col("node").alias("c"), F.col("c").alias("community")), "c"
    ).select("node", "community")


_BFS_SEED_DEG = 3
_BFS_ROUNDS = 3


def _bfs_oracle(rounds: int = _BFS_ROUNDS) -> str:
    ctes = []
    for r in range(1, rounds + 1):
        p = f"d{r - 1}"
        ctes.append(f""",
        d{r} AS MATERIALIZED (
            SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                SELECT node, dist FROM {p}
                UNION ALL
                SELECT e.dst AS node, d.dist + 1 AS dist
                FROM edges e JOIN {p} d ON d.node = e.src
            ) GROUP BY node
        )""")
    return f"""
        WITH e0 AS (
            SELECT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_COOCCUR}
        ),
        edges AS MATERIALIZED (
            SELECT c AS src, s + {_CC_SUPP_OFFSET} AS dst FROM e0
            UNION ALL SELECT s + {_CC_SUPP_OFFSET}, c FROM e0
        ),
        deg AS MATERIALIZED (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS k
            FROM edges GROUP BY src
        ),
        d0 AS (
            SELECT node, CAST(0 AS BIGINT) AS dist
            FROM deg WHERE k >= {_BFS_SEED_DEG}
        ){"".join(ctes)}
        SELECT node, dist FROM d{rounds}
    """


@query("graph_bfs_layers", oracle=_bfs_oracle(), family="graph")
def graph_bfs_layers(spark, sf_dir):
    """Multi-source BFS over the customer-supplier co-occurrence graph
    (the graph_cc/graph_louvain edge list): seeds are the hub nodes
    with degree >= 3, and every node gets its hop distance to the
    NEAREST hub within 3 rounds — the distance-to-hub feature used for
    graph-aware sampling and the reachable-core audit. Pregel shape
    (Malewicz et al. 2010): each round is one edges-join-frontier
    shuffle + a min-combine, exactly the message-passing round GraphX
    runs, with localCheckpoint per round to cut lineage (on a cluster:
    reliable checkpoint, SCALE.md lesson 2). This unrolled version
    relaxes the FULL label frame each round, matching the oracle CTE
    chain term for term; the delta-frontier refinement — join only the
    nodes whose dist changed last round, the standard BF/BFS pruning —
    is LANDED as ``sssp_fixpoint`` (graph_sssp_weighted; 30× joined-row
    reduction measured on the layered-DAG probe, SCALE.md), and this op
    deliberately keeps the full-frame form as the oracle-mirroring
    reference implementation; distances are
    exact BIGINTs so no fp is anywhere. Unreached nodes (farther than
    3 hops from every hub) are absent from the result by construction,
    which is itself the audit signal — compare counts with graph_cc's
    component sizes."""
    edges = _cooccur_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("k")
    )
    d = deg.filter(F.col("k") >= _BFS_SEED_DEG).select(
        "node", F.lit(0).cast("bigint").alias("dist")
    )
    for _ in range(_BFS_ROUNDS):
        prop = (
            edges.join(d.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        d = (
            d.unionByName(prop)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return d


_SSSP_ROUNDS = 8  # fixture relaxation fixpoint; oracle guard makes a
                  # too-small unroll fail LOUDLY (0 rows) instead of
                  # silently agreeing on truncated distances


def _sssp_oracle(rounds: int = _SSSP_ROUNDS) -> str:
    """Unrolled Bellman–Ford chain with the kcore-style CONVERGENCE
    GUARD: builds ``rounds + 1`` relaxation CTEs and returns d_{rounds+1}
    only when both its row count and its dist sum equal d_{rounds}'s
    (reached-node sets only grow and distances only shrink, so the pair
    of equalities IS the fixpoint). The property test calls this with
    rounds = |V| — shortest paths use at most |V|−1 edges."""
    ctes = []
    for r in range(1, rounds + 2):
        p = f"d{r - 1}"
        ctes.append(f""",
        d{r} AS MATERIALIZED (
            SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
                SELECT node, dist FROM {p}
                UNION ALL
                SELECT e.dst AS node, d.dist + e.w AS dist
                FROM edges e JOIN {p} d ON d.node = e.src
            ) GROUP BY node
        )""")
    return f"""
        WITH e0 AS (
            SELECT o.o_custkey AS c, l.l_suppkey AS s,
                   CAST(greatest(1, 10 - count(*)) AS BIGINT) AS w
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_COOCCUR}
        ),
        edges AS MATERIALIZED (
            SELECT c AS src, s + {_CC_SUPP_OFFSET} AS dst, w FROM e0
            UNION ALL SELECT s + {_CC_SUPP_OFFSET}, c, w FROM e0
        ),
        deg AS MATERIALIZED (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS k
            FROM edges GROUP BY src
        ),
        d0 AS (
            SELECT node, CAST(0 AS BIGINT) AS dist
            FROM deg WHERE k >= {_BFS_SEED_DEG}
        ){"".join(ctes)}
        SELECT node, dist FROM d{rounds + 1}
        WHERE (SELECT count(*) FROM d{rounds + 1})
            = (SELECT count(*) FROM d{rounds})
          AND (SELECT coalesce(sum(dist), 0) FROM d{rounds + 1})
            = (SELECT coalesce(sum(dist), 0) FROM d{rounds})
    """


def _ds_merge(d, prop):
    """Relax-merge shared by sssp_fixpoint and delta_stepping_fixpoint:
    fold min-candidates into the distance frame with a full outer join
    (new nodes can appear), returning (new_d, improved)."""
    m = (
        d.join(prop, "node", "full")
        .select(
            "node",
            F.least("dist", "cand").cast("bigint").alias("dist"),
            (
                F.col("cand").isNotNull()
                & (F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            ).alias("improved"),
        )
        # lazy (r18): the caller's next full action (the frontier count)
        # materializes the merge AND answers its termination test in one
        # job — an eager checkpoint plus a separate count was two jobs per
        # round (the min_label_fixpoint lesson)
        .localCheckpoint(eager=False)
    )
    return m.select("node", "dist"), m.where("improved").select("node", "dist")


def sssp_fixpoint(edges, seeds, max_rounds=None, n_edges=None):
    """Delta-frontier Bellman–Ford to the true fixpoint over a weighted
    edge list (``edges``: src/dst/w with both directions present,
    materialized by the caller; ``seeds``: (node, dist) at dist 0).
    Each round relaxes ONLY the frontier — nodes whose distance
    improved last round — which is result-identical to full-frame
    relaxation (any shortest path improves through an improved
    predecessor) but joins Σ|frontier_r| ≈ O(|V|) rows across the whole
    run instead of |V| × rounds: the standard BF pruning the
    full-frame unrolled form (graph_bfs_layers, the oracle CTE chain)
    pays for oracle mirroring. The per-round shape is one
    edges⋈frontier shuffle, a map-side min-combine keyed by dst, and a
    full-outer merge with the distance frame; an EMPTY frontier is the
    textbook termination (no improvement can ever occur again since
    weights are non-negative). Returns ``(dists, rounds)``; raises if
    ``max_rounds`` (default |V|+1, the BF bound) is exhausted — at
    100 TB the further refinement for huge-diameter graphs is
    Δ-stepping's bucketed hybrid (Meyer & Sanders 2003). ``n_edges``
    (r18): pass the edge-row count when known to skip the one metadata
    count that feeds bounded_loop_frame; either way the loop-frame bound
    only ever narrows SMALL over-partitioned inputs.

    Checkpoint-stats audit (round 12): the distance merge is a LINEAR
    chain (d joins prop, which derives from the frontier, not from d
    squared), so preserved estimates compound additively — measured
    +2.7 digits/round on a 48-node chain (49 rounds, max 129 digits);
    a 10k-round fixpoint stays under 30k digits, trivially cheap. No
    fresh_stats_checkpoint needed (contrast min_label_fixpoint's ×3
    self-reference, which does)."""
    d = seeds.localCheckpoint(eager=True)
    f = d
    if max_rounds is None:
        max_rounds = edges.select("src").distinct().count() + 1
    # bound the edge frame's per-round task count (r18, bounded_loop_frame):
    # the relaxation re-scans edges every round, so one metadata count
    # (skipped when the caller already knows the size) amortizes over the
    # run; a large frame is returned unchanged
    if n_edges is None:
        n_edges = edges.count()
    edges = bounded_loop_frame(edges, n_edges)
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        prop = (
            edges.join(f.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        d, f = _ds_merge(d, prop)
        if f.count() == 0:
            return d, rounds
    raise RuntimeError(
        f"sssp_fixpoint: relaxation failed to converge in {max_rounds} rounds"
    )


def sssp_inputs(spark, sf_dir):
    """Shared input builder for the two SSSP twins (and bench.py's
    per-round Δ-stepping instrument): the weighted customer-supplier
    co-occurrence edge list (integer weight greatest(1, 10 − cooccur),
    both directions, checkpointed), hub seeds (degree >= _BFS_SEED_DEG
    at distance 0), and the materialized node count for round bounds.
    Factored in round 12 so the bench instrument times the FIXPOINT, not
    a third copy of the edge build."""
    fwd = _cooccur(spark, sf_dir, _CC_MIN_COOCCUR).select(
        F.col("c").alias("src"),
        F.col("s").alias("dst"),
        F.greatest(F.lit(1), F.lit(10) - F.col("n")).cast("bigint").alias("w"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint(eager=True)
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("bigint").alias("k"))
        .localCheckpoint(eager=True)
    )
    seeds = deg.filter(F.col("k") >= _BFS_SEED_DEG).select(
        "node", F.lit(0).cast("bigint").alias("dist")
    )
    # deg's node set IS the distinct-src set, already materialized — the
    # callers derive round bounds from it instead of running an extra
    # shuffle-distinct over the edge list (r10 advice).
    return edges, seeds, deg.count()


@query("graph_sssp_weighted", oracle=_sssp_oracle(), family="graph")
def graph_sssp_weighted(spark, sf_dir):
    """Multi-source WEIGHTED shortest paths (Bellman–Ford) over the
    customer-supplier co-occurrence graph — the weighted completion of
    graph_bfs_layers: edge weight is the exact integer
    greatest(1, 10 − cooccur_count), so strongly co-purchasing pairs
    are CLOSER, and every node gets its minimum weighted distance to
    the nearest hub seed (degree >= 3, the BFS seed rule). Relaxes TO
    THE TRUE FIXPOINT via ``sssp_fixpoint``'s DELTA-FRONTIER rounds —
    only nodes whose distance improved last round are joined against
    the edge list (result-identical to full-frame relaxation, but
    Σ|frontier| ≈ O(|V|) joined rows total instead of |V| × rounds;
    measured on the high-diameter probe, SCALE.md),
    terminating on the textbook empty-frontier condition, bounded by
    |V| rounds (shortest paths use <= |V|−1 edges) and raising on
    non-termination — the min_label_fixpoint / round-10 kcore
    convergence discipline. localCheckpoint per round cuts lineage; for
    huge-diameter graphs where stale distances settle incrementally,
    the Δ-stepping twin ``graph_sssp_delta`` (landed round 11 after the
    decade probe showed 2.55× at 10× width) is the scale path — same
    contract and oracle, pick by graph shape. All-integer
    distances — no fp anywhere. The
    unrolled-CTE oracle carries a convergence guard, so a truncated
    chain loudly mismatches instead of agreeing (the kcore lesson);
    the hypothesis property test replays the recurrence at rounds=|V|
    against a pure-Python Dijkstra."""
    edges, seeds, n_nodes = sssp_inputs(spark, sf_dir)
    d, _rounds = sssp_fixpoint(edges, seeds, max_rounds=n_nodes + 1)
    return d


_SSSP_DELTA = 3  # bucket width ~ median edge weight (weights are 1..6 here);
                 # Meyer & Sanders' dial: smaller -> Dijkstra-like (fewer
                 # wasted relaxations, more buckets), larger -> BF-like


def delta_stepping_fixpoint(edges, seeds, delta, max_rounds, n_edges=None):
    """Δ-stepping SSSP (Meyer & Sanders 2003) — the huge-diameter scale
    path sssp_fixpoint's own docstring points to, landed after the
    probe demonstrated the crossover (SCALE.md; the probe is
    ``git show a87ea52:tools/scale_probe_sssp.py``, run with
    --delta-stepping): on W parallel 64-hop shortcut-chains,
    delta-frontier Bellman-Ford relaxes Σ|frontier| ≈ W·L²/2 rows
    (every round improves every still-stale node by one) while
    Δ-stepping relaxes ≈ 2·W·L — 15× fewer — and at the 10× width the
    wall follows the volume: BF 255.9 s vs Δ-stepping 100.2 s (2.55×).
    At fixture scale BF stays faster (round overhead dominates); both
    are kept, same contract, caller picks by graph shape.

    Algorithm: distances are binned into buckets of width ``delta``;
    buckets are settled in order. Within the current bucket, LIGHT
    edges (w <= delta) relax iteratively until no improvement lands in
    the bucket (re-insertion semantics: an improved settled node is
    reprocessed); then HEAVY edges (w > delta) relax ONCE from every
    node settled in the bucket — their targets land strictly beyond it
    (dist >= b·delta + w > (b+1)·delta), so the bucket order is safe
    with positive integer weights. A node is relaxed-from at
    (essentially) its final distance — the Dijkstra-like property that
    kills the stale-value re-relaxation cascade BF pays for.

    Per-round shape: one light-edges⋈frontier join (frontier =
    in-bucket improved nodes only — checkpointed, so AQE sees its size
    and broadcasts when small), a map-side min-combine keyed by dst,
    the full-outer merge, and a node-keyed anti-join to refresh stale
    pending rows. Driver state: ONE scalar per bucket (the min bucket
    id). Raises loudly if ``max_rounds`` is exhausted.

    Checkpoint-stats audit (round 12): every frame fed back into the
    loop is first filtered/aggregated, which resets the preserved
    estimate — measured digits PLATEAU at ~217 across 387 checkpoints
    on a 48-node chain. No fresh_stats_checkpoint needed."""
    # r18 job consolidation across the loop (the min_label_fixpoint
    # lesson — job submission overhead dominates dictionary-sized
    # rounds): every per-round frame is a LAZY localCheckpoint whose
    # materialization rides the next full action (the in-bucket frontier
    # count, or the next bucket's min-bucket agg), the old
    # eager-checkpoint + isEmpty pairs are gone (the min-bucket agg
    # returns NULL on an empty frontier, which IS the emptiness test),
    # and the edge frame's per-round task count is bounded once at entry
    # (bounded_loop_frame; pass n_edges when known to skip the metadata
    # count).
    if n_edges is None:
        n_edges = edges.count()
    edges = bounded_loop_frame(edges, n_edges)
    light = edges.where(F.col("w") <= delta).localCheckpoint(eager=False)
    heavy = edges.where(F.col("w") > delta).localCheckpoint(eager=False)
    d = seeds.localCheckpoint(eager=True)
    f = d
    bkt = F.floor(F.col("dist") / delta)
    rounds = 0
    while True:
        b = f.agg(F.min(bkt).alias("b")).first()["b"]
        if b is None:  # empty frontier — the textbook termination
            return d, rounds
        cur = f.where(bkt == b).localCheckpoint(eager=False)
        f = f.where(bkt > b).localCheckpoint(eager=False)
        n_cur = cur.count()
        settled = cur.select("node")
        while n_cur:
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError(
                    f"delta_stepping_fixpoint: not converged in {max_rounds} rounds"
                )
            prop = (
                light.join(cur.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
            )
            d, imp = _ds_merge(d, prop)
            # imp is a narrow Filter+Project over the merge frame _ds_merge
            # just checkpointed — re-checkpointing it bought nothing and
            # cost a Catalyst toRdd compile per iteration (r19; the r18
            # verdict's compile-floor item). cur/f below stay checkpointed
            # (cur carries exact stats into the next relaxation join; f is
            # the loop's self-referential remainder).
            cur = imp.where(bkt == b).localCheckpoint(eager=False)
            n_cur = cur.count()
            settled = settled.unionByName(cur.select("node"))
            f = (
                f.join(imp, "node", "left_anti")
                .unionByName(imp.where(bkt > b))
                .localCheckpoint(eager=False)
            )
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(
                f"delta_stepping_fixpoint: not converged in {max_rounds} rounds"
            )
        # s is consumed exactly once (the heavy relaxation's probe side) —
        # inlining it into prop's plan drops a per-bucket checkpoint
        # compile; d and settled's parents are already checkpointed, so
        # the join is one narrow plan over materialized blocks (r19)
        s = d.join(settled.distinct(), "node")
        prop = (
            heavy.join(s.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        d, imp = _ds_merge(d, prop)
        # heavy improvements land strictly beyond bucket b (w > delta);
        # imp rides the merge checkpoint, un-checkpointed (see the light
        # loop note)
        f = (
            f.join(imp, "node", "left_anti")
            .unionByName(imp)
            .localCheckpoint(eager=False)
        )


@query("graph_sssp_delta", oracle=_sssp_oracle(), family="graph")
def graph_sssp_delta(spark, sf_dir):
    """graph_sssp_weighted's Δ-STEPPING twin (Meyer & Sanders 2003):
    identical contract — multi-source weighted shortest paths over the
    customer-supplier co-occurrence graph, hub seeds (degree >= 3),
    integer weights greatest(1, 10 − cooccur) — computed through
    ``delta_stepping_fixpoint``'s bucketed relaxation instead of
    delta-frontier Bellman-Ford, and verified against the SAME
    convergence-guarded oracle chain, so the driver hash-checks the
    two engines agree. Exists because the decade probe (SCALE.md)
    showed BF's
    stale-value re-relaxation cascade dominates wall at 10× width
    (255.9 s vs 100.2 s; Σ|frontier| ratio 15×) on high-diameter
    shortcut-chain graphs — the 100 TB regime where distances settle
    incrementally. On the small-diameter fixture BF wins (fewer
    rounds); pick by graph shape, both hash-identical. Δ = 3 ≈ the
    median edge weight; the engine-vs-engine equality test at sf0.01
    is in tests/test_pipeline.py."""
    edges, seeds, n_nodes = sssp_inputs(spark, sf_dir)
    # bound: with in-bucket re-insertion a node can be improved up to
    # delta-1 extra times inside its bucket before settling, and each
    # processed bucket adds one heavy wave — so the re-insertion-
    # inclusive worst case is (delta+1)·|V| light waves plus bucket
    # overhead, not 2|V| (round-11 advice: an adversarial graph could
    # exceed the tighter bound and hit a spurious not-converged error)
    d, _rounds = delta_stepping_fixpoint(
        edges, seeds, delta=_SSSP_DELTA,
        max_rounds=(_SSSP_DELTA + 1) * n_nodes + 16,
    )
    return d


_KCORE_K = 3
_KCORE_MIN_COOCCUR = 3  # denser graph than the CC family's >= 4
_KCORE_ROUNDS = 4  # ORACLE unroll depth only (the Spark side runs a true
                   # convergence-guarded fixpoint, hindex_fixpoint); the chain
                   # guard returns 0 rows — a LOUD mismatch — if 4 rounds was
                   # not the fixpoint, so this is never a silent truncation


def _kcore_oracle(rounds: int = _KCORE_ROUNDS) -> str:
    """Unrolled peel chain with a CONVERGENCE GUARD: builds ``rounds + 1``
    CTEs and returns a_{rounds+1} only when its node count equals
    a_{rounds}'s (peel survivor sets shrink monotonically, so equal counts
    = equal sets = fixpoint, and a_{rounds+1}'s k values are degrees
    within that stable set). An unconverged chain returns 0 rows, which
    LOUDLY mismatches the Spark side's true fixpoint instead of silently
    agreeing on a shared truncation (the round-8 judge finding). The
    property test calls this with rounds = |V| — an upper bound, since
    every non-final round removes at least one node."""
    ctes = []
    for r in range(1, rounds + 2):
        p = f"a{r - 1}"
        ctes.append(f""",
        a{r} AS MATERIALIZED (
            SELECT e.src AS node, CAST(count(*) AS BIGINT) AS k
            FROM edges e
            JOIN {p} x ON x.node = e.src
            JOIN {p} y ON y.node = e.dst
            GROUP BY e.src HAVING count(*) >= {_KCORE_K}
        )""")
    return f"""
        WITH e0 AS (
            SELECT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 HAVING count(*) >= {_KCORE_MIN_COOCCUR}
        ),
        edges AS MATERIALIZED (
            SELECT c AS src, s + {_CC_SUPP_OFFSET} AS dst FROM e0
            UNION ALL SELECT s + {_CC_SUPP_OFFSET}, c FROM e0
        ),
        a0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS k
               FROM edges){"".join(ctes)}
        SELECT node, k AS core_degree FROM a{rounds + 1}
        WHERE (SELECT count(*) FROM a{rounds + 1})
            = (SELECT count(*) FROM a{rounds})
    """


@query("graph_kcore", oracle=_kcore_oracle(), family="graph")
def graph_kcore(spark, sf_dir):
    """k-core decomposition (k=3) over the denser (cooccur >= 3)
    customer-supplier graph: the maximal subgraph in which every node
    keeps >= k neighbours, with each member's degree inside it — the
    standard graph-curation gate (strip low-engagement tendrils before
    community detection or embedding training; Seidman 1983). It is
    graph_coreness's delta h-index fixpoint capped at kmax = k
    (``hindex_fixpoint``): the estimates settle at min(coreness, k), so
    the k-core is the set of nodes at ``est = k``, and ``c_k``, the
    count of neighbours at ``est >= k``, is each member's degree inside
    the core. Runs to the true fixpoint (a non-converging loop raises);
    the oracle is the whole-set peel chain with a convergence guard.
    Exact integers throughout."""
    edges = _cooccur_edges(spark, sf_dir, _KCORE_MIN_COOCCUR)
    return hindex_fixpoint(edges, _KCORE_K).where(f"est = {_KCORE_K}").selectExpr(
        "node", f"c{_KCORE_K} AS core_degree"
    )


_LINKPRED_TOPK = 20


_LINKPRED_ORACLE = f"""
    WITH e0 AS (
        SELECT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_COOCCUR}
    ),
    deg AS (
        SELECT c, CAST(count(*) AS BIGINT) AS k FROM e0 GROUP BY c
    ),
    cand AS (
        SELECT a.c AS u, b.c AS v, CAST(count(*) AS BIGINT) AS cn
        FROM e0 a JOIN e0 b ON a.s = b.s AND a.c < b.c
        GROUP BY a.c, b.c
    )
    SELECT u, v, cn,
           round(cn * 1.0 / (du.k + dv.k - cn), 6) AS jaccard
    FROM cand JOIN deg du ON du.c = u JOIN deg dv ON dv.c = v
    ORDER BY jaccard DESC, u, v
    LIMIT {_LINKPRED_TOPK}
"""


@query("graph_link_prediction", oracle=_LINKPRED_ORACLE, family="graph")
def graph_link_prediction(spark, sf_dir):
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003)
    on the bipartite customer-supplier graph: customer pairs sharing
    suppliers, scored by neighborhood Jaccard cn / (|N(u)|+|N(v)|-cn)
    — the recommend-similar-buyers primitive. Bipartiteness makes
    every candidate a true non-edge (customers are never adjacent),
    so no existing-edge exclusion join is needed. The candidate
    generator is the classic two-hop self-join keyed on the SHARED
    NEIGHBOR (shuffle carries posting lists per supplier, never the
    customer-pair space — the PPJoin/dedup discipline; a supplier with
    degree d emits d(d-1)/2 pairs, so at 100 TB the skew guard is
    capping or sampling hub neighbors, the standard CN-at-scale
    trade). Jaccard is an exact-integer ratio both engines divide
    identically; top-20 cut on (rounded score, u, v) is fully
    tie-broken — TakeOrderedAndProject, no global sort."""
    e0 = (
        _cooccur(spark, sf_dir, _CC_MIN_COOCCUR)
        .select("c", "s")
        .localCheckpoint(eager=True)
    )
    deg = e0.groupBy("c").agg(F.count("*").cast("bigint").alias("k"))
    cand = (
        e0.alias("a")
        .join(e0.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.c") < F.col("b.c")))
        .groupBy(F.col("a.c").alias("u"), F.col("b.c").alias("v"))
        .agg(F.count("*").cast("bigint").alias("cn"))
    )
    du = deg.select(F.col("c").alias("u"), F.col("k").alias("ku"))
    dv = deg.select(F.col("c").alias("v"), F.col("k").alias("kv"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            F.round(
                F.col("cn") * 1.0 / (F.col("ku") + F.col("kv") - F.col("cn")), 6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u", "v")
        .limit(_LINKPRED_TOPK)
    )


_CORENESS_KMAX = 6
_CORENESS_ROUNDS = 6


def _coreness_oracle(rounds: int = _CORENESS_ROUNDS,
                     kmax: int = _CORENESS_KMAX) -> str:
    """Per-level guarded peel chains: for each k in 2..kmax an
    independent ``rounds + 1``-CTE peel of the FULL edge set (the
    k-core is unique, so independent levels equal the progressive
    restriction the Spark side runs), each with the kcore-style
    count-equality convergence guard — an unconverged level returns 0
    rows and LOUDLY mismatches the Spark fixpoint. Coreness = max
    surviving level (1 for edge-touched nodes outside every 2-core),
    capped at kmax on both engines by construction. The property test
    calls this with rounds = |V|."""
    levels = []
    union = []
    for k in range(2, kmax + 1):
        prev = "a0"
        for r in range(1, rounds + 2):
            levels.append(f"""
        k{k}_{r} AS MATERIALIZED (
            SELECT e.src AS node
            FROM edges e
            JOIN {f'k{k}_{r - 1}' if r > 1 else 'a0'} x ON x.node = e.src
            JOIN {f'k{k}_{r - 1}' if r > 1 else 'a0'} y ON y.node = e.dst
            GROUP BY e.src HAVING count(*) >= {k}
        )""")
        levels.append(f"""
        core{k} AS MATERIALIZED (
            SELECT node FROM k{k}_{rounds + 1}
            WHERE (SELECT count(*) FROM k{k}_{rounds + 1})
                = (SELECT count(*) FROM k{k}_{rounds})
        )""")
        union.append(f"SELECT node, {k} AS k FROM core{k}")
    return f"""
        WITH e0 AS (
            SELECT o.o_custkey AS c, l.l_suppkey AS s
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 HAVING count(*) >= {_KCORE_MIN_COOCCUR}
        ),
        edges AS MATERIALIZED (
            SELECT c AS src, s + {_CC_SUPP_OFFSET} AS dst FROM e0
            UNION ALL SELECT s + {_CC_SUPP_OFFSET}, c FROM e0
        ),
        a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
        {",".join(levels)},
        lv AS ({" UNION ALL ".join(union)})
        SELECT a0.node, CAST(coalesce(max(lv.k), 1) AS BIGINT) AS coreness
        FROM a0 LEFT JOIN lv USING (node)
        GROUP BY a0.node
    """


@query("graph_coreness", oracle=_coreness_oracle(), family="graph")
def graph_coreness(spark, sf_dir):
    """FULL core-number decomposition (coreness capped at k=6) over the
    graph_kcore co-occurrence graph: coreness(v) = the largest k such
    that v survives the k-core peel — the standard graph-curation
    ranking (Seidman 1983; corpus-graph centrality for sampling and
    hub detection, the per-node generalization of graph_kcore's k=3
    membership gate). Computed by ``coreness_decomposition``, one
    delta h-index fixpoint over all levels at once (Montresor, De
    Pellegrini & Miorandi, Distributed k-Core Decomposition, IEEE TPDS
    2013). The cap is declared semantics on BOTH engines (the oracle
    unions levels 2..6; real corpora put the interesting mass far below
    the cap and raising it is one constant). The oracle runs one
    guarded peel chain per level and mismatches loudly on any
    unconverged unroll; a hypothesis property test checks the Spark
    fixpoint against a pure-Python capped peel. Exact integers
    throughout."""
    edges = _cooccur_edges(spark, sf_dir, _KCORE_MIN_COOCCUR)
    return coreness_decomposition(edges)


def coreness_decomposition(edges, kmax=None):
    """``(node, coreness)`` with coreness capped at ``kmax`` (default the
    declared cap) for every node of ``edges`` (src/dst, both directions
    present): the estimates of ``hindex_fixpoint``'s converged state."""
    if kmax is None:
        kmax = _CORENESS_KMAX
    return hindex_fixpoint(edges, kmax).selectExpr("node", "est AS coreness")


def hindex_fixpoint(edges, kmax):
    """Delta h-index fixpoint of Montresor et al. over ``edges`` (src/dst,
    both directions present). Returns the converged state, one row per
    node ``(node, est, c2..c_kmax)``.

    ``est`` is the node's coreness estimate and ``c_k`` counts its
    neighbours with ``est >= k`` (``c_1`` is the degree and never
    changes, so it is not stored). It starts at ``est = min(degree,
    kmax)``. Each round every node sets ``est = min(est, h)`` with ``h =
    max{k : c_k >= k}``; a node whose estimate fell from ``old`` to
    ``new`` decrements its neighbours' ``c_k`` for ``new < k <= old`` —
    one equi-join of the edge list against the changed set plus one
    aggregate, joined back into the state. So an edge is touched only
    when an endpoint's estimate drops. The estimates descend from above
    to the greatest fixpoint below the start, which is exactly
    ``min(coreness, kmax)``: every node of a k-core (k <= kmax) keeps k
    neighbours at ``est >= k``, so it never drops under k, and at the
    fixpoint the nodes at ``est >= k`` each have k such neighbours, so
    they lie in the k-core. Hence the kmax-core is the set of nodes at
    ``est = kmax``, and their ``c_kmax`` is their degree inside it.

    One action per round: the state is checkpointed lazily and the
    round's aggregate (changed nodes, all nodes) materializes it. An
    empty changed set is the fixpoint; every other round lowers Σ est by
    at least one, so the loop raises once ``kmax·|V| + 1`` rounds pass
    without convergence. The per-round expressions are SQL text
    (OPERATING.md, loop bodies)."""
    ks = range(2, kmax + 1)
    # h = max{k : c_k >= k}: c_k falls as k grows, so the first hit from
    # the top is the maximum; c_1 = degree >= 1 makes 1 the floor
    h = "CASE " + "".join(f"WHEN c{k} >= {k} THEN {k} " for k in reversed(ks)) + "ELSE 1 END"
    # one metadata count bounds the edge frame's task count for every
    # round's join (bounded_loop_frame). Below the same threshold the
    # per-round frames (at most one row per node) are broadcast: left to
    # the planner, the edge frame's small estimate would make IT the
    # build side of every round's join. Large graphs keep the planner's
    # choice.
    n_edges = edges.count()
    edges = bounded_loop_frame(edges, n_edges)
    bcast = F.broadcast if n_edges < SMALL_LOOP_ROWS else (lambda df: df)
    est0 = edges.groupBy("src").agg(F.expr(f"least(count(*), {kmax}) AS e"))
    state = (
        edges.join(est0.withColumnRenamed("src", "dst"), "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(
            F.expr(f"CAST(least(count(*), {kmax}) AS BIGINT) AS est"),
            *[F.expr(f"count_if(e >= {k}) AS c{k}") for k in ks],
        )
        .localCheckpoint(eager=False)
    )
    rounds = 0
    while True:
        rounds += 1
        counts = state.selectExpr(
            f"count_if({h} < est) AS n_changed", "count(*) AS n_nodes"
        ).first()
        if counts["n_changed"] == 0:
            return state
        if rounds >= kmax * counts["n_nodes"] + 1:
            raise RuntimeError(
                f"hindex_fixpoint: h-index failed to converge in {rounds} rounds"
            )
        changed = state.where(f"{h} < est").selectExpr(
            "node AS src", "est AS old", f"{h} AS new"
        )
        dec = (
            edges.join(bcast(changed), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(*[F.expr(f"count_if(new < {k} AND {k} <= old) AS d{k}") for k in ks])
        )
        # the state joins a frame derived from itself, so a plain
        # checkpoint's size estimate would compound every round
        state = fresh_stats_checkpoint(
            state.join(bcast(dec), "node", "left").selectExpr(
                "node",
                f"least(est, {h}) AS est",
                *[f"c{k} - coalesce(d{k}, 0) AS c{k}" for k in ks],
            ),
            eager=False,
        )


_MST_ROUNDS = 10  # components at least halve per Borůvka round, so 10
                  # covers 1024-node components; the oracle guard makes a
                  # short unroll fail LOUDLY (0 rows), never silently


def _mst_oracle(rounds: int = _MST_ROUNDS) -> str:
    """Unrolled Borůvka chain with the round-10 convergence-guard
    discipline: per round, each component's lexicographic-minimum
    ((w, lo, hi) — a total order, so the forest is unique) incident
    cross edge is selected, selected edges union into the forest, and
    components merge via a per-round recursive-CTE min-label closure
    over the (tiny) component graph. The final SELECT returns the
    forest only when NO cross-component edge survives round ``rounds``
    — an unconverged unroll returns 0 rows and mismatches the Spark
    fixpoint loudly. The property test calls this with rounds =
    ceil(log2 |V|) + 1 (components at least halve per round)."""
    parts = []
    sels = []
    prev = "comp0"
    for r in range(1, rounds + 1):
        parts.append(f"""
        cross{r} AS MATERIALIZED (
            SELECT e.lo, e.hi, e.w, cu.comp AS ca, cv.comp AS cb
            FROM eu e JOIN {prev} cu ON cu.node = e.lo
                      JOIN {prev} cv ON cv.node = e.hi
            WHERE cu.comp <> cv.comp
        ),
        sel{r} AS MATERIALIZED (
            SELECT DISTINCT lo, hi, w FROM (
                SELECT c, lo, hi, w, row_number() OVER (
                    PARTITION BY c ORDER BY w, lo, hi) AS rn
                FROM (SELECT ca AS c, lo, hi, w FROM cross{r}
                      UNION ALL SELECT cb AS c, lo, hi, w FROM cross{r})
            ) WHERE rn = 1
        ),
        cgb{r} AS MATERIALIZED (
            SELECT a, b FROM (
                SELECT cu.comp AS a, cv.comp AS b
                FROM sel{r} s JOIN {prev} cu ON cu.node = s.lo
                              JOIN {prev} cv ON cv.node = s.hi
            ) UNION
            SELECT b, a FROM (
                SELECT cu.comp AS a, cv.comp AS b
                FROM sel{r} s JOIN {prev} cu ON cu.node = s.lo
                              JOIN {prev} cv ON cv.node = s.hi
            )
        ),
        walk{r}(node, lab) AS (
            SELECT a, a FROM cgb{r}
            UNION
            SELECT g.b, w.lab FROM walk{r} w JOIN cgb{r} g ON g.a = w.node
        ),
        nl{r} AS MATERIALIZED (
            SELECT node, min(lab) AS lab FROM walk{r} GROUP BY node
        ),
        comp{r} AS MATERIALIZED (
            SELECT c.node, coalesce(n.lab, c.comp) AS comp
            FROM {prev} c LEFT JOIN nl{r} n ON n.node = c.comp
        )""")
        sels.append(f"SELECT lo, hi, w FROM sel{r}")
        prev = f"comp{r}"
    return f"""
        WITH RECURSIVE e0 AS (
            SELECT o.o_custkey AS c, l.l_suppkey AS s,
                   CAST(greatest(1, 10 - count(*)) AS BIGINT) AS w
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_COOCCUR}
        ),
        eu AS MATERIALIZED (
            SELECT least(c, s + {_CC_SUPP_OFFSET}) AS lo,
                   greatest(c, s + {_CC_SUPP_OFFSET}) AS hi, w
            FROM e0
        ),
        nodes AS (
            SELECT DISTINCT lo AS node FROM eu
            UNION SELECT DISTINCT hi FROM eu
        ),
        comp0 AS MATERIALIZED (SELECT node, node AS comp FROM nodes),
        {",".join(parts)},
        msf AS ({" UNION ALL ".join(sels)}),
        crossF AS (
            SELECT 1 FROM eu e JOIN {prev} cu ON cu.node = e.lo
                               JOIN {prev} cv ON cv.node = e.hi
            WHERE cu.comp <> cv.comp
        )
        SELECT lo, hi, w FROM msf
        WHERE (SELECT count(*) FROM crossF) = 0
    """


def boruvka_msf(eu, rounds_out=None, n_edges=None):
    """Borůvka minimum-spanning-forest loop over a checkpointed
    undirected edge list ``eu`` (lo, hi, w — (w, lo, hi) a total order,
    so the forest is unique). Factored out of graph_mst (r11) so the
    bench instruments and the synthetic band row run the identical
    loop. Each round's edge list is the PREVIOUS round's surviving
    cross edges — intra-component edges can never become cross again,
    so the frame shrinks with the component count instead of staying
    |E| every round (the r11 pruning decade is recorded in SCALE.md;
    its probe is ``git show a87ea52:tools/scale_probe_mst.py``).
    Returns the forest DataFrame; raises loudly past the log2|V|+2
    round bound (components at least halve per round).

    ``rounds_out``: optional list; one marker int appended per executed
    round — a FREE round counter for bench.py's per-round instrument.
    ``n_edges`` (r18): pass the edge count when known to skip the one
    metadata count that feeds bounded_loop_frame at entry.

    r18 job consolidation (the min_label_fixpoint lesson): the
    per-round frames are LAZY localCheckpoints — the round's single
    cross-edge count job materializes the cross frame and answers
    termination, min_label's own first action materializes sel, and
    the next round's count materializes comp — so a round costs
    ~3 driver actions instead of 7. msf is no longer checkpointed at
    all: it is a linear unionByName chain over already-checkpointed
    sel frames, so its lineage grows one node per round (additive,
    not self-referential) and the final select replays checkpointed
    blocks only.

    r19 round fusion (see the loop-body comment): sel carries its
    endpoint component ids, so the component graph is a narrow
    projection of sel — the per-round sel⋈comp⋈comp rebuild, its two
    distinct shuffles, and bidir's own localCheckpoint (one Catalyst
    ``toRdd`` compile per round, the r18 verdict's residual-cost item)
    are gone: 3 checkpoints per round (cross, sel, comp) instead of 4,
    and the only joins left in a round are the two cross⋈comp lookups."""
    if n_edges is None:
        n_edges = eu.count()
    eu = bounded_loop_frame(eu, n_edges)
    nodes = (
        eu.select(F.col("lo").alias("node"))
        .unionByName(eu.select(F.col("hi").alias("node")))
        .distinct()
    )
    # comp is the SELF-REFERENTIAL frame of this loop (it joins back into
    # itself through cross/sel/labels every round) — checkpoint it with
    # fresh_stats_checkpoint or the preserved sizeInBytes estimates
    # compound geometrically and driver planning blows up past ~8 rounds
    # (see the helper's docstring).
    comp = fresh_stats_checkpoint(
        nodes.select("node", F.col("node").alias("comp")), eager=False
    )
    n_nodes = comp.count()
    msf = eu.limit(0)
    max_rounds = max(n_nodes, 2).bit_length() + 2
    for rnd in range(max_rounds):
        if rounds_out is not None:
            rounds_out.append(rnd)
        cross = (
            eu.join(
                comp.withColumnRenamed("node", "lo").withColumnRenamed(
                    "comp", "ca"
                ),
                "lo",
            )
            .join(
                comp.withColumnRenamed("node", "hi").withColumnRenamed(
                    "comp", "cb"
                ),
                "hi",
            )
            .where(F.col("ca") != F.col("cb"))
            .localCheckpoint(eager=False)
        )
        if cross.count() == 0:
            return msf.select("lo", "hi", "w")
        # Borůvka edge pruning (r11): components only ever GROW, so an
        # intra-component edge can never become a cross edge again — the
        # next round needs only this round's surviving cross edges. The
        # edge list shrinks with the component count instead of staying
        # |E| every round; at 100 TB that makes round r's edges⋈labels
        # shuffle proportional to the ACTIVE frontier of the component
        # graph, not the corpus. Forest output is unchanged (the pruned
        # edges are exactly those the ca == cb filter would discard).
        eu = cross.select("lo", "hi", "w")
        # r19 round fusion: the endpoint component ids (ca, cb) are
        # carried THROUGH the min-struct aggregate instead of re-joining
        # sel against comp to rebuild them. (w, lo, hi) is a total order,
        # so appending (ca, cb) to the struct can never change which edge
        # the lexicographic min selects, and an edge's (ca, cb) is a
        # function of (lo, hi) this round — the selected edges are
        # IDENTICAL to the old sel, and the distinct over 5 columns
        # collapses exactly the same both-endpoint double-picks the old
        # 3-column distinct did. The component graph (bidir) is then a
        # narrow select/union over the checkpointed sel frame: the old
        # shape paid sel⋈comp⋈comp + a distinct PER UNION BRANCH (12
        # Exchanges/round, plans/r19/graph_mst_round_bidir_before.txt)
        # plus a third localCheckpoint compile; the new bidir has ZERO
        # exchanges and needs no checkpoint of its own
        # (plans/r19/graph_mst_round_bidir_after.txt). bidir may carry a
        # duplicate (ca, cb) pair when both components picked different
        # edges between the same pair — the old cg.distinct() collapsed
        # those — but min_label_fixpoint is multigraph-safe (min over
        # duplicated neighbors, distinct node set), so the labels are
        # unchanged and the dedup shuffle is saved.
        cand = cross.select(
            F.col("ca").alias("cc"), "w", "lo", "hi", "ca", "cb"
        ).unionByName(
            cross.select(F.col("cb").alias("cc"), "w", "lo", "hi", "ca", "cb")
        )
        sel = (
            cand.groupBy("cc")
            .agg(F.min(F.struct("w", "lo", "hi", "ca", "cb")).alias("e"))
            .select(
                F.col("e.lo").alias("lo"),
                F.col("e.hi").alias("hi"),
                F.col("e.w").alias("w"),
                F.col("e.ca").alias("ca"),
                F.col("e.cb").alias("cb"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        msf = msf.unionByName(sel.select("lo", "hi", "w"))
        bidir = sel.select(
            F.col("ca").alias("src"), F.col("cb").alias("dst")
        ).unionByName(sel.select(F.col("cb").alias("src"), F.col("ca").alias("dst")))
        labels, _r = min_label_fixpoint(bidir)
        comp = fresh_stats_checkpoint(
            comp.join(
                labels.withColumnRenamed("node", "comp"), "comp", "left"
            ).select("node", F.coalesce("lab", "comp").alias("comp")),
            eager=False,
        )
    raise RuntimeError(
        f"boruvka_msf: Boruvka failed to converge in {max_rounds} rounds"
    )


def mst_inputs(spark, sf_dir):
    """Shared input builder for graph_mst and bench.py's per-round
    Borůvka instrument: the undirected weighted co-occurrence edge list
    (lo, hi, w), checkpointed — (w, lo, hi) a total order, so the forest
    downstream is unique. Factored in round 13 (the sssp_inputs
    precedent) so the instrument times the LOOP, not the edge build."""
    return _cooccur(spark, sf_dir, _CC_MIN_COOCCUR).select(
        F.least("c", "s").alias("lo"),
        F.greatest("c", "s").alias("hi"),
        F.greatest(F.lit(1), F.lit(10) - F.col("n")).cast("bigint").alias("w"),
    ).localCheckpoint(eager=True)


@query("graph_mst", oracle=_mst_oracle(), family="graph")
def graph_mst(spark, sf_dir):
    """Minimum spanning FOREST (Borůvka 1926) over the weighted
    customer-supplier co-occurrence graph (the graph_sssp_weighted
    edges: integer weight greatest(1, 10 − cooccur count), so the
    forest is the cheapest backbone connecting each trading community
    — the skeleton used for hierarchical clustering, single-linkage
    dendrograms, and network-cost planning). Edge order is the TOTAL
    order (w, lo, hi), so the forest is unique and hash-verifiable.
    Borůvka is THE distributed MST algorithm (GraphX/Pregel's choice):
    per round every component picks its minimum incident cross edge
    (one groupBy(comp).min(struct) — a map-side-combinable aggregate,
    never a sort), the picked edges merge components via
    ``min_label_fixpoint`` over the COMPONENT graph (≤ |components|
    nodes, broadcast-sized after round 1), and components at least
    HALVE per round — O(log |V|) rounds total, each one
    edges⋈labels shuffle over an edge list the r11 pruning SHRINKS
    geometrically (see ``boruvka_msf``; decade in SCALE.md). Runs to
    the TRUE fixpoint (no cross-
    component edge left), bounded by log2|V|+2 rounds with a loud
    raise; the unrolled oracle carries the same guard. Exact integers
    throughout; the property test replays the chain against a
    pure-Python Kruskal."""
    return boruvka_msf(mst_inputs(spark, sf_dir))
