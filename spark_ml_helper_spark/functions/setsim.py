"""Exact set-similarity join (Jaccard ≥ τ) with PPJoin-style prefix
filtering — subquadratic candidate generation that is still EXACT, unlike
MinHash banding (probabilistic recall).

Algorithm (all DataFrame ops, no UDFs):
1. Collapse identical element sets to one representative (identical sets
   otherwise multiply every later stage).
2. Build a global element order: rarest-first by corpus frequency. Elements
   are replaced by their integer rank — Jaccard over rank sets equals
   Jaccard over the original sets (the mapping is a bijection), and int
   intersects are ~2-3x cheaper than string intersects.
3. Prefix filter: with sets sorted rarest-first, any pair with
   |A∩B| ≥ o must share an element within the first |A|−o+1 / |B|−o+1
   elements. J(A,B) ≥ τ implies o ≥ ⌈τ·|A|⌉, so exploding only each set's
   (|A| − ⌈τ|A|⌉ + 1)-element prefix and equi-joining on the element rank
   yields a candidate set with NO false negatives. Rare elements have
   short postings lists, so candidates ≪ n²/2.
4. Length filter: J ≥ τ forces τ·|A| ≤ |B| ≤ |A|/τ — applied inside the
   candidate join before any intersect is computed.
5. Exact Jaccard rescore on candidates; expand representatives back to
   doc-level pairs (same-set pairs are J=1 by construction).

Scale: the shuffle keys are the element rank (posting lists), the set key,
and the doc id — never the pair space. The global rank assignment is a
window over the element VOCABULARY (bounded, ≪ corpus); at extreme vocab
sizes swap it for a sorted zipWithIndex.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _collapse_identical_sets(sets: DataFrame):
    """Shared stage 1: drop empty sets, collapse identical element sets to
    a representative. Two deliberate plan choices, both measured at sf0.1:

    - The collapse keys on md5(joined set), NOT the raw array<string> —
      hashing/comparing long string-array shuffle keys measured 2-3x the
      cost of the whole downstream join. U+001F (unit separator) cannot
      appear in tokens, so the join is unambiguous.
    - membership and rep_sets are MATERIALIZED (localCheckpoint): the
      downstream pair plans reference them from 4-6 branches and Catalyst
      does not reuse the exchanges across cogroup/self-join lineage
      boundaries (observed: 16 re-scans of the corpus, 44 exchanges, zero
      ReusedExchange). Both are dictionary-sized (one row per doc /
      distinct set — far smaller than the corpus), so pinning them is the
      same call a production dedup job makes caching its id dictionary.
      At cluster scale prefer reliable checkpointing / a staging table:
      localCheckpoint state dies with an executor."""
    # NOTE (r18): an explicit repartition(defaultParallelism, doc_id) here
    # (the hash_documents fix) was tried and measured WORSE for the
    # PPJoin/matmul consumers — their wall cost is the posting/cogroup
    # stages, not this per-row map, and the extra partitions cascade into
    # every downstream scan of the checkpoints. Left on the scan layout.
    canon = (
        sets.filter(F.size("elems") > 0)
        .select("doc_id", F.sort_array("elems").alias("elems"))
        .withColumn("skey", F.md5(F.concat_ws("\x1f", "elems")))
        # materialize FIRST: the caller's set build (tokenize/shingle) is
        # the CPU-dense stage; every checkpoint below then derives from
        # memory instead of re-running it (9.5 s → 2.4 s at sf0.1)
        .localCheckpoint(eager=True)
    )
    reps = canon.groupBy("skey").agg(
        F.min("doc_id").alias("rep_id"), F.first("elems").alias("elems")
    )
    membership = (
        canon.select("doc_id", "skey")
        .join(reps.select("skey", "rep_id"), "skey")
        .select("doc_id", "rep_id")
        .localCheckpoint(eager=True)
    )
    rep_sets = reps.select("rep_id", "elems").localCheckpoint(eager=True)
    return canon, reps, membership, rep_sets


def exact_jaccard_pairs(sets: DataFrame, tau: float, out_col: str) -> DataFrame:
    """``sets``: (doc_id, elems array<string> — distinct elements).
    Returns (a_id, b_id, <out_col>) for every pair with exact
    Jaccard(elems_a, elems_b) ≥ tau, out_col rounded to 6 decimals."""
    # empty sets have undefined Jaccard (0/0) — the oracle form's NULL
    # comparison drops them, so drop them here too
    canon, reps, membership, rep_sets = _collapse_identical_sets(sets)
    rep_pairs = rep_jaccard_pairs(rep_sets, tau, out_col)
    cross = (
        rep_pairs.join(membership.select(F.col("rep_id").alias("ra"), F.col("doc_id").alias("da")), "ra")
        .join(membership.select(F.col("rep_id").alias("rb"), F.col("doc_id").alias("db")), "rb")
        .select(F.least("da", "db").alias("a_id"), F.greatest("da", "db").alias("b_id"), out_col)
    )
    m1 = membership.select("rep_id", F.col("doc_id").alias("a_id"))
    m2 = membership.select("rep_id", F.col("doc_id").alias("b_id"))
    within = (
        m1.join(m2, "rep_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.round(F.lit(1.0), 6).alias(out_col))
    )
    return cross.unionByName(within)


def rep_jaccard_pairs(
    rep_sets: DataFrame, tau: float, out_col: str, counters: dict | None = None
) -> DataFrame:
    """PPJoin core over COLLAPSED representative sets: (rep_id, elems) →
    (ra, rb, <out_col>) for distinct-content pairs with Jaccard ≥ tau.
    Exposed separately so graph consumers (dedup_clusters) can run on the
    rep-level pair graph — whose node count is the number of DISTINCT
    contents, not documents — and expand membership only at label time.

    ``counters``: optional dict; when given, records ``n_reps``,
    ``postings`` (exploded prefix rows) and ``candidates`` (pairs
    surviving the prefix+length+positional filters, BEFORE the exact
    rescore) — the quantities ``python -m tools.scale_probe setsim``
    charts against n²/2 to evidence the prefix filter's 100 TB claim.
    Each costs one extra count() action, so production callers leave
    it None."""
    vocab = (
        rep_sets.select(F.explode("elems").alias("elem"))
        .groupBy("elem")
        .agg(F.count("*").alias("freq"))
        .withColumn("rank", F.row_number().over(Window.orderBy("freq", "elem")))
        .select("elem", "rank")
    )
    ranked = (
        rep_sets.select("rep_id", F.explode("elems").alias("elem"))
        .join(vocab, "elem")
        .groupBy("rep_id")
        .agg(F.sort_array(F.collect_list("rank")).alias("ranks"))
        .withColumn("n", F.size("ranks"))
        .withColumn(
            "prefix",
            F.expr(f"slice(ranks, 1, n - cast(ceil({tau} * n) as int) + 1)"),
        )
        # referenced from 4 branches (postings a/b + rescore a/b) with no
        # cross-branch exchange reuse — materialize the dictionary once
        .localCheckpoint(eager=True)
    )
    post = ranked.select(
        "rep_id", "n", F.posexplode("prefix").alias("p0", "r")
    ).select("rep_id", "n", (F.col("p0") + 1).alias("p"), "r")
    a = post.select(F.col("rep_id").alias("ra"), F.col("n").alias("na"), F.col("p").alias("pa"), "r")
    b = post.select(F.col("rep_id").alias("rb"), F.col("n").alias("nb"), F.col("p").alias("pb"), "r")
    # positional filter (PPJoin): for the earliest shared element at 1-based
    # positions (pa, pb), |A∩B| ≤ min(na−pa, nb−pb) + 1, and J ≥ τ demands
    # |A∩B| ≥ τ/(1+τ)·(na+nb). Later shared elements only shrink the bound,
    # so a pair survives iff its earliest match passes — no false negatives.
    alpha = F.ceil(F.lit(tau / (1.0 + tau)) * (F.col("na") + F.col("nb")))
    cand = (
        a.join(b, "r")
        .filter(
            (F.col("ra") < F.col("rb"))
            & (F.col("nb") * tau <= F.col("na"))
            & (F.col("na") * tau <= F.col("nb"))
            & (F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")) + 1 >= alpha)
        )
        .select("ra", "rb")
        .distinct()
    )
    if counters is not None:
        counters["n_reps"] = ranked.count()
        counters["postings"] = post.count()
        cand = cand.localCheckpoint(eager=True)  # count once, rescore from memory
        counters["candidates"] = cand.count()
    inter = F.size(F.array_intersect("a_ranks", "b_ranks")).cast("double")
    union = F.size("a_ranks") + F.size("b_ranks") - F.size(F.array_intersect("a_ranks", "b_ranks"))
    jac = inter / union
    return (
        cand.join(ranked.select(F.col("rep_id").alias("ra"), F.col("ranks").alias("a_ranks")), "ra")
        .join(ranked.select(F.col("rep_id").alias("rb"), F.col("ranks").alias("b_ranks")), "rb")
        .withColumn(out_col, F.round(jac, 6))
        .filter(jac >= tau)
        .select("ra", "rb", out_col)
    )


#: Target rows per matmul block. The block-pair kernel allocates
#: (rows_a × rows_b) float64 intersection/jaccard matrices, so per-task
#: memory is ~(BLOCK_TARGET_ROWS² × 8 B) × 2.5 ≈ 320 MB at 4000 — the
#: executor-memory dial. Round-13 probe find (tools.scale_probe setsim):
#: a FIXED n_blocks=4 at 200k distinct contents allocates a 50k×50k
#: (20 GB) matrix and kills the Arrow worker; block count must scale
#: with the collapsed rep count.
BLOCK_TARGET_ROWS = 4000


def _auto_blocks(n_reps: int) -> int:
    """Block count for the matmul kernels: enough blocks that a block
    pair's float64 matrix stays ~BLOCK_TARGET_ROWS², never fewer than
    the fixture-tuned 4 (fixture plans unchanged: rep counts there are
    ≤ ~4k, so the auto value IS 4)."""
    return max(4, -(-n_reps // BLOCK_TARGET_ROWS))


def smallvocab_jaccard_pairs(sets: DataFrame, tau: float, out_col: str) -> DataFrame:
    """Same contract as exact_jaccard_pairs, specialized for a SMALL element
    vocabulary: represent each distinct set as a multi-hot row over the
    ranked vocab, partition sets into blocks, and compute ALL pairwise
    intersection counts for a block pair with one float64 BLAS matmul
    (binary vectors: A·Bᵀ = |A∩B|) inside cogroup→applyInPandas. Pairs
    passing J ≥ τ (with a small margin) become candidates; the exact JVM
    array_intersect rescore then recomputes Jaccard for the oracle
    contract, so results are identical to exact_jaccard_pairs.

    When to use which: PPJoin's prefix filter needs RARE elements to make
    postings lists short; on a dense corpus with a bounded vocabulary
    (bigram space of synthetic text, category sets, tag sets) nearly every
    prefix element is common and the candidate set degenerates toward n²/2
    (measured: 3.5M candidates → 256 true pairs for dedup_ngram at sf0.1,
    48 s). The block-matmul covers exactly n²/2 pairs but at BLAS cost per
    pair instead of join+shuffle+array_intersect cost (measured ~5 s on
    the same input). At unbounded vocab (shingled web text) the multi-hot
    width explodes — use exact_jaccard_pairs there; both paths shuffle on
    block/set/doc keys, never the pair space."""
    import pandas as pd

    canon, reps, membership, rep_sets = _collapse_identical_sets(sets)

    vocab = (
        rep_sets.select(F.explode("elems").alias("elem"))
        .distinct()
        .withColumn("rank", F.row_number().over(Window.orderBy("elem")) - 1)
    )
    ranked = (
        rep_sets.select("rep_id", F.explode("elems").alias("elem"))
        .join(vocab, "elem")
        .groupBy("rep_id")
        .agg(F.sort_array(F.collect_list("rank")).alias("ranks"))
        # referenced from 4 branches (cogroup a/b + rescore a/b) with no
        # cross-branch exchange reuse — materialize the dictionary once
        .localCheckpoint(eager=True)
    )
    vdim = vocab.count()  # bounded by assumption; one tiny job

    # ranked is checkpointed — the count is a cheap job
    G = _auto_blocks(ranked.count())
    blocks = ranked.withColumn("g", (F.col("rep_id") % G).cast("int"))
    spark = sets.sparkSession

    def gpairs():
        # fresh lineage per call — joining one DataFrame against itself
        # twice trips the ambiguous-self-join analyzer check
        return (
            spark.range(G).select(F.col("id").cast("int").alias("gi"))
            .crossJoin(spark.range(G).select(F.col("id").cast("int").alias("gj")))
            .filter(F.col("gi") <= F.col("gj"))
        )

    ga, gb = gpairs(), gpairs()
    a_side = ga.join(blocks, blocks.g == ga.gi).select(
        "gi", "gj", F.col("rep_id").alias("a_id"), F.col("ranks").alias("a_ranks")
    )
    b_side = gb.join(blocks, blocks.g == gb.gj).select(
        "gi", "gj", F.col("rep_id").alias("b_id"), F.col("ranks").alias("b_ranks")
    )

    def apply_kernel(key, pa: pd.DataFrame, pb: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if pa.empty or pb.empty:
            return pd.DataFrame({"ra": [], "rb": [], "inter": [], "uni": []}).astype("int64")

        def scatter(col):
            m = np.zeros((len(col), vdim), dtype="float64")
            for i, ranks in enumerate(col):
                m[i, np.asarray(ranks, dtype="int64")] = 1.0
            return m

        A, B = scatter(pa["a_ranks"]), scatter(pb["b_ranks"])
        inter = A @ B.T  # float64 → intersection counts EXACT (integers < 2^53)
        na = A.sum(axis=1)[:, None]
        nb = B.sum(axis=1)[None, :]
        jac = inter / (na + nb - inter)
        a_ids, b_ids = pa["a_id"].to_numpy(), pb["b_id"].to_numpy()
        if key[0] == key[1]:
            jac[a_ids[:, None] >= b_ids[None, :]] = -1.0
        ai, bj = np.nonzero(jac >= tau)
        lo = np.minimum(a_ids[ai], b_ids[bj])
        hi = np.maximum(a_ids[ai], b_ids[bj])
        return pd.DataFrame(
            {
                "ra": lo,
                "rb": hi,
                "inter": inter[ai, bj].astype("int64"),
                "uni": (na[ai, 0] + nb[0, bj] - inter[ai, bj]).astype("int64"),
            }
        )

    # Each unordered pair is produced exactly once (a rep lives in one block;
    # same-block reads only the a<b triangle), and float64 counts are exact —
    # so no distinct() and no array_intersect rescore join: the JVM derives
    # jac from the exact integer counts carried through the shuffle, an IEEE
    # division identical to the oracle's.
    cand = (
        a_side.groupby("gi", "gj")
        .cogroup(b_side.groupby("gi", "gj"))
        .applyInPandas(apply_kernel, schema="ra bigint, rb bigint, inter bigint, uni bigint")
    )

    jac = F.col("inter") / F.col("uni").cast("double")
    rep_pairs = cand.filter(jac >= tau).select("ra", "rb", F.round(jac, 6).alias(out_col))
    cross = (
        rep_pairs.join(membership.select(F.col("rep_id").alias("ra"), F.col("doc_id").alias("da")), "ra")
        .join(membership.select(F.col("rep_id").alias("rb"), F.col("doc_id").alias("db")), "rb")
        .select(F.least("da", "db").alias("a_id"), F.greatest("da", "db").alias("b_id"), out_col)
    )
    m1 = membership.select("rep_id", F.col("doc_id").alias("a_id"))
    m2 = membership.select("rep_id", F.col("doc_id").alias("b_id"))
    within = (
        m1.join(m2, "rep_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.round(F.lit(1.0), 6).alias(out_col))
    )
    return cross.unionByName(within)


def containment_rep_pairs(sets: DataFrame, tau: float, out_col: str):
    """DIRECTED set-containment core: collapse identical sets, then find
    every ordered REPRESENTATIVE pair with C(A→B) = |A∩B| / |A| ≥ tau,
    ra ≠ rb. Returns (rep_pairs, membership): rep_pairs has columns
    (ra, rb, <out_col>); membership maps doc_id → rep_id. Containment is
    the asymmetric near-subset relation — the right primitive when one
    document quotes or wholly embeds another (A ⊂ B gives containment
    1.0 at arbitrarily low Jaccard), which banded-Jaccard dedup
    structurally misses.

    Same small-vocab block-matmul design as smallvocab_jaccard_pairs
    (one float64 A·Bᵀ per block pair gives ALL |A∩B| counts at once —
    exact integer counts, so the kernel emits them directly and the JVM
    derives the quotient; no rescore join), except the kernel reads the
    intersection matrix twice — A-in-B down the rows, B-in-A across the
    columns — so each block pair serves both directions in one matmul.
    Prefix filtering is NOT an alternative worth reaching for on this
    corpus shape: containment's prefix is ⌊(1−τ)|A|⌋+1 of A's rarest
    elements probed against FULL postings of B (τ bounds nothing about
    |B|), and on a dense bounded vocabulary full postings are
    corpus-sized. At unbounded vocab (shingled web text) that prefix
    probe IS the scale path — rare shingles have short postings — and
    slots into the rep_jaccard_pairs machinery with the length filter
    relaxed to nb ≥ τ·na. Shuffles here: block/set/doc keys only,
    never the pair space; identical sets collapse first, so the matmul
    covers DISTINCT contents — callers that can, should consume the
    rep-level pairs and aggregate BEFORE expanding membership."""
    import pandas as pd

    canon, reps, membership, rep_sets = _collapse_identical_sets(sets)

    vocab = (
        rep_sets.select(F.explode("elems").alias("elem"))
        .distinct()
        .withColumn("rank", F.row_number().over(Window.orderBy("elem")) - 1)
    )
    ranked = (
        rep_sets.select("rep_id", F.explode("elems").alias("elem"))
        .join(vocab, "elem")
        .groupBy("rep_id")
        .agg(F.sort_array(F.collect_list("rank")).alias("ranks"))
        .localCheckpoint(eager=True)
    )
    vdim = vocab.count()

    # ranked is checkpointed — the count is a cheap job
    G = _auto_blocks(ranked.count())
    blocks = ranked.withColumn("g", (F.col("rep_id") % G).cast("int"))
    spark = sets.sparkSession

    def gpairs():
        return (
            spark.range(G).select(F.col("id").cast("int").alias("gi"))
            .crossJoin(spark.range(G).select(F.col("id").cast("int").alias("gj")))
            .filter(F.col("gi") <= F.col("gj"))
        )

    ga, gb = gpairs(), gpairs()
    a_side = ga.join(blocks, blocks.g == ga.gi).select(
        "gi", "gj", F.col("rep_id").alias("a_id"), F.col("ranks").alias("a_ranks")
    )
    b_side = gb.join(blocks, blocks.g == gb.gj).select(
        "gi", "gj", F.col("rep_id").alias("b_id"), F.col("ranks").alias("b_ranks")
    )

    def apply_kernel(key, pa: pd.DataFrame, pb: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame({"ra": [], "rb": [], "inter": [], "na": []}).astype("int64")
        if pa.empty or pb.empty:
            return empty

        def scatter(col):
            m = np.zeros((len(col), vdim), dtype="float64")
            for i, ranks in enumerate(col):
                m[i, np.asarray(ranks, dtype="int64")] = 1.0
            return m

        A, B = scatter(pa["a_ranks"]), scatter(pb["b_ranks"])
        inter = A @ B.T  # float64 → intersection counts EXACT (integers < 2^53)
        na = A.sum(axis=1)[:, None]
        nb = B.sum(axis=1)[None, :]
        a_ids, b_ids = pa["a_id"].to_numpy(), pb["b_id"].to_numpy()
        ca = inter / na  # A-row contained in B-col
        if key[0] == key[1]:
            # same block on both sides: every ordered pair (i, j), i != j,
            # appears as a row/col of THIS matrix — one directed read
            ca[a_ids[:, None] == b_ids[None, :]] = -1.0
            ai, bj = np.nonzero(ca >= tau)
            ra, rb = a_ids[ai], b_ids[bj]
            iv, nv = inter[ai, bj], na[ai, 0]
        else:
            cb = inter / nb  # B-col contained in A-row
            ai, bj = np.nonzero(ca >= tau)
            ai2, bj2 = np.nonzero(cb >= tau)
            ra = np.concatenate([a_ids[ai], b_ids[bj2]])
            rb = np.concatenate([b_ids[bj], a_ids[ai2]])
            iv = np.concatenate([inter[ai, bj], inter[ai2, bj2]])
            nv = np.concatenate([na[ai, 0], nb[0, bj2]])
        return pd.DataFrame(
            {"ra": ra, "rb": rb, "inter": iv.astype("int64"), "na": nv.astype("int64")}
        )

    # Each directed pair is produced exactly once (a rep lives in exactly one
    # block), and the float64 counts are exact integers — so there is no
    # distinct() and no rescore join: the JVM derives the reported value from
    # the exact counts carried through the shuffle (IEEE division, identical
    # to the oracle's). Dropping the 2.67M-candidate array_intersect rescore
    # measured 6.6 s → ~2 s on the sf0.1 containment sweep.
    cand = (
        a_side.groupby("gi", "gj")
        .cogroup(b_side.groupby("gi", "gj"))
        .applyInPandas(apply_kernel, schema="ra bigint, rb bigint, inter bigint, na bigint")
    )

    cont = F.col("inter") / F.col("na").cast("double")
    rep_pairs = cand.filter(cont >= tau).select(
        "ra", "rb", F.round(cont, 6).alias(out_col)
    )
    return rep_pairs, membership


def smallvocab_containment_pairs(sets: DataFrame, tau: float, out_col: str) -> DataFrame:
    """Doc-level expansion of containment_rep_pairs: (a_id, b_id,
    <out_col>) for every ORDERED doc pair with C(A→B) ≥ tau, a_id ≠ b_id.
    On a duplicate-heavy corpus this output is quadratic in group sizes
    (it materializes every member × member pair) — prefer consuming
    containment_rep_pairs directly and aggregating at the rep level when
    the downstream question allows it."""
    rep_pairs, membership = containment_rep_pairs(sets, tau, out_col)
    # directed expansion: every member of ra is contained in every member
    # of rb — ORDER PRESERVED, no least/greatest canonicalization
    cross = (
        rep_pairs.join(membership.select(F.col("rep_id").alias("ra"), F.col("doc_id").alias("a_id")), "ra")
        .join(membership.select(F.col("rep_id").alias("rb"), F.col("doc_id").alias("b_id")), "rb")
        .select("a_id", "b_id", out_col)
    )
    m1 = membership.select("rep_id", F.col("doc_id").alias("a_id"))
    m2 = membership.select("rep_id", F.col("doc_id").alias("b_id"))
    within = (
        m1.join(m2, "rep_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", F.round(F.lit(1.0), 6).alias(out_col))
    )
    return cross.unionByName(within)
