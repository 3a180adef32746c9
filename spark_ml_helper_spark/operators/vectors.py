"""Vector / similarity-search operators — SURVEY.md §2.I (vector half).

Embedding column is array<float> (64-dim). All exact math runs through the
UDF-free HOF helpers in functions.vector_math (JVM-side, bitwise
reproducible vs DuckDB). The exact pairwise forms are the oracle-checked
ground truth; the LSH form is the sublinear 100 TB path whose recall is
asserted against the exact twin in tests.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.functions.canon import join_double_array
from spark_ml_helper_spark.functions.literals import inline_rows
from spark_ml_helper_spark.functions.vector_math import dot, l2_norm, sq_norm
from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table

# DuckDB-side exact dot product over the fixed 64-dim embedding, sequential
# left-to-right like Spark's aggregate() — keeps both engines bitwise equal.
_DUCK_DOT = "list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * {b}[i]))"
_DUCK_NORM = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * x)))"


def _norms(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    return e.select("vec_id", "embedding", "label", l2_norm(F.col("embedding")).alias("nrm"))


@query(
    "sim_cosine_pairs",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding, {_DUCK_NORM.format(a='embedding')} AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round({_DUCK_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm), 6) AS sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        ORDER BY sim DESC, a_id, b_id
        LIMIT 10
    """,
    family="vectors",
    bnlj="G-row block-id spine (G=8) fanning vector blocks into block pairs",
)
def sim_cosine_pairs(spark, sf_dir):
    """Top-10 most cosine-similar vector pairs (exact, all-pairs) via a
    distributed block-matrix plan: partition vectors into G blocks, form the
    G·(G+1)/2 block pairs, and inside each block pair run a vectorized
    numpy matmul (Arrow-batched cogroup → applyInPandas) that preselects a
    generous local top-K. The short candidate list is then RE-scored with
    the sequential JVM fold (functions.vector_math.dot) so the final values
    are bit-identical to the naive all-pairs form — numpy is only a
    preselection filter, never the source of truth.

    Scale: work is O(n²/G²) per task over G² tasks with numpy/BLAS inner
    loops — the canonical exact path when ANN recall bounds aren't
    acceptable; the sublinear alternative is sim_ann_lsh / sim_ann_ivf.
    Each task holds two blocks (n/G vectors each) in memory — G is the
    memory dial. Deterministic: preselection margin (K=30 per block pair
    for a global top-10) absorbs float-order perturbation; final order is
    (rounded sim DESC, a_id, b_id)."""
    from spark_ml_helper_spark.functions.blockpairs import block_pair_candidates, topk_kernel

    v = _norms(spark, sf_dir)
    cand = block_pair_candidates(spark, v, topk_kernel(30))
    av = v.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"), F.col("nrm").alias("a_nrm"))
    bv = v.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"), F.col("nrm").alias("b_nrm"))
    return (
        cand.join(F.broadcast(av), "a_id")
        .join(F.broadcast(bv), "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "a_id", "b_id")
        .limit(10)
    )


@query(
    "sim_knn",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding, {_DUCK_NORM.format(a='embedding')} AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                   round({_DUCK_DOT.format(a='q.embedding', b='c.embedding')} / (q.nrm * c.nrm), 6) AS sim
            FROM v q JOIN v c ON q.vec_id < 50 AND c.vec_id <> q.vec_id
        )
        SELECT q_id, n_id, sim, rn FROM (
            SELECT q_id, n_id, sim,
                   row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
            FROM scored
        ) WHERE rn <= 5
    """,
    family="vectors",
    bnlj="50 query vectors broadcast, scored against the candidates",
)
def sim_knn(spark, sf_dir):
    """Exact k-NN (k=5, cosine) for the first 50 query vectors against the
    full collection. Cost is |Q|·|C| by declared contract (sim_ann_lsh /
    sim_ann_ivf are the sublinear variants), but the |Q|·|C| work runs as
    BLAS, not per-pair JVM folds: the collection is blocked, each block
    scores all queries with one float64 matmul (Arrow-batched cogroup →
    applyInPandas) and keeps a generous per-query local top-15; the short
    candidate list is then RE-scored with the sequential JVM fold so
    final values are bit-identical to the naive form (numpy is a
    preselection filter, never the source of truth — same discipline as
    sim_cosine_pairs). The global top-5 window then runs over |Q|·G·15
    candidate rows instead of |Q|·|C| scored rows. At scale the query
    side broadcasts, collection blocks stream, and each task's state is
    one 15-row heap per query."""
    v = _norms(spark, sf_dir)
    cand = _knn_block_candidates(spark, v, q_max=50, k_local=15)
    q = v.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    c = v.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("c_emb"), F.col("nrm").alias("c_nrm")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "n_id")
    return (
        c.join(F.broadcast(cand), "n_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "n_id",
            F.round(dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
    )


def _knn_block_candidates(spark, v, q_max: int, k_local: int, n_blocks: int = 8):
    """Directed query→collection candidate preselect: block the collection
    G ways, replicate the (tiny) query side to every block, and let one
    float64 matmul per block score every query against the whole block.
    Keeps each query's local top-``k_local`` (global top-5 winners rank
    ≤ 5 within their own block; the margin absorbs matmul reassociation
    error, which only matters for near-exact ties). Returns (q_id, n_id)
    pairs — each appears at most once, since a collection vector lives in
    exactly one block."""
    import pandas as pd

    G = n_blocks
    qs = v.filter(F.col("vec_id") < q_max).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    q_rep = (
        spark.range(G).select(F.col("id").cast("int").alias("g")).crossJoin(F.broadcast(qs))
    )
    c = v.withColumn("g", (F.col("vec_id") % G).cast("int")).select(
        "g", F.col("vec_id").alias("n_id"), F.col("embedding").alias("c_emb"), F.col("nrm").alias("c_nrm")
    )

    def apply_kernel(key, pq: pd.DataFrame, pc: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if pq.empty or pc.empty:
            return pd.DataFrame({"q_id": [], "n_id": []}).astype({"q_id": "int64", "n_id": "int64"})
        Q = np.vstack(pq["q_emb"].to_numpy()).astype("float64")
        C = np.vstack(pc["c_emb"].to_numpy()).astype("float64")
        sims = (Q @ C.T) / np.outer(pq["q_nrm"].to_numpy(), pc["c_nrm"].to_numpy())
        q_ids = pq["q_id"].to_numpy()
        c_ids = pc["n_id"].to_numpy()
        sims[q_ids[:, None] == c_ids[None, :]] = -np.inf
        kk = min(k_local, sims.shape[1])
        idx = np.argpartition(sims, -kk, axis=1)[:, -kk:]
        rows = np.repeat(np.arange(len(q_ids)), kk)
        cols = idx.ravel()
        keep = sims[rows, cols] > -np.inf
        return pd.DataFrame({"q_id": q_ids[rows[keep]], "n_id": c_ids[cols[keep]]})

    return (
        q_rep.groupby("g")
        .cogroup(c.groupby("g"))
        .applyInPandas(apply_kernel, schema="q_id bigint, n_id bigint")
    )


_BRP_TABLES = 6
_BRP_RADIUS = 1.2
_BRP_BUCKET_LEN = 1.2


def _brp_signs() -> list[list[int]]:
    """Deterministic ±1 hyperplane directions for the bucketed-random-
    projection LSH, one 64-dim Rademacher vector per hash table, derived
    from md5 of the (table, dim) coordinate string in PYTHON at
    definition time and inlined as literals into BOTH engines — the
    vec_random_projection trick, so no engine RNG or hash function is
    involved and the bucket assignment is bit-identical by construction.
    Scaled by 1/√64 at use, each direction is unit-norm, matching the
    distributional role of MLlib BRP-LSH's Gaussian unit vectors."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"brp_{t}_{i}".encode()).hexdigest()[0] < "8" else -1
            for i in range(64)
        ]
        for t in range(_BRP_TABLES)
    ]


def _ann_lsh_oracle() -> str:
    signs = _brp_signs()
    bkt_cols = ",\n                   ".join(
        "floor(list_sum(list_transform(range(1, 65), i -> "
        "emb[i] * ([%s])[i])) / 8.0 / %s) AS bkt%d"
        % (", ".join(str(s) for s in signs[t]), _BRP_BUCKET_LEN, t)
        for t in range(_BRP_TABLES)
    )
    unpiv = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, bkt{t} AS bkt FROM bkts"
        for t in range(_BRP_TABLES)
    )
    return f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ),
        bkts AS MATERIALIZED (
            SELECT vec_id,
                   {bkt_cols}
            FROM e
        ),
        bl AS MATERIALIZED ({unpiv}),
        cand AS MATERIALIZED (
            SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
            FROM bl a JOIN bl b ON a.t = b.t AND a.bkt = b.bkt
            WHERE a.vec_id < b.vec_id
        ),
        d AS MATERIALIZED (
            SELECT c.a_id, c.b_id,
                   sqrt(list_sum(list_transform(range(1, 65), i ->
                       (ea.emb[i] - eb.emb[i]) * (ea.emb[i] - eb.emb[i])
                   ))) AS dist
            FROM cand c
            JOIN e ea ON ea.vec_id = c.a_id
            JOIN e eb ON eb.vec_id = c.b_id
        )
        SELECT a_id, b_id, round(dist, 6) AS dist
        FROM d WHERE round(dist, 6) <= {_BRP_RADIUS}
    """


@query("sim_ann_lsh", oracle=_ann_lsh_oracle(), family="vectors")
def sim_ann_lsh(spark, sf_dir):
    """Approximate neighbor pairs via bucketed-random-projection LSH
    (euclidean, radius 1.2, 6 hash tables) — since round 6 built from
    engine primitives with PINNED Rademacher hyperplanes (_brp_signs,
    the definition-time-literal trick that flipped dedup_minhash) and
    therefore fully ORACLE-VERIFIED: bucket id = floor(⟨v, w_t⟩ / w)
    with bit-identical left-associated projection folds on both
    engines, candidate generation is an equi-join on (table, bucket) —
    the shuffle key is the bucket, never the pair, the 100 TB
    similarity-search path — and candidates are exact-rescored with the
    bit-identical 64-term distance fold before the radius filter, so
    every reported pair is genuinely within the radius (no false
    positives; the LSH tables only bound recall). Since round 7 the
    distance is rounded to 6 dp BEFORE the radius compare on both
    engines (the shared-grid discipline the PQ ADC path uses), so a
    pair within one ulp of the radius cannot flip if either engine
    changes its summation order. This replaces the
    MLlib BucketedRandomProjectionLSH form (same algorithm, same knobs)
    whose JVM-seeded Gaussian directions made the output unreplayable;
    recall ≥ 0.5 vs the exact numpy radius search stays pinned in tests.

    Radius 1.2 ≈ the 1st percentile of the pairwise-distance
    distribution (pairwise L2 here concentrates at 1.1-1.4) — a radius
    past the distribution's bulk makes every pair a candidate and the
    join quadratic, the classic LSH mis-tuning (measured: radius 6.0
    took 56 s at sf0.1). bucketLength ≈ the radius for w≈r hashing;
    more tables raise recall linearly in cost (the OR-amplification
    dial)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    signs = _brp_signs()
    bkt = [
        F.floor(
            F.expr(
                "aggregate(zip_with(emb, array(%s), (x, s) -> x * s), "
                "0D, (a, v) -> a + v)"
                % ", ".join(f"{s}D" for s in signs[t])
            )
            / 8.0
            / _BRP_BUCKET_LEN
        ).alias(f"bkt{t}")
        for t in range(_BRP_TABLES)
    ]
    bl = (
        e.select("vec_id", *bkt)
        .select(
            "vec_id",
            F.posexplode(F.array(*[F.col(f"bkt{t}") for t in range(_BRP_TABLES)])).alias(
                "t", "bkt"
            ),
        )
    )
    cand = (
        bl.alias("a")
        .join(
            bl.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("a_emb", "b_emb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    return (
        cand.join(
            e.select(F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb")),
            "a_id",
        )
        .join(
            e.select(F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb")),
            "b_id",
        )
        .withColumn("dist", F.round(dist, 6))
        .where(F.col("dist") <= _BRP_RADIUS)
        .select("a_id", "b_id", "dist")
    )


@query(
    "vec_normalize",
    oracle="""
        SELECT vec_id,
               array_to_string(list_transform(
                   embedding,
                   x -> CAST(CAST(round(CAST(x AS DOUBLE)
                        / sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * y))), 6)
                        AS DECIMAL(38,6)) AS VARCHAR)
               ), '|') AS unit
        FROM embeddings
    """,
    family="vectors",
)
def vec_normalize(spark, sf_dir):
    """L2-normalize each embedding (per-row transform, shuffle-free); the
    unit vector is serialized '|'-joined DECIMAL(38,6) (canon.py) because
    the driver comparator cannot sort list cells."""
    e = table(spark, sf_dir, "embeddings")
    nrm = l2_norm(F.col("embedding"))
    return e.select(
        "vec_id",
        join_double_array(
            F.transform(F.col("embedding"), lambda x: x.cast("double") / nrm)
        ).alias("unit"),
    )


@query(
    "vec_centroids",
    oracle="""
        WITH ex AS (
            SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings, range(1, 65) r(i)
        ),
        dims AS (
            SELECT label, pos, round(avg(v), 6) AS mv
            FROM ex GROUP BY label, pos
        ),
        sizes AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
        SELECT d.label,
               array_to_string(list(CAST(CAST(d.mv AS DECIMAL(38,6)) AS VARCHAR)
                                    ORDER BY d.pos), '|') AS centroid,
               s.n_vecs
        FROM dims d JOIN sizes s ON d.label = s.label
        GROUP BY d.label, s.n_vecs
    """,
    family="vectors",
)
def vec_centroids(spark, sf_dir):
    """Per-label mean vector (cluster centroids): posexplode → per-(label,
    dim) avg → ordered reassembly via struct-sort. The shuffle key is
    (label, dim) — 640 groups regardless of row count, the right shape for
    100 TB. (MLlib KMeans init equivalent for labeled data.)"""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", "vec_id", F.posexplode("embedding").alias("pos0", "v"))
    dims = (
        ex.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mv"))
    )
    sizes = e.groupBy("label").agg(F.count("*").alias("n_vecs"))
    return (
        dims.groupBy("label")
        .agg(
            join_double_array(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))), lambda s: s.getField("mv")
                )
            ).alias("centroid")
        )
        .join(F.broadcast(sizes), "label")
        .select("label", "centroid", "n_vecs")
    )


@query(
    "knn_classify",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding, label, {_DUCK_NORM.format(a='embedding')} AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS q_id, q.label AS own_label, c.label AS n_label,
                   round({_DUCK_DOT.format(a='q.embedding', b='c.embedding')} / (q.nrm * c.nrm), 6) AS sim,
                   c.vec_id AS n_id
            FROM v q JOIN v c ON q.vec_id < 50 AND c.vec_id <> q.vec_id
        ),
        nn AS (
            SELECT q_id, own_label, n_label FROM (
                SELECT q_id, own_label, n_label, sim, n_id,
                       row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rn
                FROM scored
            ) WHERE rn <= 5
        ),
        votes AS (
            SELECT q_id, own_label, n_label, count(*) AS n_votes
            FROM nn GROUP BY q_id, own_label, n_label
        )
        SELECT q_id, own_label, n_label AS pred_label, (n_label = own_label) AS correct
        FROM (
            SELECT q_id, own_label, n_label, n_votes,
                   row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, n_label) AS vr
            FROM votes
        ) WHERE vr = 1
    """,
    family="vectors",
    bnlj="50 query vectors broadcast, scored against the corpus (exclude-self join)",
)
def knn_classify(spark, sf_dir):
    """k-NN majority-vote classification (k=5) with deterministic
    tie-breaking (most votes, then smallest label). Composition of sim_knn
    + a vote aggregation — no new physical machinery."""
    v = _norms(spark, sf_dir)
    q = v.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("label").alias("own_label"),
    )
    c = v.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("label").alias("n_label"),
    )
    w_sim = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "n_id")
    nn = (
        F.broadcast(q)
        .join(c, F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "own_label",
            "n_label",
            "n_id",
            F.round(dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w_sim))
        .filter(F.col("rn") <= 5)
    )
    votes = nn.groupBy("q_id", "own_label", "n_label").agg(F.count("*").alias("n_votes"))
    w_vote = Window.partitionBy("q_id").orderBy(F.col("n_votes").desc(), "n_label")
    return (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select(
            "q_id",
            "own_label",
            F.col("n_label").alias("pred_label"),
            (F.col("n_label") == F.col("own_label")).alias("correct"),
        )
    )


@query(
    "multimodal_join",
    oracle=f"""
        SELECT d.doc_id, d.lang, d.source, d.n_chars, e.label,
               CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_toks,
               round({_DUCK_NORM.format(a='e.embedding')}, 6) AS emb_norm
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    family="vectors",
)
def multimodal_join(spark, sf_dir):
    """Multimodal enrichment: one frame carrying text stats + vector norm +
    scalars (documents ⋈ embeddings, 1:1 on doc_id=vec_id). The pattern
    behind image/audio tables too: opaque payload column + typed metadata,
    joined on content id."""
    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "label",
        F.size(F.split(F.col("text"), " ")).alias("n_toks"),
        F.round(l2_norm(F.col("embedding")), 6).alias("emb_norm"),
    )


@query(
    "sim_hard_negatives",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label, embedding, {_DUCK_NORM.format(a='embedding')} AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
                   c.vec_id AS neg_id, c.label AS neg_label,
                   round({_DUCK_DOT.format(a='q.embedding', b='c.embedding')} / (q.nrm * c.nrm), 6) AS sim
            FROM v q JOIN v c ON q.vec_id < 100 AND c.label <> q.label
        )
        SELECT anchor_id, anchor_label, neg_id, neg_label, sim FROM (
            SELECT *, row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY sim DESC, neg_id) AS rn
            FROM scored
        ) WHERE rn = 1
    """,
    family="vectors",
    bnlj="100 anchor vectors broadcast, joined on label inequality",
)
def sim_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each anchor
    (first 100 vectors), the single most-similar vector with a DIFFERENT
    label — the negatives that actually move an embedding model, versus
    random negatives that are trivially separable. Brute-force scored
    here (broadcast anchors × streamed candidates, label-mismatch
    predicate inside the join, grouped arg-max window); at billion-
    vector scale the candidate stream goes through the ANN index first
    (sim_ann_ivf/sim_ann_lsh) and this exact form rescores the shortlist
    — identical final operator, sublinear candidate generation."""
    v = _norms(spark, sf_dir)
    q = v.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = v.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("sim").desc(), "neg_id")
    return (
        F.broadcast(q)
        .join(c, F.col("neg_label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            F.round(dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "ml_eval_retrieval",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, label, embedding, {_DUCK_NORM.format(a='embedding')} AS nrm
            FROM embeddings
        ),
        ranked AS (
            SELECT q.vec_id AS q_id, q.label AS q_label, c.label AS c_label,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_DOT.format(a='q.embedding', b='c.embedding')}
                                      / (q.nrm * c.nrm), 6) DESC, c.vec_id
                   ) AS rnk
            FROM v q JOIN v c ON q.vec_id < 100 AND c.vec_id <> q.vec_id
        ),
        firsthit AS (
            SELECT q_id,
                   max(CASE WHEN rnk <= 5 AND c_label = q_label THEN 1 ELSE 0 END) AS hit5,
                   min(CASE WHEN c_label = q_label THEN rnk END) AS first_rel
            FROM ranked GROUP BY q_id
        )
        SELECT count(*) AS n_queries,
               round(avg(hit5), 6) AS recall_at_5,
               round(avg(1.0 / first_rel), 6) AS mrr
        FROM firsthit
    """,
    family="vectors",
    bnlj="100 query vectors broadcast, scored against the corpus (exclude-self join)",
)
def ml_eval_retrieval(spark, sf_dir):
    """Embedding-space retrieval evaluation: for each query vector (first
    100), rank all other vectors by cosine and score whether a same-label
    vector appears in the top 5 (recall@5) and the reciprocal rank of the
    first same-label hit (MRR) — the standard quality gate for embedding
    models, with labels standing in for relevance judgments. The ranking
    sorts the 6-dp ROUNDED similarity (tie-broken on vec_id) so both
    engines rank identically even where raw doubles differ in the last
    ulp. Brute-force scored (broadcast queries × streamed candidates, one
    window per query partition, then a 100-row agg); at index scale the
    candidate stream is the ANN shortlist and the metric is identical."""
    v = _norms(spark, sf_dir)
    q = v.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = v.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    sim = F.round(
        dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "c_id")
    ranked = (
        F.broadcast(q)
        .join(c, F.col("c_id") != F.col("q_id"))
        .select("q_id", "q_label", "c_id", "c_label", sim.alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
    )
    rel = F.col("c_label") == F.col("q_label")
    firsthit = ranked.groupBy("q_id").agg(
        F.max(F.when((F.col("rnk") <= 5) & rel, 1).otherwise(0)).alias("hit5"),
        F.min(F.when(rel, F.col("rnk"))).alias("first_rel"),
    )
    return firsthit.agg(
        F.count("*").alias("n_queries"),
        F.round(F.avg("hit5"), 6).alias("recall_at_5"),
        F.round(F.avg(1.0 / F.col("first_rel")), 6).alias("mrr"),
    )


@query(
    "vec_outlier_dist",
    oracle="""
        WITH ex AS (
            SELECT label, vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings, range(1, 65) r(i)
        ),
        dims AS (SELECT label, pos, round(avg(v), 6) AS mv FROM ex GROUP BY label, pos),
        dist AS (
            SELECT ex.vec_id, ex.label,
                   round(sqrt(sum((ex.v - dims.mv) * (ex.v - dims.mv))), 6) AS dist
            FROM ex JOIN dims ON ex.label = dims.label AND ex.pos = dims.pos
            GROUP BY ex.vec_id, ex.label
        ),
        stats AS (SELECT label, avg(dist) AS mu, stddev_samp(dist) AS sd
                  FROM dist GROUP BY label)
        SELECT d.vec_id, d.label, d.dist,
               d.dist > s.mu + 2 * s.sd AS is_outlier
        FROM dist d JOIN stats s ON d.label = s.label
    """,
    family="vectors",
)
def vec_outlier_dist(spark, sf_dir):
    """Embedding-space outlier scoring: L2 distance of each vector to its
    label centroid, flagged when beyond mean + 2σ of its label's distance
    distribution — the standard mislabeled-example / junk-embedding sweep
    a curation pipeline runs before training a classifier head. Plan:
    centroids via posexplode → (label, dim) avg (640 groups regardless of
    row count) → array reassembly, broadcast back (10 rows × 64 dims);
    the distance itself is a sequential zip_with/aggregate fold over the
    array — per-row, shuffle-free, codegen, and the same left-to-right
    summation order DuckDB's per-dim join+sum sees only after rounding,
    which is why the centroid is rounded to 6 before the distance. The
    per-label mean/σ agg is label-cardinality-sized. Nothing here scales
    with pairs; 100 TB cost is two corpus scans."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", "vec_id", F.posexplode("embedding").alias("pos0", "v"))
    dims = ex.groupBy("label", (F.col("pos0") + 1).alias("pos")).agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("mv")
    )
    cent = dims.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mv"))), lambda s: s.getField("mv")
        ).alias("cent")
    )
    diff_sq = F.zip_with(
        "embedding", "cent", lambda x, c: F.pow(x.cast("double") - c, F.lit(2))
    )
    dist = e.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.round(
            F.sqrt(F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x)), 6
        ).alias("dist"),
    )
    stats = dist.groupBy("label").agg(
        F.avg("dist").alias("mu"), F.stddev_samp("dist").alias("sd")
    )
    return dist.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        "dist",
        (F.col("dist") > F.col("mu") + 2 * F.col("sd")).alias("is_outlier"),
    )


_DECON_TAU = 0.35


@query(
    "corpus_decontaminate_semantic",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding, {_DUCK_NORM.format(a='embedding')} AS nrm
            FROM embeddings
        ),
        b AS (SELECT * FROM v WHERE vec_id % 97 = 0),
        t AS (SELECT * FROM v WHERE vec_id % 97 <> 0),
        sims AS (
            SELECT t.vec_id,
                   {_DUCK_DOT.format(a='t.embedding', b='b.embedding')} / (t.nrm * b.nrm) AS sim
            FROM t JOIN b ON true
        )
        SELECT vec_id, count(*) AS n_benchmark_hits, round(max(sim), 6) AS max_sim
        FROM sims WHERE sim >= {_DECON_TAU}
        GROUP BY vec_id
    """,
    family="corpus",
    bnlj="benchmark embeddings (6 rows) broadcast against train on a cosine threshold",
)
def corpus_decontaminate_semantic(spark, sf_dir):
    """Semantic benchmark decontamination — the embedding-space
    complement of corpus_decontaminate's n-gram filter: flag training
    vectors whose cosine to ANY held-out benchmark vector (vec_id % 97
    stands in for the eval set) reaches τ, catching paraphrased or
    re-worded leakage that shares no shingle. The benchmark embedding
    table is eval-set-sized and broadcasts; the scan of the training
    side is map-only (per-row JVM fold against the broadcast list via a
    non-equi broadcast join), so the sweep costs one pass over train —
    the same shape the n-gram variant has, with the shingle dictionary
    swapped for an embedding dictionary. τ is fixture-tuned (0.35 flags
    the contaminated tail: 9 of 494 at sf0.01); a production pipeline
    calibrates it on known eval/train pairs. For benchmark sets too big
    to broadcast, block both sides and reuse the sim_cosine_pairs
    matmul scaffold."""
    v = _norms(spark, sf_dir)
    b = v.filter(F.col("vec_id") % 97 == 0).select(
        F.col("embedding").alias("b_emb"), F.col("nrm").alias("b_nrm")
    )
    t = v.filter(F.col("vec_id") % 97 != 0)
    sim = dot(F.col("embedding"), F.col("b_emb")) / (F.col("nrm") * F.col("b_nrm"))
    return (
        t.join(F.broadcast(b), sim >= F.lit(_DECON_TAU))
        .select("vec_id", sim.alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_benchmark_hits"),
            F.round(F.max("sim"), 6).alias("max_sim"),
        )
    )


@query(
    "sim_threshold_sweep",
    oracle=f"""
        WITH s AS (
            SELECT vec_id, embedding, {_DUCK_NORM.format(a='embedding')} AS nrm
            FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT 100
        ),
        sims AS (
            SELECT CAST(floor(
                       ({_DUCK_DOT.format(a='a.embedding', b='b.embedding')}
                        / (a.nrm * b.nrm) + 1.0) / 0.1) AS BIGINT) AS bucket
            FROM s a JOIN s b ON a.vec_id < b.vec_id
        )
        SELECT bucket, round(bucket * 0.1 - 1.0, 1) AS sim_lo, count(*) AS n_pairs
        FROM sims GROUP BY bucket
    """,
    family="vectors",
    bnlj="a_id < b_id self-join of the 100-vector md5 sample",
)
def sim_threshold_sweep(spark, sf_dir):
    """Similarity-threshold calibration: histogram of pairwise cosine over
    a deterministic 100-vector sample (smallest md5(vec_id) — the
    sample_deterministic discipline, reproducible across engines and
    layouts), bucketed at 0.1 width over [-1, 1]. This is the diagnostic
    a pipeline runs BEFORE committing to a dedup/decontamination τ: the
    histogram's knee separates the duplicate mode from the background
    mode. The pair space is sample²-bounded (4,950 pairs) regardless of
    corpus size — the whole point: calibrate on a bounded draw, then run
    the banded/blocked operators at the chosen τ over the full corpus.
    Bucket index uses floor((sim+1)/0.1) on the UNROUNDED sim — identical
    fp on both engines since the dot is the same sequential fold."""
    v = _norms(spark, sf_dir)
    s = (
        v.orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id")
        .limit(100)
        .select("vec_id", "embedding", "nrm")
        .localCheckpoint(eager=True)
    )
    a = s.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"), F.col("nrm").alias("a_nrm"))
    b = s.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"), F.col("nrm").alias("b_nrm"))
    sim = dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(F.floor((sim + 1.0) / 0.1).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
        .select("bucket", F.round(F.col("bucket") * 0.1 - 1.0, 1).alias("sim_lo"), "n_pairs")
    )


_JL_IN_DIM = 64
_JL_OUT_DIM = 16


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 Rademacher projection matrix, derived from md5 of
    the (in_dim, out_dim) coordinate string in PYTHON at definition time
    and inlined as literals into BOTH the Spark expression and the DuckDB
    oracle — no engine hash function involved, so the two sides share the
    matrix bit-for-bit by construction."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0] < "8" else -1
            for i in range(_JL_IN_DIM)
        ]
        for j in range(_JL_OUT_DIM)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    cols = ",\n               ".join(
        "round(list_sum(list_transform(range(1, %d), i -> "
        "CAST(embedding[i] AS DOUBLE) * ([%s])[i])) / 4.0, 6) AS y_%d"
        % (_JL_IN_DIM + 1, ", ".join(str(s) for s in signs[j]), j)
        for j in range(_JL_OUT_DIM)
    )
    return f"SELECT vec_id, {cols}\n        FROM embeddings"


@query("vec_random_projection", oracle=_jl_oracle(), family="vectors")
def vec_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64 → 16 dims with a
    Rademacher (±1) matrix, scaled by 1/√16 — the standard cheap
    dimensionality reduction before ANN indexing or clustering when
    PCA's data pass is too expensive. The projection matrix is
    md5-derived at DEFINITION time and inlined as ±1 literals (see
    _jl_signs), so the operator is a pure per-row projection: 16
    zip_with/aggregate folds over the embedding array, all JVM
    higher-order functions, shuffle-free, and bit-reproducible on both
    engines (identical sequential fold over identical literals — the
    sum is rounded at 6 dp anyway). At 100 TB this is a map-only pass
    whose cost is one scan; the same inlined-literal trick carries any
    fixed seed matrix up to a few thousand entries, past which you
    broadcast the matrix and explode instead."""
    e = table(spark, sf_dir, "embeddings")
    signs = _jl_signs()
    cols = [
        F.round(
            F.expr(
                "aggregate(zip_with(embedding, array(%s), (x, s) -> x * s), "
                "0D, (a, v) -> a + v)"
                % ", ".join(f"{s}D" for s in signs[j])
            )
            / 4.0,
            6,
        ).alias(f"y_{j}")
        for j in range(_JL_OUT_DIM)
    ]
    return e.select("vec_id", *cols)


@query(
    "vec_dim_stats",
    oracle="""
        WITH flat AS (
            -- DuckDB cannot lateral-join generate_series on a column;
            -- the fixture dim is fixed (64), matching Spark's posexplode
            SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        )
        SELECT CAST(dim AS INT) AS dim,
               count(*) AS n,
               CAST(count(*) FILTER (WHERE x = 0.0) AS BIGINT) AS n_zero,
               round(avg(x), 6) AS mean,
               round(stddev_samp(x), 6) AS std,
               round(min(x), 6) AS min_x,
               round(max(x), 6) AS max_x
        FROM flat GROUP BY dim
    """,
    family="vectors",
)
def vec_dim_stats(spark, sf_dir):
    """Per-dimension embedding health report (count / zero-count /
    mean / std / min / max for each of the 64 dims) — the first thing
    a training-data pipeline checks before trusting a new embedding
    export: dead dims (n_zero = n), collapsed dims (std ≈ 0), and
    scale drift all show up here. posexplode fans each vector out to
    (dim, value) rows and one hash agg on the 64-key dim space folds
    them — the fan-out is dim×rows but it feeds straight into a
    map-side partial agg, so the shuffle carries only 64×partitions
    partial states at any corpus size (same shape as text_wordcount).
    float32 inputs widen to double exactly; per-dim sums over the
    corpus stay ~1e-13 relative, far inside the 6-dp grid."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        F.posexplode("embedding").alias("dim", "x_raw")
    ).select("dim", F.col("x_raw").cast("double").alias("x"))
    return flat.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("x") == 0.0, 1)).alias("n_zero"),
        F.round(F.avg("x"), 6).alias("mean"),
        F.round(F.stddev_samp("x"), 6).alias("std"),
        F.round(F.min("x"), 6).alias("min_x"),
        F.round(F.max("x"), 6).alias("max_x"),
    )


@query(
    "vec_pairwise_dist_hist",
    oracle="""
        WITH samp AS (
            SELECT vec_id, embedding FROM (
                SELECT vec_id, embedding,
                       row_number() OVER (
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                       ) AS rn
                FROM embeddings
            ) WHERE rn <= 100
        ),
        pairs AS (
            SELECT sqrt(list_sum(list_transform(range(1, 65),
                       i -> (CAST(a.embedding[i] AS DOUBLE) - b.embedding[i])
                            * (CAST(a.embedding[i] AS DOUBLE) - b.embedding[i])
                   ))) AS dist
            FROM samp a JOIN samp b ON a.vec_id < b.vec_id
        )
        SELECT CAST(floor(dist / 0.5) AS BIGINT) AS bucket,
               round(min(floor(dist / 0.5)) * 0.5, 2) AS dist_lo,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs
        GROUP BY bucket
    """,
    family="vectors",
    bnlj="a_id < b_id self-join of the 100-vector md5 sample",
)
def vec_pairwise_dist_hist(spark, sf_dir):
    """Pairwise-distance histogram over a deterministic 100-vector
    sample — the embedding-space health check (is the space collapsed?
    bimodal? hubby?) run before trusting nearest-neighbor retrieval,
    reading the same story as vec_dim_stats from the pair side. The
    sample is the 100 smallest md5(vec_id) rows (engine-neutral,
    partition-independent — sample_deterministic's idiom), so the
    all-pairs stage is a FIXED 4 950 pairs regardless of corpus size:
    the quadratic is bounded by construction, never data-proportional.
    The sample itself is selected with orderBy().limit(100), which
    Spark plans as TakeOrderedAndProject — a parallel per-partition
    top-k followed by a 100-row driver merge — NOT an unpartitioned
    row_number() window, which would sort the ENTIRE table (payload
    included) on a single task. Same 100 rows, scale-safe selection.
    Distances accumulate left-to-right in both engines (the dot()/
    list_sum discipline), so floor(dist/0.5) buckets identically;
    bucket ids and counts are exact integers."""
    e = table(spark, sf_dir, "embeddings")
    samp = (
        e.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id")
        .limit(100)
    )
    a = samp.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    b = samp.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    diff2 = F.aggregate(
        F.zip_with(
            "a_emb",
            "b_emb",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(b, F.col("a_id") < F.col("b_id")).select(
        F.sqrt(diff2).alias("dist")
    )
    bucket = F.floor(F.col("dist") / 0.5)
    return pairs.groupBy(bucket.alias("bucket")).agg(
        F.round(F.min(bucket) * 0.5, 2).alias("dist_lo"),
        F.count("*").alias("n_pairs"),
    )


@query(
    "dedup_embedding_exact",
    oracle="""
        SELECT min(vec_id) AS keep_id,
               CAST(count(*) AS BIGINT) AS n_copies,
               CAST(count(DISTINCT label) AS BIGINT) AS n_labels
        FROM embeddings
        GROUP BY embedding
    """,
    family="vectors",
)
def dedup_embedding_exact(spark, sf_dir):
    """Byte-exact embedding dedup: group identical vectors, keep the
    min id, count copies and how many DISTINCT LABELS share the
    identical vector (n_labels > 1 is the classic label-noise /
    leakage smell: the same content embedded twice with conflicting
    labels). The exact-match complement to dedup_embedding's cosine
    near-dup — run this first, it's one hash agg. At 100 TB group on
    xxhash64 of the vector bytes instead of the raw 256-byte array
    (dedup_exact's digest discipline) so the shuffle key is 8 bytes;
    grouping float arrays is exact equality on bit patterns, which is
    what "same embedding" means operationally (one embed run, one
    writer)."""
    e = table(spark, sf_dir, "embeddings")
    return e.groupBy("embedding").agg(
        F.min("vec_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
        F.count_distinct("label").alias("n_labels"),
    ).drop("embedding")


@query(
    "pipeline_embedding_qc",
    oracle=f"""
        WITH base AS (
            SELECT CAST(count(*) AS BIGINT) AS n_vecs,
                   CAST(count(*) - count(DISTINCT embedding) AS BIGINT)
                       AS n_exact_dups
            FROM embeddings
        ),
        norms AS (
            SELECT round(avg(nrm), 6) AS mean_norm,
                   round(min(nrm), 6) AS min_norm,
                   round(max(nrm), 6) AS max_norm
            FROM (
                SELECT {_DUCK_NORM.format(a='embedding')} AS nrm
                FROM embeddings
            )
        ),
        dims AS (
            SELECT CAST(count(*) FILTER (WHERE mx = 0.0) AS BIGINT)
                       AS n_dead_dims,
                   CAST(count(*) FILTER (WHERE sd < 0.01) AS BIGINT)
                       AS n_lowvar_dims
            FROM (
                SELECT max(abs(x)) AS mx, stddev_samp(x) AS sd
                FROM (
                    SELECT i AS dim, CAST(embedding[i] AS DOUBLE) AS x
                    FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
                )
                GROUP BY dim
            )
        )
        SELECT n_vecs, n_exact_dups, mean_norm, min_norm, max_norm,
               n_dead_dims, n_lowvar_dims
        FROM base CROSS JOIN norms CROSS JOIN dims
    """,
    family="vectors",
    bnlj="1-row norm and dimension stats broadcast onto the vectors",
)
def pipeline_embedding_qc(spark, sf_dir):
    """One-row embedding-table QC gate — the composite report a
    pipeline runs before accepting a new embedding export, folding the
    family's individual diagnostics (dedup_embedding_exact,
    vec_dim_stats, vec_normalize's norm view) into accept/reject
    signals: exact-duplicate count, norm range (a zero min_norm means
    unembeddable rows; wild max/mean spread means missing
    normalization), dead dimensions (all-zero — a truncated writer),
    and low-variance dimensions (collapsed capacity). Three
    independent aggregates over one scan each, cross-joined as 1-row
    broadcasts; the dim stats fan out via posexplode into a 64-key
    hash agg (vec_dim_stats' shape). At 100 TB each component is one
    pass; fuse them by computing all three from a single posexplode
    pass if scan cost dominates."""
    e = table(spark, sf_dir, "embeddings")
    base = e.agg(
        F.count("*").alias("n_vecs"),
        (F.count("*") - F.count_distinct("embedding")).alias("n_exact_dups"),
    )
    norms = e.select(l2_norm(F.col("embedding")).alias("nrm")).agg(
        F.round(F.avg("nrm"), 6).alias("mean_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )
    dims = (
        e.select(F.posexplode("embedding").alias("dim", "x_raw"))
        .select("dim", F.col("x_raw").cast("double").alias("x"))
        .groupBy("dim")
        .agg(F.max(F.abs(F.col("x"))).alias("mx"), F.stddev_samp("x").alias("sd"))
        .agg(
            F.count(F.when(F.col("mx") == 0.0, 1)).alias("n_dead_dims"),
            F.count(F.when(F.col("sd") < 0.01, 1)).alias("n_lowvar_dims"),
        )
    )
    return (
        base.join(F.broadcast(norms))
        .join(F.broadcast(dims))
        .select(
            "n_vecs",
            "n_exact_dups",
            "mean_norm",
            "min_norm",
            "max_norm",
            "n_dead_dims",
            "n_lowvar_dims",
        )
    )


_DUCK_DOT16 = "list_sum(list_transform(range(1, 17), i -> CAST({a}[i] AS DOUBLE) * {b}[i]))"
_DUCK_NORM16 = "sqrt(list_sum(list_transform({a}[1:16], x -> CAST(x AS DOUBLE) * x)))"


@query(
    "vec_matryoshka_eval",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding,
                   {_DUCK_NORM.format(a='embedding')} AS nrm64,
                   {_DUCK_NORM16.format(a='embedding')} AS nrm16
            FROM embeddings
        ),
        pairs AS (
            SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                   round({_DUCK_DOT.format(a='q.embedding', b='c.embedding')}
                         / (q.nrm64 * c.nrm64), 6) AS sim64,
                   round({_DUCK_DOT16.format(a='q.embedding', b='c.embedding')}
                         / (q.nrm16 * c.nrm16), 6) AS sim16
            FROM v q JOIN v c ON q.vec_id < 50 AND c.vec_id <> q.vec_id
        ),
        full5 AS (
            SELECT q_id, n_id FROM (
                SELECT q_id, n_id, row_number() OVER (
                    PARTITION BY q_id ORDER BY sim64 DESC, n_id) AS rn
                FROM pairs) WHERE rn <= 5
        ),
        trunc5 AS (
            SELECT q_id, n_id FROM (
                SELECT q_id, n_id, row_number() OVER (
                    PARTITION BY q_id ORDER BY sim16 DESC, n_id) AS rn
                FROM pairs) WHERE rn <= 5
        )
        SELECT f.q_id,
               CAST(count(t.n_id) AS BIGINT) AS n_common,
               round(count(t.n_id) / 5.0, 6) AS recall_at_5
        FROM full5 f LEFT JOIN trunc5 t
          ON f.q_id = t.q_id AND f.n_id = t.n_id
        GROUP BY f.q_id
    """,
    family="vectors",
    bnlj="50 query vectors broadcast, scored against the candidates (exclude-self)",
)
def vec_matryoshka_eval(spark, sf_dir):
    """Matryoshka-style truncation evaluation: for 50 query vectors,
    how much of the FULL-dimension (64-d) cosine top-5 survives when
    retrieval uses only the FIRST 16 DIMS — the measurement behind
    "can we store/search the short prefix and rerank with the full
    vector", which at 100 TB is a 4× index-size and memory-bandwidth
    lever (vec_quantize is the same trade on the value axis; this is
    the dimension axis). Both rankings use rounded sims with full
    (sim DESC, id) tiebreaks, so list membership is bit-stable; recall
    is exact-integer counting over the two 5-row lists. Brute-force
    |Q|·|C| scoring here (50 queries — bounded by contract, same as
    sim_knn's oracle); the scale path swaps in the block-matmul
    kernels unchanged."""
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm64"),
        F.sqrt(
            F.aggregate(
                F.slice("embedding", 1, 16),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm16"),
    )
    q = v.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm64").alias("q_n64"),
        F.col("nrm16").alias("q_n16"),
    )
    c = v.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm64").alias("c_n64"),
        F.col("nrm16").alias("c_n16"),
    )
    dot16 = F.aggregate(
        F.zip_with(
            F.slice("q_emb", 1, 16),
            F.slice("c_emb", 1, 16),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        c.join(F.broadcast(q), F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            F.round(
                dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_n64") * F.col("c_n64")),
                6,
            ).alias("sim64"),
            F.round(dot16 / (F.col("q_n16") * F.col("c_n16")), 6).alias("sim16"),
        )
    )
    w64 = Window.partitionBy("q_id").orderBy(F.desc("sim64"), "n_id")
    w16 = Window.partitionBy("q_id").orderBy(F.desc("sim16"), "n_id")
    full5 = pairs.withColumn("rn", F.row_number().over(w64)).where(
        F.col("rn") <= 5
    ).select("q_id", "n_id")
    trunc5 = pairs.withColumn("rn", F.row_number().over(w16)).where(
        F.col("rn") <= 5
    ).select(F.col("q_id").alias("tq"), F.col("n_id").alias("tn"))
    j = full5.join(
        trunc5,
        (F.col("q_id") == F.col("tq")) & (F.col("n_id") == F.col("tn")),
        "left",
    )
    return j.groupBy("q_id").agg(
        F.count("tn").alias("n_common"),
        F.round(F.count("tn") / 5.0, 6).alias("recall_at_5"),
    )


@query(
    "vec_centroid_drift",
    oracle="""
        WITH flat AS (
            SELECT CAST(vec_id >= 250 AS INT) AS half,
                   i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        ),
        cents AS (
            SELECT half, dim, round(avg(x), 8) AS c
            FROM flat GROUP BY half, dim
        ),
        paired AS (
            SELECT a.dim, a.c AS ca, b.c AS cb
            FROM cents a JOIN cents b
              ON a.dim = b.dim AND a.half = 0 AND b.half = 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_dims,
               round(sqrt(sum((ca - cb) * (ca - cb))), 6) AS centroid_dist,
               round(sum(ca * cb)
                     / (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))), 6)
                   AS centroid_cos,
               CAST(max_by(dim, abs(ca - cb)) AS BIGINT) AS top_mover_dim
        FROM paired
    """,
    family="vectors",
)
def vec_centroid_drift(spark, sf_dir):
    """Embedding-distribution drift monitor: split the table into two
    batches (first/second half of ids standing in for old/new export),
    compare per-dimension centroids — L2 distance, cosine, and the
    single dimension that moved most — the embedding-space analogue of
    dq_psi_drift's tabular PSI, and the check that catches a silently
    retrained or re-normalized encoder before it poisons ANN indexes
    built on the old space. Per-dim means round at 8 dp BEFORE the
    distance fold (the moment discipline), so both engines fold
    identical doubles over the fixed 64-dim frame; max_by with the
    |Δ| key is tiebroken by DuckDB/Spark identically on exact
    identical inputs. One posexplode hash agg (128 keys) + a 64-row
    join — corpus-sized work is the single scan."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        (F.col("vec_id") >= 250).cast("int").alias("half"),
        F.posexplode("embedding").alias("dim", "x_raw"),
    ).select("half", "dim", F.col("x_raw").cast("double").alias("x"))
    cents = flat.groupBy("half", "dim").agg(F.round(F.avg("x"), 8).alias("c"))
    a = cents.where(F.col("half") == 0).select("dim", F.col("c").alias("ca"))
    b = cents.where(F.col("half") == 1).select(
        F.col("dim").alias("dim_b"), F.col("c").alias("cb")
    )
    paired = a.join(b, a.dim == b.dim_b).select("dim", "ca", "cb")
    diff = F.col("ca") - F.col("cb")
    return paired.agg(
        F.count("*").alias("n_dims"),
        F.round(F.sqrt(F.sum(diff * diff)), 6).alias("centroid_dist"),
        F.round(
            F.sum(F.col("ca") * F.col("cb"))
            / (
                F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
            ),
            6,
        ).alias("centroid_cos"),
        F.max_by("dim", F.abs(diff)).cast("bigint").alias("top_mover_dim"),
    )


_DUCK_SQDIST = (
    "list_sum(list_transform(range(1, 65), i -> "
    "(CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])))"
)


@query(
    "vec_silhouette",
    oracle=f"""
        WITH samp AS (
            SELECT vec_id, embedding, label FROM (
                SELECT vec_id, embedding, label,
                       row_number() OVER (
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                       ) AS rn
                FROM embeddings
            ) WHERE rn <= 200
        ),
        dists AS (
            SELECT a.vec_id AS i, a.label AS li, b.label AS lj,
                   sqrt({_DUCK_SQDIST.format(a='a.embedding', b='b.embedding')})
                       AS d
            FROM samp a JOIN samp b ON a.vec_id <> b.vec_id
        ),
        per_label AS (
            SELECT i, li, lj, avg(d) AS md FROM dists GROUP BY i, li, lj
        ),
        sil AS (
            SELECT i, li,
                   max(CASE WHEN lj = li THEN md END) AS a,
                   min(CASE WHEN lj <> li THEN md END) AS b
            FROM per_label GROUP BY i, li
        )
        SELECT li AS label,
               CAST(count(*) AS BIGINT) AS n_points,
               round(avg((b - a) / greatest(a, b)), 6) AS mean_silhouette
        FROM sil
        WHERE a IS NOT NULL AND b IS NOT NULL
        GROUP BY li
    """,
    family="vectors",
    bnlj="i != j self-join of the 200-vector md5 sample",
)
def vec_silhouette(spark, sf_dir):
    """Silhouette score of the LABEL partition over a deterministic
    200-vector sample: s = (b−a)/max(a,b) per point (a = mean
    distance to own label, b = mean distance to the nearest other
    label), averaged per label — the cluster-quality readout that
    grades any partition (ground-truth labels here; feed ml_kmeans
    assignments for the unsupervised reading) without a model in the
    loop. The all-pairs stage is BOUNDED by the md5 sample (199
    distances per point, sample_deterministic's idiom — silhouette is
    O(n²) by definition, so production computes it exactly this way:
    on a sample, stratified if classes are skewed). Distances are
    sequential-fold identical; the per-(point, label) means are
    ~100-element folds whose cross-engine drift (~1e-13) sits far
    inside the 6-dp output grid."""
    e = table(spark, sf_dir, "embeddings")
    w = Window.orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id")
    samp = (
        e.select("vec_id", "embedding", "label", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 200)
        .select("vec_id", "embedding", "label")
    )
    a = samp.select(
        F.col("vec_id").alias("i"),
        F.col("embedding").alias("ea"),
        F.col("label").alias("li"),
    )
    b = samp.select(
        F.col("vec_id").alias("j"),
        F.col("embedding").alias("eb"),
        F.col("label").alias("lj"),
    )
    sqd = F.aggregate(
        F.zip_with(
            "ea", "eb", lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = a.join(F.broadcast(b), F.col("i") != F.col("j")).select(
        "i", "li", "lj", F.sqrt(sqd).alias("d")
    )
    per_label = dists.groupBy("i", "li", "lj").agg(F.avg("d").alias("md"))
    sil = per_label.groupBy("i", "li").agg(
        F.max(F.when(F.col("lj") == F.col("li"), F.col("md"))).alias("a"),
        F.min(F.when(F.col("lj") != F.col("li"), F.col("md"))).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return (
        sil.where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy(F.col("li").alias("label"))
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.avg(s), 6).alias("mean_silhouette"),
        )
    )


@query(
    "vec_energy_distance",
    oracle=f"""
        WITH samp AS (
            SELECT vec_id, embedding,
                   CAST(vec_id >= 250 AS INT) AS grp
            FROM (
                SELECT vec_id, embedding,
                       row_number() OVER (
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                       ) AS rn
                FROM embeddings
            ) WHERE rn <= 200
        ),
        dists AS (
            SELECT a.grp AS ga, b.grp AS gb,
                   sqrt({_DUCK_SQDIST.format(a='a.embedding', b='b.embedding')})
                       AS d
            FROM samp a JOIN samp b ON a.vec_id < b.vec_id
        ),
        means AS (
            SELECT round(avg(CASE WHEN ga <> gb THEN d END), 8) AS m_xy,
                   round(avg(CASE WHEN ga = 0 AND gb = 0 THEN d END), 8) AS m_xx,
                   round(avg(CASE WHEN ga = 1 AND gb = 1 THEN d END), 8) AS m_yy,
                   CAST(count(CASE WHEN ga <> gb THEN 1 END) AS BIGINT) AS n_xy
            FROM dists
        )
        SELECT n_xy, m_xy, m_xx, m_yy,
               round(2 * m_xy - m_xx - m_yy, 6) AS energy_distance
        FROM means
    """,
    family="vectors",
    bnlj="i < j self-join of the 200-vector md5 sample",
)
def vec_energy_distance(spark, sf_dir):
    """Two-sample ENERGY DISTANCE between embedding batches
    (2·E|X−Y| − E|X−X'| − E|Y−Y'|, Székely's statistic — zero iff the
    distributions match): the PROPER multivariate two-sample test
    completing the drift toolkit (vec_centroid_drift sees mean shift
    only; energy distance sees shape/scale/mode changes a centroid
    can't). Groups are the same id-halves as the centroid monitor;
    pairwise distances run over the deterministic md5 200-sample
    (silhouette's bounded-quadratic discipline — energy statistics
    are O(n²) by definition, so production = sampled estimate,
    optionally permutation-tested by re-hashing group labels). The
    three conditional means round at 8 dp before the final linear
    combination — identical doubles, bit-stable verdicts."""
    e = table(spark, sf_dir, "embeddings")
    w = Window.orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")), "vec_id")
    samp = (
        e.select("vec_id", "embedding", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 200)
        .select(
            "vec_id", "embedding", (F.col("vec_id") >= 250).cast("int").alias("grp")
        )
    )
    a = samp.select(
        F.col("vec_id").alias("i"), F.col("embedding").alias("ea"), F.col("grp").alias("ga")
    )
    b = samp.select(
        F.col("vec_id").alias("j"), F.col("embedding").alias("eb"), F.col("grp").alias("gb")
    )
    sqd = F.aggregate(
        F.zip_with(
            "ea", "eb", lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = a.join(F.broadcast(b), F.col("i") < F.col("j")).select(
        "ga", "gb", F.sqrt(sqd).alias("d")
    )
    means = dists.agg(
        F.round(F.avg(F.when(F.col("ga") != F.col("gb"), F.col("d"))), 8).alias("m_xy"),
        F.round(
            F.avg(F.when((F.col("ga") == 0) & (F.col("gb") == 0), F.col("d"))), 8
        ).alias("m_xx"),
        F.round(
            F.avg(F.when((F.col("ga") == 1) & (F.col("gb") == 1), F.col("d"))), 8
        ).alias("m_yy"),
        F.count(F.when(F.col("ga") != F.col("gb"), 1)).alias("n_xy"),
    )
    return means.select(
        "n_xy",
        "m_xy",
        "m_xx",
        "m_yy",
        F.round(2 * F.col("m_xy") - F.col("m_xx") - F.col("m_yy"), 6).alias(
            "energy_distance"
        ),
    )


_PCA_ROUNDS = 10


def _pca_oracle() -> str:
    # every CTE MATERIALIZED: DuckDB otherwise inlines the chained rounds and
    # re-evaluates the covariance subtree exponentially (measured: >120 s vs 2 s)
    rounds = []
    prev = "v0"
    for r in range(1, _PCA_ROUNDS + 1):
        rounds.append(f"""
        w{r} AS MATERIALIZED (
            SELECT c.i, sum(c.c * v.vj) AS wi
            FROM cov c JOIN {prev} v ON c.j = v.j
            GROUP BY c.i
        ),
        n{r} AS MATERIALIZED (
            SELECT round(sqrt(sum(wi * wi)), 9) AS nrm FROM w{r}
        ),
        v{r} AS MATERIALIZED (
            SELECT w.i AS j, round(w.wi / n.nrm, 9) AS vj
            FROM w{r} w CROSS JOIN n{r} n
        )""")
        prev = f"v{r}"
    return f"""
        WITH flat AS MATERIALIZED (
            SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        ),
        means AS MATERIALIZED (
            SELECT i, round(avg(x), 8) AS m FROM flat GROUP BY i
        ),
        prods AS MATERIALIZED (
            SELECT a.i AS i, b.i AS j, round(avg(a.x * b.x), 8) AS mxy
            FROM flat a JOIN flat b ON a.vec_id = b.vec_id
            GROUP BY a.i, b.i
        ),
        cov AS MATERIALIZED (
            SELECT p.i, p.j, p.mxy - ma.m * mb.m AS c
            FROM prods p
            JOIN means ma ON ma.i = p.i
            JOIN means mb ON mb.i = p.j
        ),
        v0 AS MATERIALIZED (
            SELECT i AS j, 0.125 AS vj FROM (SELECT unnest(range(0, 64)) AS i)
        ),
        {",".join(rounds)},
        wf AS MATERIALIZED (
            SELECT c.i, sum(c.c * v.vj) AS wi
            FROM cov c JOIN v{_PCA_ROUNDS} v ON c.j = v.j GROUP BY c.i
        ),
        lam AS MATERIALIZED (
            SELECT round(sqrt(sum(wi * wi)), 6) AS ev FROM wf
        ),
        tr AS MATERIALIZED (
            SELECT round(sum(c), 6) AS trace FROM cov WHERE i = j
        ),
        sgn AS MATERIALIZED (
            SELECT CASE WHEN sum(vj) < 0 THEN -1.0 ELSE 1.0 END AS s
            FROM v{_PCA_ROUNDS}
        )
        SELECT CAST(v.j AS BIGINT) AS dim,
               round(v.vj * sgn.s, 6) AS loading,
               lam.ev AS eigenvalue,
               round(lam.ev / tr.trace, 6) AS explained_share
        FROM v{_PCA_ROUNDS} v CROSS JOIN lam CROSS JOIN tr CROSS JOIN sgn
    """


@query(
    "vec_pca_power", oracle=_pca_oracle(), family="vectors",
    bnlj="1-row norm broadcast per power round",
)
def vec_pca_power(spark, sf_dir):
    """Top principal component by POWER ITERATION, fully
    oracle-verified — the eigenvector MLlib's ml_pca computes as an
    opaque rows-only fit, here built from engine primitives so DuckDB
    replays it bit-for-bit: the 64×64 covariance comes from ROUNDED
    moment aggregates (avg(xᵢxⱼ) at 8 dp — the one corpus-sized pass,
    generated MAP-SIDE by double posexplode over the embedding array
    so the pair stream flows straight into a partial agg with 4096
    keys and the corpus is never shuffled — measured 3.4× faster than
    the vec_id self-join form it replaces, identical at 8 dp), then 10
    unrolled multiply-normalize rounds on the 64-row vector frame
    with the vector RE-ROUNDED at 9 dp each round — the re-rounding
    is what keeps ten rounds of cross-engine float drift from
    compounding (each round's input is bit-identical again). Sign
    fixed by Σv > 0; eigenvalue = ‖Cv‖ of a final multiply; explained
    share against the exact trace. Both sides materialize the shared
    frames explicitly — Spark via localCheckpoint (SCALE.md lesson
    2), DuckDB via AS MATERIALIZED (its CTE inlining re-evaluates the
    covariance subtree exponentially otherwise — same lesson, other
    engine). At 100 TB the covariance pass is the mergeable-moment
    pattern (ml_linreg_normal scaled to p² moments) and the iteration
    cost is p² per round — driver-free, shuffle-free after the first
    aggregate. (On this isotropic fixture the spectrum is
    near-degenerate — top eigenvalues within ~3% — so 10 rounds
    deliver a unit vector IN the top eigenspace with its Rayleigh
    quotient in the top band, which is what the numpy cross-check
    asserts; on real data with a dominant direction the same rounds
    nail the eigvec. Determinism is unaffected either way — both
    engines take identical steps.)"""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "x_raw")
    ).select("vec_id", "i", F.col("x_raw").cast("double").alias("x"))
    means = flat.groupBy("i").agg(F.round(F.avg("x"), 8).alias("m"))
    pairs = e.select(
        F.posexplode("embedding").alias("i", "ax_raw"), "embedding"
    ).select(
        "i",
        F.col("ax_raw").cast("double").alias("ax"),
        F.posexplode("embedding").alias("j", "bx_raw"),
    )
    prods = pairs.groupBy("i", "j").agg(
        F.round(
            F.avg(F.col("ax") * F.col("bx_raw").cast("double")), 8
        ).alias("mxy")
    )
    cov = (
        prods.join(F.broadcast(means.withColumnRenamed("i", "mi")), F.col("i") == F.col("mi"))
        .withColumnRenamed("m", "ma")
        .drop("mi")
        .join(F.broadcast(means.withColumnRenamed("i", "mj")), F.col("j") == F.col("mj"))
        .withColumnRenamed("m", "mb")
        .drop("mj")
        .select("i", "j", (F.col("mxy") - F.col("ma") * F.col("mb")).alias("c"))
        .localCheckpoint()  # referenced 12x: one covariance, not 12 recomputes
    )
    v = spark.range(64).select(F.col("id").alias("j"), F.lit(0.125).alias("vj"))
    for _ in range(_PCA_ROUNDS):
        w = (
            cov.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("vj")).alias("wi"))
            # w feeds BOTH the norm and the normalized vector; without a
            # checkpoint the multiply-aggregate ran twice per round (r18).
            # Lazy: the norm broadcast build materializes it. Using ONE
            # materialized w for both consumers also removes any chance
            # of the two evaluations drifting an ulp apart — the 9 dp
            # re-round absorbed that by design, now it cannot arise.
            .localCheckpoint(eager=False)
        )
        nrm = w.agg(F.round(F.sqrt(F.sum(F.col("wi") * F.col("wi"))), 9).alias("nrm"))
        v = (
            w.join(F.broadcast(nrm))
            .select(F.col("i").alias("j"), F.round(F.col("wi") / F.col("nrm"), 9).alias("vj"))
            # lazy (r19): the next iteration's broadcast(v) build
            # materializes it — one job per power iteration instead of two
            .localCheckpoint(eager=False)
        )
    wf = (
        cov.join(F.broadcast(v), "j").groupBy("i").agg(F.sum(F.col("c") * F.col("vj")).alias("wi"))
    )
    lam = wf.agg(F.round(F.sqrt(F.sum(F.col("wi") * F.col("wi"))), 6).alias("ev"))
    tr = cov.where(F.col("i") == F.col("j")).agg(F.round(F.sum("c"), 6).alias("trace"))
    sgn = v.agg(
        F.when(F.sum("vj") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("s")
    )
    return (
        v.join(F.broadcast(lam))
        .join(F.broadcast(tr))
        .join(F.broadcast(sgn))
        .select(
            F.col("j").cast("bigint").alias("dim"),
            F.round(F.col("vj") * F.col("s"), 6).alias("loading"),
            F.col("ev").alias("eigenvalue"),
            F.round(F.col("ev") / F.col("trace"), 6).alias("explained_share"),
        )
    )


_KM_K = 8
_KM_ROUNDS = 5


def _km_chain() -> str:
    """Shared oracle prefix for the seeded-Lloyd family (vec_kmeans_lloyd,
    dedup_semantic): CTEs ``pts`` (vec_id, embedding), ``c0``..``c{R}``
    (the trained centroids, final under alias ``ckm``) and ``kmf``
    (vec_id, cluster, dist — the final assignment). Generated SQL
    mirrors the Spark rounds term for term. The 64-term squared-distance
    sum is emitted LEFT-ASSOCIATED, which is the same IEEE evaluation
    order as Spark's F.aggregate fold ((0+t1)+t2)+..., so the
    per-(point, centroid) distance is bit-identical across engines and
    the argmin assignment cannot diverge. Every CTE is MATERIALIZED
    (DuckDB otherwise inlines the chained rounds — the same exponential
    re-evaluation _pca_oracle hit)."""
    dims = list(range(1, 65))

    def dist(c_alias: str) -> str:
        return " + ".join(
            f"(CAST(p.embedding[{d}] AS DOUBLE) - {c_alias}.d{d})"
            f" * (CAST(p.embedding[{d}] AS DOUBLE) - {c_alias}.d{d})"
            for d in dims
        )

    seed_cols = ", ".join(
        f"CAST(embedding[{d}] AS DOUBLE) AS d{d}" for d in dims
    )
    upd_cols = ", ".join(
        f"round(avg(CAST(embedding[{d}] AS DOUBLE)), 7) AS d{d}" for d in dims
    )
    merge_cols = ", ".join(f"coalesce(u.d{d}, p.d{d}) AS d{d}" for d in dims)

    rounds = []
    prev = "c0"
    for r in range(1, _KM_ROUNDS + 1):
        rounds.append(f"""
        a{r} AS MATERIALIZED (
            SELECT p.vec_id, p.embedding, c.cluster, {dist("c")} AS dist
            FROM pts p CROSS JOIN {prev} c
        ),
        s{r} AS MATERIALIZED (
            SELECT vec_id, embedding, cluster FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dist, cluster
                ) AS rn FROM a{r}
            ) WHERE rn = 1
        ),
        u{r} AS MATERIALIZED (
            SELECT cluster, {upd_cols} FROM s{r} GROUP BY cluster
        ),
        c{r} AS MATERIALIZED (
            SELECT p.cluster, {merge_cols}
            FROM {prev} p LEFT JOIN u{r} u USING (cluster)
        )""")
        prev = f"c{r}"
    return f"""
        WITH pts AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
        c0 AS MATERIALIZED (
            SELECT vec_id AS cluster, {seed_cols}
            FROM embeddings WHERE vec_id < {_KM_K}
        ),
        {",".join(rounds)},
        ckm AS MATERIALIZED (SELECT * FROM {prev}),
        af AS MATERIALIZED (
            SELECT p.vec_id, c.cluster, {dist("c")} AS dist
            FROM pts p CROSS JOIN ckm c
        ),
        kmf AS MATERIALIZED (
            SELECT vec_id, cluster, dist FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dist, cluster
                ) AS rn FROM af
            ) WHERE rn = 1
        )"""


def _kmeans_oracle() -> str:
    norm = " + ".join(f"c.d{d} * c.d{d}" for d in range(1, 65))
    return f"""
        {_km_chain()},
        st AS MATERIALIZED (
            SELECT cluster, count(*) AS n, round(avg(dist), 6) AS md
            FROM kmf GROUP BY cluster
        )
        SELECT c.cluster AS cluster,
               coalesce(st.n, CAST(0 AS BIGINT)) AS n_members,
               st.md AS mean_dist,
               round(sqrt({norm}), 6) AS centroid_norm
        FROM ckm c LEFT JOIN st USING (cluster)
    """


def _km_train(spark, sf_dir):
    """Spark half of the shared seeded-Lloyd chain (the ``_km_chain``
    oracle prefix): returns (pts, cent, final) where pts = (vec_id,
    emb array<double>), cent = the trained (cluster, cent) centroids
    after _KM_ROUNDS rounds, and final = (vec_id, emb, cluster, dist),
    the assignment against the trained centroids. Shared by
    vec_kmeans_lloyd (stats output) and dedup_semantic (SemDeDup cell
    restriction)."""
    e = table(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    cent = pts.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cluster"), F.col("emb").alias("cent")
    )

    # Assignment is MAP-SIDE (round-7): the k-centroid codebook rides in
    # one broadcast row of (cluster, cent) structs and each point takes
    # array_min over its (dist, cluster) structs — no points×k row
    # explosion, no per-round row_number window shuffle. array_min's
    # lexicographic (dist, cluster) min is bit-identical to the window's
    # ORDER BY dist, cluster rn=1 (same left-associated fold).
    amin = F.expr(
        "array_min(transform(cands, c -> struct("
        "aggregate(zip_with(emb, c.cent, (x, cc) -> (x - cc) * (x - cc)), "
        "0D, (a, v) -> a + v) AS dist, c.cluster AS cluster)))"
    )

    def assign(cent_df):
        cands = cent_df.agg(
            F.array_sort(F.collect_list(F.struct("cluster", "cent"))).alias("cands")
        )
        return (
            pts.crossJoin(F.broadcast(cands))
            .withColumn("m", amin)
            .select(
                "vec_id",
                "emb",
                F.col("m.cluster").alias("cluster"),
                F.col("m.dist").alias("dist"),
            )
        )

    # Update stays the posexplode → (cluster, dim) partial-agg form ON
    # PURPOSE (r18 measured): a single 64-wide avg aggregate halves the
    # exchanges on paper but regressed wall time ~0.5 s/query (64 agg
    # buffers × 5 rounds of whole-stage codegen compilation dominates at
    # this width — the 8-wide PQ variant in _pq_train DID win and keeps
    # the one-aggregate form). Shuffle volume is identical either way:
    # the explode is pre-combine, so each map partition emits k×64
    # partial cells in both forms.
    for _ in range(_KM_ROUNDS):
        assigned = assign(cent)
        upd = (
            assigned.select("cluster", F.posexplode("emb").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg("x"), 7).alias("v"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "v"))),
                    lambda s: s["v"],
                ).alias("newc")
            )
        )
        cent = (
            cent.join(upd, "cluster", "left")
            .select("cluster", F.coalesce("newc", "cent").alias("cent"))
            # lazy (r19, the graph-family job-consolidation lesson): the
            # NEXT round's centroid broadcast build scans this frame and
            # materializes it inside its own job — one driver job per
            # training round instead of two (eager checkpoint + broadcast
            # build). Values unchanged: the checkpoint is still
            # materialized exactly once, first touch.
            .localCheckpoint(eager=False)
        )
    return pts, cent, assign(cent)


@query(
    "vec_kmeans_lloyd", oracle=_kmeans_oracle(), family="vectors",
    bnlj="1-row codebook array for map-side nearest-centroid assignment",
)
def vec_kmeans_lloyd(spark, sf_dir):
    """Seeded Lloyd k-means (k=8, 5 rounds) built from engine
    primitives and fully ORACLE-VERIFIED — the deterministic twin of
    the rows-only MLlib ml_kmeans, the same role vec_pca_power plays
    for ml_pca. Init is the k lowest vec_ids (deterministic, no RNG);
    each round assigns every point to its nearest centroid by squared
    L2 and recomputes centroids as per-dimension means RE-ROUNDED at
    7 dp — the re-rounding resets cross-engine float drift each round
    exactly as vec_pca_power does, and the distance itself needs no
    rounding because both engines evaluate the identical
    left-associated 64-term sum (bit-equal IEEE doubles), so the
    argmin (tie → lowest cluster id) cannot diverge. Empty clusters
    keep their previous centroid (left-join coalesce). Output: per-
    cluster membership count, mean assigned distance, centroid norm.
    Scale shape: centroids are a 1-row broadcast array of (cluster,
    cent) structs, assignment is a fully map-side array_min — no
    points×k row explosion, no window shuffle (round-7; previously a
    per-point row_number window) — and
    the update is one (cluster, dim)-keyed partial agg — per round
    that is one corpus scan, zero corpus shuffles beyond the k×64
    partial states, which is exactly MLlib's treeAggregate pattern
    spelled out; rounds × scan is the 100 TB cost, and the centroid
    frame stays driver-free throughout (localCheckpoint per round
    truncates the 5-round lineage). r8: the training loop factored
    into ``_km_train`` (unchanged math) so dedup_semantic can reuse
    the trained cells."""
    _, cent, final = _km_train(spark, sf_dir)
    stats = final.groupBy("cluster").agg(
        F.count("*").alias("n"), F.round(F.avg("dist"), 6).alias("md")
    )
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform("cent", lambda c: c * c),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        ),
        6,
    )
    return (
        cent.join(stats, "cluster", "left")
        .select(
            "cluster",
            F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n_members"),
            F.col("md").alias("mean_dist"),
            norm.alias("centroid_norm"),
        )
    )


_SEMDEDUP_TAU = 0.4


def _semdedup_oracle() -> str:
    dot_ab = (
        "list_sum(list_transform(range(1, 65), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))"
    )
    nrm = "sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * x)))"
    return f"""
        {_km_chain()},
        vv AS MATERIALIZED (
            SELECT k.vec_id, k.cluster, e.embedding, {nrm} AS nrm
            FROM kmf k JOIN embeddings e USING (vec_id)
        ),
        dup AS MATERIALIZED (
            -- nrm > 0 on both sides: cosine is undefined for a zero-norm
            -- embedding, and without the guard the engines diverge (the
            -- numpy candidate kernel drops the NaN, NaN >= tau comparisons
            -- keep it) — zero vectors are never dup on EITHER engine
            SELECT DISTINCT b.vec_id
            FROM vv a JOIN vv b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE a.nrm > 0 AND b.nrm > 0
              AND {dot_ab} / (a.nrm * b.nrm) >= {_SEMDEDUP_TAU}
        )
        SELECT v.vec_id, v.cluster, (d.vec_id IS NULL) AS keep
        FROM vv v LEFT JOIN dup d USING (vec_id)
    """


@query(
    "dedup_semantic", oracle=_semdedup_oracle(), family="vectors",
    bnlj="1-row Lloyd codebook array and the G=8 block-id spine",
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication that restricts the quadratic cosine search to k-means
    CELLS — cluster the corpus embeddings, compare pairs only within
    each cell, and drop every vector that has a higher-similarity
    (>= tau) cell-mate with a SMALLER id (keep-min-id collapse; the
    paper keeps the member farthest from the centroid, min-id is the
    deterministic engine-friendly twin). Composition of two landed
    primitives: the seeded-Lloyd trainer ``_km_train`` (shared with
    vec_kmeans_lloyd — identical centroids, oracle prefix ``_km_chain``)
    and ``block_pair_candidates(key_col='cluster')``, whose cogroup key
    (cluster, gi, gj) shrinks the pair space from n² to Σ|cell|² while
    keeping the two-blocks-per-task memory bound and the BLAS inner
    loop. Candidates above (tau − 1e-6) are rescored with the
    sequential JVM fold so the keep/drop decision is bit-identical to
    the naive all-pairs form (the dedup_embedding margin discipline).
    At 100 TB: training amortizes over one sample pass, assignment is
    map-side against a broadcast codebook, and the pair stage shuffles
    on (cluster, block) keys only — never the pair space; cell count
    scales ∝ √n to hold Σ|cell|² near-linear (SCALE.md vectors row).
    Output: (vec_id, cluster, keep) for every embedding."""
    _, _, final = _km_train(spark, sf_dir)
    return semdedup_apply(final)


def semdedup_apply(final):
    """The ONLINE SemDeDup stage against a pre-trained cell assignment
    (``final``: vec_id, emb, cluster from ``_km_train``) — factored out
    (round 12, the ivfpq train/probe pattern) so bench.py can time the
    amortized-production shape separately from the per-invocation Lloyd
    re-training that dominates dedup_semantic's end-to-end band
    (~2.5 s of ~4 s at sf0.1). Pure refactor: dedup_semantic's result
    (and its driver hash) is unchanged."""
    from spark_ml_helper_spark.functions.blockpairs import (
        block_pair_candidates,
        threshold_kernel,
    )

    spark = final.sparkSession
    v = final.select(
        "vec_id",
        F.col("emb").alias("embedding"),
        l2_norm(F.col("emb")).alias("nrm"),
        "cluster",
    ).localCheckpoint(eager=True)
    # zero-norm embeddings have undefined cosine: exclude them from the
    # pair space (mirrored by the oracle's nrm > 0 guard) so the numpy
    # kernel (NaN >= tau → False) and the rescore/oracle comparisons
    # (NaN > any value) cannot diverge; such vectors are always kept.
    vp = v.filter(F.col("nrm") > 0)
    cand = block_pair_candidates(
        spark, vp, threshold_kernel(_SEMDEDUP_TAU), key_col="cluster"
    )
    av = vp.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    bv = vp.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    sim = dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
    dup = (
        cand.join(av, "a_id")
        .join(bv, "b_id")
        .filter(sim >= _SEMDEDUP_TAU)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return v.join(dup.withColumn("is_dup", F.lit(True)), "vec_id", "left").select(
        "vec_id", "cluster", F.col("is_dup").isNull().alias("keep")
    )


_PQ_SUBS = 8  # subspaces
_PQ_SUBDIM = 8  # dims per subspace
_PQ_K = 4  # centroids per codebook
_PQ_ROUNDS = 3


def _pq_chain() -> str:
    # Shared CTE chain: grouped k-means training of all 8 subspace
    # codebooks + final per-(vec_id, sub) assignment `sf`. The 8-term
    # squared-distance sum is LEFT-ASSOCIATED — bit-identical to Spark's
    # F.aggregate fold — so assignment argmins cannot diverge; centroid
    # updates re-round at 7 dp per round (the vec_kmeans_lloyd recipe).
    ds = list(range(1, _PQ_SUBDIM + 1))
    x_cols = ", ".join(
        f"CAST(embedding[sub * {_PQ_SUBDIM} + {d}] AS DOUBLE) AS x{d}"
        for d in ds
    )
    dist = " + ".join(f"(p.x{d} - c.d{d}) * (p.x{d} - c.d{d})" for d in ds)
    seed_cols = ", ".join(f"x{d} AS d{d}" for d in ds)
    upd_cols = ", ".join(f"round(avg(x{d}), 7) AS d{d}" for d in ds)
    merge_cols = ", ".join(f"coalesce(u.d{d}, p.d{d}) AS d{d}" for d in ds)
    px = ", ".join(f"p.x{d}" for d in ds)

    rounds = []
    prev = "c0"
    for r in range(1, _PQ_ROUNDS + 1):
        rounds.append(f"""
        a{r} AS MATERIALIZED (
            SELECT p.vec_id, p.sub, {px}, c.cluster, {dist} AS dist
            FROM pts p JOIN {prev} c ON p.sub = c.sub
        ),
        s{r} AS MATERIALIZED (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id, sub ORDER BY dist, cluster
                ) AS rn FROM a{r}
            ) WHERE rn = 1
        ),
        u{r} AS MATERIALIZED (
            SELECT sub, cluster, {upd_cols}
            FROM s{r} GROUP BY sub, cluster
        ),
        c{r} AS MATERIALIZED (
            SELECT p.sub, p.cluster, {merge_cols}
            FROM {prev} p LEFT JOIN u{r} u USING (sub, cluster)
        )""")
        prev = f"c{r}"
    return f"""
        WITH pts AS MATERIALIZED (
            SELECT vec_id, s.sub, {x_cols}
            FROM embeddings
            CROSS JOIN (SELECT unnest(range(0, {_PQ_SUBS})) AS sub) s
        ),
        c0 AS MATERIALIZED (
            SELECT sub, vec_id AS cluster, {seed_cols}
            FROM pts WHERE vec_id < {_PQ_K}
        ),
        {",".join(rounds)},
        af AS MATERIALIZED (
            SELECT p.vec_id, p.sub, c.cluster, {dist} AS dist
            FROM pts p JOIN {prev} c ON p.sub = c.sub
        ),
        sf AS MATERIALIZED (
            SELECT vec_id, sub, cluster, dist FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id, sub ORDER BY dist, cluster
                ) AS rn FROM af
            ) WHERE rn = 1
        )"""


def _pq_oracle() -> str:
    return f"""
        {_pq_chain()},
        codes AS MATERIALIZED (
            SELECT vec_id,
                   CAST(sum(cluster * CAST(pow({_PQ_K}, sub) AS BIGINT))
                        AS BIGINT) AS pq_code,
                   round(sum(dist), 6) AS recon_err
            FROM sf GROUP BY vec_id
        ),
        mse AS MATERIALIZED (
            SELECT round(avg(dist), 6) AS corpus_mse FROM sf
        )
        SELECT c.vec_id, c.pq_code, c.recon_err, m.corpus_mse
        FROM codes c CROSS JOIN mse m
    """


def _pq_train(spark, sf_dir):
    """Spark half of the shared chain: returns (pts, final_assignment)
    where pts = (vec_id, sub, sv: array<double>) and the assignment is
    (vec_id, sub, cluster, dist) from the trained codebooks."""
    e = table(spark, sf_dir, "embeddings")
    pts = (
        e.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        )
        .select(
            "vec_id",
            F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1))).alias("sub"),
            "emb",
        )
        .select(
            "vec_id",
            "sub",
            F.expr(f"slice(emb, sub * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})").alias("sv"),
        )
    )
    cent = pts.where(F.col("vec_id") < _PQ_K).select(
        "sub", F.col("vec_id").alias("cluster"), F.col("sv").alias("cent")
    )

    # Assignment is MAP-SIDE (round-7): the per-subspace codebook rides
    # as an array of (cluster, cent) structs behind an 8-row broadcast
    # equi-join on sub, and each point takes array_min over its
    # (dist, cluster) structs — replacing a points×k row explosion +
    # row_number window whose per-round shuffle was the plan's dominant
    # stage at the 100× probe decade. array_min's lexicographic
    # (dist, cluster) min is bit-identical to the window's
    # ORDER BY dist, cluster rn=1 (same left-associated distance fold).
    amin = F.expr(
        "array_min(transform(cands, c -> struct("
        "aggregate(zip_with(sv, c.cent, (x, cc) -> (x - cc) * (x - cc)), "
        "0D, (a, v) -> a + v) AS dist, c.cluster AS cluster)))"
    )

    def assign(cent_df):
        cands = cent_df.groupBy("sub").agg(
            F.array_sort(F.collect_list(F.struct("cluster", "cent"))).alias("cands")
        )
        return (
            pts.join(F.broadcast(cands), "sub")
            .withColumn("m", amin)
            .select(
                "vec_id",
                "sub",
                "sv",
                F.col("m.cluster").alias("cluster"),
                F.col("m.dist").alias("dist"),
            )
        )

    # Codebook update as ONE (sub, cluster)-keyed aggregate of 8
    # per-dimension avg expressions reassembled with F.array (r18, the
    # _km_train recipe): the posexplode form multiplied the subvector
    # stream 8x into a (sub, cluster, dim) shuffle and needed a second
    # shuffle to collect dims back into arrays. Same aggregates over the
    # same rows, re-rounded at 7 dp (the drift absorber) — centroids
    # unchanged, re-verified against the DuckDB chain.
    upd_aggs = [
        F.round(F.avg(F.col("sv")[d]), 7).alias(f"v{d}") for d in range(_PQ_SUBDIM)
    ]
    for _ in range(_PQ_ROUNDS):
        assigned = assign(cent)
        upd = (
            assigned.groupBy("sub", "cluster")
            .agg(*upd_aggs)
            .select(
                "sub",
                "cluster",
                F.array(*[F.col(f"v{d}") for d in range(_PQ_SUBDIM)]).alias("newc"),
            )
        )
        cent = (
            cent.join(upd, ["sub", "cluster"], "left")
            .select(
                "sub", "cluster", F.coalesce("newc", "cent").alias("cent")
            )
            # lazy (r19): next round's broadcast build materializes it —
            # one job per training round instead of two (see _km_train)
            .localCheckpoint(eager=False)
        )
    final = assign(cent).select("vec_id", "sub", "cluster", "dist")
    return pts, cent, final


@query(
    "vec_pq_encode", oracle=_pq_oracle(), family="vectors",
    bnlj="1-row corpus MSE crossJoined onto the codes",
)
def vec_pq_encode(spark, sf_dir):
    """PRODUCT QUANTIZATION (Jégou et al., PAMI 2011): split the 64-dim
    embedding into 8 subspaces of 8 dims, train a 4-centroid codebook
    per subspace by seeded Lloyd iterations, and encode every vector
    as the 8 nearest-centroid ids packed into one BIGINT (2 bits per
    subspace) — the memory-bound ANN scale path that complements
    sim_ann_ivf's compute-bound cell probe: 64 floats (256 B) compress
    to 2 bytes/vector, so a 100 TB embedding corpus's codes fit in
    ~1% of the space and asymmetric-distance scans become table
    lookups (sim_pq_adc). Fully ORACLE-VERIFIED via the
    vec_kmeans_lloyd recipe generalized to GROUPED k-means: ONE plan
    trains all 8 codebooks simultaneously (centroids keyed by
    (sub, cluster), assignment joins on sub, updates aggregate per
    (sub, cluster, dim)), the 8-term distances fold in identical
    left-associated IEEE order on both engines, and centroids
    re-round at 7 dp per round. Output: per-vector packed code +
    reconstruction error, plus the corpus MSE. Scale shape: the
    codebook is a 32-row broadcast, training is one corpus scan per
    round into k×subs×subdim mergeable partials, and encoding is
    map-side — at 100 TB raise k to 256 (8 bits) and subs to 16; the
    plan is unchanged."""
    _, _, final = _pq_train(spark, sf_dir)
    codes = final.groupBy("vec_id").agg(
        F.sum(
            F.col("cluster") * F.pow(F.lit(_PQ_K), F.col("sub")).cast("bigint")
        )
        .cast("bigint")
        .alias("pq_code"),
        F.round(F.sum("dist"), 6).alias("recon_err"),
    )
    mse = final.agg(F.round(F.avg("dist"), 6).alias("corpus_mse"))
    return codes.crossJoin(F.broadcast(mse))


def _pq_adc_oracle() -> str:
    ds = list(range(1, _PQ_SUBDIM + 1))
    qdist = " + ".join(f"(q.x{d} - c.d{d}) * (q.x{d} - c.d{d})" for d in ds)
    return f"""
        {_pq_chain()},
        qs AS MATERIALIZED (
            SELECT vec_id AS query_id, sub, {", ".join(f"x{d}" for d in ds)}
            FROM pts WHERE vec_id % 100 = 0
        ),
        lut AS MATERIALIZED (
            SELECT q.query_id, q.sub, c.cluster, round({qdist}, 9) AS qd
            FROM qs q JOIN c{_PQ_ROUNDS} c ON q.sub = c.sub
        ),
        adc AS MATERIALIZED (
            SELECT l.query_id, s.vec_id, round(sum(l.qd), 9) AS adc_dist
            FROM sf s JOIN lut l ON s.sub = l.sub AND s.cluster = l.cluster
            WHERE s.vec_id != l.query_id
            GROUP BY l.query_id, s.vec_id
        )
        SELECT query_id, vec_id AS neighbor_id,
               CAST(rn AS BIGINT) AS rnk, adc_dist
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY adc_dist, vec_id
            ) AS rn FROM adc
        ) WHERE rn <= 5
    """


@query("sim_pq_adc", oracle=_pq_adc_oracle(), family="vectors")
def sim_pq_adc(spark, sf_dir):
    """ASYMMETRIC-DISTANCE top-5 search over the PQ codes — the FAISS
    ADC formulation, fully ORACLE-VERIFIED on top of vec_pq_encode's
    shared codebook chain. Per query (every 100th vec_id) a 32-entry
    LOOKUP TABLE holds the exact squared distance from each query
    subvector to each codebook centroid; a corpus vector's
    approximate distance is then the SUM OF 8 TABLE LOOKUPS keyed by
    its code — no float math against the corpus at all. The plan is
    the scale shape verbatim: the LUT (queries × subs × k rows) is a
    broadcast, the corpus side is the (vec_id, sub, cluster)
    assignment scanned ONCE with an equi-join on (sub, cluster), and
    the per-(query, vector) sum is a partial agg — at 100 TB with
    k=256/16 subs this is the memory-bandwidth-bound scan that makes
    billion-vector search tractable, and the candidate set it emits
    is what the exact rescore (sim_knn's JVM path) re-ranks.
    Determinism: LUT entries are bit-identical left-associated sums
    on both engines, and the 8-lookup ADC sum is rounded at 9 dp —
    the SAME grid the LUT entries sit on, so the round is a no-op
    snap back to the grid (≥ 5e-10 from any boundary) — before the
    (adc_dist, vec_id)-tiebroken top-5 window. It was 6 dp until
    round 7: the Holt hypothesis sweeps proved coarsening grid
    values hits rounding half-boundaries (~1e-3/value) where engine
    round() implementations disagree; this op carried the same
    latent hazard (passing only by draw). Recall vs exact L2 is
    asserted in tests (2-bit codebooks are deliberately coarse —
    the recall/memory dial is k)."""
    pts, cent, final = _pq_train(spark, sf_dir)
    qs = pts.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("sv").alias("qv")
    )
    qd = F.aggregate(
        F.zip_with("qv", "cent", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    lut = qs.join(F.broadcast(cent), "sub").select(
        # the 8-term fold inside qd is bit-identical left-associated on
        # both engines, but the ADC sum over the 8 subspace lookups below
        # is engine-order-dependent — pre-rounding each LUT entry at 9 dp
        # puts the summands on a shared grid so the 6 dp post-round can
        # never sit on a cross-engine boundary (r5 ADVICE)
        "query_id", "sub", "cluster", F.round(qd, 9).alias("qd")
    )
    adc = (
        final.join(F.broadcast(lut), ["sub", "cluster"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("qd"), 9).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rn").cast("bigint").alias("rnk"),
            "adc_dist",
        )
    )


_ELBOW_KS = [1, 2, 4, 8]


def _kmeans_elbow_oracle() -> str:
    # The vec_kmeans_lloyd recipe with centroids keyed by (cfg, cluster):
    # one CTE chain trains ALL four k-configs simultaneously (the same
    # grouped-training generalization vec_pq_encode uses across
    # subspaces). Distances stay the bit-identical left-associated
    # 64-term sums; centroid updates re-round at 7 dp per round.
    dims = list(range(1, 65))

    def dist(c_alias: str) -> str:
        return " + ".join(
            f"(CAST(p.embedding[{d}] AS DOUBLE) - {c_alias}.d{d})"
            f" * (CAST(p.embedding[{d}] AS DOUBLE) - {c_alias}.d{d})"
            for d in dims
        )

    seed_cols = ", ".join(
        f"CAST(embedding[{d}] AS DOUBLE) AS d{d}" for d in dims
    )
    upd_cols = ", ".join(
        f"round(avg(CAST(embedding[{d}] AS DOUBLE)), 7) AS d{d}" for d in dims
    )
    merge_cols = ", ".join(f"coalesce(u.d{d}, p.d{d}) AS d{d}" for d in dims)
    ks = ", ".join(f"({k})" for k in _ELBOW_KS)

    rounds = []
    prev = "c0"
    for r in range(1, _KM_ROUNDS + 1):
        rounds.append(f"""
        a{r} AS MATERIALIZED (
            SELECT p.cfg, p.vec_id, p.embedding, c.cluster, {dist("c")} AS dist
            FROM pts p JOIN {prev} c ON p.cfg = c.cfg
        ),
        s{r} AS MATERIALIZED (
            SELECT cfg, vec_id, embedding, cluster FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY cfg, vec_id ORDER BY dist, cluster
                ) AS rn FROM a{r}
            ) WHERE rn = 1
        ),
        u{r} AS MATERIALIZED (
            SELECT cfg, cluster, {upd_cols} FROM s{r} GROUP BY cfg, cluster
        ),
        c{r} AS MATERIALIZED (
            SELECT p.cfg, p.cluster, {merge_cols}
            FROM {prev} p LEFT JOIN u{r} u USING (cfg, cluster)
        )""")
        prev = f"c{r}"
    return f"""
        WITH cfgs AS MATERIALIZED (SELECT * FROM (VALUES {ks}) AS t(cfg)),
        pts AS MATERIALIZED (
            SELECT c.cfg, e.vec_id, e.embedding
            FROM embeddings e CROSS JOIN cfgs c
        ),
        c0 AS MATERIALIZED (
            SELECT c.cfg, e.vec_id AS cluster, {seed_cols}
            FROM embeddings e JOIN cfgs c ON e.vec_id < c.cfg
        ),
        {",".join(rounds)},
        af AS MATERIALIZED (
            SELECT p.cfg, p.vec_id, c.cluster, {dist("c")} AS dist
            FROM pts p JOIN {prev} c ON p.cfg = c.cfg
        ),
        sf AS MATERIALIZED (
            SELECT cfg, vec_id, dist FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY cfg, vec_id ORDER BY dist, cluster
                ) AS rn FROM af
            ) WHERE rn = 1
        ),
        curve AS MATERIALIZED (
            SELECT CAST(cfg AS BIGINT) AS k,
                   round(avg(dist), 6) AS inertia
            FROM sf GROUP BY cfg
        )
        SELECT k, inertia,
               round(lag(inertia) OVER (ORDER BY k) - inertia, 6)
                   AS improvement
        FROM curve
    """


@query(
    "vec_kmeans_elbow", oracle=_kmeans_elbow_oracle(), family="vectors",
    bnlj="4-row config frame and the vec_id < cfg seed join",
)
def vec_kmeans_elbow(spark, sf_dir):
    """ELBOW CURVE for k selection — Lloyd k-means at k ∈ {1,2,4,8}
    trained SIMULTANEOUSLY in one plan: centroids key on
    (config, cluster), assignment joins on config, and updates
    aggregate per (config, cluster, dim) — the grouped-training
    generalization vec_pq_encode uses across subspaces, here across
    hyperparameter configs, so the model-selection sweep costs ONE
    corpus scan per round instead of |configs| separate fits (k=1
    rides along as the variance baseline: its 'centroid' converges to
    the global mean, making inertia drops read as explained
    variance). Fully oracle-verified via the vec_kmeans_lloyd
    determinism recipe (bit-identical left-associated distances,
    7 dp per-round centroid re-rounding); output is the k → inertia
    curve with per-step improvement, the table a data lead reads to
    pick k. Scale shape: the centroid frame is (Σk)=15 broadcast
    rows, each round is one scan into k-bounded partials — config
    count multiplies the assignment stream, not the shuffle key
    space; at 100 TB sweep k on a sample first, exactly as MLlib's
    docs prescribe, with this plan unchanged."""
    e = table(spark, sf_dir, "embeddings")
    cfgs = spark.sql(f"SELECT {inline_rows([(k,) for k in _ELBOW_KS], 'cfg int')}")
    pts = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    ).crossJoin(F.broadcast(cfgs))
    cent = (
        e.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("cent"),
        )
        .join(F.broadcast(cfgs), F.col("vec_id") < F.col("cfg"))
        .select("cfg", F.col("vec_id").alias("cluster"), "cent")
    )
    # Assignment is MAP-SIDE (round-7, the vec_kmeans_lloyd recipe keyed
    # by cfg): each config's codebook rides as an array of (cluster,
    # cent) structs behind a 4-row broadcast equi-join on cfg, and each
    # (point, cfg) row takes array_min over its (dist, cluster) structs
    # — bit-identical to the former ORDER BY dist, cluster window.
    amin = F.expr(
        "array_min(transform(cands, c -> struct("
        "aggregate(zip_with(emb, c.cent, (x, cc) -> (x - cc) * (x - cc)), "
        "0D, (a, v) -> a + v) AS dist, c.cluster AS cluster)))"
    )

    def assign(cent_df):
        cands = cent_df.groupBy("cfg").agg(
            F.array_sort(F.collect_list(F.struct("cluster", "cent"))).alias("cands")
        )
        return (
            pts.join(F.broadcast(cands), "cfg")
            .withColumn("m", amin)
            .select(
                "cfg",
                "vec_id",
                "emb",
                F.col("m.cluster").alias("cluster"),
                F.col("m.dist").alias("dist"),
            )
        )

    for _ in range(_KM_ROUNDS):
        assigned = assign(cent)
        upd = (
            assigned.select("cfg", "cluster", F.posexplode("emb").alias("dim", "x"))
            .groupBy("cfg", "cluster", "dim")
            .agg(F.round(F.avg("x"), 7).alias("v"))
            .groupBy("cfg", "cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "v"))),
                    lambda s: s["v"],
                ).alias("newc")
            )
        )
        cent = (
            cent.join(upd, ["cfg", "cluster"], "left")
            .select("cfg", "cluster", F.coalesce("newc", "cent").alias("cent"))
            # lazy (r19): next round's broadcast build materializes it —
            # one job per training round instead of two (see _km_train)
            .localCheckpoint(eager=False)
        )
    final = assign(cent)
    curve = final.groupBy(F.col("cfg").cast("bigint").alias("k")).agg(
        F.round(F.avg("dist"), 6).alias("inertia")
    )
    wk = Window.orderBy("k")
    return curve.select(
        "k",
        "inertia",
        F.round(F.lag("inertia").over(wk) - F.col("inertia"), 6).alias(
            "improvement"
        ),
    )


def _pq_retrieval_oracle() -> str:
    ds = list(range(1, _PQ_SUBDIM + 1))
    qdist = " + ".join(f"(q.x{d} - c.d{d}) * (q.x{d} - c.d{d})" for d in ds)
    exact = " + ".join(
        f"(CAST(qe.embedding[{d}] AS DOUBLE) - CAST(ne.embedding[{d}] AS DOUBLE))"
        f" * (CAST(qe.embedding[{d}] AS DOUBLE) - CAST(ne.embedding[{d}] AS DOUBLE))"
        for d in range(1, 65)
    )
    return f"""
        {_pq_chain()},
        qs AS MATERIALIZED (
            SELECT vec_id AS query_id, sub, {", ".join(f"x{d}" for d in ds)}
            FROM pts WHERE vec_id % 100 = 0
        ),
        lut AS MATERIALIZED (
            SELECT q.query_id, q.sub, c.cluster, round({qdist}, 9) AS qd
            FROM qs q JOIN c{_PQ_ROUNDS} c ON q.sub = c.sub
        ),
        adc AS MATERIALIZED (
            SELECT l.query_id, s.vec_id, round(sum(l.qd), 9) AS adc_dist
            FROM sf s JOIN lut l ON s.sub = l.sub AND s.cluster = l.cluster
            WHERE s.vec_id != l.query_id
            GROUP BY l.query_id, s.vec_id
        ),
        cand AS MATERIALIZED (
            SELECT query_id, vec_id, adc_dist FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY adc_dist, vec_id
                ) AS rn FROM adc
            ) WHERE rn <= 20
        ),
        rescored AS MATERIALIZED (
            SELECT c.query_id, c.vec_id, c.adc_dist, {exact} AS exact_d
            FROM cand c
            JOIN embeddings qe ON qe.vec_id = c.query_id
            JOIN embeddings ne ON ne.vec_id = c.vec_id
        )
        SELECT query_id, vec_id AS neighbor_id,
               CAST(rn AS BIGINT) AS rnk,
               round(exact_d, 6) AS exact_dist, adc_dist
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY exact_d, vec_id
            ) AS rn FROM rescored
        ) WHERE rn <= 5
    """


@query("pipeline_pq_retrieval", oracle=_pq_retrieval_oracle(), family="vectors")
def pipeline_pq_retrieval(spark, sf_dir):
    """TWO-STAGE PQ RETRIEVAL — the production ANN pipeline the
    sim_pq_adc docstring promises, end to end and fully
    ORACLE-VERIFIED: stage 1 scans the 2-byte PQ codes with the
    broadcast lookup tables (ADC — memory-bandwidth bound, touches no
    floats) and keeps each query's top-20 candidates; stage 2
    re-ranks ONLY those 20 with the exact 64-dim squared distance
    (bit-identical left-associated folds on both engines) and emits
    the final top-5 with both distances, so the output shows exactly
    what the coarse stage got wrong and the rescore fixed. This
    candidates-then-rescore shape is how billion-vector search
    actually runs (FAISS IVFADC + refine, and this repo's
    sim_knn/sim_cosine_pairs preselect+rescore pattern): the exact
    stage costs |queries| × 20 distance evaluations regardless of
    corpus size, and the ADC stage's cost is the code scan the
    vec_pq_encode docstring prices at ~1% of the float corpus.
    Determinism: ADC sums round at 6 dp before the (dist, vec_id)
    tiebroken top-20 window; exact distances are bit-identical and
    only rounded for display after the final ranking."""
    pts, cent, final = _pq_train(spark, sf_dir)
    qs = pts.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("sv").alias("qv")
    )
    qd = F.aggregate(
        F.zip_with("qv", "cent", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    lut = qs.join(F.broadcast(cent), "sub").select(
        # the 8-term fold inside qd is bit-identical left-associated on
        # both engines, but the ADC sum over the 8 subspace lookups below
        # is engine-order-dependent — pre-rounding each LUT entry at 9 dp
        # puts the summands on a shared grid so the 6 dp post-round can
        # never sit on a cross-engine boundary (r5 ADVICE)
        "query_id", "sub", "cluster", F.round(qd, 9).alias("qd")
    )
    adc = (
        final.join(F.broadcast(lut), ["sub", "cluster"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("qd"), 9).alias("adc_dist"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    cand = (
        adc.withColumn("rn", F.row_number().over(w_adc))
        .where(F.col("rn") <= 20)
        .drop("rn")
    )
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    exact = F.aggregate(
        F.zip_with("q_emb", "n_emb", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    rescored = (
        cand.join(
            e.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")),
            "query_id",
        )
        .join(e.select("vec_id", F.col("emb").alias("n_emb")), "vec_id")
        .withColumn("exact_d", exact)
    )
    w_ex = Window.partitionBy("query_id").orderBy("exact_d", "vec_id")
    return (
        rescored.withColumn("rn", F.row_number().over(w_ex))
        .where(F.col("rn") <= 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rn").cast("bigint").alias("rnk"),
            F.round("exact_d", 6).alias("exact_dist"),
            "adc_dist",
        )
    )


_IVFPQ_NPROBE = 2
_IVFPQ_CAND = 50  # ADC shortlist size; 2-bit codes are coarse, so rescore wide
_IVFPQ_TOPK = 5


def _ivfpq_oracle() -> str:
    ds = list(range(1, _PQ_SUBDIM + 1))
    qdist = " + ".join(f"(q.x{d} - c.d{d}) * (q.x{d} - c.d{d})" for d in ds)
    exact = " + ".join(
        f"(CAST(qe.embedding[{d}] AS DOUBLE) - CAST(ne.embedding[{d}] AS DOUBLE))"
        f" * (CAST(qe.embedding[{d}] AS DOUBLE) - CAST(ne.embedding[{d}] AS DOUBLE))"
        for d in range(1, 65)
    )
    return f"""
        {_pq_chain()},
        cex AS MATERIALIZED (
            SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings, range(1, 65) r(i)
        ),
        ivfc AS MATERIALIZED (
            SELECT label AS c_label, list(round(avg_v, 6) ORDER BY pos) AS centroid
            FROM (SELECT label, pos, avg(v) AS avg_v FROM cex GROUP BY label, pos)
            GROUP BY label
        ),
        vranked AS MATERIALIZED (
            SELECT v.vec_id, c.c_label,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(list_sum(list_transform(range(1, 65),
                           i -> (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i])
                                * (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i]))), 6),
                           c.c_label
                   ) AS crn
            FROM embeddings v CROSS JOIN ivfc c
        ),
        assigned AS MATERIALIZED (
            SELECT vec_id, c_label AS cell FROM vranked WHERE crn = 1
        ),
        probes AS MATERIALIZED (
            SELECT vec_id AS query_id, c_label AS cell
            FROM vranked WHERE crn <= {_IVFPQ_NPROBE} AND vec_id % 100 = 0
        ),
        qs AS MATERIALIZED (
            SELECT vec_id AS query_id, sub, {", ".join(f"x{d}" for d in ds)}
            FROM pts WHERE vec_id % 100 = 0
        ),
        lut AS MATERIALIZED (
            SELECT q.query_id, q.sub, c.cluster, round({qdist}, 9) AS qd
            FROM qs q JOIN c{_PQ_ROUNDS} c ON q.sub = c.sub
        ),
        candcells AS MATERIALIZED (
            SELECT p.query_id, a.vec_id
            FROM probes p JOIN assigned a ON a.cell = p.cell
            WHERE a.vec_id != p.query_id
        ),
        adc AS MATERIALIZED (
            SELECT cc.query_id, cc.vec_id, round(sum(l.qd), 9) AS adc_dist
            FROM candcells cc
            JOIN sf s ON s.vec_id = cc.vec_id
            JOIN lut l ON l.query_id = cc.query_id
                      AND l.sub = s.sub AND l.cluster = s.cluster
            GROUP BY cc.query_id, cc.vec_id
        ),
        cand AS MATERIALIZED (
            SELECT query_id, vec_id, adc_dist FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY adc_dist, vec_id
                ) AS rn FROM adc
            ) WHERE rn <= {_IVFPQ_CAND}
        ),
        rescored AS MATERIALIZED (
            SELECT c.query_id, c.vec_id, c.adc_dist, {exact} AS exact_d
            FROM cand c
            JOIN embeddings qe ON qe.vec_id = c.query_id
            JOIN embeddings ne ON ne.vec_id = c.vec_id
        )
        SELECT query_id, vec_id AS neighbor_id,
               CAST(rn AS BIGINT) AS rnk,
               round(exact_d, 6) AS exact_dist, adc_dist
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY exact_d, vec_id
            ) AS rn FROM rescored
        ) WHERE rn <= {_IVFPQ_TOPK}
    """


def train_ivfpq(spark, sf_dir):
    """OFFLINE half of IVF×PQ (r8: the train/apply factoring the
    dedup_incremental family got in r7 — text.py's hash_documents /
    build_dedup_index / incremental_decisions). Builds everything that
    depends only on the CORPUS, i.e. the parts a production deployment
    trains once and amortizes over every query batch:

      cells    — 1-row broadcastable IVF coarse codebook (array of
                 (c_label, centroid) structs, per-label means on the
                 6 dp grid)
      assigned — (vec_id, cell): each corpus vector's nearest cell,
                 computed MAP-SIDE against the broadcast codebook
      cent     — trained PQ codebooks (sub, cluster, cent) from
                 _pq_train's seeded grouped Lloyd rounds
      codes    — (vec_id, sub, cluster, dist): the PQ assignment
                 (2 bits/subspace — the compressed corpus)
      emb      — (vec_id, emb: array<double>): exact-rescore side

    Cell assignment rides the whole codebook in one broadcast row and
    takes array_sort over per-cell (d², cell) structs in-place — no
    ×cells row explosion, no window shuffle over the corpus (the naive
    crossJoin+row_number form shuffles corpus×cells rows; at the 100×
    probe decade that window was the plan's single biggest stage).
    Same math, same 6 dp grid, same (d², cell) tie-break as the
    oracle's row_number window."""
    e = table(spark, sf_dir, "embeddings")
    # IVF coarse codebook: per-label mean, rounded — deterministic.
    # Kept in the posexplode → (label, pos) partial-agg form on purpose
    # (r18 measured): the 64-wide single-aggregate variant regressed
    # wall ~0.7 s from whole-stage codegen compilation at that width
    # (see _km_train; the 8-wide PQ form is the one that wins).
    ex = e.select("label", F.posexplode("embedding").alias("pos0", "v"))
    ivfc = (
        ex.groupBy(F.col("label").alias("c_label"), (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mv"))
        .groupBy("c_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s.getField("mv"),
            ).alias("centroid")
        )
    )
    # 1-row frame; eager checkpoint so the corpus-scan centroid
    # aggregation behind it runs once, not once per consuming branch
    cells = ivfc.agg(
        F.array_sort(F.collect_list(F.struct("c_label", "centroid"))).alias("cells")
    ).localCheckpoint(eager=True)
    scored = (
        e.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cells))
        .select("vec_id", _ivfpq_cell_rank("embedding").alias("ds"))
    )
    assigned = scored.select("vec_id", F.expr("ds[0].cell").alias("cell"))
    _, cent, codes = _pq_train(spark, sf_dir)
    emb = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    return {
        "cells": cells,
        "assigned": assigned,
        "cent": cent,
        "codes": codes,
        "emb": emb,
    }


def _ivfpq_cell_rank(emb_col: str):
    """(d², cell)-sorted per-cell distance structs for one vector against
    the broadcast ``cells`` codebook column — the shared map-side ranking
    both the corpus assignment and the query probe use."""
    return F.expr(
        f"array_sort(transform(cells, c -> struct("
        f"round(aggregate(zip_with({emb_col}, c.centroid, "
        f"(x, cc) -> (cast(x as double) - cc) * (cast(x as double) - cc)), "
        f"0D, (a, v) -> a + v), 6) AS d2, c.c_label AS cell)))"
    )


def ivfpq_probe(index, queries):
    """ONLINE half of IVF×PQ: search a trained ``train_ivfpq`` index for
    a batch of ``queries`` (query_id, embedding). Per query: rank cells
    against the broadcast coarse codebook (map-side), probe the
    nprobe=2 nearest, ADC-score ONLY the vectors assigned to those
    cells via the broadcast 32-entry LUT (8 table lookups per
    candidate, no float math on the corpus), exact-rescore the ADC
    shortlist (_IVFPQ_CAND = 50) with the bit-identical 64-term fold,
    and emit the top-5 with both distances. Every shuffle key is a
    cell / vec_id / query_id — never a pair; the probe touches
    |corpus|·nprobe/cells candidates per query, so query cost is
    independent of adding more (unprobed) cells at 100 TB."""
    probes = (
        queries.crossJoin(F.broadcast(index["cells"]))
        .select(
            F.col("query_id"), _ivfpq_cell_rank("embedding").alias("ds")
        )
        .select(
            "query_id",
            F.explode(
                F.expr(f"transform(slice(ds, 1, {_IVFPQ_NPROBE}), s -> s.cell)")
            ).alias("cell"),
        )
    )
    # query subvectors + per-query broadcast LUT against the PQ codebooks
    qs = (
        queries.select(
            "query_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        )
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBS - 1))).alias("sub"),
            "emb",
        )
        .select(
            "query_id",
            "sub",
            F.expr(f"slice(emb, sub * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})").alias("qv"),
        )
    )
    qd = F.aggregate(
        F.zip_with("qv", "cent", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    lut = qs.join(F.broadcast(index["cent"]), "sub").select(
        "query_id", "sub", "cluster", F.round(qd, 9).alias("qd")
    )
    # candidates: only vectors in the query's probed cells (each vector
    # lives in exactly one cell and a query's probe cells are distinct,
    # so pairs are already unique — no dedup shuffle needed)
    candcells = (
        probes.join(index["assigned"], "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    adc = (
        candcells.join(index["codes"], "vec_id")
        .join(F.broadcast(lut), ["query_id", "sub", "cluster"])
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("qd"), 9).alias("adc_dist"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    cand = (
        adc.withColumn("rn", F.row_number().over(w_adc))
        .where(F.col("rn") <= _IVFPQ_CAND)
        .drop("rn")
    )
    # exact rescore of the ADC shortlist (_IVFPQ_CAND = 50)
    exact = F.aggregate(
        F.zip_with("q_emb", "n_emb", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    ed = index["emb"]
    rescored = (
        cand.join(
            ed.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")),
            "query_id",
        )
        .join(ed.select("vec_id", F.col("emb").alias("n_emb")), "vec_id")
        .withColumn("exact_d", exact)
    )
    w_ex = Window.partitionBy("query_id").orderBy("exact_d", "vec_id")
    return (
        rescored.withColumn("rn", F.row_number().over(w_ex))
        .where(F.col("rn") <= _IVFPQ_TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("rn").cast("bigint").alias("rnk"),
            F.round("exact_d", 6).alias("exact_dist"),
            "adc_dist",
        )
    )


@query(
    "sim_ann_ivfpq", oracle=_ivfpq_oracle(), family="vectors",
    bnlj="1-row broadcast codebook array for map-side cell assignment",
)
def sim_ann_ivfpq(spark, sf_dir):
    """IVF×PQ — the billion-vector ANN default (FAISS IVFADC: Jégou et
    al., PAMI 2011 §V), composed from three already-oracle-verified
    ingredients and therefore fully ORACLE-VERIFIED end to end:
    (1) sim_ann_ivf's coarse quantizer assigns every vector to its
    nearest cell (per-label mean centroids, d² rounded 6 dp,
    (d², cell) tie-break) and each query probes its nprobe=2 nearest
    cells; (2) within the probed cells ONLY, candidates are scored by
    sim_pq_adc's asymmetric distance — 8 broadcast-LUT lookups per
    candidate against vec_pq_encode's 2-bit codes, no float math on
    the corpus; (3) the ADC shortlist (top-``_IVFPQ_CAND`` = 50 — the
    2-bit codes are coarse, so the rescore budget is deliberately wide)
    is exact-rescored with the bit-identical 64-term fold and the top-5
    emitted with both distances (pipeline_pq_retrieval's refine
    pattern).

    r8: factored into ``train_ivfpq`` (offline: coarse codebook, cell
    assignment, PQ codebooks, codes — everything corpus-only) and
    ``ivfpq_probe`` (online: cell probe, LUT, ADC, rescore for a query
    batch), so the code now SAYS what the docstring always claimed —
    training is amortized at scale, and bench.py reports the
    probe-only time separately against a pre-materialized index.
    Composition is deterministic, so the oracle (and the recorded
    hash) is unchanged.

    This is SCALE.md's named next decade for the PQ path ("IVF the
    codes so each query touches a cell, not the corpus"): the ADC scan
    cost drops from |corpus| to |corpus|·nprobe/cells per query, and
    the join chain is all equi-joins — probes→assigned on CELL id
    (the shuffle key is the cell, never the pair), candidates→codes
    on vec_id, codes→LUT on broadcast (query, sub, cluster). At 100 TB
    the cells come from a trained k-means codebook (√n cells, same
    plumbing — sim_ann_ivf's docstring), k rises to 256/16 subs, and
    the rescore stays |queries|×10 regardless of corpus size.
    Determinism: every ranking sits on a shared 6 dp grid with
    explicit id tie-breaks; LUT entries pre-round at 9 dp (the r5
    ADVICE discipline); recall vs the exact L2 top-5 is pinned in
    tests."""
    index = train_ivfpq(spark, sf_dir)
    queries = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return ivfpq_probe(index, queries)


def _pca_deflate_oracle() -> str:
    # Two power-iteration passes: PC1 on the moment covariance, then PC2
    # on the DEFLATED matrix cov2 = cov − λ1·v1·v1ᵀ re-rounded at 8 dp
    # (λ1 and v1 are themselves rounded, so cov2 is bit-identical across
    # engines and the second pass restarts from clean state — the same
    # per-round drift-reset discipline as vec_pca_power). All CTEs
    # MATERIALIZED (DuckDB CTE inlining re-evaluates chains
    # exponentially otherwise).
    def rounds(pass_no: int, mat: str) -> str:
        out = []
        prev = f"p{pass_no}v0"
        for r in range(1, _PCA_ROUNDS + 1):
            out.append(f"""
        p{pass_no}w{r} AS MATERIALIZED (
            SELECT c.i, sum(c.c * v.vj) AS wi
            FROM {mat} c JOIN {prev} v ON c.j = v.j
            GROUP BY c.i
        ),
        p{pass_no}n{r} AS MATERIALIZED (
            SELECT round(sqrt(sum(wi * wi)), 9) AS nrm FROM p{pass_no}w{r}
        ),
        p{pass_no}v{r} AS MATERIALIZED (
            SELECT w.i AS j, round(w.wi / n.nrm, 9) AS vj
            FROM p{pass_no}w{r} w CROSS JOIN p{pass_no}n{r} n
        )""")
            prev = f"p{pass_no}v{r}"
        return ",".join(out)

    R = _PCA_ROUNDS
    return f"""
        WITH flat AS MATERIALIZED (
            SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
        ),
        means AS MATERIALIZED (
            SELECT i, round(avg(x), 8) AS m FROM flat GROUP BY i
        ),
        prods AS MATERIALIZED (
            SELECT a.i AS i, b.i AS j, round(avg(a.x * b.x), 8) AS mxy
            FROM flat a JOIN flat b ON a.vec_id = b.vec_id
            GROUP BY a.i, b.i
        ),
        cov AS MATERIALIZED (
            SELECT p.i, p.j, p.mxy - ma.m * mb.m AS c
            FROM prods p
            JOIN means ma ON ma.i = p.i
            JOIN means mb ON mb.i = p.j
        ),
        p1v0 AS MATERIALIZED (
            SELECT i AS j, 0.125 AS vj FROM (SELECT unnest(range(0, 64)) AS i)
        ),
        {rounds(1, "cov")},
        p1wf AS MATERIALIZED (
            SELECT c.i, sum(c.c * v.vj) AS wi
            FROM cov c JOIN p1v{R} v ON c.j = v.j GROUP BY c.i
        ),
        lam1 AS MATERIALIZED (
            SELECT round(sqrt(sum(wi * wi)), 6) AS ev FROM p1wf
        ),
        sgn1 AS MATERIALIZED (
            SELECT CASE WHEN sum(vj) < 0 THEN -1.0 ELSE 1.0 END AS s
            FROM p1v{R}
        ),
        cov2 AS MATERIALIZED (
            SELECT c.i, c.j,
                   round(c.c - l.ev * a.vj * b.vj, 8) AS c
            FROM cov c
            JOIN p1v{R} a ON a.j = c.i
            JOIN p1v{R} b ON b.j = c.j
            CROSS JOIN lam1 l
        ),
        p2v0 AS MATERIALIZED (
            SELECT i AS j, CASE WHEN i % 2 = 0 THEN 0.125 ELSE -0.125 END AS vj
            FROM (SELECT unnest(range(0, 64)) AS i)
        ),
        {rounds(2, "cov2")},
        p2wf AS MATERIALIZED (
            SELECT c.i, sum(c.c * v.vj) AS wi
            FROM cov2 c JOIN p2v{R} v ON c.j = v.j GROUP BY c.i
        ),
        lam2 AS MATERIALIZED (
            SELECT round(sqrt(sum(wi * wi)), 6) AS ev FROM p2wf
        ),
        sgn2 AS MATERIALIZED (
            SELECT CASE WHEN sum(vj) < 0 THEN -1.0 ELSE 1.0 END AS s
            FROM p2v{R}
        ),
        tr AS MATERIALIZED (
            SELECT round(sum(c), 6) AS trace FROM cov WHERE i = j
        )
        SELECT CAST(1 AS BIGINT) AS component, CAST(v.j AS BIGINT) AS dim,
               round(v.vj * s.s, 6) AS loading, l.ev AS eigenvalue,
               round(l.ev / tr.trace, 6) AS explained_share
        FROM p1v{R} v CROSS JOIN lam1 l CROSS JOIN sgn1 s CROSS JOIN tr
        UNION ALL
        SELECT 2, CAST(v.j AS BIGINT), round(v.vj * s.s, 6), l.ev,
               round(l.ev / tr.trace, 6)
        FROM p2v{R} v CROSS JOIN lam2 l CROSS JOIN sgn2 s CROSS JOIN tr
    """


@query(
    "vec_pca_deflate", oracle=_pca_deflate_oracle(), family="vectors",
    bnlj="1-row eigenvalue/trace and norm broadcasts per power round",
)
def vec_pca_deflate(spark, sf_dir):
    """TOP-2 principal components by POWER ITERATION WITH DEFLATION —
    executing the 'more dimensions = repeat with deflation' path the
    vec_pca_power docstring promises: after PC1 converges, the
    covariance is deflated (cov2 = cov − λ1·v1·v1ᵀ, RE-ROUNDED at
    8 dp so both engines restart pass 2 from bit-identical state —
    the same drift-reset discipline as every round's 9 dp vector
    re-round), and the second pass runs the identical 10
    multiply-normalize rounds on the deflated matrix (its v0
    alternates ±0.125 so the start vector is not orthogonal-by-
    accident to the residual spectrum). Output: both components'
    loadings, eigenvalues, and explained shares against the ORIGINAL
    trace. On this near-isotropic fixture the two vectors span the
    top eigenspace and their near-orthogonality (|v1·v2| small) is
    asserted in tests along with λ2 ≤ λ1. Scale shape: ONE corpus
    scan (the map-side moment pass vec_pca_power uses) feeds both
    passes; deflation and iteration run entirely on the 64×64
    matrix frame — adding components costs p² work per extra
    component, never another corpus scan."""
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "x_raw")
    ).select("vec_id", "i", F.col("x_raw").cast("double").alias("x"))
    means = flat.groupBy("i").agg(F.round(F.avg("x"), 8).alias("m"))
    pairs = e.select(
        F.posexplode("embedding").alias("i", "ax_raw"), "embedding"
    ).select(
        "i",
        F.col("ax_raw").cast("double").alias("ax"),
        F.posexplode("embedding").alias("j", "bx_raw"),
    )
    prods = pairs.groupBy("i", "j").agg(
        F.round(F.avg(F.col("ax") * F.col("bx_raw").cast("double")), 8).alias("mxy")
    )
    cov = (
        prods.join(F.broadcast(means.withColumnRenamed("i", "mi")), F.col("i") == F.col("mi"))
        .withColumnRenamed("m", "ma")
        .drop("mi")
        .join(F.broadcast(means.withColumnRenamed("i", "mj")), F.col("j") == F.col("mj"))
        .withColumnRenamed("m", "mb")
        .drop("mj")
        .select("i", "j", (F.col("mxy") - F.col("ma") * F.col("mb")).alias("c"))
        .localCheckpoint()
    )

    def power_pass(mat, v0):
        v = v0
        for _ in range(_PCA_ROUNDS):
            w = (
                mat.join(F.broadcast(v), "j")
                .groupBy("i")
                .agg(F.sum(F.col("c") * F.col("vj")).alias("wi"))
            )
            nrm = w.agg(
                F.round(F.sqrt(F.sum(F.col("wi") * F.col("wi"))), 9).alias("nrm")
            )
            v = (
                w.join(F.broadcast(nrm))
                .select(
                    F.col("i").alias("j"),
                    F.round(F.col("wi") / F.col("nrm"), 9).alias("vj"),
                )
                # lazy (r19): the next iteration's broadcast(v) build
                # materializes it — one job per power iteration instead
                # of two (the vec_pca_power r18 recipe, applied to the
                # deflation twin)
                .localCheckpoint(eager=False)
            )
        wf = (
            mat.join(F.broadcast(v), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("vj")).alias("wi"))
        )
        lam = wf.agg(
            F.round(F.sqrt(F.sum(F.col("wi") * F.col("wi"))), 6).alias("ev")
        )
        sgn = v.agg(
            F.when(F.sum("vj") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("s")
        )
        return v, lam, sgn

    v0_1 = spark.range(64).select(F.col("id").alias("j"), F.lit(0.125).alias("vj"))
    v1, lam1, sgn1 = power_pass(cov, v0_1)
    cov2 = (
        cov.join(F.broadcast(v1.select(F.col("j").alias("i"), F.col("vj").alias("va"))), "i")
        .join(F.broadcast(v1.select(F.col("j"), F.col("vj").alias("vb"))), "j")
        .join(F.broadcast(lam1))
        .select(
            "i",
            "j",
            F.round(
                F.col("c") - F.col("ev") * F.col("va") * F.col("vb"), 8
            ).alias("c"),
        )
        .localCheckpoint()
    )
    v0_2 = spark.range(64).select(
        F.col("id").alias("j"),
        F.when(F.col("id") % 2 == 0, F.lit(0.125)).otherwise(F.lit(-0.125)).alias("vj"),
    )
    v2, lam2, sgn2 = power_pass(cov2, v0_2)
    tr = cov.where(F.col("i") == F.col("j")).agg(
        F.round(F.sum("c"), 6).alias("trace")
    )

    def emit(comp, v, lam, sgn):
        return (
            v.join(F.broadcast(lam))
            .join(F.broadcast(sgn))
            .join(F.broadcast(tr))
            .select(
                F.lit(comp).cast("bigint").alias("component"),
                F.col("j").cast("bigint").alias("dim"),
                F.round(F.col("vj") * F.col("s"), 6).alias("loading"),
                F.col("ev").alias("eigenvalue"),
                F.round(F.col("ev") / F.col("trace"), 6).alias("explained_share"),
            )
        )

    return emit(1, v1, lam1, sgn1).unionByName(emit(2, v2, lam2, sgn2))
