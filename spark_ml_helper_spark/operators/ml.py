"""MLlib-wrapper operators — the 'Spark ML helper' surface proper: seeded,
reproducible wrappers around MLlib estimators over the embeddings table.

All of these are rows-only for the driver oracle (iterative/randomized
algorithms aren't SQL-expressible) but each has a determinism or quality
assertion in tests: fixed seeds, fixed initialization, and outputs reduced
to stable summaries (cluster sizes, accuracy, explained variance) rather
than raw per-row internals wherever the raw values are init-sensitive.

Scale notes: MLlib's DataFrame estimators are shuffle-parallel by
construction (treeAggregate for gradients/centroid updates); the only
per-row cost added here is array_to_vector, a zero-copy-ish Arrow-side
conversion.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.functions.canon import round_half_up
from spark_ml_helper_spark.functions.literals import inline_rows, sql_literal
from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table


def _features(spark, sf_dir):
    from pyspark.ml.functions import array_to_vector

    return table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", array_to_vector(F.col("embedding")).alias("features")
    )


@query("ml_kmeans", oracle=None, family="ml")
def ml_kmeans(spark, sf_dir):
    """KMeans (k=10, seed=42, k-means|| init) over the embeddings; returns
    per-cluster size and within-cluster cosine-ish dispersion (centroid
    norm). Cluster IDs are init-order-dependent, so the output is the
    cluster-size distribution sorted by size — stable across runs with a
    fixed seed (asserted in tests) without pinning arbitrary label order."""
    from pyspark.ml.clustering import KMeans

    feats = _features(spark, sf_dir)
    model = KMeans(k=10, seed=42, featuresCol="features", predictionCol="cluster").fit(feats)
    pred = model.transform(feats)
    return (
        pred.groupBy("cluster")
        .agg(F.count("*").alias("n_members"))
        .select("n_members")
        .withColumn(
            "size_rank",
            F.row_number().over(Window.orderBy(F.col("n_members").desc())),
        )
    )


@query("ml_logreg", oracle=None, family="ml")
def ml_logreg(spark, sf_dir):
    """Multinomial logistic regression on the 80/20 deterministic md5 hash
    split (same split rule as train_test_split): train on 80%, score 20%,
    return per-label test accuracy. Seeded and deterministic (L-BFGS from a
    zero init); exact accuracy values are asserted stable in tests."""
    from pyspark.ml.classification import LogisticRegression

    feats = _features(spark, sf_dir).withColumn(
        "bucket", F.pmod(F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10).cast("bigint"), F.lit(100))
    )
    train = feats.filter(F.col("bucket") < 80)
    test = feats.filter(F.col("bucket") >= 80)
    lr = LogisticRegression(featuresCol="features", labelCol="label", maxIter=50, regParam=0.01)
    model = lr.fit(train)
    scored = model.transform(test)
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").alias("n_test"),
            F.round(F.avg((F.col("prediction") == F.col("label")).cast("double")), 6).alias("accuracy"),
        )
    )


@query(
    "ml_pca",
    oracle="""
        WITH v AS (
            SELECT i, round(var_samp(CAST(embedding[i] AS DOUBLE)), 8) AS vv
            FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
            GROUP BY i
        ),
        s AS (
            SELECT round(sum(vv), 6) AS trace,
                   round(max(vv), 6) AS max_diag
            FROM v
        )
        SELECT CAST(c AS BIGINT) AS component, s.trace, s.max_diag,
               TRUE AS ratio_consistent, TRUE AS desc_ok, TRUE AS spectrum_ok
        FROM (SELECT unnest(range(0, 8)) AS c) CROSS JOIN s
    """,
    family="ml",
    bnlj="1-row variance stats broadcast onto the k=8 component rows",
    global_window="lead/sum windows over the k=8 component frame (driver-local leaf)",
)
def ml_pca(spark, sf_dir):
    """PCA to 8 components over the embeddings — SQL-oracled (round 5,
    was rows-only) via SPECTRAL INVARIANTS rather than raw eigen-output:
    MLlib's solver emits explained-variance ratios and projected scores
    whose floats DuckDB cannot reproduce, but every mathematical claim
    about them CAN be checked against SQL-exact quantities, so the
    output carries (a) the covariance trace and largest diagonal
    element (Σ/max of per-dim sample variances, rounded on the shared
    8dp→6dp grid — hash-matched values), and (b) per-component booleans
    the oracle asserts as literal TRUE: `ratio_consistent` (explained
    ratio equals projected-score variance over the trace — the
    Rayleigh-quotient identity vᵀCv = λ, tolerance 1e-4),
    `desc_ok` (ratios non-increasing), and `spectrum_ok` (ratios
    positive, summing ≤ 1, and λ₁ ≥ max C_ii — a top-eigenvalue lower
    bound any correct solver must clear). A wrong component order,
    scaling, or projection flips a boolean → hash mismatch → driver
    FAIL, which is exactly the contract a rows-only record could not
    enforce. Loadings/scores stay out of the output (sign flips per
    eigen-solver run). The exact top eigenvector itself is oracle-
    verified in vec_pca_power via power iteration from engine
    primitives; this operator pins the MLlib WRAPPER against the same
    data moments. Booleans compare unrounded doubles with slack, so no
    boundary risk; the hash-matched trace/max_diag round per-dim at
    8 dp before the fold (both engines sum identical addends)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import vector_to_array

    feats = _features(spark, sf_dir)
    model = PCA(k=8, inputCol="features", outputCol="pc").fit(feats)
    scored = model.transform(feats).select(vector_to_array(F.col("pc")).alias("pc"))
    ev = [float(x) for x in model.explainedVariance]
    per_comp = scored.select(
        F.posexplode(F.col("pc")).alias("component", "score")
    ).groupBy("component").agg(F.var_samp("score").alias("score_var"))
    ev_df = spark.sql(
        f"SELECT {inline_rows(list(enumerate(ev)), 'component int, explained_var double')}"
    )
    dims = (
        table(spark, sf_dir, "embeddings")
        .select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg(F.round(F.var_samp(F.col("x").cast("double")), 8).alias("vv"))
    )
    stats = dims.agg(
        F.round(F.sum("vv"), 6).alias("trace"),
        F.round(F.max("vv"), 6).alias("max_diag"),
        F.sum("vv").alias("trace_raw"),
        F.max("vv").alias("max_diag_raw"),
    )
    w = Window.orderBy("component")
    wall = Window.partitionBy()
    joined = per_comp.join(ev_df, "component").join(F.broadcast(stats))
    next_ev = F.lead("explained_var").over(w)
    sum_ev = F.sum("explained_var").over(wall)
    return joined.select(
        F.col("component").cast("bigint").alias("component"),
        "trace",
        "max_diag",
        (
            F.abs(F.col("explained_var") - F.col("score_var") / F.col("trace_raw"))
            < 1e-4
        ).alias("ratio_consistent"),
        (next_ev.isNull() | (F.col("explained_var") >= next_ev - 1e-9)).alias("desc_ok"),
        (
            (F.col("explained_var") > 0)
            & (sum_ev <= 1.0 + 1e-6)
            & (
                (F.col("component") != 0)
                | (F.col("explained_var") * F.col("trace_raw") >= F.col("max_diag_raw") - 1e-6)
            )
        ).alias("spectrum_ok"),
    )


@query(
    "ml_scaler_pipeline",
    oracle="""
        WITH stats AS (
            SELECT avg(CAST(embedding[1] AS DOUBLE)) AS mu,
                   stddev_samp(CAST(embedding[1] AS DOUBLE)) AS sd
            FROM embeddings
        ),
        scaled AS (
            SELECT (CAST(e.embedding[1] AS DOUBLE) - s.mu) / s.sd AS s0
            FROM embeddings e CROSS JOIN stats s
        )
        SELECT CAST(CASE WHEN s0 < -1 THEN 0 WHEN s0 < 0 THEN 1
                         WHEN s0 < 1 THEN 2 ELSE 3 END AS INTEGER) AS bucket,
               count(*) AS n_members
        FROM scaled GROUP BY 1
    """,
    family="ml",
)
def ml_scaler_pipeline(spark, sf_dir):
    """A 3-stage ML Pipeline (SQLTransformer → VectorAssembler →
    StandardScaler) fit as one unit — the Pipeline/PipelineModel wrapper
    pattern itself is the operator under test: Transformer stages feeding
    an Estimator whose fitted state (mean/std) the PipelineModel replays
    at transform time. Output: the bucket histogram of the first
    standardized embedding dimension at splits (−inf, −1, 0, 1, inf),
    applied with Bucketizer's [lo, hi) semantics.
    SQL-oracled (round 4, replacing a seed-stable KMeans second stage —
    KMeans coverage lives in ml_kmeans): StandardScaler withMean/withStd
    is closed-form ((x − mean)/sample-std, matching DuckDB
    avg/stddev_samp), so every stage is hash-checkable. Fp drift from
    engine summation order is ~1e-14 on scaled values; a flip requires a
    value that close to a split boundary — the continuous embedding
    makes that measure-zero."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import SQLTransformer, StandardScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    raw = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pipe = Pipeline(
        stages=[
            SQLTransformer(statement="SELECT *, CAST(embedding[0] AS DOUBLE) AS x0 FROM __THIS__"),
            VectorAssembler(inputCols=["x0"], outputCol="v0"),
            StandardScaler(inputCol="v0", outputCol="scaled", withMean=True, withStd=True),
        ]
    )
    pred = pipe.fit(raw).transform(raw)
    s0 = F.element_at(vector_to_array("scaled"), 1)
    bucket = (
        F.when(s0 < -1.0, 0).when(s0 < 0.0, 1).when(s0 < 1.0, 2).otherwise(3)
    )
    return pred.groupBy(bucket.cast("int").alias("bucket")).agg(
        F.count("*").alias("n_members")
    )


@query(
    "ml_als", oracle=None, family="ml",
    cartesian="MLlib's recommendForUserSubset crosses user and item factor blocks",
)
def ml_als(spark, sf_dir):
    """ALS collaborative filtering (MLlib's distributed implicit-feedback
    matrix factorization) on interactions synthesized from events:
    user_id × (event_id % 50) with `value` as implicit confidence.
    Returns per-user top-3 recommendations for the first 20 users
    (seed-pinned; rows-only — factorization is iterative and
    rank-truncated, no SQL twin exists). The block-partitioned normal
    equations ALS solves shuffle on user/item blocks — the textbook
    100 TB recommender path."""
    from pyspark.ml.recommendation import ALS

    e = table(spark, sf_dir, "events")
    ratings = (
        e.select(
            F.col("user_id").cast("int").alias("user"),
            (F.col("event_id") % 50).cast("int").alias("item"),
            F.col("value").cast("float").alias("rating"),
        )
        .groupBy("user", "item")
        .agg(F.sum("rating").alias("rating"))
    )
    als = ALS(
        rank=8,
        maxIter=5,
        seed=42,
        implicitPrefs=True,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    users = ratings.select("user").distinct().filter(F.col("user") < 20)
    recs = model.recommendForUserSubset(users, 3)
    return recs.select(
        "user",
        F.explode("recommendations").alias("rec"),
    ).select("user", F.col("rec.item").alias("item"), F.round(F.col("rec.rating"), 4).alias("score"))


@query(
    "ml_fpgrowth_pairs",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS t
            FROM documents
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        singles AS (
            SELECT t, count(*) AS freq FROM tok GROUP BY t
            HAVING count(*) >= 0.4 * (SELECT n_docs FROM n)
        ),
        pairs AS (
            SELECT a.t AS t1, b.t AS t2, count(*) AS freq
            FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
            GROUP BY a.t, b.t
            HAVING count(*) >= 0.4 * (SELECT n_docs FROM n)
        )
        SELECT t AS itemset, freq FROM singles
        UNION ALL
        SELECT t1 || ',' || t2, freq FROM pairs
    """,
    family="ml",
)
def ml_fpgrowth_pairs(spark, sf_dir):
    """Frequent itemset mining via MLlib FPGrowth (minSupport 0.4) over
    document token sets, restricted to itemsets of size ≤ 2 so the result
    is SQL-oracle-able: singletons are document frequencies, pairs are
    co-occurrence counts — the oracle recomputes both relationally and
    must hash-match the FP-tree's output exactly (frequent-itemset counts
    are deterministic; only the mining strategy differs). The size cap is
    on the RESULT for verifiability — FPGrowth itself mines all sizes;
    market-basket rules at 100 TB shuffle on conditional-pattern prefixes."""
    from pyspark.ml.fpm import FPGrowth

    d = table(spark, sf_dir, "documents")
    from spark_ml_helper_spark.operators.text import _tokens

    baskets = d.select("doc_id", F.array_sort(F.array_distinct(_tokens())).alias("items"))
    fp = FPGrowth(itemsCol="items", minSupport=0.4, minConfidence=0.5)
    model = fp.fit(baskets)
    return (
        model.freqItemsets.filter(F.size("items") <= 2)
        .select(
            F.array_join(F.array_sort("items"), ",").alias("itemset"),
            F.col("freq").cast("bigint").alias("freq"),
        )
    )


@query("ml_cross_validate", oracle=None, family="ml")
def ml_cross_validate(spark, sf_dir):
    """Hyperparameter search via CrossValidator — the core "ML helper"
    wrapper: 2-fold CV over a small logreg regularization grid on the
    deterministic hash split's train side, seed-pinned so fold assignment
    and the winning model are stable. Output: one row per grid point with
    its mean CV accuracy plus the winner flag. Rows-only (CV metrics come
    from iterative fits). Scale: each fold-fit is a full distributed
    L-BFGS run; the grid×folds fits are independent — CrossValidator
    parallelizes them with `parallelism`, the knob that matters on a
    cluster."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    feats = _features(spark, sf_dir).withColumn("label", F.col("label").cast("double"))
    lr = LogisticRegression(featuresCol="features", labelCol="label", maxIter=20)
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.0, 0.1]).build()
    ev = MulticlassClassificationEvaluator(labelCol="label", metricName="accuracy")
    cv = CrossValidator(
        estimator=lr, estimatorParamMaps=grid, evaluator=ev, numFolds=2, seed=42, parallelism=2
    )
    model = cv.fit(feats)
    best = max(range(len(model.avgMetrics)), key=lambda i: model.avgMetrics[i])
    rows = [
        (
            float(grid[i][lr.regParam]),
            round_half_up(float(model.avgMetrics[i]), 4),
            i == best,
        )
        for i in range(len(grid))
    ]
    return spark.sql(
        f"SELECT {inline_rows(rows, 'reg_param double, cv_accuracy double, is_best boolean')}"
    )


@query(
    "ml_eval_auc",
    oracle="""
        WITH scored AS (
            SELECT CAST(embedding[1] AS DOUBLE) AS score,
                   (label >= 5) AS pos
            FROM embeddings
        ),
        ranked AS (
            SELECT pos,
                   rank() OVER (ORDER BY score)
                     + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS avg_rank
            FROM scored
        )
        SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
               round((sum(CASE WHEN pos THEN avg_rank ELSE 0 END)
                      - sum(CASE WHEN pos THEN 1 ELSE 0 END)
                        * (sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1) / 2.0)
                     / (sum(CASE WHEN pos THEN 1 ELSE 0 END)
                        * sum(CASE WHEN pos THEN 0 ELSE 1 END)), 6) AS auc
        FROM ranked
    """,
    family="ml",
    global_window="exact ROC rank-sum over distinct scores; scale path = binned AUC",
)
def ml_eval_auc(spark, sf_dir):
    """Exact distributed ROC-AUC via the Mann-Whitney rank statistic:
    AUC = (Σ ranks of positives − n⁺(n⁺+1)/2) / (n⁺ n⁻), with average
    ranks for tied scores so the result is the true trapezoidal AUC.
    Scorer: first embedding dimension against the binary label (label≥5)
    — any monotone model score slots in unchanged. One global rank sort +
    one aggregate; the identical rank arithmetic runs on both engines
    (SQL-oracled, unlike MLlib's evaluator which approximates via
    thresholds at default binning). At 100 TB the sort is the cost — the
    evaluator-style binned approximation is the documented fallback."""
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.col("embedding")[0].cast("double").alias("score"),
        (F.col("label") >= 5).alias("pos"),
    )
    avg_rank = (
        F.rank().over(Window.orderBy("score"))
        + (F.count("*").over(Window.partitionBy("score")) - 1) / 2.0
    )
    ranked = scored.select("pos", avg_rank.alias("avg_rank"))
    n_pos = F.sum(F.when(F.col("pos"), 1).otherwise(0))
    n_neg = F.sum(F.when(F.col("pos"), 0).otherwise(1))
    rank_sum = F.sum(F.when(F.col("pos"), F.col("avg_rank")).otherwise(0.0))
    return ranked.agg(
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        F.round(
            (rank_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6
        ).alias("auc"),
    )


@query("ml_random_forest", oracle=None, family="ml")
def ml_random_forest(spark, sf_dir):
    """Random forest (20 trees, depth 5, seed 42) on the embeddings over
    the deterministic md5 hash split; returns per-label test accuracy
    plus each label's top contributing feature index from the forest's
    importance vector (seed-pinned → reproducible, asserted in tests).
    MLlib's RF trains all trees over distributed node-id batches — the
    shuffle unit is (tree, node) statistics, not rows — so the same fit
    call is the 100 TB path."""
    from pyspark.ml.classification import RandomForestClassifier

    feats = _features(spark, sf_dir).withColumn(
        "bucket",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10).cast("bigint"),
            F.lit(100),
        ),
    )
    train = feats.filter(F.col("bucket") < 80)
    test = feats.filter(F.col("bucket") >= 80)
    rf = RandomForestClassifier(
        featuresCol="features", labelCol="label", numTrees=20, maxDepth=5, seed=42
    )
    model = rf.fit(train)
    top_feature = int(max(enumerate(model.featureImportances.toArray()), key=lambda t: t[1])[0])
    return (
        model.transform(test)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_test"),
            F.round(F.avg((F.col("prediction") == F.col("label")).cast("double")), 6).alias("accuracy"),
        )
        .withColumn("forest_top_feature", F.lit(top_feature))
    )


@query(
    "ml_naive_bayes",
    oracle="""
        WITH base AS (
            SELECT doc_id, lang,
                   (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100) AS bucket,
                   string_split(lower(text), ' ') AS toks
            FROM documents
        ),
        tok AS (
            SELECT doc_id, lang, bucket, unnest(toks) AS t FROM base
        ),
        vocab AS (SELECT DISTINCT t FROM tok),
        classes AS (SELECT DISTINCT lang AS c FROM base),
        prior AS (
            SELECT lang AS c,
                   ln(count(*) + 1.0)
                   - ln((SELECT count(*) FROM base WHERE bucket < 80)
                        + (SELECT count(*) FROM classes) * 1.0) AS pi
            FROM base WHERE bucket < 80 GROUP BY lang
        ),
        cls_tok AS (
            SELECT lang AS c, t, count(*) AS cnt
            FROM tok WHERE bucket < 80 GROUP BY lang, t
        ),
        cls_tot AS (SELECT c, sum(cnt) AS tot FROM cls_tok GROUP BY c),
        theta AS (
            SELECT cl.c, v.t,
                   ln(coalesce(ct.cnt, 0) + 1.0)
                   - ln(tt.tot + (SELECT count(*) FROM vocab) * 1.0) AS lth
            FROM classes cl
            CROSS JOIN vocab v
            LEFT JOIN cls_tok ct ON ct.c = cl.c AND ct.t = v.t
            JOIN cls_tot tt ON tt.c = cl.c
        ),
        doc_tf AS (
            SELECT doc_id, lang, t, count(*) AS tf
            FROM tok WHERE bucket >= 80 GROUP BY doc_id, lang, t
        ),
        scores AS (
            SELECT d.doc_id, d.lang, th.c,
                   any_value(p.pi) + sum(d.tf * th.lth) AS score
            FROM doc_tf d
            JOIN theta th ON th.t = d.t
            JOIN prior p ON p.c = th.c
            GROUP BY d.doc_id, d.lang, th.c
        ),
        pred AS (
            SELECT doc_id, lang, c AS pred_lang,
                   row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, c ASC) AS rn
            FROM scores
        )
        SELECT lang, count(*) AS n_test,
               round(avg(CASE WHEN pred_lang = lang THEN 1.0 ELSE 0.0 END), 6) AS accuracy
        FROM pred WHERE rn = 1
        GROUP BY lang
    """,
    family="ml",
)
def ml_naive_bayes(spark, sf_dir):
    """Language identification as multinomial Naive Bayes over token
    counts: CountVectorizer (full 31-token vocabulary; Spark orders it by
    frequency but does NOT guarantee the order among equal-count terms —
    predictions are invariant to vocabulary permutation, so this does not
    affect the output) → NB with Laplace smoothing, trained on
    the md5 hash split. Output: per-language test support and accuracy.
    The lang → index map is pinned alphabetically (not StringIndexer's
    frequency order) so the label space is stable across scale factors;
    it is built as a broadcast join against the distinct-lang frame, not
    a driver-side collect.
    NB fit is one treeAggregate of per-class token sums — a single
    map-side-combinable pass, the cheapest possible distributed trainer.
    SQL-oracled (round 4): multinomial NB is pure counting, so the oracle
    replays MLlib's exact math — pi_c = ln(n_c+1) − ln(N + k),
    theta_ct = ln(cnt_ct+1) − ln(tot_c + V), prediction = argmax of
    pi + Σ tf·theta with MLlib's first-max (lowest-label, i.e.
    alphabetically-first lang) tie-break — and compares per-lang test
    accuracy. Class-score gaps are O(0.1-1) vs ~1e-13 cross-engine fp
    drift, so the argmax is stable."""
    from pyspark.ml.classification import NaiveBayes
    from pyspark.ml.feature import CountVectorizer

    from spark_ml_helper_spark.operators.text import _tokens

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        _tokens().alias("toks"),
        F.pmod(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("bigint"),
            F.lit(100),
        ).alias("bucket"),
    )
    # label map stays declarative: distinct langs (cardinality-bounded) get
    # alphabetical indices via a window over the 5-row distinct frame and
    # broadcast back — no driver-side collect in the plan
    lang_map = (
        d.select("lang")
        .distinct()
        .withColumn(
            "label", (F.row_number().over(Window.orderBy("lang")) - 1).cast("double")
        )
    )
    d = d.join(F.broadcast(lang_map), "lang")
    cv = CountVectorizer(inputCol="toks", outputCol="features", vocabSize=64)
    model_cv = cv.fit(d)
    vec = model_cv.transform(d)
    nb = NaiveBayes(featuresCol="features", labelCol="label", smoothing=1.0)
    model = nb.fit(vec.filter(F.col("bucket") < 80))
    scored = model.transform(vec.filter(F.col("bucket") >= 80))
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_test"),
            F.round(F.avg((F.col("prediction") == F.col("label")).cast("double")), 6).alias("accuracy"),
        )
    )


@query("ml_word2vec", oracle=None, family="ml")
def ml_word2vec(spark, sf_dir):
    """Word2Vec skip-gram embeddings (16 dims, seed 42, numPartitions=1
    for bitwise determinism — with >1 partition, per-partition gradient
    merge order is scheduling-dependent) over document token sequences;
    returns the top-3 nearest tokens for three probe words by embedding
    cosine. Rows-only: the embedding values are SGD artifacts with no SQL
    twin; determinism is asserted in tests. At corpus scale raise
    numPartitions (each trains on its slice per iteration and merges) and
    accept run-to-run jitter, or pin a published embedding table instead."""
    from pyspark.ml.feature import Word2Vec

    from spark_ml_helper_spark.operators.text import _tokens

    d = table(spark, sf_dir, "documents").select(_tokens().alias("toks"))
    w2v = Word2Vec(
        vectorSize=16,
        minCount=2,
        seed=42,
        numPartitions=1,
        maxIter=1,
        inputCol="toks",
        outputCol="vec",
    )
    model = w2v.fit(d)
    frames = []
    for probe in ["spark", "join", "query"]:
        syn = model.findSynonyms(probe, 3).select(
            F.lit(probe).alias("probe"),
            F.col("word").alias("neighbor"),
            F.round(F.col("similarity"), 4).alias("cos_sim"),
        )
        frames.append(syn)
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out


@query(
    "ml_linreg_normal",
    oracle="""
        WITH m AS (
            SELECT count(*) AS n,
                   round(avg(l_quantity), 6)                AS m1,
                   round(avg(l_discount), 9)                AS m2,
                   round(avg(l_extendedprice), 3)           AS my,
                   round(avg(l_quantity * l_quantity), 5)   AS m11,
                   round(avg(l_discount * l_discount), 10)  AS m22,
                   round(avg(l_quantity * l_discount), 7)   AS m12,
                   round(avg(l_quantity * l_extendedprice), 2) AS m1y,
                   round(avg(l_discount * l_extendedprice), 4) AS m2y,
                   round(avg(l_extendedprice * l_extendedprice), 2) AS myy
            FROM lineitem
        ),
        c AS (
            SELECT n,
                   m1, m2, my,
                   m11 - m1 * m1 AS v11,
                   m22 - m2 * m2 AS v22,
                   m12 - m1 * m2 AS v12,
                   m1y - m1 * my AS c1y,
                   m2y - m2 * my AS c2y,
                   myy - my * my AS vyy
            FROM m
        )
        SELECT n,
               round(my - ((c1y * v22 - c2y * v12) / (v11 * v22 - v12 * v12)) * m1
                        - ((v11 * c2y - v12 * c1y) / (v11 * v22 - v12 * v12)) * m2,
                     6) AS b0,
               round((c1y * v22 - c2y * v12) / (v11 * v22 - v12 * v12), 6) AS b_quantity,
               round((v11 * c2y - v12 * c1y) / (v11 * v22 - v12 * v12), 6) AS b_discount,
               round((((c1y * v22 - c2y * v12) / (v11 * v22 - v12 * v12)) * c1y
                      + ((v11 * c2y - v12 * c1y) / (v11 * v22 - v12 * v12)) * c2y)
                     / vyy, 6) AS r2
        FROM c
    """,
    family="ml",
)
def ml_linreg_normal(spark, sf_dir):
    """Ordinary least squares fit in CLOSED FORM via the normal
    equations — l_extendedprice regressed on l_quantity and l_discount
    — the one regression that needs no MLlib iteration and therefore
    gets a full SQL oracle. The whole fit is ONE aggregation pass
    collecting nine average moments (the mergeable sufficient
    statistics: this is exactly how a 1000-executor OLS runs — partial
    moment vectors per partition, one treeReduce-style merge, O(1)
    driver math), then Cramer's rule on the centered 2×2 covariance
    system plus the variance-ratio R². Cross-engine determinism: each
    moment is rounded BEFORE the solve on both engines at a grid ~1e-8
    RELATIVE to its magnitude (per-moment decimals — avg(y²) at 2 dp,
    avg(discount²) at 10 dp), so double-summation order drift (the
    only engine-dependent step, ~1e-12 relative) is absorbed at a grid
    ~10⁴× coarser, while the cancellation-sensitive small moments keep
    enough digits that the centered covariances stay accurate; every
    downstream quotient is then bit-identical IEEE arithmetic.
    At 100 TB nothing changes but the scan time; for p features the
    moment vector is p(p+3)/2 + 1 entries and the solve stays on the
    driver until p ~ 10^4."""
    li = table(spark, sf_dir, "lineitem")
    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count("*").alias("n"),
        F.round(F.avg(x1), 6).alias("m1"),
        F.round(F.avg(x2), 9).alias("m2"),
        F.round(F.avg(y), 3).alias("my"),
        F.round(F.avg(x1 * x1), 5).alias("m11"),
        F.round(F.avg(x2 * x2), 10).alias("m22"),
        F.round(F.avg(x1 * x2), 7).alias("m12"),
        F.round(F.avg(x1 * y), 2).alias("m1y"),
        F.round(F.avg(x2 * y), 4).alias("m2y"),
        F.round(F.avg(y * y), 2).alias("myy"),
    )
    c = m.select(
        "n",
        "m1",
        "m2",
        "my",
        (F.col("m11") - F.col("m1") * F.col("m1")).alias("v11"),
        (F.col("m22") - F.col("m2") * F.col("m2")).alias("v22"),
        (F.col("m12") - F.col("m1") * F.col("m2")).alias("v12"),
        (F.col("m1y") - F.col("m1") * F.col("my")).alias("c1y"),
        (F.col("m2y") - F.col("m2") * F.col("my")).alias("c2y"),
        (F.col("myy") - F.col("my") * F.col("my")).alias("vyy"),
    )
    det = F.col("v11") * F.col("v22") - F.col("v12") * F.col("v12")
    b1 = (F.col("c1y") * F.col("v22") - F.col("c2y") * F.col("v12")) / det
    b2 = (F.col("v11") * F.col("c2y") - F.col("v12") * F.col("c1y")) / det
    return c.select(
        "n",
        F.round(F.col("my") - b1 * F.col("m1") - b2 * F.col("m2"), 6).alias("b0"),
        F.round(b1, 6).alias("b_quantity"),
        F.round(b2, 6).alias("b_discount"),
        F.round((b1 * F.col("c1y") + b2 * F.col("c2y")) / F.col("vyy"), 6).alias("r2"),
    )


@query(
    "ml_eval_regression",
    oracle="""
        WITH m AS (
            SELECT count(*) AS n,
                   round(avg(l_quantity), 6)                AS m1,
                   round(avg(l_discount), 9)                AS m2,
                   round(avg(l_extendedprice), 3)           AS my,
                   round(avg(l_quantity * l_quantity), 5)   AS m11,
                   round(avg(l_discount * l_discount), 10)  AS m22,
                   round(avg(l_quantity * l_discount), 7)   AS m12,
                   round(avg(l_quantity * l_extendedprice), 2) AS m1y,
                   round(avg(l_discount * l_extendedprice), 4) AS m2y
            FROM lineitem
        ),
        c AS (
            SELECT n, m1, m2, my,
                   m11 - m1 * m1 AS v11,
                   m22 - m2 * m2 AS v22,
                   m12 - m1 * m2 AS v12,
                   m1y - m1 * my AS c1y,
                   m2y - m2 * my AS c2y
            FROM m
        ),
        b AS (
            SELECT n, my, m1, m2,
                   (c1y * v22 - c2y * v12) / (v11 * v22 - v12 * v12) AS b1,
                   (v11 * c2y - v12 * c1y) / (v11 * v22 - v12 * v12) AS b2
            FROM c
        ),
        resid AS (
            SELECT b.n, li.l_extendedprice AS y,
                   (b.my + b.b1 * (li.l_quantity - b.m1)
                         + b.b2 * (li.l_discount - b.m2)) AS yhat,
                   b.my
            FROM lineitem li CROSS JOIN b
        )
        SELECT CAST(max(n) AS BIGINT) AS n,
               round(sqrt(sum((y - yhat) * (y - yhat)) / max(n)), 2) AS rmse,
               round(sum(abs(y - yhat)) / max(n), 2) AS mae,
               round(1.0 - sum((y - yhat) * (y - yhat))
                         / sum((y - my) * (y - my)), 6) AS r2
        FROM resid
    """,
    family="ml",
    bnlj="1-row fitted coefficients broadcast onto the rows",
)
def ml_eval_regression(spark, sf_dir):
    """Regression scoreboard (RMSE / MAE / R²) for the closed-form OLS
    of ml_linreg_normal, evaluated by actually SCORING every row — the
    eval-side twin completing the metric family (ml_eval_auc =
    classification, ml_eval_retrieval = ranking, ml_confusion =
    labels). The coefficients come from the same ROUNDED moment
    statistics as the fit (both engines solve identical doubles), each
    row's prediction uses the centered form ŷ = ȳ + b1(x1−x̄1) +
    b2(x2−x̄2) — bit-identical per row — and only the final residual
    folds cross engines with summation-order drift (~1e-9 relative on
    price-scale metrics; rmse/mae round at 2 dp on the money grid, R²
    is a same-order ratio where drift cancels to ~1e-14). Plan: one
    moment aggregate, a 1-row broadcast back onto the corpus scan, one
    final aggregate — two passes, mergeable state, the distributed-OLS
    evaluation shape at any scale."""
    li = table(spark, sf_dir, "lineitem")
    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count("*").alias("n"),
        F.round(F.avg(x1), 6).alias("m1"),
        F.round(F.avg(x2), 9).alias("m2"),
        F.round(F.avg(y), 3).alias("my"),
        F.round(F.avg(x1 * x1), 5).alias("m11"),
        F.round(F.avg(x2 * x2), 10).alias("m22"),
        F.round(F.avg(x1 * x2), 7).alias("m12"),
        F.round(F.avg(x1 * y), 2).alias("m1y"),
        F.round(F.avg(x2 * y), 4).alias("m2y"),
    )
    v11 = F.col("m11") - F.col("m1") * F.col("m1")
    v22 = F.col("m22") - F.col("m2") * F.col("m2")
    v12 = F.col("m12") - F.col("m1") * F.col("m2")
    c1y = F.col("m1y") - F.col("m1") * F.col("my")
    c2y = F.col("m2y") - F.col("m2") * F.col("my")
    det = v11 * v22 - v12 * v12
    b = m.select(
        "n",
        "my",
        "m1",
        "m2",
        ((c1y * v22 - c2y * v12) / det).alias("b1"),
        ((v11 * c2y - v12 * c1y) / det).alias("b2"),
    )
    yhat = (
        F.col("my")
        + F.col("b1") * (x1 - F.col("m1"))
        + F.col("b2") * (x2 - F.col("m2"))
    )
    resid = li.join(F.broadcast(b)).select(
        F.col("n"),
        y.alias("y"),
        yhat.alias("yhat"),
        F.col("my"),
    )
    e = F.col("y") - F.col("yhat")
    return resid.agg(
        F.max("n").cast("bigint").alias("n"),
        F.round(F.sqrt(F.sum(e * e) / F.max("n")), 2).alias("rmse"),
        F.round(F.sum(F.abs(e)) / F.max("n"), 2).alias("mae"),
        F.round(
            1.0 - F.sum(e * e) / F.sum((F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))),
            6,
        ).alias("r2"),
    )


@query("ml_gbt", oracle=None, family="ml")
def ml_gbt(spark, sf_dir):
    """Gradient-boosted trees regression (20 iterations, depth 3, seed
    42): predict an embedding's label-as-ordinal from its features —
    rows-only like the other iterative MLlib fits (boosting is
    sequential by nature; each tree's fit is the distributed part).
    Returns residual summary stats per true label plus the ensemble's
    top feature, all seed-pinned (reproducibility asserted by a
    twin-run test). MLlib's GBT distributes each tree's split search
    over (node, feature-bin) statistics — rows never leave the
    executors — so this exact fit call is the cluster path; boosting
    rounds are the serial axis, trees-per-round the knob that doesn't
    exist (use RF when you need tree-level parallelism)."""
    from pyspark.ml.regression import GBTRegressor

    feats = _features(spark, sf_dir).withColumn(
        "bucket",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10).cast("bigint"),
            F.lit(100),
        ),
    )
    train = feats.filter(F.col("bucket") < 80)
    test = feats.filter(F.col("bucket") >= 80)
    gbt = GBTRegressor(
        featuresCol="features",
        labelCol="label",
        maxIter=20,
        maxDepth=3,
        seed=42,
        stepSize=0.1,
    )
    model = gbt.fit(train)
    top_feature = int(
        max(enumerate(model.featureImportances.toArray()), key=lambda t: t[1])[0]
    )
    resid = F.col("prediction") - F.col("label")
    return (
        model.transform(test)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_test"),
            F.round(F.avg(resid), 4).alias("mean_resid"),
            F.round(F.avg(F.abs(resid)), 4).alias("mae"),
        )
        .withColumn("gbt_top_feature", F.lit(top_feature))
    )


@query(
    "ml_eval_calibration",
    oracle="""
        WITH scored AS (
            SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
                   CAST(label >= 5 AS INT) AS pos
            FROM embeddings
        ),
        binned AS (
            SELECT pos, score,
                   CAST(ntile(10) OVER (ORDER BY score, vec_id) AS BIGINT)
                       AS bin
            FROM scored
        )
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(score), 6) AS mean_score,
               round(sum(pos) * 1.0 / count(*), 6) AS pos_rate
        FROM binned
        GROUP BY bin
    """,
    family="ml",
    global_window="exact quantile bins over distinct scores; scale path = approx bins",
)
def ml_eval_calibration(spark, sf_dir):
    """Calibration / reliability table for the same scorer ml_eval_auc
    ranks (first embedding dim vs label ≥ 5): score deciles vs
    observed positive rate — AUC says the model ORDERS well, this says
    whether the scores MEAN what they claim (the gap per bin is the
    reliability-diagram residual; Σ n/N·|gap| is ECE). Deciles come
    from a fully-tiebroken ntile over (score, vec_id) — deterministic
    bin membership cross-engine (and the documented global-sort trade;
    at scale, bin by approx-percentile cutpoints instead, exactly as
    feature_quantile_bucket's docstring prescribes). Per-bin stats are
    exact counts and a 6-dp mean of identical doubles."""
    e = table(spark, sf_dir, "embeddings")
    scored = e.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") >= 5).cast("int").alias("pos"),
    )
    w = Window.orderBy("score", "vec_id")
    binned = scored.select(
        "pos", "score", F.ntile(10).over(w).cast("bigint").alias("bin")
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.round(F.sum("pos") * 1.0 / F.count("*"), 6).alias("pos_rate"),
    )


def _lc_cond_moments_sql() -> str:
    """One-pass conditional moment columns per training fraction (and the
    full data), rounded at ml_linreg_normal's grids."""
    md5b = ("(('0x' || substring(md5(CAST(l_orderkey * 10000 + l_linenumber "
            "AS VARCHAR)), 1, 8))::BIGINT % 100)")
    cols = []
    for f in _LC_FRACS:
        flt = f"FILTER (WHERE {md5b} < {f})" if f < 100 else ""
        t = f"_{f}"
        cols += [
            f"count(*) {flt} AS n{t}",
            f"round(avg(l_quantity) {flt}, 6) AS m1{t}",
            f"round(avg(l_discount) {flt}, 9) AS m2{t}",
            f"round(avg(l_extendedprice) {flt}, 3) AS my{t}",
            f"round(avg(l_quantity * l_quantity) {flt}, 5) AS m11{t}",
            f"round(avg(l_discount * l_discount) {flt}, 10) AS m22{t}",
            f"round(avg(l_quantity * l_discount) {flt}, 7) AS m12{t}",
            f"round(avg(l_quantity * l_extendedprice) {flt}, 2) AS m1y{t}",
            f"round(avg(l_discount * l_extendedprice) {flt}, 4) AS m2y{t}",
            f"round(avg(l_extendedprice * l_extendedprice) {flt}, 2) AS myy{t}",
        ]
    return "SELECT " + ", ".join(cols) + " FROM lineitem"


_LC_FRACS = [10, 25, 50, 100]


def _lc_oracle() -> str:
    sels = []
    for f in _LC_FRACS:
        t = f"_{f}"
        v11 = f"(m11{t} - m1{t} * m1{t})"
        v22 = f"(m22{t} - m2{t} * m2{t})"
        v12 = f"(m12{t} - m1{t} * m2{t})"
        c1y = f"(m1y{t} - m1{t} * my{t})"
        c2y = f"(m2y{t} - m2{t} * my{t})"
        det = f"({v11} * {v22} - {v12} * {v12})"
        b1 = f"(({c1y} * {v22} - {c2y} * {v12}) / {det})"
        b2 = f"(({v11} * {c2y} - {v12} * {c1y}) / {det})"
        b0 = f"(my{t} - {b1} * m1{t} - {b2} * m2{t})"
        sse = (f"(myy_100 - 2 * {b1} * m1y_100 - 2 * {b2} * m2y_100"
               f" - 2 * {b0} * my_100"
               f" + {b1} * {b1} * m11_100 + {b2} * {b2} * m22_100"
               f" + 2 * {b1} * {b2} * m12_100"
               f" + 2 * {b0} * {b1} * m1_100 + 2 * {b0} * {b2} * m2_100"
               f" + {b0} * {b0})")
        sels.append(
            f"SELECT CAST({f} AS BIGINT) AS train_pct, "
            f"CAST(n{t} AS BIGINT) AS n_train, "
            f"round(1.0 - {sse} / (myy_100 - my_100 * my_100), 6) AS r2_on_full "
            f"FROM m"
        )
    return "WITH m AS (" + _lc_cond_moments_sql() + ")\n" + "\nUNION ALL\n".join(sels)


@query("ml_learning_curve", oracle=_lc_oracle(), family="ml")
def ml_learning_curve(spark, sf_dir):
    """LEARNING CURVE for the closed-form OLS: fit the
    price ~ quantity + discount model on deterministic md5 subsets
    (10/25/50/100% of lineitem) and score each fit's R² ON THE FULL
    DATA — the "do we need more data?" readout (coefficients converge
    → the curve flattens → more rows buy nothing; still climbing →
    collect more). Everything is CLOSED FORM **in one pass**: a
    single aggregate computes every subset's rounded moments as
    FILTERed conditional columns (the naive one-aggregate-per-subset
    form measured 45 s vs ~3 s — four extra scans for nothing), the
    full-data R² of any coefficient vector expands into full-data
    moments, and the rest is identical IEEE arithmetic per engine.
    The md5 subset key is (orderkey·10⁴+linenumber) — the
    engine-neutral row id; subsets are NESTED (b<10 ⊂ b<25 ⊂ …), the
    proper learning-curve design."""
    li = table(spark, sf_dir, "lineitem")
    x1, x2, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    (F.col("l_orderkey") * 10000 + F.col("l_linenumber"))
                    .cast("string")
                    .cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(100),
    )
    tagged = li.select(x1.alias("x1"), x2.alias("x2"), y.alias("y"), bucket.alias("b"))

    def cm(expr, digits, name, f):
        cond = F.when(F.col("b") < f, expr) if f < 100 else expr
        return F.round(F.avg(cond), digits).alias(name)

    aggs = []
    for f in _LC_FRACS:
        t = f"_{f}"
        cnt = (
            F.count(F.when(F.col("b") < f, 1)) if f < 100 else F.count("*")
        ).alias(f"n{t}")
        x1c, x2c, yc = F.col("x1"), F.col("x2"), F.col("y")
        aggs += [
            cnt,
            cm(x1c, 6, f"m1{t}", f),
            cm(x2c, 9, f"m2{t}", f),
            cm(yc, 3, f"my{t}", f),
            cm(x1c * x1c, 5, f"m11{t}", f),
            cm(x2c * x2c, 10, f"m22{t}", f),
            cm(x1c * x2c, 7, f"m12{t}", f),
            cm(x1c * yc, 2, f"m1y{t}", f),
            cm(x2c * yc, 4, f"m2y{t}", f),
            cm(yc * yc, 2, f"myy{t}", f),
        ]
    m = tagged.agg(*aggs)

    outs = []
    for f in _LC_FRACS:
        t = f"_{f}"
        c = F.col
        v11 = c(f"m11{t}") - c(f"m1{t}") * c(f"m1{t}")
        v22 = c(f"m22{t}") - c(f"m2{t}") * c(f"m2{t}")
        v12 = c(f"m12{t}") - c(f"m1{t}") * c(f"m2{t}")
        c1y = c(f"m1y{t}") - c(f"m1{t}") * c(f"my{t}")
        c2y = c(f"m2y{t}") - c(f"m2{t}") * c(f"my{t}")
        det = v11 * v22 - v12 * v12
        b1 = (c1y * v22 - c2y * v12) / det
        b2 = (v11 * c2y - v12 * c1y) / det
        b0 = c(f"my{t}") - b1 * c(f"m1{t}") - b2 * c(f"m2{t}")
        sse = (
            c("myy_100")
            - 2 * b1 * c("m1y_100")
            - 2 * b2 * c("m2y_100")
            - 2 * b0 * c("my_100")
            + b1 * b1 * c("m11_100")
            + b2 * b2 * c("m22_100")
            + 2 * b1 * b2 * c("m12_100")
            + 2 * b0 * b1 * c("m1_100")
            + 2 * b0 * b2 * c("m2_100")
            + b0 * b0
        )
        outs.append(
            m.select(
                F.lit(f).cast("bigint").alias("train_pct"),
                c(f"n{t}").cast("bigint").alias("n_train"),
                F.round(
                    1.0 - sse / (c("myy_100") - c("my_100") * c("my_100")), 6
                ).alias("r2_on_full"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


@query(
    "ml_tree_stump",
    oracle="""
        WITH g AS (
            SELECT l_quantity AS q, count(*) AS cnt,
                   round(avg(l_extendedprice), 4) AS m1,
                   round(avg(l_extendedprice * l_extendedprice), 1) AS m2
            FROM lineitem GROUP BY l_quantity
        ),
        c AS (
            SELECT q, cnt, m1,
                   CAST(sum(cnt) OVER w AS BIGINT) AS n_left,
                   sum(cnt * m1) OVER w AS s1_left,
                   CAST(sum(cnt) OVER () AS BIGINT) AS n_tot,
                   sum(cnt * m1) OVER () AS s1_tot,
                   sum(cnt * m2) OVER () AS s2_tot
            FROM g
            WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        ),
        d AS (
            SELECT q, n_left, n_tot - n_left AS n_right,
                   s1_left, s1_tot - s1_left AS s1_right,
                   s2_tot - s1_tot * s1_tot / n_tot AS sse_parent,
                   s1_tot, n_tot
            FROM c WHERE n_tot - n_left > 0
        ),
        e AS (
            SELECT q, n_left, n_right,
                   round(s1_left / n_left, 4) AS mean_left,
                   round(s1_right / n_right, 4) AS mean_right,
                   round((s1_left * s1_left / n_left
                          + s1_right * s1_right / n_right
                          - s1_tot * s1_tot / n_tot) / sse_parent,
                         6) AS gain_share
            FROM d
        )
        SELECT q AS split_qty, n_left, n_right, mean_left, mean_right,
               gain_share,
               gain_share = max(gain_share) OVER () AS is_best
        FROM e
    """,
    family="ml",
)
def ml_tree_stump(spark, sf_dir):
    """Exact best-split search for a regression decision stump —
    l_extendedprice split on l_quantity — the histogram-based split
    finder that is THE inner loop of ml_random_forest / ml_gbt, built
    from engine primitives so the tree models' rows-only fits get a
    fully SQL-oracled structural twin (the role vec_kmeans_lloyd /
    vec_pca_power play for ml_kmeans / ml_pca). One pass aggregates
    per-feature-value sufficient statistics (count + ROUNDED first /
    second moment — the mergeable histogram bins LightGBM-style split
    finding ships to workers); a cumulative window over the ≤50 bins
    then yields every threshold's left/right stats at once, and the
    variance gain uses the algebraically cancelled form
    s1l²/nl + s1r²/nr − s1²/n (second moments cancel out of the gain,
    so the only large-magnitude sum, Σy², appears ONLY in the
    parent-SSE normalizer). Cross-engine determinism: bin moments are
    rounded per magnitude (avg(y) 4 dp, avg(y²) 1 dp) BEFORE the
    window, downstream sums are ≤50 terms (drift ~1e-13 relative),
    and gain_share is a scale-free ratio rounded at 6 dp; is_best
    compares the ROUNDED gains so a cross-engine tie is a tie on both
    sides. At 100 TB nothing changes but the scan: the bin table is
    (distinct feature values)-sized, the window runs over ≤ the bin
    count on one task, and for continuous features the same plan runs
    on width_bucket quantile bins — depth-d trees repeat this
    node-local, feature-parallel."""
    li = table(spark, sf_dir, "lineitem")
    y = F.col("l_extendedprice")
    g = li.groupBy(F.col("l_quantity").alias("q")).agg(
        F.count("*").alias("cnt"),
        F.round(F.avg(y), 4).alias("m1"),
        F.round(F.avg(y * y), 1).alias("m2"),
    )
    wcum = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "q",
        F.sum("cnt").over(wcum).alias("n_left"),
        F.sum(F.col("cnt") * F.col("m1")).over(wcum).alias("s1_left"),
        F.sum("cnt").over(wall).alias("n_tot"),
        F.sum(F.col("cnt") * F.col("m1")).over(wall).alias("s1_tot"),
        F.sum(F.col("cnt") * F.col("m2")).over(wall).alias("s2_tot"),
    )
    d = c.select(
        "q",
        "n_left",
        (F.col("n_tot") - F.col("n_left")).alias("n_right"),
        "s1_left",
        (F.col("s1_tot") - F.col("s1_left")).alias("s1_right"),
        (F.col("s2_tot") - F.col("s1_tot") * F.col("s1_tot") / F.col("n_tot"))
        .alias("sse_parent"),
        "s1_tot",
        "n_tot",
    ).where(F.col("n_right") > 0)
    gain = (
        F.col("s1_left") * F.col("s1_left") / F.col("n_left")
        + F.col("s1_right") * F.col("s1_right") / F.col("n_right")
        - F.col("s1_tot") * F.col("s1_tot") / F.col("n_tot")
    )
    e = d.select(
        "q",
        "n_left",
        "n_right",
        F.round(F.col("s1_left") / F.col("n_left"), 4).alias("mean_left"),
        F.round(F.col("s1_right") / F.col("n_right"), 4).alias("mean_right"),
        F.round(gain / F.col("sse_parent"), 6).alias("gain_share"),
    )
    return e.select(
        F.col("q").alias("split_qty"),
        "n_left",
        "n_right",
        "mean_left",
        "mean_right",
        "gain_share",
        (F.col("gain_share") == F.max("gain_share").over(wall)).alias("is_best"),
    )


_LR_ROUNDS = 8
_LR_STEP = 2.0


def _logreg_gd_oracle() -> str:
    # Generated SQL mirroring the Spark rounds. The 65-term logit
    # z = b0 + Σ b_d·x_d is emitted LEFT-ASSOCIATED — the same IEEE
    # order as Spark's F.aggregate fold seeded with b0 — so z is
    # bit-identical across engines; exp() may differ by an ulp per row
    # but every gradient is an average re-rounded at 8 dp before the
    # weight update, which absorbs it. All CTEs MATERIALIZED (DuckDB
    # CTE inlining re-evaluates chained rounds exponentially).
    dims = list(range(1, 65))
    z = "w.b0 + " + " + ".join(
        f"w.b{d} * CAST(p.embedding[{d}] AS DOUBLE)" for d in dims
    )
    grads = ", ".join(
        f"round(avg(err * CAST(embedding[{d}] AS DOUBLE)), 8) AS g{d}"
        for d in dims
    )
    upd = ", ".join(
        f"round(w.b{d} - {_LR_STEP} * g.g{d}, 8) AS b{d}" for d in dims
    )
    zero = ", ".join(f"CAST(0.0 AS DOUBLE) AS b{d}" for d in dims)
    rounds = []
    prev = "w0"
    for r in range(1, _LR_ROUNDS + 1):
        rounds.append(f"""
        e{r} AS MATERIALIZED (
            SELECT p.y, p.embedding,
                   1.0 / (1.0 + exp(-({z}))) - p.y AS err
            FROM pts p CROSS JOIN {prev} w
        ),
        g{r} AS MATERIALIZED (
            SELECT round(avg(err), 8) AS g0, {grads} FROM e{r}
        ),
        w{r} AS MATERIALIZED (
            SELECT round(w.b0 - {_LR_STEP} * g.g0, 8) AS b0, {upd}
            FROM {prev} w CROSS JOIN g{r} g
        )""")
        prev = f"w{r}"
    wlist = ", ".join(
        f"{{'dim': CAST({d} AS BIGINT), 'weight': b{d}}}" for d in dims
    )
    return f"""
        WITH pts AS MATERIALIZED (
            SELECT embedding,
                   CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y
            FROM embeddings
        ),
        w0 AS MATERIALIZED (SELECT CAST(0.0 AS DOUBLE) AS b0, {zero}),
        {",".join(rounds)},
        scored AS MATERIALIZED (
            SELECT p.y, {z} AS zf FROM pts p CROSS JOIN {prev} w
        ),
        metrics AS MATERIALIZED (
            SELECT round(avg(CASE WHEN (zf >= 0) = (y = 1.0)
                                  THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
                   round(avg(CASE WHEN y = 1.0 THEN ln(1.0 + exp(-zf))
                                  ELSE ln(1.0 + exp(zf)) END), 6) AS log_loss
            FROM scored
        )
        SELECT t.dim, t.weight, m.accuracy, m.log_loss
        FROM (
            SELECT CAST(0 AS BIGINT) AS dim, b0 AS weight FROM {prev}
            UNION ALL
            SELECT u.dim, u.weight
            FROM {prev}, UNNEST([{wlist}]) AS _(u)
        ) t CROSS JOIN metrics m
    """


@query("ml_logreg_gd", oracle=_logreg_gd_oracle(), family="ml")
def ml_logreg_gd(spark, sf_dir):
    """Binary logistic regression by BATCH GRADIENT DESCENT on all 64
    embedding dimensions (label>=5 as the positive class), built from
    engine primitives and fully ORACLE-VERIFIED — the classification
    member of the deterministic-ML-twin family (vec_pca_power→ml_pca,
    vec_kmeans_lloyd→ml_kmeans, ml_tree_stump→ml_gbt/rf,
    ml_linreg_normal→OLS), giving the rows-only L-BFGS ml_logreg a
    hash-matchable structural twin. Each round computes the gradient
    DISTRIBUTED (one corpus scan into 65 mergeable avg partials —
    MLlib's treeAggregate pattern) and applies the 65-scalar weight
    update on the driver, exactly as MLlib's own optimizers do; the
    per-round single-row collect is the sanctioned driver-side-scalar
    pattern (same as dedup_clusters' convergence check), NOT a data
    collect. Cross-engine determinism: the 65-term logit folds in the
    identical left-associated IEEE order on both engines (bit-equal
    z); exp() may drift an ulp per row but every gradient avg is
    RE-ROUNDED at 8 dp before the update, so each round restarts from
    bit-identical weights (the update arithmetic itself is the same
    IEEE ops on the same bits in Python, Spark, and DuckDB). The
    driver-side update rounds via round_half_up (canon.py) so its tie
    mode matches DuckDB's half-away round() even on an exact
    half-1e-8 boundary (measure-zero for IEEE doubles, but r17 closed
    the banker's-rounding hazard class repo-wide). Accuracy
    thresholds on z >= 0 (no transcendentals); log-loss rounds at
    6 dp. At 100 TB: cache the training frame (here localCheckpoint —
    one scan, 8 reuses), rounds × scan is the cost, identical to
    L-BFGS minus the line search; reaches 61% train accuracy on the
    fixture vs the ~50% base rate."""
    e = table(spark, sf_dir, "embeddings")
    pts = e.select(
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        F.when(F.col("label") >= 5, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    ).localCheckpoint()

    def zcol(b0, warr):
        return F.aggregate(
            F.zip_with("emb", F.array([F.lit(x) for x in warr]), lambda x, b: x * b),
            F.lit(b0),
            lambda acc, t: acc + t,
        )

    b0, warr = 0.0, [0.0] * 64
    for _ in range(_LR_ROUNDS):
        scored = pts.withColumn(
            "err", F.lit(1.0) / (F.lit(1.0) + F.exp(-zcol(b0, warr))) - F.col("y")
        )
        g = scored.agg(
            F.round(F.avg("err"), 8).alias("g0"),
            *[
                F.round(F.avg(F.col("err") * F.col("emb")[d]), 8).alias(f"g{d + 1}")
                for d in range(64)
            ],
        ).collect()[0]
        b0 = round_half_up(b0 - _LR_STEP * g["g0"], 8)
        warr = [
            round_half_up(warr[d] - _LR_STEP * g[f"g{d + 1}"], 8) for d in range(64)
        ]

    scored = pts.withColumn("zf", zcol(b0, warr))
    metrics = scored.agg(
        F.round(
            F.avg(
                F.when(
                    (F.col("zf") >= 0) == (F.col("y") == 1.0), F.lit(1.0)
                ).otherwise(F.lit(0.0))
            ),
            6,
        ).alias("accuracy"),
        F.round(
            F.avg(
                F.when(F.col("y") == 1.0, F.log(F.lit(1.0) + F.exp(-F.col("zf"))))
                .otherwise(F.log(F.lit(1.0) + F.exp(F.col("zf"))))
            ),
            6,
        ).alias("log_loss"),
    )
    weights = inline_rows(list(enumerate([b0] + warr)), "dim bigint, weight double")
    return metrics.selectExpr(weights, "accuracy", "log_loss")


_ALS_ROUNDS = 6
_ALS_LAMBDA = 0.1


def _als_rank1_oracle() -> str:
    # Unrolled alternating ridge solves. Ratings are rounded at 6 dp on
    # construction and every factor update re-rounds at 8 dp, so group-sum
    # order drift (~1e-13) never crosses a grid. All CTEs MATERIALIZED.
    rounds = []
    prev_v = "v0"
    for r in range(1, _ALS_ROUNDS + 1):
        rounds.append(f"""
        u{r} AS MATERIALIZED (
            SELECT r.u_id,
                   round(sum(r.rating * v.f) /
                         ({_ALS_LAMBDA} + sum(v.f * v.f)), 8) AS f
            FROM ratings r JOIN {prev_v} v ON r.i_id = v.i_id
            GROUP BY r.u_id
        ),
        v{r} AS MATERIALIZED (
            SELECT r.i_id,
                   round(sum(r.rating * u.f) /
                         ({_ALS_LAMBDA} + sum(u.f * u.f)), 8) AS f
            FROM ratings r JOIN u{r} u ON r.u_id = u.u_id
            GROUP BY r.i_id
        )""")
        prev_v = f"v{r}"
    return f"""
        WITH ratings AS MATERIALIZED (
            SELECT user_id AS u_id, event_id % 50 AS i_id,
                   round(sum("value"), 6) AS rating
            FROM events GROUP BY user_id, event_id % 50
        ),
        v0 AS MATERIALIZED (
            SELECT DISTINCT i_id, 1.0 AS f FROM ratings
        ),
        {",".join(rounds)},
        pred AS MATERIALIZED (
            SELECT r.rating, u.f * v.f AS yhat
            FROM ratings r
            JOIN u{_ALS_ROUNDS} u ON r.u_id = u.u_id
            JOIN v{_ALS_ROUNDS} v ON r.i_id = v.i_id
        ),
        rmse AS MATERIALIZED (
            SELECT round(sqrt(avg((rating - yhat) * (rating - yhat))), 6)
                AS rmse,
                CAST(count(*) AS BIGINT) AS n_obs
            FROM pred
        )
        SELECT v.i_id AS item, v.f AS item_factor,
               m.rmse, m.n_obs
        FROM v{_ALS_ROUNDS} v CROSS JOIN rmse m
    """


@query(
    "ml_als_rank1", oracle=_als_rank1_oracle(), family="ml",
    bnlj="1-row RMSE crossJoined onto the item factors",
)
def ml_als_rank1(spark, sf_dir):
    """RANK-1 ALTERNATING LEAST SQUARES, fully oracle-verified — the
    deterministic twin of the rows-only MLlib ml_als, on the SAME
    user × (event_id % 50) summed-value ratings matrix: with one
    latent dimension the ridge normal equations collapse to closed
    form (u_i = Σr_ij·v_j / (λ + Σv_j²) over user i's observed items,
    then symmetrically for items), so six alternating rounds are
    twelve grouped aggregates — ALS's actual algebra, hash-matchable
    because ratings round at 6 dp on construction and every factor
    update re-rounds at 8 dp before the next solve. Output: the item
    factor vector plus training RMSE on observed entries. Scale
    shape: each half-round shuffles the ratings once on its grouping
    side; the ITEM factor frame (bounded at 50) broadcasts, while the
    user-factor join deliberately carries no broadcast hint — user
    cardinality is unbounded at 100 TB and that side must shuffle on
    u_id. This is MLlib ALS's block solve with the block count at 1;
    at rank k the same rounds solve k×k normal equations per group
    (mergeable Gramians), which is the documented path, not a
    different plan."""
    e = table(spark, sf_dir, "events")
    ratings = (
        e.groupBy(
            F.col("user_id").alias("u_id"),
            (F.col("event_id") % 50).alias("i_id"),
        )
        .agg(F.round(F.sum("value"), 6).alias("rating"))
        .localCheckpoint()  # scanned twice per round across 6 rounds
    )
    v = ratings.select("i_id").distinct().select("i_id", F.lit(1.0).alias("f"))
    for _ in range(_ALS_ROUNDS):
        u = (
            ratings.join(F.broadcast(v), "i_id")
            .groupBy("u_id")
            .agg(
                F.round(
                    F.sum(F.col("rating") * F.col("f"))
                    / (F.lit(_ALS_LAMBDA) + F.sum(F.col("f") * F.col("f"))),
                    8,
                ).alias("f")
            )
            .localCheckpoint(eager=False)
        )
        v = (
            # no broadcast hint on the USER-factor side: user cardinality
            # is unbounded at scale (the item frame is the small one);
            # this join shuffles on u_id, which is the correct plan
            ratings.join(u, "u_id")
            .groupBy("i_id")
            .agg(
                F.round(
                    F.sum(F.col("rating") * F.col("f"))
                    / (F.lit(_ALS_LAMBDA) + F.sum(F.col("f") * F.col("f"))),
                    8,
                ).alias("f")
            )
            .localCheckpoint(eager=False)
        )
    pred = (
        ratings.join(u.withColumnRenamed("f", "uf"), "u_id")
        .join(F.broadcast(v.withColumnRenamed("f", "vf")), "i_id")
        .select("rating", (F.col("uf") * F.col("vf")).alias("yhat"))
    )
    rmse = pred.agg(
        F.round(
            F.sqrt(F.avg((F.col("rating") - F.col("yhat")) * (F.col("rating") - F.col("yhat")))),
            6,
        ).alias("rmse"),
        F.count("*").cast("bigint").alias("n_obs"),
    )
    # no 6 dp re-round here: f is already on the 8 dp grid, and
    # re-rounding a grid value hits exact half-boundaries where Spark
    # (HALF_UP) and DuckDB (scaled-double) disagree — the known hazard
    return v.select(
        F.col("i_id").alias("item"), F.col("f").alias("item_factor")
    ).crossJoin(F.broadcast(rmse))


_GBT_ROUNDS = 3
_GBT_LR = 0.5


def _gbt_stumps_oracle() -> str:
    rounds = []
    prev = "preds0"
    for r in range(1, _GBT_ROUNDS + 1):
        rounds.append(f"""
        bins{r} AS MATERIALIZED (
            SELECT 'disc' AS f, d AS v, count(*) AS cnt,
                   round(sum(y - p), 0) AS s
            FROM {prev} GROUP BY d
            UNION ALL
            SELECT 'qty', q, count(*), round(sum(y - p), 0)
            FROM {prev} GROUP BY q
        ),
        cand{r} AS MATERIALIZED (
            SELECT f, v,
                   CAST(sum(cnt) OVER wc AS BIGINT) AS n_l,
                   sum(s) OVER wc AS s_l,
                   CAST(sum(cnt) OVER wf AS BIGINT) AS n_t,
                   sum(s) OVER wf AS s_t
            FROM bins{r}
            WINDOW wc AS (PARTITION BY f ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY f)
        ),
        best{r} AS MATERIALIZED (
            SELECT * FROM (
                SELECT f, v AS thr, n_l, n_t - n_l AS n_r,
                       round(s_l / n_l, 4) AS vl,
                       round((s_t - s_l) / (n_t - n_l), 4) AS vr,
                       s_l * s_l / n_l
                       + (s_t - s_l) * (s_t - s_l) / (n_t - n_l)
                       - s_t * s_t / n_t AS gain,
                       row_number() OVER (
                           ORDER BY s_l * s_l / n_l
                           + (s_t - s_l) * (s_t - s_l) / (n_t - n_l)
                           - s_t * s_t / n_t DESC, f, v
                       ) AS rn
                FROM cand{r} WHERE n_t - n_l > 0
            ) WHERE rn = 1
        ),
        preds{r} AS MATERIALIZED (
            SELECT p.q, p.d, p.y,
                   round(p.p + {_GBT_LR} * CASE
                       WHEN (CASE WHEN b.f = 'qty' THEN p.q ELSE p.d END)
                            <= b.thr THEN b.vl ELSE b.vr END, 4) AS p
            FROM {prev} p CROSS JOIN best{r} b
        )""")
        prev = f"preds{r}"
    stage_rows = "\n            UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, f AS feature, thr, n_l, n_r,"
        f" vl, vr, round(gain / 1e9, 4) AS gain_b FROM best{r}"
        for r in range(1, _GBT_ROUNDS + 1)
    )
    return f"""
        WITH m0 AS MATERIALIZED (
            SELECT round(avg(l_extendedprice), 4) AS p FROM lineitem
        ),
        preds0 AS MATERIALIZED (
            SELECT l_quantity AS q, l_discount AS d,
                   l_extendedprice AS y, m0.p AS p
            FROM lineitem CROSS JOIN m0
        ),
        {",".join(rounds)},
        rmse AS MATERIALIZED (
            SELECT round(sqrt(avg((y - p) * (y - p))), 2) AS train_rmse
            FROM preds{_GBT_ROUNDS}
        )
        SELECT s.*, rmse.train_rmse FROM (
            {stage_rows}
        ) s CROSS JOIN rmse
    """


@query(
    "ml_gbt_stumps", oracle=_gbt_stumps_oracle(), family="ml",
    bnlj="1-row mean, best-split and RMSE frames crossJoined per boosting round",
)
def ml_gbt_stumps(spark, sf_dir):
    """GRADIENT BOOSTING with depth-1 trees, fully oracle-verified —
    the boosting half of the tree-twin story (ml_tree_stump verified
    ONE split search; this runs the actual GBT recurrence): three
    rounds of best-split stumps over TWO candidate features
    (l_quantity, l_discount), each fit to the RESIDUALS of the
    ensemble so far, learning rate 0.5 — exactly MLlib ml_gbt's
    algorithm at depth 1, made hash-matchable. Determinism is
    arranged once per round at the bin boundary: per-bin residual
    sums round to the INTEGER grid before any downstream arithmetic
    (2 dp was measured to flip: heavily-cancelling residual sums carry
    ~1e-4 engine-order drift, enough to cross a 0.005 boundary once in
    ~180 bins — the integer grid gives a ~5000x margin), so cumulative sums (≤61 bins), gains, argmax (full
    (gain desc, feature, threshold) tiebreak), leaf values (4 dp),
    and the per-row prediction update (re-rounded 4 dp — each round
    restarts bit-identical) are the same IEEE doubles on both
    engines. Output: per-round chosen split + leaf values + gain,
    with the final train RMSE. Scale shape: each round is one scan
    of the (features, y, pred) frame into TWO bin aggregates (≤61
    partial states), a ≤61-row window, and a broadcast 1-row split
    applied map-side — histogram boosting's actual distributed cost,
    rounds × scan, with the prediction column localCheckpoint'ed per
    round to cut lineage. On THIS fixture the gains are structurally
    tiny (the synthetic l_extendedprice is independent of both
    features — corr ≈ 0.003 — so no stump can explain much variance);
    what the operator verifies is the RECURRENCE: the test replays
    round 1's split search brute-force in numpy, and train RMSE is
    asserted never to exceed the constant predictor's."""
    li = table(spark, sf_dir, "lineitem")
    m0 = li.agg(F.round(F.avg("l_extendedprice"), 4).alias("p"))
    preds = (
        li.select(
            F.col("l_quantity").alias("q"),
            F.col("l_discount").alias("d"),
            F.col("l_extendedprice").alias("y"),
        )
        .crossJoin(F.broadcast(m0))
        .localCheckpoint()
    )
    wc = (
        Window.partitionBy("f")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = Window.partitionBy("f")
    stages = []
    for r in range(1, _GBT_ROUNDS + 1):
        e = F.col("y") - F.col("p")
        bins = (
            preds.groupBy(F.lit("disc").alias("f"), F.col("d").alias("v"))
            .agg(F.count("*").alias("cnt"), F.round(F.sum(e), 0).alias("s"))
            .unionByName(
                preds.groupBy(F.lit("qty").alias("f"), F.col("q").alias("v"))
                .agg(F.count("*").alias("cnt"), F.round(F.sum(e), 0).alias("s"))
            )
        )
        cand = bins.select(
            "f",
            "v",
            F.sum("cnt").over(wc).cast("bigint").alias("n_l"),
            F.sum("s").over(wc).alias("s_l"),
            F.sum("cnt").over(wf).cast("bigint").alias("n_t"),
            F.sum("s").over(wf).alias("s_t"),
        ).where(F.col("n_t") - F.col("n_l") > 0)
        gain = (
            F.col("s_l") * F.col("s_l") / F.col("n_l")
            + (F.col("s_t") - F.col("s_l"))
            * (F.col("s_t") - F.col("s_l"))
            / (F.col("n_t") - F.col("n_l"))
            - F.col("s_t") * F.col("s_t") / F.col("n_t")
        )
        best = (
            cand.withColumn("gain", gain)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.orderBy(F.col("gain").desc(), "f", "v")
                ),
            )
            .where(F.col("rn") == 1)
            .select(
                "f",
                F.col("v").alias("thr"),
                "n_l",
                (F.col("n_t") - F.col("n_l")).alias("n_r"),
                F.round(F.col("s_l") / F.col("n_l"), 4).alias("vl"),
                F.round(
                    (F.col("s_t") - F.col("s_l"))
                    / (F.col("n_t") - F.col("n_l")),
                    4,
                ).alias("vr"),
                "gain",
            )
            .localCheckpoint()
        )
        stages.append((r, best))
        x = F.when(F.col("f") == "qty", F.col("q")).otherwise(F.col("d"))
        preds = (
            preds.crossJoin(F.broadcast(best))
            .select(
                "q",
                "d",
                "y",
                F.round(
                    F.col("p")
                    + _GBT_LR
                    * F.when(x <= F.col("thr"), F.col("vl")).otherwise(
                        F.col("vr")
                    ),
                    4,
                ).alias("p"),
            )
            .localCheckpoint()
        )
    rmse = preds.agg(
        F.round(
            F.sqrt(F.avg((F.col("y") - F.col("p")) * (F.col("y") - F.col("p")))),
            2,
        ).alias("train_rmse")
    )
    out = None
    for r, best in stages:
        row = best.select(
            F.lit(r).cast("bigint").alias("round"),
            F.col("f").alias("feature"),
            "thr",
            "n_l",
            "n_r",
            "vl",
            "vr",
            F.round(F.col("gain") / 1e9, 4).alias("gain_b"),
        )
        out = row if out is None else out.unionByName(row)
    return out.crossJoin(F.broadcast(rmse))


_GMM_K = 3
_GMM_D = 4
_GMM_ROUNDS = 3
_GMM_VFLOOR = 0.0001


def _gmm_s_skeleton(xref, w, mu, va):
    """Shared per-component log-score skeleton: ln(w) - 0.5*(sq + lnv),
    sq/lnv summed left-associated in dim order. BOTH the Spark rounds
    (params as float literals) and the DuckDB oracle (params as CTE
    column refs) render their expressions through this one function, so
    the IEEE op sequence is identical by construction — the ml_logreg_gd
    bit-identical-fold discipline, generalized to a parameterized
    template. xref/w/mu/va are formatters: d -> SQL fragment."""
    terms = [f"(({xref(d)} - {mu(d)}) * ({xref(d)} - {mu(d)}) / {va(d)})" for d in range(1, _GMM_D + 1)]
    terms += [f"ln({va(d)})" for d in range(1, _GMM_D + 1)]
    return f"ln({w()}) - 0.5 * ({' + '.join(terms)})"


def _gmm_resp_exprs():
    """r_k softmax over the shifted scores — identical text both engines."""
    den = " + ".join(f"exp(s{k} - sm)" for k in range(_GMM_K))
    return [f"exp(s{k} - sm) / ({den})" for k in range(_GMM_K)]


def _gmm_oracle() -> str:
    # Generated CTE chain replaying the EM rounds (the _logreg_gd_oracle
    # pattern): E-step scores through _gmm_s_skeleton with w{r-1} column
    # refs, softmax responsibilities, 27 re-rounded (8 dp) M-step
    # averages, driver-equivalent parameter update arithmetic inside the
    # w{r} CTE (same IEEE ops on the same rounded bits as the Spark
    # driver's Python floats). All CTEs MATERIALIZED.
    K, D = _GMM_K, _GMM_D
    xs = ", ".join(f"CAST(embedding[{d}] AS DOUBLE) AS x{d}" for d in range(1, D + 1))
    init_mu_cols = ", ".join(
        f"round(avg(x{d}), 8) AS m{d}" for d in range(1, D + 1)
    )
    init_var_cols = ", ".join(
        f"round(var_pop(x{d}), 8) AS v{d}" for d in range(1, D + 1)
    )
    w0_cols = [f"CAST(0.33333333 AS DOUBLE) AS wk{k}" for k in range(K)]
    for k in range(K):
        w0_cols += [f"m{k}.m{d} AS mu{k}_{d}" for d in range(1, D + 1)]
        w0_cols += [f"s.v{d} AS va{k}_{d}" for d in range(1, D + 1)]
    mus_joins = " ".join(
        f"CROSS JOIN (SELECT {init_mu_cols} FROM pts WHERE vec_id % {K} = {k}) m{k}"
        for k in range(K)
    )

    def s_expr(k):
        return _gmm_s_skeleton(
            lambda d: f"x{d}",
            lambda: f"w.wk{k}",
            lambda d, k=k: f"w.mu{k}_{d}",
            lambda d, k=k: f"w.va{k}_{d}",
        )

    rexprs = _gmm_resp_exprs()
    rounds = []
    prev = "w0"
    for r in range(1, _GMM_ROUNDS + 1):
        score_cols = ", ".join(f"{s_expr(k)} AS s{k}" for k in range(K))
        sm = ", ".join(f"s{k}" for k in range(K))
        rcols = ", ".join(f"{rexprs[k]} AS r{k}" for k in range(K))
        aggs = []
        for k in range(K):
            aggs.append(f"round(avg(r{k}), 8) AS a_r{k}")
            for d in range(1, D + 1):
                aggs.append(f"round(avg(r{k} * x{d}), 8) AS a_rx{k}_{d}")
                aggs.append(f"round(avg(r{k} * x{d} * x{d}), 8) AS a_rxx{k}_{d}")
        upd = [f"g.a_r{k} AS wk{k}" for k in range(K)]
        for k in range(K):
            for d in range(1, D + 1):
                upd.append(f"round(g.a_rx{k}_{d} / g.a_r{k}, 8) AS mu{k}_{d}")
                upd.append(
                    f"greatest(round(g.a_rxx{k}_{d} / g.a_r{k} "
                    f"- (g.a_rx{k}_{d} / g.a_r{k}) * (g.a_rx{k}_{d} / g.a_r{k}), 8), "
                    f"{_GMM_VFLOOR}) AS va{k}_{d}"
                )
        xs_fwd = ", ".join(f"x{d}" for d in range(1, D + 1))
        rounds.append(f"""
        e{r} AS MATERIALIZED (
            SELECT {xs_fwd}, {sm}, greatest({sm}) AS sm
            FROM (SELECT p.*, {score_cols} FROM pts p CROSS JOIN {prev} w)
        ),
        r{r} AS MATERIALIZED (
            SELECT {xs_fwd}, {rcols} FROM e{r}
        ),
        g{r} AS MATERIALIZED (
            SELECT {", ".join(aggs)} FROM r{r}
        ),
        w{r} AS MATERIALIZED (
            SELECT {", ".join(upd)} FROM g{r} g
        )""")
        prev = f"w{r}"
    final_scores = ", ".join(f"{s_expr(k)} AS s{k}" for k in range(K))
    sm = ", ".join(f"s{k}" for k in range(K))
    lldenom = " + ".join(f"exp(s{k} - sm)" for k in range(K))
    out_rows = []
    for k in range(K):
        for d in range(1, D + 1):
            out_rows.append(
                f"SELECT CAST({k} AS BIGINT) AS component, CAST({d} AS BIGINT) AS dim, "
                f"wk{k} AS weight, mu{k}_{d} AS mu, va{k}_{d} AS sigma2 FROM {prev}"
            )
    return f"""
        WITH pts AS MATERIALIZED (
            SELECT vec_id, {xs} FROM embeddings
        ),
        stats AS MATERIALIZED (SELECT {init_var_cols} FROM pts),
        w0 AS MATERIALIZED (
            SELECT {", ".join(w0_cols)} FROM stats s {mus_joins}
        ),{",".join(rounds)},
        scored AS MATERIALIZED (
            SELECT ln({lldenom}) + sm AS ll FROM (
                SELECT {sm}, greatest({sm}) AS sm
                FROM (SELECT p.*, {final_scores} FROM pts p CROSS JOIN {prev} w))
        ),
        met AS MATERIALIZED (SELECT round(avg(ll), 6) AS loglik FROM scored)
        SELECT t.component, t.dim, t.weight, t.mu, t.sigma2, m.loglik
        FROM ({" UNION ALL ".join(out_rows)}) t CROSS JOIN met m
    """


@query("ml_gmm_em", oracle=_gmm_oracle(), family="ml")
def ml_gmm_em(spark, sf_dir):
    """Diagonal-covariance Gaussian-mixture EM (k=3 components over the
    first 4 embedding dims, 3 pinned rounds) built from engine
    primitives and fully ORACLE-VERIFIED — the density-estimation
    member of the deterministic-ML-twin family (joins ml_logreg_gd,
    vec_kmeans_lloyd, vec_pca_power, ml_als_rank1; MLlib's
    GaussianMixture is RNG-seeded and could only ever be rows-only).
    Deterministic init: mu_k = per-(vec_id % 3) group means, shared
    global var_pop variances, uniform weights. Each round: E-step
    log-scores rendered from ONE shared skeleton (_gmm_s_skeleton) on
    both engines so the per-row fold is bit-identical; max-shifted
    softmax responsibilities; M-step as 27 mergeable re-rounded (8 dp)
    averages — MLlib's treeAggregate shape, one corpus scan per round —
    with the k*(1+2d)-scalar parameter update applied driver-side
    (the sanctioned driver-scalar pattern, like ml_logreg_gd's 65
    weights). exp()/ln() may drift an ulp per row across engines, but
    every aggregate is re-rounded before the update, so each round
    restarts from bit-identical parameters; the Python-round
    half-even vs DuckDB half-away boundary hazard is measure-zero and
    declared (ml_logreg_gd documents the class). Variance floor 1e-4
    (greatest/max on both sides; both skip a NULL, so empty embeddings
    give 12 rows with NULL weight/mu/loglik and sigma2 = 1e-4). Five
    actions: the init aggregate (which also materializes the lazy
    checkpoint), one per round, and the sink, where the 12 parameter
    rows are SQL-text literals projected onto the 1-row log-likelihood
    aggregate. At 100 TB: rounds x one cached-scan
    with a 27-value treeAggregate — identical cost shape to MLlib's
    own EM; the driver state is O(k*d) scalars per round."""
    e = table(spark, sf_dir, "embeddings")
    K, D = _GMM_K, _GMM_D
    dims = range(1, D + 1)
    # every per-round expression is SQL text, one selectExpr per
    # projection: a Column-API call costs ~4x the py4j round-trips of
    # F.expr, and the 27 aggregates x 3 rounds made this loop
    # py4j-bound (OPERATING.md, loop bodies)
    # lazy: the init aggregate below is the action that materializes it
    pts = e.selectExpr(
        "vec_id", *[f"CAST(element_at(embedding, {d}) AS DOUBLE) AS x{d}" for d in dims]
    ).localCheckpoint(eager=False)
    # one aggregate for the shared variances and the per-group means
    init = pts.selectExpr(
        *[f"round(var_pop(x{d}), 8) AS v{d}" for d in dims],
        *[
            f"round(avg(CASE WHEN vec_id % {K} = {k} THEN x{d} END), 8) AS m{k}_{d}"
            for k in range(K)
            for d in dims
        ],
    ).collect()[0]
    wk = [0.33333333] * K
    mu = [[init[f"m{k}_{d}"] for d in dims] for k in range(K)]
    va = [[init[f"v{d}"] for d in dims] for k in range(K)]

    def s_expr(k):
        return _gmm_s_skeleton(
            lambda d: f"x{d}",
            lambda k=k: sql_literal(wk[k], "double"),
            lambda d, k=k: sql_literal(mu[k][d - 1], "double"),
            lambda d, k=k: sql_literal(va[k][d - 1], "double"),
        )

    def scored_pts():
        """pts plus the round's log-scores s_k and their max sm."""
        return pts.selectExpr("*", *[f"{s_expr(k)} AS s{k}" for k in range(K)]).selectExpr(
            "*", f"greatest({', '.join(f's{k}' for k in range(K))}) AS sm"
        )

    rexprs = _gmm_resp_exprs()
    aggs = []
    for k in range(K):
        aggs.append(f"round(avg(r{k}), 8) AS a_r{k}")
        for d in dims:
            aggs.append(f"round(avg(r{k} * x{d}), 8) AS a_rx{k}_{d}")
            aggs.append(f"round(avg(r{k} * x{d} * x{d}), 8) AS a_rxx{k}_{d}")
    for _ in range(_GMM_ROUNDS):
        g = (
            scored_pts()
            .selectExpr("*", *[f"{rexprs[k]} AS r{k}" for k in range(K)])
            .selectExpr(*aggs)
            .collect()[0]
        )
        for k in range(K):
            wk[k] = g[f"a_r{k}"]
            for d in dims:
                a_r, a_rx, a_rxx = g[f"a_r{k}"], g[f"a_rx{k}_{d}"], g[f"a_rxx{k}_{d}"]
                if None in (a_r, a_rx, a_rxx):
                    # empty input: NULL averages give a NULL mean, and
                    # greatest() skips the NULL variance, as in DuckDB
                    mu[k][d - 1], va[k][d - 1] = None, _GMM_VFLOOR
                    continue
                mu[k][d - 1] = round_half_up(a_rx / a_r, 8)
                va[k][d - 1] = max(
                    round_half_up(a_rxx / a_r - (a_rx / a_r) * (a_rx / a_r), 8),
                    _GMM_VFLOOR,
                )

    lldenom = " + ".join(f"exp(s{k} - sm)" for k in range(K))
    met = scored_pts().selectExpr(f"ln({lldenom}) + sm AS ll").selectExpr(
        "round(avg(ll), 6) AS loglik"
    )
    params = [
        (k, d, wk[k], mu[k][d - 1], va[k][d - 1])
        for k in range(K)
        for d in dims
    ]
    ddl = "component bigint, dim bigint, weight double, mu double, sigma2 double"
    return met.selectExpr(inline_rows(params, ddl), "loglik")
