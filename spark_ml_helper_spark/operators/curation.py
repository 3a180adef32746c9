"""Corpus-curation operators — the steps between "near-dup pairs exist"
and "here is the cleaned training set", plus storage-layout utilities:

- dedup_clusters: connected components over near-dup pairs (pairs alone
  don't dedup a corpus — A~B and B~C must collapse to ONE cluster).
- text_vocab_prune: document-frequency vocabulary pruning (CountVectorizer
  minDF/maxDF equivalent, natively).
- vec_quantize: int8 symmetric embedding quantization (4x storage cut for
  ANN at scale) with per-vector reconstruction error.
- fuzzy_match: blocked edit-distance entity matching.
- ts_gap_fill: dense time-series grid with zero-filled gaps.
- compact_small_files: the small-files compaction pattern.

All SQL-oracled (dedup_clusters via a recursive-CTE min-label closure in
DuckDB — the iterative Spark propagation must reach the identical
fixpoint, which is the strongest check an iterative algorithm can get).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.functions.canon import join_int_array
from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.session import staging_dir
from spark_ml_helper_spark.sources.parquet import table

_CLUSTER_TAU = 0.95


@query(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE ts AS (
            SELECT doc_id, list_sort(list_distinct(string_split(lower(text), ' '))) AS tokset
            FROM documents
        ),
        pairs AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM ts a JOIN ts b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                  / (len(a.tokset) + len(b.tokset) - len(list_intersect(a.tokset, b.tokset)))
                  >= {_CLUSTER_TAU}
        ),
        edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL
            SELECT b_id, a_id FROM pairs
        ),
        walk(node, lab) AS (
            SELECT doc_id, doc_id FROM ts
            UNION
            SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.node
        )
        SELECT node AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY node
    """,
    family="curation",
)
def dedup_clusters(spark, sf_dir):
    """Connected components over the exact Jaccard ≥ 0.95 near-dup graph:
    every document labeled with the min doc_id reachable through near-dup
    edges (singletons label themselves). This is the collapse step a real
    dedup pipeline needs — pairwise output alone can't answer "which one
    row do I keep" once chains A~B~C appear.

    Implementation: iterative min-label propagation (each round, every node
    takes the min of its own and its neighbors' labels) until the global
    label sum — a monotonically non-increasing integer — stops changing.
    Rounds needed = graph diameter, small for near-dup clusters. The loop
    runs over the REPRESENTATIVE graph — identical token sets collapse to
    one node (rep_id = min member doc_id) before any pair is generated, so
    CC node count scales with DISTINCT contents, not documents (on a
    duplicate-heavy corpus that is the whole game: 10x replication adds
    ZERO nodes). Within the rep graph, only edge-touched reps enter the
    loop (a corpus is mostly singletons); edge-free reps and their members
    label themselves through the membership join, shuffle-free. A cluster's
    label — min doc_id reachable — equals min rep_id reachable, because
    each rep_id is already the min doc_id of its identical-content group:
    doc-level output is exactly the old doc-level propagation's, and the
    recursive-CTE oracle hash-checks that. localCheckpoint each round
    truncates the lineage so the plan doesn't grow with iterations. At
    extreme scale swap the propagation for the large-star/small-star
    alternation (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — same DataFrame shape, fewer rounds on high-diameter
    graphs; the per-round shuffles are keyed on node id, never the pair
    space."""
    from spark_ml_helper_spark.functions.setsim import (
        _collapse_identical_sets,
        rep_jaccard_pairs,
    )
    from spark_ml_helper_spark.operators.text import _tokens

    d = table(spark, sf_dir, "documents")
    ts = d.select("doc_id", F.array_distinct(_tokens()).alias("elems"))
    canon, reps, membership, rep_sets = _collapse_identical_sets(ts)
    pairs = rep_jaccard_pairs(rep_sets, tau=_CLUSTER_TAU, out_col="jac").select("ra", "rb")
    edges = (
        pairs.select(F.col("ra").alias("src"), F.col("rb").alias("dst"))
        .unionByName(pairs.select(F.col("rb").alias("src"), F.col("ra").alias("dst")))
        .localCheckpoint()
    )
    # shared path-halving propagation (operators/graph.py) — O(log diameter)
    # rounds, adaptive single-partition rounds on tiny rep graphs, raises on
    # non-convergence
    from spark_ml_helper_spark.operators.graph import min_label_fixpoint

    labels, _ = min_label_fixpoint(edges)
    labels = labels.select(F.col("node").alias("rep_id"), "lab")
    # expand rep labels to members; edge-free reps label themselves
    doc_labels = (
        membership.join(labels, "rep_id", "left")
        .select("doc_id", F.coalesce("lab", "rep_id").alias("lab"))
    )
    # docs dropped by the empty-set filter keep their own id as the label
    empties = (
        d.select("doc_id")
        .join(membership.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("lab"))
    )
    return doc_labels.unionByName(empties).select(
        "doc_id", F.col("lab").alias("cluster_id")
    )


@query(
    "text_vocab_prune",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS token
            FROM documents
        ),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT token, count(*) AS doc_freq,
               round(count(*) / (SELECT n_docs FROM n), 6) AS df_frac
        FROM tok
        GROUP BY token
        HAVING count(*) >= 5 AND count(*) <= 0.6 * (SELECT n_docs FROM n)
    """,
    family="curation",
    bnlj="1-row doc count crossJoined onto the doc frequencies",
)
def text_vocab_prune(spark, sf_dir):
    """Document-frequency vocabulary pruning (CountVectorizer minDF/maxDF
    equivalent, natively): keep tokens appearing in ≥5 docs but ≤60% of
    the corpus — kills typos/rarities at the low end and stopwords at the
    high end. One explode + one hash agg over the vocabulary (bounded,
    ≪ corpus); the corpus size joins in as a broadcast single-row agg, no
    collect."""
    d = table(spark, sf_dir, "documents")
    from spark_ml_helper_spark.operators.text import _tokens

    n = d.agg(F.count("*").alias("n_docs"))
    tok = d.select("doc_id", F.explode(F.array_distinct(_tokens())).alias("token"))
    df = tok.groupBy("token").agg(F.count("*").alias("doc_freq"))
    return (
        df.crossJoin(F.broadcast(n))
        .filter((F.col("doc_freq") >= 5) & (F.col("doc_freq") <= 0.6 * F.col("n_docs")))
        .select("token", "doc_freq", F.round(F.col("doc_freq") / F.col("n_docs"), 6).alias("df_frac"))
    )


@query(
    "vec_quantize",
    oracle="""
        WITH scaled AS (
            SELECT vec_id,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
            FROM embeddings
        ),
        q AS (
            SELECT e.vec_id, s.s,
                   list_transform(e.embedding,
                                  x -> CAST(round(CAST(x AS DOUBLE) / s.s) AS INTEGER)) AS qvec
            FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id
        )
        SELECT q.vec_id, round(q.s, 6) AS scale_v,
               array_to_string(list_transform(q.qvec, x -> CAST(x AS VARCHAR)), '|') AS qvec,
               round(list_max(list_transform(list_zip(e.embedding, q.qvec),
                              p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * q.s))), 6)
                   AS max_err
        FROM q JOIN embeddings e ON q.vec_id = e.vec_id
    """,
    family="curation",
)
def vec_quantize(spark, sf_dir):
    """Symmetric int8 quantization of embeddings (per-vector max-abs
    scale): q[i] = round(x[i]/s), s = max|x|/127 — a 4x storage cut that
    makes billion-vector ANN indexes fit in memory; max_err reports the
    per-vector reconstruction bound. Pure per-row higher-order functions:
    shuffle-free, whole-stage-codegen, no UDF."""
    e = table(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    s = F.array_max(F.transform("embedding", lambda x: F.abs(xd(x)))) / F.lit(127.0)
    with_s = e.select("vec_id", "embedding", s.alias("s"))
    qvec = F.transform("embedding", lambda x: F.round(xd(x) / F.col("s")).cast("int"))
    with_q = with_s.select("vec_id", "embedding", "s", qvec.alias("qvec"))
    err = F.array_max(
        F.zip_with("embedding", "qvec", lambda x, q: F.abs(xd(x) - q.cast("double") * F.col("s")))
    )
    return with_q.select(
        "vec_id",
        F.round("s", 6).alias("scale_v"),
        join_int_array(F.col("qvec")).alias("qvec"),
        F.round(err, 6).alias("max_err"),
    )


@query(
    "fuzzy_match",
    oracle="""
        SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
               a.p_name AS a_name, b.p_name AS b_name,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    family="curation",
)
def fuzzy_match(spark, sf_dir):
    """Blocked fuzzy entity matching: within each brand block, part-name
    pairs at edit distance ≤ 3. Blocking is the scale story — the
    equi-join on the block key keeps the pair space at Σ(block²) instead
    of n², and each block co-locates in one shuffle partition; at 100 TB
    the block key graduates to q-gram or length+prefix signatures (same
    plan shape). Edit distance is JVM-side (F.levenshtein), no UDF.

    Parallelism note: there are only ~25 brand blocks, so an unsalted
    block join runs the Σ(block²) edit-distance compute on ≤25 tasks —
    and AQE coalesces the tiny-byte shuffle even further, serializing a
    CPU-dense stage (the shuffle-size heuristic can't see per-row
    compute). The salt sub-splits each block (A side salted by key, B
    side replicated across the salt space, explicit partition count the
    coalescer respects) — the pair space is unchanged but the DP work
    spreads over cores: 24 s → 1.0 s at sf0.1. Same prescription as the
    single-row-group lesson in SCALE.md: when compute, not bytes, is the
    bottleneck, partition for cores, not for data size."""
    _SALT = 8
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    a = p.select(
        F.col("p_partkey").alias("a_key"), F.col("p_brand").alias("brand"), F.col("p_name").alias("a_name")
    ).withColumn("salt", F.pmod("a_key", F.lit(_SALT)).cast("int"))
    # sequence(int, int) explodes to int; pmod(bigint) cast to match
    b = p.select(
        F.col("p_partkey").alias("b_key"), F.col("p_brand").alias("brand"), F.col("p_name").alias("b_name")
    ).withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))))
    return (
        a.repartition(64, "brand", "salt")
        .join(b, ["brand", "salt"])
        .filter(F.col("a_key") < F.col("b_key"))
        # measured: a |len(a)-len(b)|<=3 prefilter and the thresholded
        # levenshtein(a, b, 3) variant were BOTH slower here (names are
        # ~9 chars and near-uniform length, so the filter prunes nothing
        # and the banded DP's bookkeeping exceeds the full DP's cost);
        # with long strings (documents, URLs) prefer both guards
        .withColumn("dist", F.levenshtein("a_name", "b_name").cast("long"))
        .filter(F.col("dist") <= 3)
        .select("a_key", "b_key", "a_name", "b_name", "dist")
    )


@query(
    "ts_gap_fill",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hr,
                   count(*) AS n, sum(value) AS sv
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT min(date_trunc('hour', ts)) AS mn, max(date_trunc('hour', ts)) AS mx
            FROM events
        ),
        grid AS (
            SELECT t.event_type, g.hr
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
                        FROM bounds) g
        )
        SELECT grid.event_type, grid.hr,
               coalesce(h.n, 0) AS n_events,
               round(coalesce(h.sv, 0.0), 6) AS sum_value
        FROM grid LEFT JOIN hourly h
          ON grid.event_type = h.event_type AND grid.hr = h.hr
    """,
    family="curation",
    bnlj="hourly time spine (720 rows) crossJoined with the event types",
)
def ts_gap_fill(spark, sf_dir):
    """Dense time-series regularization: the hourly (event_type × hour)
    grid over the observed range with zero-filled gaps — the step that
    makes downstream window/lag arithmetic correct when some hours have
    no events (~7% of hours per type in this data). The hour spine is
    generated (sequence + explode) from a single-row min/max agg — never
    collected, broadcast into the cross join; the left join to actual
    counts shuffles on (type, hour), a bounded key space."""
    e = table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    hourly = (
        e.groupBy(F.col("event_type"), hr.alias("hr"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    )
    bounds = e.agg(F.min(hr).alias("mn"), F.max(hr).alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    return (
        grid.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_events"),
            F.round(F.coalesce(F.col("sv"), F.lit(0.0)), 6).alias("sum_value"),
        )
    )


@query(
    "compact_small_files",
    oracle="""
        SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY o_orderstatus
    """,
    family="curation",
)
def compact_small_files(spark, sf_dir):
    """The small-files compaction pattern: a fragmented table (64 tiny
    files — what streaming ingestion leaves behind) rewritten to a few
    right-sized files with coalesce (no shuffle — partitions merge
    in-place), then verified by aggregating the compacted copy against
    the source-of-truth oracle. At scale, target ~128MB-1GB per file and
    drive the coalesce factor from input bytes / target size; too many
    small files is the #1 silent scan-throughput killer on object
    stores."""
    base = staging_dir(prefix="smhs_compact_")
    frag, compact = base + "/fragmented", base + "/compacted"
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(compact)
    return (
        spark.read.parquet(compact)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "pipeline_curate",
    oracle="""
        WITH scored AS (
            SELECT doc_id, text, lang,
                   round(0.4 * ln(1 + n_chars) / ln(600.0)
                         + 0.3 * (1.0 - len(list_filter(string_split(lower(text), ' '),
                                                        t -> t IN ('the', 'a'))
                                          ) / CAST(len(string_split(text, ' ')) AS DOUBLE))
                         + 0.3 * (len(list_distinct(string_split(lower(text), ' ')))
                                  / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS quality
            FROM documents
        ),
        kept AS (SELECT * FROM scored WHERE quality >= 0.77)
        SELECT min(doc_id) AS keep_id, any_value(lang) AS lang,
               round(max(quality), 6) AS quality, count(*) AS n_copies
        FROM kept
        GROUP BY text
    """,
    family="curation",
)
def pipeline_curate(spark, sf_dir):
    """End-to-end corpus curation in ONE declarative plan: quality-score
    every document (same formula as text_quality), drop the low-quality
    tail (< 0.77 ≈ bottom half here), then exact-dedup the survivors
    keeping the min doc_id per text. This is the composition story — each
    stage is an operator that already exists standalone, and chaining
    them stays a single Catalyst plan: one scan, per-row scoring + filter
    (pushable, shuffle-free), one hash agg on the text key. At 100 TB the
    only shuffle is the dedup groupBy; the near-dup collapse
    (dedup_clusters) slots in after as a separate pass over survivors.

    `lang` uses any_value (all copies of identical text share metadata in
    this corpus is NOT assumed — any_value is explicitly order-insensitive
    only because the comparator sees one row per text either way; max
    would be equally valid)."""
    d = table(spark, sf_dir, "documents")
    toks_raw = F.split(F.col("text"), " ")
    toks = F.split(F.lower(F.col("text")), " ")
    n_toks = F.size(toks_raw).cast("double")
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    quality = F.round(
        0.4 * F.log(1 + F.col("n_chars")) / F.log(F.lit(600.0))
        + 0.3 * (1.0 - n_stop / n_toks)
        + 0.3 * (n_uniq / n_toks),
        6,
    )
    scored = d.select("doc_id", "text", "lang", quality.alias("quality"))
    return (
        scored.filter(F.col("quality") >= 0.77)
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.any_value("lang").alias("lang"),
            F.round(F.max("quality"), 6).alias("quality"),
            F.count("*").alias("n_copies"),
        )
        .drop("text")
    )


@query(
    "sample_deterministic",
    oracle="""
        SELECT o_orderpriority, o_orderkey
        FROM (
            SELECT o_orderpriority, o_orderkey,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
                   ) AS rn
            FROM orders
        )
        WHERE rn <= 10
    """,
    family="curation",
)
def sample_deterministic(spark, sf_dir):
    """Deterministic stratified k-sample: within each stratum take the 10
    rows with the smallest md5(key) — a uniform pseudo-random sample that
    is reproducible across runs, engines, partitionings, and data order
    (unlike sample()/TABLESAMPLE, whose output depends on partition
    layout). The md5 order is engine-neutral (train_test_split's hazard-6
    discipline); per-stratum top-k is the win_topk_group idiom, so each
    task keeps a 10-row heap — no global sort, no collect."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.md5(F.col("o_orderkey").cast("string").cast("binary")), "o_orderkey")
    )
    return (
        o.select("o_orderpriority", "o_orderkey", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("o_orderpriority", "o_orderkey")
    )


@query(
    "dq_checks",
    oracle="""
        SELECT * FROM (
            SELECT 'orders_pk_unique' AS check_name,
                   CAST(count(*) = count(DISTINCT o_orderkey) AS BOOLEAN) AS passed,
                   CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_bad
            FROM orders
            UNION ALL
            SELECT 'orders_custkey_not_null',
                   CAST(count(*) FILTER (WHERE o_custkey IS NULL) = 0 AS BOOLEAN),
                   count(*) FILTER (WHERE o_custkey IS NULL)
            FROM orders
            UNION ALL
            SELECT 'orders_fk_customer',
                   CAST(count(*) = 0 AS BOOLEAN), count(*)
            FROM orders o WHERE NOT EXISTS
                (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
            UNION ALL
            SELECT 'orders_price_positive',
                   CAST(count(*) FILTER (WHERE o_totalprice <= 0) = 0 AS BOOLEAN),
                   count(*) FILTER (WHERE o_totalprice <= 0)
            FROM orders
            UNION ALL
            SELECT 'lineitem_discount_range',
                   CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) = 0 AS BOOLEAN),
                   count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
            FROM lineitem
        )
    """,
    family="curation",
)
def dq_checks(spark, sf_dir):
    """Data-quality check suite (the Deequ/Great-Expectations pattern on
    plain DataFrames): primary-key uniqueness, not-null, referential
    integrity (orders→customer via anti-join), and two value-range
    constraints — one row per check with pass flag and violation count.
    Each check is a full-table aggregate or anti-join that Catalyst runs
    partial-agg/broadcast; in production the suite runs as ONE pass per
    table by fusing the per-table checks into a single multi-aggregate
    (as the orders checks here fuse), gating the pipeline before expensive
    downstream stages touch bad data."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")

    def row(name, passed, n_bad):
        return F.struct(
            F.lit(name).alias("check_name"),
            passed.alias("passed"),
            n_bad.cast("bigint").alias("n_bad"),
        )

    # orders-table checks fused into one aggregation pass
    orders_checks = o.agg(
        F.explode(
            F.array(
                row(
                    "orders_pk_unique",
                    F.count("*") == F.count_distinct("o_orderkey"),
                    F.count("*") - F.count_distinct("o_orderkey"),
                ),
                row(
                    "orders_custkey_not_null",
                    F.count_if(F.col("o_custkey").isNull()) == 0,
                    F.count_if(F.col("o_custkey").isNull()),
                ),
                row(
                    "orders_price_positive",
                    F.count_if(F.col("o_totalprice") <= 0) == 0,
                    F.count_if(F.col("o_totalprice") <= 0),
                ),
            )
        ).alias("r")
    ).select("r.*")
    fk_bad = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti").agg(
        F.count("*").alias("n")
    )
    fk_check = fk_bad.select(
        F.lit("orders_fk_customer").alias("check_name"),
        (F.col("n") == 0).alias("passed"),
        F.col("n").cast("bigint").alias("n_bad"),
    )
    li_check = li.agg(
        F.lit("lineitem_discount_range").alias("check_name"),
        (F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1)) == 0).alias("passed"),
        F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("bigint").alias("n_bad"),
    )
    return orders_checks.unionByName(fk_check).unionByName(li_check)


@query(
    "text_pii_scrub",
    oracle="""
        WITH synth AS (
            SELECT doc_id,
                   text || ' contact user' || doc_id || '@example.com or +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\+?[0-9][0-9()\\-\\s]{6,}[0-9]', '<PHONE>', 'g') AS clean,
               CAST(length(raw) - length(regexp_replace(raw, '@', '', 'g')) AS INTEGER) AS n_at_signs
        FROM synth
    """,
    family="curation",
)
def text_pii_scrub(spark, sf_dir):
    """PII scrubbing (the redaction stage every LLM training pipeline runs
    before tokenization): regex-redact emails then phone numbers to typed
    placeholder tags. The fixture corpus carries no PII, so deterministic
    synthetic PII (an email + phone derived from doc_id) is appended first
    and the oracle applies the identical rewrite — proving the redaction
    regexes behave identically cross-engine. Per-row, shuffle-free,
    whole-stage codegen; at 100 TB this is a map-only pass."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\+?[0-9][0-9()\-\s]{6,}[0-9]"
    clean = F.regexp_replace(F.regexp_replace(raw, email_re, "<EMAIL>"), phone_re, "<PHONE>")
    n_at = (F.length(raw) - F.length(F.regexp_replace(raw, "@", ""))).cast("int")
    return d.select("doc_id", clean.alias("clean"), n_at.alias("n_at_signs"))


_CONTAIN_TAU = 0.9


@query(
    "dedup_containment",
    oracle=f"""
        WITH ts AS (
            SELECT doc_id, list_sort(list_distinct(string_split(lower(text), ' '))) AS s
            FROM documents
            WHERE len(string_split(lower(text), ' ')) > 0
        ),
        pairs AS (
            SELECT a.doc_id AS a_id,
                   round(len(list_intersect(a.s, b.s)) / CAST(len(a.s) AS DOUBLE), 6) AS c
            FROM ts a JOIN ts b ON a.doc_id <> b.doc_id
            WHERE len(list_intersect(a.s, b.s)) / CAST(len(a.s) AS DOUBLE)
                  >= {_CONTAIN_TAU}
        ),
        agg AS (SELECT a_id, count(*) AS n, max(c) AS mx FROM pairs GROUP BY a_id)
        SELECT t.doc_id,
               coalesce(agg.n, 0) AS n_containers,
               coalesce(agg.n, 0) > 0 AS is_contained,
               agg.mx AS max_containment
        FROM ts t LEFT JOIN agg ON t.doc_id = agg.a_id
    """,
    family="curation",
    bnlj="G-row block-id spine (G=4) fanning set blocks into block pairs",
)
def dedup_containment(spark, sf_dir):
    """Near-SUBSET duplicate sweep: for each document, how many OTHER
    documents contain ≥ 90% of its distinct tokens (C(A→B) = |A∩B|/|A|),
    plus the max such containment — the asymmetric relation that catches
    quote / wrapper / boilerplate-envelope duplication symmetric Jaccard
    structurally under-scores (A ⊂ B has containment 1.0 at arbitrarily
    low Jaccard). A pipeline drops is_contained docs, keeping the
    supersets. Exact, not probabilistic, and the pair space NEVER
    reaches the output: identical sets collapse to representatives, a
    blocked float64 matmul produces every |A∩B| count (both directions
    per block pair in one kernel — see containment_rep_pairs), exact JVM
    rescore confirms candidates, and the count/max aggregate folds the
    rep-level pair stream down to one row per rep BEFORE membership
    expands it to one row per document. On this corpus that is the
    difference between 8.3M emitted pairs and a 5,000-row summary at
    sf0.1; the doc-level pair expansion stays available as
    smallvocab_containment_pairs for consumers that need it."""
    from spark_ml_helper_spark.functions.setsim import containment_rep_pairs
    from spark_ml_helper_spark.operators.text import _tokens

    d = table(spark, sf_dir, "documents")
    ts = d.select("doc_id", F.array_distinct(_tokens()).alias("elems"))
    rep_pairs, membership = containment_rep_pairs(ts, tau=_CONTAIN_TAU, out_col="c")
    counts = membership.groupBy("rep_id").agg(F.count("*").alias("n_docs"))
    # containers from OTHER reps: every member of rb contains every member
    # of ra, so rep rb contributes n_docs(rb) containers to each ra member
    ext = (
        rep_pairs.join(
            F.broadcast(counts).select(F.col("rep_id").alias("rb"), "n_docs"), "rb"
        )
        .groupBy("ra")
        .agg(F.sum("n_docs").alias("n_ext"), F.max("c").alias("mx_ext"))
    )
    # containers from the SAME rep: identical token sets contain each other
    # exactly (containment 1.0), so n_docs − 1 co-members each
    rep_summary = (
        counts.select(F.col("rep_id").alias("ra"), (F.col("n_docs") - 1).alias("n_own"))
        .join(ext, "ra", "left")
        .select(
            "ra",
            (F.coalesce("n_ext", F.lit(0).cast("bigint")) + F.col("n_own")).alias(
                "n_containers"
            ),
            F.when(F.col("n_own") > 0, F.round(F.lit(1.0), 6))
            .otherwise(F.col("mx_ext"))
            .alias("max_containment"),
        )
    )
    return membership.join(rep_summary, membership.rep_id == rep_summary.ra).select(
        "doc_id",
        "n_containers",
        (F.col("n_containers") > 0).alias("is_contained"),
        "max_containment",
    )


@query(
    "sample_weighted",
    oracle="""
        WITH k AS (
            SELECT doc_id, lang, n_chars,
                   pow((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        + 1.0) / 4294967296.0,
                       1.0 / n_chars) AS key
            FROM documents
        )
        SELECT doc_id, lang, n_chars, round(key, 6) AS samp_key
        FROM k ORDER BY key DESC, doc_id LIMIT 100
    """,
    family="curation",
)
def sample_weighted(spark, sf_dir):
    """Deterministic weighted k-sample (Efraimidis–Spirakis A-RES): each
    row draws u = md5-derived uniform in (0, 1] and keeps key = u^(1/w);
    the k largest keys are a sample without replacement with inclusion
    probability proportional to weight w — here w = n_chars, the
    length-proportional sampling a token-budgeted corpus draw wants
    (sampling DOCUMENTS uniformly under-represents long docs' tokens).
    The md5 base makes the draw reproducible across runs, engines,
    partitionings, and data order (train_test_split's hazard-6
    discipline), unlike rand()-keyed sampling. Plan: map-only key
    computation + TakeOrderedAndProject — every task keeps a k-row heap,
    no global sort, no shuffle beyond the k-row final merge; the sample
    of 100 TB costs one scan. For stratified weighted draws swap the
    global top-k for the win_topk_group idiom over the stratum key."""
    d = table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint")
        + 1.0
    ) / F.lit(4294967296.0)
    key = F.pow(u, 1.0 / F.col("n_chars"))
    return (
        d.select("doc_id", "lang", "n_chars", key.alias("key"))
        .orderBy(F.desc("key"), "doc_id")
        .limit(100)
        .select("doc_id", "lang", "n_chars", F.round("key", 6).alias("samp_key"))
    )


@query(
    "dq_psi_drift",
    oracle="""
        WITH binned AS (
            SELECT o_orderkey % 2 AS slice,
                   CAST(least(greatest(floor(o_totalprice / 50000.0), 0), 9) AS BIGINT) AS bucket
            FROM orders
        ),
        counts AS (
            SELECT bucket,
                   count(*) FILTER (WHERE slice = 0) AS n_ref,
                   count(*) FILTER (WHERE slice = 1) AS n_cur
            FROM binned GROUP BY bucket
        ),
        tot AS (
            SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM counts
        ),
        probs AS (
            SELECT bucket,
                   (n_ref + 1.0) / (t_ref + 10.0) AS p_ref,
                   (n_cur + 1.0) / (t_cur + 10.0) AS p_cur
            FROM counts CROSS JOIN tot
        )
        SELECT bucket,
               round(p_ref, 6) AS p_ref,
               round(p_cur, 6) AS p_cur,
               round((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS contrib,
               round(sum((p_cur - p_ref) * ln(p_cur / p_ref)) OVER (), 6) AS psi_total
        FROM probs
    """,
    family="curation",
)
def dq_psi_drift(spark, sf_dir):
    """Population Stability Index between two data slices — THE standard
    train/serve (or day-over-day) feature-drift monitor: bucket the
    feature identically in both slices, Laplace-smooth the per-bucket
    shares (so empty buckets stay finite), and sum
    (p_cur − p_ref)·ln(p_cur/p_ref). Rule of thumb: psi < 0.1 stable,
    0.1-0.25 drifting, > 0.25 investigate. Slices here are the
    deterministic o_orderkey parity split standing in for
    yesterday/today loads; the bucketing mirrors feature_bucketize.
    Plan: one scan → one (slice-free) 10-row grouped count with FILTER
    partials → broadcast-sized window for the total — drift monitoring
    at 100 TB is exactly this shape, one pass per feature batch, and
    the per-bucket counts are mergeable partial state (incremental
    across daily partitions for free)."""
    o = table(spark, sf_dir, "orders")
    bucket = (
        F.least(F.greatest(F.floor(F.col("o_totalprice") / 50000.0), F.lit(0)), F.lit(9))
        .cast("bigint")
        .alias("bucket")
    )
    counts = (
        o.select((F.col("o_orderkey") % 2).alias("slice"), bucket)
        .groupBy("bucket")
        .agg(
            F.count_if(F.col("slice") == 0).alias("n_ref"),
            F.count_if(F.col("slice") == 1).alias("n_cur"),
        )
    )
    tot = Window.partitionBy()
    p_ref = (F.col("n_ref") + 1.0) / (F.sum("n_ref").over(tot) + 10.0)
    p_cur = (F.col("n_cur") + 1.0) / (F.sum("n_cur").over(tot) + 10.0)
    contrib = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return counts.select(
        "bucket",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round(contrib, 6).alias("contrib"),
        F.round(F.sum(contrib).over(tot), 6).alias("psi_total"),
    )


@query(
    "dq_k_anonymity",
    oracle="""
        WITH g AS (
            SELECT c_nationkey, c_mktsegment, count(*) AS sz
            FROM customer GROUP BY 1, 2
        )
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(sz) AS BIGINT) AS k_anonymity,
               CAST(count(*) FILTER (WHERE sz < 5) AS BIGINT)
                   AS n_groups_below_5,
               CAST(coalesce(sum(sz) FILTER (WHERE sz < 5), 0) AS BIGINT)
                   AS n_rows_at_risk,
               round(coalesce(sum(sz) FILTER (WHERE sz < 5), 0) * 1.0
                     / sum(sz), 6) AS frac_at_risk
        FROM g
    """,
    family="curation",
)
def dq_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the (nation, market-segment)
    quasi-identifier pair: the minimum equivalence-class size IS the
    table's k, plus how many classes (and rows) fall below the k=5
    release threshold — the privacy gate run before sharing any
    row-level extract, complementing text_pii_scrub's content-level
    scrub. One map-side-combining hash agg to the QI-combination frame
    (≤ |nations|×|segments| rows at any scale), then a 1-row fold —
    exact integers throughout. At 100 TB the QI frame is still tiny;
    the only cost is the one corpus scan."""
    c = table(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("sz"))
    at_risk = F.sum(F.when(F.col("sz") < 5, F.col("sz")))
    return g.agg(
        F.count("*").alias("n_groups"),
        F.min("sz").alias("k_anonymity"),
        F.count(F.when(F.col("sz") < 5, 1)).alias("n_groups_below_5"),
        F.coalesce(at_risk, F.lit(0)).alias("n_rows_at_risk"),
        F.round(F.coalesce(at_risk, F.lit(0)) * 1.0 / F.sum("sz"), 6).alias(
            "frac_at_risk"
        ),
    )


@query(
    "anon_l_diversity",
    oracle="""
        WITH cells AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS sens,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM customer GROUP BY 1, 2, 3
        ),
        cls AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS l_distinct,
                   CAST(sum(cnt) AS BIGINT) AS sz,
                   CAST(max(cnt) AS BIGINT) AS top_cnt
            FROM cells GROUP BY 1, 2
        )
        SELECT CAST(count(*) AS BIGINT) AS n_classes,
               CAST(min(l_distinct) AS BIGINT) AS l_diversity,
               CAST(count(*) FILTER (WHERE l_distinct < 3) AS BIGINT)
                   AS n_classes_below_3,
               CAST(coalesce(sum(sz) FILTER (WHERE l_distinct < 3), 0)
                    AS BIGINT) AS n_rows_below_3,
               round(max(top_cnt * 1.0 / sz), 6) AS worst_class_share
        FROM cls
    """,
    family="curation",
)
def anon_l_diversity(spark, sf_dir):
    """l-diversity audit — the companion gate to dq_k_anonymity's k:
    a class can be large (k-anonymous) yet still leak if every member
    shares one SENSITIVE value, so per (nation, market-segment)
    equivalence class we count DISTINCT sensitive values (account-
    balance band, $2000 buckets) — the table's l is the minimum — plus
    the classes/rows failing the l=3 release bar and the worst
    homogeneity share max(top sensitive count / class size), which is
    the min-entropy form of the same audit (−log of that share).
    Machado/Kifer-style disclosure checks reduce to these two numbers.
    Shape: one map-side-combining hash agg to the (QI, sensitive-band)
    cell frame, a second agg to the class frame (≤ nations×segments
    rows), then a 1-row fold — exact integers plus one 6-dp ratio of
    integers; at 100 TB the only cost is the single corpus scan, same
    as dq_k_anonymity."""
    c = table(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0).alias("sens"),
    ).agg(F.count("*").alias("cnt"))
    cls = cells.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("l_distinct"),
        F.sum("cnt").alias("sz"),
        F.max("cnt").alias("top_cnt"),
    )
    below = F.col("l_distinct") < 3
    return cls.agg(
        F.count("*").alias("n_classes"),
        F.min("l_distinct").alias("l_diversity"),
        F.count(F.when(below, 1)).alias("n_classes_below_3"),
        F.coalesce(F.sum(F.when(below, F.col("sz"))), F.lit(0)).alias(
            "n_rows_below_3"
        ),
        F.round(F.max(F.col("top_cnt") * 1.0 / F.col("sz")), 6).alias(
            "worst_class_share"
        ),
    )


@query(
    "dq_reconcile",
    oracle="""
        WITH snap AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 100 = 0
                        THEN o_totalprice + 10.0
                        ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % 97 <> 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_totalprice
            FROM orders WHERE o_orderkey % 101 = 0
        ),
        j AS (
            SELECT a.o_orderkey AS lk, b.o_orderkey AS rk,
                   a.o_totalprice AS lv, b.o_totalprice AS rv
            FROM orders a FULL JOIN snap b ON a.o_orderkey = b.o_orderkey
        )
        SELECT CAST(count(*) FILTER (WHERE lk IS NOT NULL) AS BIGINT) AS n_left,
               CAST(count(*) FILTER (WHERE rk IS NOT NULL) AS BIGINT) AS n_right,
               CAST(count(*) FILTER (WHERE lk IS NOT NULL AND rk IS NOT NULL
                                       AND lv = rv) AS BIGINT) AS n_same,
               CAST(count(*) FILTER (WHERE lk IS NOT NULL AND rk IS NOT NULL
                                       AND lv <> rv) AS BIGINT) AS n_changed,
               CAST(count(*) FILTER (WHERE rk IS NULL) AS BIGINT) AS n_only_left,
               CAST(count(*) FILTER (WHERE lk IS NULL) AS BIGINT) AS n_only_right
        FROM j
    """,
    family="curation",
)
def dq_reconcile(spark, sf_dir):
    """Snapshot reconciliation report — the diff-two-table-versions
    audit run after every migration/backfill: row counts on both
    sides, matched-and-identical, matched-but-changed, and the two
    only-in-one-side tails, in ONE full-outer join + one fold. The
    "new snapshot" is synthesized deterministically from orders (drop
    keys ≡0 mod 97, bump price +10.00 on keys ≡0 mod 100, insert
    shifted copies of keys ≡0 mod 101) so both engines reconcile
    identical inputs; the value comparison is double equality on
    identical arithmetic — bit-reproducible. At 100 TB the full-outer
    join shuffles both sides once on the key (bucket both snapshots by
    the key to skip even that), and comparing wide rows means hashing
    the non-key columns (md5 of a canonical concat — the scalar-digest
    discipline of SCALE.md lesson 3) instead of column-by-column
    predicates."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    snap = (
        o.where(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 100 == 0, F.col("o_totalprice") + 10.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionAll(
            o.where(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    a = o.select(F.col("o_orderkey").alias("lk"), F.col("o_totalprice").alias("lv"))
    b = snap.select(F.col("o_orderkey").alias("rk"), F.col("o_totalprice").alias("rv"))
    j = a.join(b, a.lk == b.rk, "full")
    both = F.col("lk").isNotNull() & F.col("rk").isNotNull()
    return j.agg(
        F.count(F.when(F.col("lk").isNotNull(), 1)).alias("n_left"),
        F.count(F.when(F.col("rk").isNotNull(), 1)).alias("n_right"),
        F.count(F.when(both & (F.col("lv") == F.col("rv")), 1)).alias("n_same"),
        F.count(F.when(both & (F.col("lv") != F.col("rv")), 1)).alias("n_changed"),
        F.count(F.when(F.col("rk").isNull(), 1)).alias("n_only_left"),
        F.count(F.when(F.col("lk").isNull(), 1)).alias("n_only_right"),
    )


@query(
    "dq_outlier_iqr",
    oracle="""
        WITH v AS (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS xc
            FROM orders
        ),
        q AS (
            SELECT quantile_cont(xc, 0.25) AS q1,
                   quantile_cont(xc, 0.75) AS q3
            FROM v
        ),
        fences AS (
            SELECT q1, q3, q3 - q1 AS iqr,
                   q1 - 1.5 * (q3 - q1) AS lo,
                   q3 + 1.5 * (q3 - q1) AS hi
            FROM q
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               round(q1 / 100.0, 4) AS q1,
               round(q3 / 100.0, 4) AS q3,
               CAST(count(*) FILTER (WHERE xc < lo) AS BIGINT) AS n_low,
               CAST(count(*) FILTER (WHERE xc > hi) AS BIGINT) AS n_high,
               round((count(*) FILTER (WHERE xc < lo OR xc > hi)) * 1.0
                     / count(*), 6) AS outlier_rate
        FROM v CROSS JOIN fences
        GROUP BY q1, q3, lo, hi
    """,
    family="curation",
    bnlj="1-row quartile fences broadcast onto the values",
)
def dq_outlier_iqr(spark, sf_dir):
    """Tukey-fence outlier audit (IQR rule: outside [Q1−1.5·IQR,
    Q3+1.5·IQR]) on order totals — the third classic detector
    alongside the z-score (events_anomaly) and MAD
    (events_anomaly_mad) families, and the one most dashboards mean
    by "outliers". Quartiles interpolate over EXACT INTEGER CENTS
    (identical inputs → identical doubles both engines), the fences
    are identical arithmetic on those doubles, and the fence
    comparisons test exact integers against identical doubles — so
    the counts are bit-stable. One exact-percentile aggregate (1-row
    broadcast back) + one counting pass; at 100 TB swap the exact
    quantiles for approx_percentile and the second pass disappears
    into the same scan."""
    o = table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 100).cast("bigint").alias("xc"))
    q = v.agg(
        F.percentile("xc", 0.25).alias("q1"), F.percentile("xc", 0.75).alias("q3")
    )
    iqr = F.col("q3") - F.col("q1")
    fences = q.select(
        "q1", "q3", (F.col("q1") - 1.5 * iqr).alias("lo"), (F.col("q3") + 1.5 * iqr).alias("hi")
    )
    return (
        v.join(F.broadcast(fences))
        .groupBy("q1", "q3", "lo", "hi")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("xc") < F.col("lo"), 1)).alias("n_low"),
            F.count(F.when(F.col("xc") > F.col("hi"), 1)).alias("n_high"),
            F.round(
                F.count(
                    F.when((F.col("xc") < F.col("lo")) | (F.col("xc") > F.col("hi")), 1)
                )
                * 1.0
                / F.count("*"),
                6,
            ).alias("outlier_rate"),
        )
        .select(
            "n_rows",
            F.round(F.col("q1") / 100.0, 4).alias("q1"),
            F.round(F.col("q3") / 100.0, 4).alias("q3"),
            "n_low",
            "n_high",
            "outlier_rate",
        )
    )


@query(
    "anon_generalize",
    oracle="""
        WITH g AS (
            SELECT c_nationkey // 5 AS nation_band,
                   c_mktsegment,
                   CASE WHEN c_acctbal < 0 THEN 'neg'
                        WHEN c_acctbal < 5000 THEN 'low'
                        ELSE 'high' END AS bal_band,
                   count(*) AS sz
            FROM customer
            GROUP BY 1, 2, 3
        )
        SELECT CAST(nation_band AS BIGINT) AS nation_band,
               c_mktsegment, bal_band,
               CAST(sz AS BIGINT) AS group_size,
               CAST(sz >= 5 AS BOOLEAN) AS k5_ok
        FROM g
    """,
    family="curation",
)
def anon_generalize(spark, sf_dir):
    """k-anonymity REPAIR by generalization — the fix that follows
    dq_k_anonymity's audit: coarsen the quasi-identifiers (nations →
    5-nation bands, balance → 3 coarse bands) until equivalence
    classes clear the k=5 floor, and report each generalized class
    with its pass flag. Generalization trades utility for privacy
    monotonically — band widths are the dials, and the audit→repair
    loop re-runs this with wider bands until every k5_ok is true
    (here the chosen lattice level already clears it, asserted in
    tests). One hash agg on the generalized keys; band assignment is
    exact integer division and a 2-dp-grid comparison (5000.00 is on
    the money grid — no boundary drift). Same single-scan shape at
    any scale."""
    c = table(spark, sf_dir, "customer")
    bal_band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return (
        c.groupBy(
            F.floor(F.col("c_nationkey") / 5).cast("bigint").alias("nation_band"),
            "c_mktsegment",
            bal_band.alias("bal_band"),
        )
        .agg(F.count("*").alias("group_size"))
        .withColumn("k5_ok", F.col("group_size") >= 5)
    )


@query(
    "dq_split_leakage",
    oracle="""
        WITH split AS (
            SELECT vec_id, embedding,
                   (('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                    % 100) < 80 AS is_train
            FROM embeddings
        ),
        sides AS (
            SELECT embedding,
                   CAST(count(*) FILTER (WHERE is_train) AS BIGINT) AS n_train_side,
                   CAST(count(*) FILTER (WHERE NOT is_train) AS BIGINT) AS n_test_side
            FROM split GROUP BY embedding
        )
        SELECT CAST(sum(n_train_side) AS BIGINT) AS n_train,
               CAST(sum(n_test_side) AS BIGINT) AS n_test,
               CAST(count(*) FILTER (WHERE n_train_side > 0 AND n_test_side > 0)
                    AS BIGINT) AS n_leaked_contents,
               CAST(coalesce(sum(n_test_side) FILTER (
                    WHERE n_train_side > 0 AND n_test_side > 0), 0) AS BIGINT)
                   AS n_test_rows_leaked
        FROM sides
    """,
    family="curation",
)
def dq_split_leakage(spark, sf_dir):
    """Train/test LEAKAGE audit: after the standard md5 80/20 split
    (train_test_split's idiom, keyed on vec_id), count distinct
    CONTENTS (byte-identical embeddings) that appear on BOTH sides —
    the contamination that silently inflates every eval metric, and
    invisible to the split itself because splitting by id cannot see
    duplicate content (the same failure corpus_decontaminate catches
    between train and benchmarks, here caught INSIDE one dataset).
    One hash agg on the content (at 100 TB: on xxhash64 of the bytes
    — dedup_exact's digest rule) with per-side conditional counts,
    one fold. Exact integers; the repair is dedup-BEFORE-split
    (dedup_embedding_exact), which this audit verifies."""
    e = table(spark, sf_dir, "embeddings")
    is_train = (
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 8),
                16,
                10,
            ).cast("bigint"),
            F.lit(100),
        )
        < 80
    )
    sides = (
        e.select("embedding", is_train.alias("is_train"))
        .groupBy("embedding")
        .agg(
            F.count(F.when(F.col("is_train"), 1)).alias("n_train_side"),
            F.count(F.when(~F.col("is_train"), 1)).alias("n_test_side"),
        )
    )
    leaked = (F.col("n_train_side") > 0) & (F.col("n_test_side") > 0)
    return sides.agg(
        F.sum("n_train_side").alias("n_train"),
        F.sum("n_test_side").alias("n_test"),
        F.count(F.when(leaked, 1)).alias("n_leaked_contents"),
        F.coalesce(F.sum(F.when(leaked, F.col("n_test_side"))), F.lit(0)).alias(
            "n_test_rows_leaked"
        ),
    )


@query(
    "dq_benford",
    oracle="""
        WITH digits AS (
            SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                       AS VARCHAR), 1, 1) AS INT) AS d
            FROM orders WHERE o_totalprice > 0
        ),
        counts AS (
            SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d
        ),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts)
        SELECT d AS leading_digit, n,
               round(n * 1.0 / t, 6) AS observed_freq,
               round(log10(1.0 + 1.0 / d), 6) AS benford_freq,
               round(n * 1.0 / t - log10(1.0 + 1.0 / d), 6) AS deviation
        FROM counts CROSS JOIN tot
    """,
    family="curation",
    bnlj="1-row total count broadcast onto the leading-digit counts",
)
def dq_benford(spark, sf_dir):
    """Benford's-law audit on order totals: the leading-digit
    distribution vs log10(1+1/d) — the forensic-accounting screen for
    fabricated or tampered amounts (organic multiplicative data
    follows Benford; invented numbers over-use middle digits). The
    leading digit is extracted from the INTEGER CENTS STRING — no
    float log/pow anywhere near the classification, so digit counts
    are exact and bit-stable (scaling by 100 preserves the leading
    digit); only the reference frequencies are (identical-constant)
    float arithmetic. One map-side-combining agg on 9 keys + a 1-row
    total broadcast. Caveat the docstring owes every user: Benford
    applies to wide-dynamic-range organic data — bounded or assigned
    quantities (IDs, prices from a fixed menu) legitimately deviate,
    so deviations select WHAT TO INSPECT, never prove fraud."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    benford = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        counts.join(F.broadcast(tot))
        .select(
            F.col("d").alias("leading_digit"),
            "n",
            F.round(F.col("n") * 1.0 / F.col("t"), 6).alias("observed_freq"),
            F.round(benford, 6).alias("benford_freq"),
            F.round(F.col("n") * 1.0 / F.col("t") - benford, 6).alias("deviation"),
        )
    )


@query(
    "dq_expectations",
    oracle="""
        WITH ref AS (
            SELECT count(*) AS n_orphans FROM orders o
            WHERE NOT EXISTS (
                SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
            )
        ),
        base AS (
            SELECT count(*) AS n,
                   sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS null_key,
                   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
                   count(*) - count(DISTINCT o_orderkey) AS dup_keys,
                   sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
                   sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                            THEN 1 ELSE 0 END) AS bad_status,
                   sum(CASE WHEN o_orderdate < DATE '1995-01-01'
                             OR o_orderdate > DATE '2001-12-31'
                            THEN 1 ELSE 0 END) AS bad_date
            FROM orders
        )
        SELECT * FROM (
            SELECT 'orderkey_not_null' AS expectation, n AS n_checked,
                   CAST(null_key AS BIGINT) AS n_failed,
                   null_key = 0 AS pass FROM base
            UNION ALL
            SELECT 'custkey_not_null', n, CAST(null_cust AS BIGINT),
                   null_cust = 0 FROM base
            UNION ALL
            SELECT 'orderkey_unique', n, CAST(dup_keys AS BIGINT),
                   dup_keys = 0 FROM base
            UNION ALL
            SELECT 'totalprice_positive', n, CAST(bad_price AS BIGINT),
                   bad_price = 0 FROM base
            UNION ALL
            SELECT 'status_in_domain', n, CAST(bad_status AS BIGINT),
                   bad_status = 0 FROM base
            UNION ALL
            SELECT 'orderdate_in_range', n, CAST(bad_date AS BIGINT),
                   bad_date = 0 FROM base
            UNION ALL
            SELECT 'custkey_references_customer', n,
                   CAST(r.n_orphans AS BIGINT), r.n_orphans = 0
            FROM base CROSS JOIN ref r
        )
    """,
    family="curation",
    bnlj="1-row orphan count crossJoined onto the 1-row check frame",
)
def dq_expectations(spark, sf_dir):
    """Expectation-suite data-quality audit (the Great-Expectations /
    dbt-test shape): seven declarative assertions over orders —
    not-null keys, primary-key uniqueness, positive money, a value
    domain, a date range, and CROSS-TABLE referential integrity
    against customer — each reported as (expectation, n_checked,
    n_failed, pass) so a pipeline gate can fail on any row with
    pass = false. All six single-table checks fuse into ONE
    conditional-aggregate scan (no per-check rescans — the same fused
    multi-aggregate pattern pipeline_daily_kpis uses); the
    referential check is a broadcast anti-join count against the dim
    table. Exact integer arithmetic throughout — no rounding hazards.
    At 100 TB this is the nightly gate before a snapshot is
    published: one fact scan + one broadcast, both partial-agg
    friendly, and the expectation list extends by adding columns to
    the same scan, not new jobs."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    orphans = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").alias("n_orphans"))
    )
    base = o.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("null_key"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("null_cust"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_keys"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("bad_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("bad_status"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1995-01-01").cast("date"))
                | (F.col("o_orderdate") > F.lit("2001-12-31").cast("date")),
                1,
            ).otherwise(0)
        ).alias("bad_date"),
    )
    b = base.crossJoin(F.broadcast(orphans))
    checks = [
        ("orderkey_not_null", "null_key"),
        ("custkey_not_null", "null_cust"),
        ("orderkey_unique", "dup_keys"),
        ("totalprice_positive", "bad_price"),
        ("status_in_domain", "bad_status"),
        ("orderdate_in_range", "bad_date"),
        ("custkey_references_customer", "n_orphans"),
    ]
    # ONE generate over an array of check structs — a 7-way union of
    # selects over `b` would re-evaluate the aggregate subtree per branch
    return b.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("expectation"),
                        F.col("n").alias("n_checked"),
                        F.col(col).cast("bigint").alias("n_failed"),
                        (F.col(col) == 0).alias("pass"),
                    )
                    for name, col in checks
                ]
            )
        ).alias("e")
    ).select("e.expectation", "e.n_checked", "e.n_failed", "e.pass")


_DSIR_TARGET_SRC = "src0"  # the "high-quality target domain" exemplar pool
_DSIR_KEEP_Q = 0.75  # admit the top quartile by importance score


@query(
    "corpus_importance_resample",
    oracle=f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, source = '{_DSIR_TARGET_SRC}' AS is_t,
                   unnest(string_split(lower(text), ' ')) AS t
            FROM documents
        ),
        vocab AS MATERIALIZED (
            SELECT t,
                   count(*) FILTER (is_t) AS ct,
                   count(*) FILTER (NOT is_t) AS cr
            FROM toks GROUP BY t
        ),
        tot AS (
            SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr,
                   CAST(count(*) AS BIGINT) AS v
            FROM vocab
        ),
        probs AS MATERIALIZED (
            SELECT t,
                   round(ln((ct + 1.0) / (tot.nt + tot.v))
                         - ln((cr + 1.0) / (tot.nr + tot.v)), 9) AS lr
            FROM vocab CROSS JOIN tot
        ),
        sums AS (
            SELECT k.doc_id, sum(CAST(round(p.lr * 1e9) AS BIGINT)) AS s,
                   CAST(count(*) AS BIGINT) AS n_tokens
            FROM toks k JOIN probs p ON p.t = k.t
            WHERE NOT k.is_t GROUP BY k.doc_id
        ),
        scores AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN s < 0 THEN -1 ELSE 1 END
                   * ((2 * abs(s) + 1000 * n_tokens) // (2000 * n_tokens))
                   / 1e6 AS score,
                   n_tokens
            FROM sums
        ),
        th AS (SELECT quantile_cont(score, {_DSIR_KEEP_Q}) AS th FROM scores)
        SELECT s.doc_id, s.score, s.n_tokens, s.score >= t.th AS admitted
        FROM scores s CROSS JOIN th t
    """,
    family="curation",
    bnlj="1-row token total and 1-row score threshold crossJoined back",
)
def corpus_importance_resample(spark, sf_dir):
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every pool document by how much its unigram distribution looks like
    a TARGET domain (here the '{src0}' source as the exemplar pool) and
    admit the top quartile. Per-token importance log-ratio
    lr(t) = ln p_target(t) - ln p_pool(t) with add-1 smoothing over the
    SHARED vocabulary (exact integer counts, so the ratios are
    bit-identical rationals on both engines before the ulp-level ln),
    PRE-ROUNDED at 9 dp so every summand of the per-doc mean sits on a
    shared cross-engine grid — without this the 6 dp score round
    coarsens an engine-order-dependent double sum, the exact hazard
    class the Holt hypothesis sweeps measured at ~1e-3/value
    (sim_pq_adc's r7 fix; r8 ADVICE);
    per-doc score = mean lr over its token OCCURRENCES, rounded half
    away from zero at 6 dp. The mean is taken EXACTLY, as an integer
    sum of lr·1e9 divided in integer arithmetic: a mean of 9 dp values
    can land exactly on a 6 dp tie (lr = -0.251314428, -0.117783036,
    -0.117783036 → -0.1622935), where a double avg rounds either way
    depending on the summation order;
    threshold = exact interpolated 75th percentile of the rounded
    scores (Spark percentile == DuckDB quantile_cont — the
    agg_percentile pairing), compared on the rounded grid.

    Scale design: ONE corpus scan builds the token counts (map-side
    partial agg keyed by token — the vocabulary, not the corpus, is the
    group space); the lr table is vocabulary-bounded and BROADCAST into
    the scoring join, so scoring is a map-side pass over the token
    stream with one per-doc avg shuffle; the threshold is one scalar
    agg. At 100 TB swap the exact percentile for approx_percentile and
    the admit rule for a per-doc deterministic hash lottery with
    p ∝ exp(score) (true DSIR sampling) — the scan/broadcast shape is
    unchanged. Admission is NOT dedup: this selects for domain match;
    run it after the dedup stages (pipeline_curate ordering)."""
    d = table(spark, sf_dir, "documents").repartition("doc_id")
    toks = d.select(
        "doc_id",
        (F.col("source") == _DSIR_TARGET_SRC).alias("is_t"),
        F.explode(F.split(F.lower("text"), " ")).alias("t"),
    )
    vocab = toks.groupBy("t").agg(
        F.count(F.when(F.col("is_t"), 1)).alias("ct"),
        F.count(F.when(~F.col("is_t"), 1)).alias("cr"),
    )
    tot = vocab.agg(
        F.sum("ct").cast("bigint").alias("nt"),
        F.sum("cr").cast("bigint").alias("nr"),
        F.count("*").cast("bigint").alias("v"),
    )
    probs = vocab.crossJoin(F.broadcast(tot)).select(
        "t",
        F.round(
            F.log((F.col("ct") + 1.0) / (F.col("nt") + F.col("v")))
            - F.log((F.col("cr") + 1.0) / (F.col("nr") + F.col("v"))),
            9,
        ).alias("lr"),
    )
    sums = (
        toks.filter(~F.col("is_t"))
        .join(F.broadcast(probs), "t")
        .groupBy("doc_id")
        .agg(
            F.sum(F.round(F.col("lr") * 1e9).cast("bigint")).alias("s"),
            F.count("*").cast("bigint").alias("n_tokens"),
        )
    )
    q = F.expr("(2 * abs(s) + 1000 * n_tokens) div (2000 * n_tokens)")
    scores = sums.select(
        "doc_id",
        (F.when(F.col("s") < 0, -q).otherwise(q) / 1e6).alias("score"),
        "n_tokens",
    )
    th = scores.agg(F.percentile("score", _DSIR_KEEP_Q).alias("th"))
    return scores.crossJoin(F.broadcast(th)).select(
        "doc_id", "score", "n_tokens", (F.col("score") >= F.col("th")).alias("admitted")
    )
