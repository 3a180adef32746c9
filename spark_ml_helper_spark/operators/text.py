"""Text-analysis + deduplication operators — SURVEY.md §2.I (text half).

The training-data-pipeline surface: tokenize → n-grams → term stats →
TF-IDF → exact/near dedup. Tokenization is native split (JVM); TF-IDF is
implemented natively (exact, oracle-checkable) instead of MLlib HashingTF
(hash-bucketed, not comparable). Near-dup has two forms: the exact
quadratic Jaccard (ground truth at test scale) and MinHash-LSH (the 100 TB
path — sublinear candidate generation; its recall is measured against the
exact twin in tests).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.functions.canon import join_str_array
from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table


def _tokens(col="text"):
    return F.split(F.lower(F.col(col)), " ")


@query(
    "text_tokenize",
    oracle="""
        SELECT doc_id, array_to_string(string_split(lower(text), ' '), '|') AS toks
        FROM documents
    """,
    family="text",
)
def text_tokenize(spark, sf_dir):
    """Lowercase + whitespace tokenization (per-row, shuffle-free); token
    array serialized '|'-joined for the driver comparator (canon.py)."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", join_str_array(_tokens()).alias("toks")
    )


@query(
    "text_ngrams",
    oracle="""
        SELECT doc_id,
               array_to_string(list_transform(
                   range(1, len(string_split(lower(text), ' '))),
                   i -> string_split(lower(text), ' ')[i] || ' ' || string_split(lower(text), ' ')[i + 1]
               ), '|') AS bigrams
        FROM documents
    """,
    family="text",
)
def text_ngrams(spark, sf_dir):
    """Word bigrams via sequence+transform (Spark array indexing is 0-based
    in SQL expressions; guarded for <2-token docs where sequence() would
    reverse); bigram array serialized '|'-joined (canon.py)."""
    d = table(spark, sf_dir, "documents").select("doc_id", _tokens().alias("toks"))
    bigrams = F.when(F.size("toks") < 2, F.expr("cast(array() as array<string>)")).otherwise(
        F.expr("transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))")
    )
    return d.select("doc_id", join_str_array(bigrams).alias("bigrams"))


@query(
    "text_wordcount",
    oracle="""
        SELECT token, count(*) AS n
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        GROUP BY token
    """,
    family="text",
    max_exchanges=1,
)
def text_wordcount(spark, sf_dir):
    """Corpus term frequencies (explode → hash agg; the shuffle carries one
    row per distinct term per map task thanks to partial aggregation)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


@query(
    "text_stats",
    oracle="""
        SELECT lang, source,
               count(*) AS n_docs,
               round(avg(n_chars), 6) AS avg_chars,
               round(avg(len(string_split(text, ' '))), 6) AS avg_toks
        FROM documents
        GROUP BY lang, source
    """,
    family="text",
)
def text_stats(spark, sf_dir):
    """Per-(lang, source) document statistics."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size(F.split(F.col("text"), " ")).cast("bigint")), 6).alias("avg_toks"),
    )


@query(
    "text_tfidf",
    oracle="""
        WITH tf AS (
            SELECT doc_id, token AS term, count(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
            GROUP BY doc_id, token
        ),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.term, tf.tf,
               round(tf.tf * (ln((n.n_docs + 1.0) / (dft.df + 1.0)) + 1.0), 6) AS score
        FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n
    """,
    family="text",
    bnlj="1-row doc count crossJoined onto the term frequencies",
)
def text_tfidf(spark, sf_dir):
    """Exact TF-IDF per (doc, term): tf · (ln((N+1)/(df+1)) + 1) — smoothed
    idf, sklearn-style. Native implementation (not HashingTF) so the scores
    are exact and oracle-checkable. Plan: one explode + two hash aggs + a
    broadcast join on term stats + a 1-row broadcast for N — two shuffles
    total, both on bounded-cardinality keys (vocab size, not corpus size)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
            ).alias("score"),
        )
    )


@query(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents
        GROUP BY text
    """,
    family="text",
    max_exchanges=1,
)
def dedup_exact(spark, sf_dir):
    """Exact text dedup: group identical texts, keep the min doc_id.
    Scale note: at 100 TB you group on md5/sha2(text) (fixed 16/32-byte
    shuffle key) rather than the full text; grouping by the digest is
    exact dedup for all practical purposes (collision ~2⁻⁶⁴)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select(F.md5(F.col("text").cast("binary")).alias("text_hash"), "keep_id", "n_copies")
    )


@query(
    "dedup_jaccard",
    oracle="""
        WITH ts AS (
            SELECT doc_id, list_sort(list_distinct(string_split(lower(text), ' '))) AS tokset
            FROM documents
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round(
                   CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
                   / (len(a.tokset) + len(b.tokset) - len(list_intersect(a.tokset, b.tokset))),
                   6
               ) AS jac
        FROM ts a JOIN ts b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
              / (len(a.tokset) + len(b.tokset) - len(list_intersect(a.tokset, b.tokset))) >= 0.8
    """,
    family="text",
)
def dedup_jaccard(spark, sf_dir):
    """Exact Jaccard-similar pairs (token-set similarity ≥ 0.8) — the
    ground truth that dedup_minhash's LSH recall is measured against.
    EXACT but not brute-force: PPJoin-style prefix filtering
    (functions.setsim) generates candidates from rarest-token posting
    lists with zero false negatives, so the result is identical to the
    quadratic oracle at a fraction of the pair comparisons (207 s → ~8 s
    at sf0.1). dedup_minhash remains the probabilistic-recall twin for
    scales where even prefix-filtered exactness is too expensive."""
    from spark_ml_helper_spark.functions.setsim import exact_jaccard_pairs

    # repartition: single-row-group fixture → 1 scan task (see the
    # dedup_ngram note); spread tokenize+md5 across cores
    d = table(spark, sf_dir, "documents").repartition("doc_id")
    ts = d.select("doc_id", F.array_distinct(_tokens()).alias("elems"))
    return exact_jaccard_pairs(ts, tau=0.8, out_col="jac")


# Native banded MinHash-LSH. 40 signature rows, 8 bands × 5 rows: a pair is
# a candidate iff ALL 5 sig rows of some band agree (AND-amplification), so
# P(candidate | jaccard j) = 1 - (1 - j⁵)⁸ — ≈ 0.96 at the j=0.8 threshold
# (higher above it), ≈ 0.03 at j=0.5. MLlib's MinHashLSH amplifies with OR
# only (bands of width 1), which on a highly-self-similar corpus makes
# nearly EVERY pair a candidate — measured: it wedged single-threaded for
# >10 min at sf0.1 where this banded form finishes in seconds. Token hashes
# are md5-derived (engine-neutral); permutations are fixed (a·h+b) mod p
# with seeded constants.
_MINHASH_P = 2147483647  # 2^31 - 1; (p-1)² < 2^63, so a·h+b stays in int64
_MINHASH_K = 40
_MINHASH_BAND_ROWS = 5
_VOCAB_SIZE_CACHE: dict[str, int] = {}  # corpus path → distinct-token count


def _minhash_params() -> list[tuple[int, int]]:
    import random

    rng = random.Random(42)
    return [(rng.randint(1, _MINHASH_P - 1), rng.randint(0, _MINHASH_P - 1)) for _ in range(_MINHASH_K)]


def _minhash_sigs_expr() -> str:
    params = ", ".join(f"named_struct('a', {a}L, 'b', {b}L)" for a, b in _minhash_params())
    return f"""
        transform(array({params}), s ->
            array_min(transform(tok_hashes, t -> (s.a * t + s.b) % {_MINHASH_P}L)))
    """


def _minhash_band_expr() -> str:
    """Banding of a ``sigs`` column: n_bands (band_no, band_val) structs,
    band_val = the polynomial fold of that band's signature slice (the
    same fold the DuckDB oracles replay with a 0-seeded list_reduce)."""
    n_bands = _MINHASH_K // _MINHASH_BAND_ROWS
    return f"""transform(sequence(0, {n_bands - 1}), j -> named_struct(
                   'band_no', j,
                   'band_val', aggregate(slice(sigs, j * {_MINHASH_BAND_ROWS} + 1, {_MINHASH_BAND_ROWS}),
                                         cast(0 as bigint), (acc, s) -> (acc * 1000003 + s) % {_MINHASH_P}L)))"""


def _minhash_set_pairs(spark, sf_dir):
    """Shared MinHash-LSH core: returns (set_pairs, membership) where
    set_pairs holds verified distinct-token-set pairs (sa < sb, jac_approx)
    and membership maps doc_id → set_id. Near-dup pairs (Jaccard ≥ 0.8)
    via native banded MinHash-LSH:
    tokenize → 40 minhash signatures (seeded universal hashing over
    md5-derived token ids, all JVM-side HOFs) → 8 bands of 5 rows →
    equi-join on (band_no, band_value) → exact Jaccard on the candidates
    only. Since round 5 the pipeline is FULLY SQL-ORACLED (_minhash_oracle
    replays every stage in DuckDB — the path is deterministic end to end);
    recall vs the exact dedup_jaccard twin is additionally asserted in
    tests (banding keeps ~96% of j≥0.8 pairs).

    Plan-shape note — the rescore placement depends on its unit cost, and
    this operator carries BOTH measured outcomes. General path (unbounded
    vocab): candidates are DEDUPED (distinct on (sa, sb)) BEFORE the
    array_intersect rescore — rescoring inline in the band join was 4x
    SLOWER (28s vs 6s at sf0.1): intersecting ~31-element arrays per RAW
    candidate (6.4M, each seen in ~2 bands) costs more than shuffling the
    3.1M deduped pairs. Adaptive fast path (corpus dictionary ≤ 64
    distinct tokens, probed with one dictionary-sized aggregate): each
    set is one int64 bitmask riding along in the band rows, exact Jaccard
    is bit_count(a&b)/bit_count(a|b) evaluated IN the join stage before
    the distinct — the same filter-below-the-candidate-shuffle move that
    wins in dedup_simhash, now affordable because verification is two
    int64 ops. That flips the shuffle from 3.1M unverified candidates to
    ~0.7M true pairs and deletes the two rescore joins (measured ~8s →
    ~4s at sf0.1). Filter-before-shuffle wins exactly when the predicate
    is cheap scalar math — this operator now demonstrates both regimes.

    Scale design: the pipeline collapses EXACT-duplicate token sets first
    (groupBy the sorted token-id array → one representative per distinct
    set), runs LSH over distinct sets only, and re-expands set-level pairs
    to doc-level pairs through membership hash joins at the end — the
    standard dedup ordering (exact before near) that shrinks every
    LSH/rescore stage. The shuffle key is always the band hash, the set
    key, or the doc id — never the pair space. Candidate volume is tunable
    via band geometry; the exact-Jaccard rescore touches candidates only.
    No broadcast hints: every joined side is corpus-sized at 100 TB; the
    auto-threshold broadcasts them at test scale."""
    # repartition: single-row-group fixture → 1 scan task; the 40-hash
    # signature build is the CPU-dense stage and must spread
    docs = (
        table(spark, sf_dir, "documents")
        .repartition("doc_id")
        .select("doc_id", F.array_distinct(_tokens()).alias("tokset"))
        .withColumn(
            "tok_hashes",
            F.expr(
                f"sort_array(transform(tokset, t -> cast(conv(substr(md5(cast(t as binary)), 1, 15), 16, 10) as bigint) % {_MINHASH_P}L))"
            ),
        )
        # materialize the token-hash build once: it feeds reps, membership
        # and the signature stage through branches Catalyst won't reuse
        # exchanges across (same finding as setsim._collapse_identical_sets)
        .localCheckpoint(eager=True)
    )
    # exact-dup collapse: one representative per distinct token set; the
    # collapse keys on a scalar digest of the set, not the int64 array
    # (array shuffle keys measured 2-3x the downstream join cost)
    members = docs.select(
        "doc_id",
        "tok_hashes",
        F.md5(
            F.concat_ws("\x1f", F.transform("tok_hashes", lambda x: x.cast("string")))
        ).alias("skey"),
    )
    reps = members.groupBy("skey").agg(
        F.min("doc_id").alias("set_id"), F.first("tok_hashes").alias("tok_hashes")
    )
    # membership/rep_sets are NOT checkpointed (unlike setsim): with docs
    # pinned, each branch re-derives them with one 5k-row groupBy — cheaper
    # than two more eager materialization barriers (measured ~1s at sf0.1)
    membership = (
        members.select("doc_id", "skey")
        .join(reps.select("skey", "set_id"), "skey")
        .select("doc_id", "set_id")
    )
    rep_sets = reps.select("set_id", "tok_hashes")

    bands = (
        rep_sets.withColumn("sigs", F.expr(_minhash_sigs_expr()))
        .select("set_id", F.explode(F.expr(_minhash_band_expr())).alias("band"))
        .select("set_id", "band.band_no", "band.band_val")
    )
    # Adaptive exact-Jaccard verification (see docstring): probe the
    # corpus' distinct-token dictionary size (one tiny aggregate — the
    # dictionary is vocabulary-bounded, not corpus-bounded). The probe is
    # memoized per corpus path: it is a plan-choice statistic (like a
    # catalog's table stats), and re-probing on every invocation would add
    # a full job barrier ahead of the real query.
    vocab = rep_sets.select(F.explode("tok_hashes").alias("h")).distinct()
    vocab_size = _VOCAB_SIZE_CACHE.get(sf_dir)
    if vocab_size is None:
        vocab_size = vocab.count()
        _VOCAB_SIZE_CACHE[sf_dir] = vocab_size
    if vocab_size <= 64:
        # Fast path: int64 bitmask per set rides along in the band rows;
        # verify IN the join stage, then dedup only TRUE pairs.
        from pyspark.sql import Window

        bits = vocab.withColumn("bit", F.row_number().over(Window.orderBy("h")) - 1)
        masks = (
            rep_sets.select("set_id", F.explode("tok_hashes").alias("h"))
            .join(F.broadcast(bits), "h")
            .groupBy("set_id")
            # bit_or, not sum: idempotent under a duplicated bit, so a 60-bit
            # md5 collision between two tokens of one document cannot carry
            # into a neighboring bit and corrupt the Jaccard
            .agg(F.bit_or(F.expr("shiftleft(1L, bit)")).alias("mask"))
        )
        bands_m = bands.join(masks, "set_id")
        # Explicit partition count on the streamed side: the band join's
        # INPUT is tiny (31k rows — AQE coalesces it to 1 partition) but its
        # OUTPUT is the candidate expansion (~13M pairs, 88% of it from one
        # mega-bucket per band on this self-similar corpus). Expansion work
        # is proportional to streamed-side rows, so spreading them by set id
        # spreads the skewed buckets' pair generation evenly across cores —
        # AQE can't see output-explosive joins, only shuffle bytes.
        a = bands_m.repartition(64, "set_id").select(
            F.col("set_id").alias("sa"), "band_no", "band_val", F.col("mask").alias("a_mask")
        )
        b = bands_m.select(
            F.col("set_id").alias("sb"), "band_no", "band_val", F.col("mask").alias("b_mask")
        )
        a_m, b_m = F.col("a_mask"), F.col("b_mask")
        jac = F.bit_count(a_m.bitwiseAND(b_m)).cast("double") / F.bit_count(
            a_m.bitwiseOR(b_m)
        )
        set_pairs = (
            a.join(b, ["band_no", "band_val"])
            .filter((F.col("sa") < F.col("sb")) & (jac >= 0.8))
            .select("sa", "sb", F.round(jac, 6).alias("jac_approx"))
            .distinct()
        )
    else:
        # General path: dedup candidates FIRST, then array_intersect
        # rescore (int intersects ~2-3x cheaper than string intersects;
        # set-identical to the string toksets barring 60-bit md5
        # collisions).
        # same output-explosive-join spread as the fast path (see above)
        a = bands.repartition(64, "set_id").select(
            F.col("set_id").alias("sa"), "band_no", "band_val"
        )
        b = bands.select(F.col("set_id").alias("sb"), "band_no", "band_val")
        cand = (
            a.join(b, ["band_no", "band_val"])
            .filter(F.col("sa") < F.col("sb"))
            .select("sa", "sb")
            .distinct()
        )
        rep_sets_ck = rep_sets.localCheckpoint(eager=True)  # 2 rescore branches
        inter = F.size(F.array_intersect("a_set", "b_set")).cast("double")
        union = F.size("a_set") + F.size("b_set") - F.size(F.array_intersect("a_set", "b_set"))
        jac = inter / union
        set_pairs = (
            cand.join(rep_sets_ck.select(F.col("set_id").alias("sa"), F.col("tok_hashes").alias("a_set")), "sa")
            .join(rep_sets_ck.select(F.col("set_id").alias("sb"), F.col("tok_hashes").alias("b_set")), "sb")
            .withColumn("jac_approx", F.round(jac, 6))
            .filter(jac >= 0.8)
            .select("sa", "sb", "jac_approx")
        )
    return set_pairs, membership


def _minhash_oracle() -> str:
    # Full DuckDB replay of the production 8x5 banded MinHash pipeline —
    # enabled by the determinism the band-curve oracle established: md5
    # token ids mod p, fixed affine permutations, the polynomial band
    # fold (list_reduce seeded with a prepended 0 reproduces Spark's
    # aggregate(slice, 0, ...) order exactly), candidate join, exact
    # Jaccard on DISTINCT sets (the bitmask fast path's semantics), and
    # the membership re-expansion with exact-dup self-pairs.
    p = _MINHASH_P
    m = 1000003
    r = _MINHASH_BAND_ROWS
    nb = _MINHASH_K // r
    sig_exprs = ", ".join(
        f"list_min(list_transform(th, t -> ({a} * t + {b}) % {p}))"
        for a, b in _minhash_params()
    )
    return f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id,
                   list_sort(list_transform(
                       list_distinct(string_split(lower(text), ' ')),
                       t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
                            % {p})) AS th,
                   md5(array_to_string(list_sort(list_transform(
                       list_distinct(string_split(lower(text), ' ')),
                       t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
                            % {p})), ',')) AS skey
            FROM documents
        ),
        reps AS MATERIALIZED (
            SELECT skey, min(doc_id) AS set_id, any_value(th) AS th,
                   count(*) AS n_docs
            FROM toks GROUP BY skey
        ),
        sigs AS MATERIALIZED (
            SELECT set_id, th, [{sig_exprs}] AS sig FROM reps
        ),
        bands AS MATERIALIZED (
            SELECT s.set_id, u.j AS band_no,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                                    s.sig[u.j * {r} + 1 : u.j * {r} + {r}]),
                       (acc, x) -> (acc * {m} + x) % {p}) AS band_val
            FROM sigs s, unnest(range(0, {nb})) AS u(j)
        ),
        cand AS MATERIALIZED (
            SELECT DISTINCT a.set_id AS sa, b.set_id AS sb
            FROM bands a JOIN bands b
              ON a.band_no = b.band_no AND a.band_val = b.band_val
             AND a.set_id < b.set_id
        ),
        verified AS MATERIALIZED (
            SELECT c.sa, c.sb,
                   round(len(list_distinct(list_intersect(x.th, y.th)))
                         * 1.0
                         / len(list_distinct(list_concat(x.th, y.th))), 6)
                       AS jac_approx
            FROM cand c
            JOIN sigs x ON x.set_id = c.sa
            JOIN sigs y ON y.set_id = c.sb
            WHERE len(list_distinct(list_intersect(x.th, y.th))) * 1.0
                  / len(list_distinct(list_concat(x.th, y.th))) >= 0.8
        ),
        counts AS MATERIALIZED (
            SELECT set_id, CAST(n_docs AS BIGINT) AS n_docs FROM reps
        )
        SELECT v.sa, v.sb, v.jac_approx,
               ca.n_docs AS n_docs_a, cb.n_docs AS n_docs_b,
               CAST(ca.n_docs * cb.n_docs AS BIGINT) AS n_doc_pairs
        FROM verified v
        JOIN counts ca ON ca.set_id = v.sa
        JOIN counts cb ON cb.set_id = v.sb
        UNION ALL
        SELECT set_id, set_id, 1.0, n_docs, n_docs,
               CAST(n_docs * (n_docs - 1) // 2 AS BIGINT)
        FROM counts WHERE n_docs >= 2
    """




def _minhash_pairs_oracle() -> str:
    # Same deterministic replay as _minhash_oracle, expanded to doc level:
    # membership joins re-expand verified set pairs, and same-set doc
    # pairs surface as exact dups at jaccard 1.0.
    base = _minhash_oracle()
    tail = base.rindex("SELECT v.sa, v.sb, v.jac_approx,")
    prefix = base[:tail]
    return f"""{prefix}
        SELECT least(ma.doc_id, mb.doc_id) AS a_id,
               greatest(ma.doc_id, mb.doc_id) AS b_id,
               v.jac_approx
        FROM verified v
        JOIN (SELECT r.set_id, t.doc_id FROM reps r
              JOIN toks t ON t.skey = r.skey) ma ON ma.set_id = v.sa
        JOIN (SELECT r.set_id, t.doc_id FROM reps r
              JOIN toks t ON t.skey = r.skey) mb ON mb.set_id = v.sb
        UNION ALL
        SELECT ma.doc_id, mb.doc_id, 1.0
        FROM reps r
        JOIN toks ma ON ma.skey = r.skey
        JOIN toks mb ON mb.skey = r.skey AND ma.doc_id < mb.doc_id
    """


@query("dedup_minhash", oracle=_minhash_oracle(), family="text")
def dedup_minhash(spark, sf_dir):
    """Near-dup summary at REPRESENTATIVE level: one row per verified
    distinct-token-set pair (plus one self-row per exact-duplicate group),
    carrying the membership counts and the implied number of doc-level
    pairs — never the doc-level pair expansion itself. On a
    pathologically self-similar corpus the doc-level pair space is
    quadratic in cluster size (~2.9 M rows here at sf0.1, and unbounded at
    100 TB) while the rep-level summary stays proportional to the number
    of distinct near-dup set pairs (~30 k); a real dedup pipeline consumes
    exactly this summary (or cluster labels, see dedup_clusters) and never
    materializes doc pairs. Σ n_doc_pairs equals the doc-level pair count,
    asserted in tests against dedup_minhash_pairs. See _minhash_set_pairs
    for the LSH core and its plan rationale."""
    set_pairs, membership = _minhash_set_pairs(spark, sf_dir)
    counts = membership.groupBy("set_id").agg(F.count("*").alias("n_docs"))
    cross = (
        set_pairs.join(
            counts.select(F.col("set_id").alias("sa"), F.col("n_docs").alias("n_docs_a")), "sa"
        )
        .join(counts.select(F.col("set_id").alias("sb"), F.col("n_docs").alias("n_docs_b")), "sb")
        .select(
            "sa",
            "sb",
            "jac_approx",
            "n_docs_a",
            "n_docs_b",
            (F.col("n_docs_a") * F.col("n_docs_b")).alias("n_doc_pairs"),
        )
    )
    # exact-duplicate groups (collapsed before LSH) surface as self-pairs
    within = counts.filter(F.col("n_docs") >= 2).select(
        F.col("set_id").alias("sa"),
        F.col("set_id").alias("sb"),
        F.lit(1.0).alias("jac_approx"),
        F.col("n_docs").alias("n_docs_a"),
        F.col("n_docs").alias("n_docs_b"),
        (F.col("n_docs") * (F.col("n_docs") - 1) / 2).cast("long").alias("n_doc_pairs"),
    )
    return cross.unionByName(within)


@query("dedup_minhash_pairs", oracle=_minhash_pairs_oracle(), family="text")
def dedup_minhash_pairs(spark, sf_dir):
    """Doc-level near-dup pair expansion of dedup_minhash — the
    demonstration/debug form. Cross-set pairs carry the set-level jaccard;
    same-set doc pairs are exact dups (jaccard 1.0) found without LSH.
    Output volume is quadratic in duplicate-cluster size; at scale prefer
    the rep-level dedup_minhash summary or dedup_clusters labels."""
    set_pairs, membership = _minhash_set_pairs(spark, sf_dir)
    cross = (
        set_pairs.join(membership.select(F.col("set_id").alias("sa"), F.col("doc_id").alias("da")), "sa")
        .join(membership.select(F.col("set_id").alias("sb"), F.col("doc_id").alias("db")), "sb")
        .select(
            F.least("da", "db").alias("a_id"),
            F.greatest("da", "db").alias("b_id"),
            "jac_approx",
        )
    )
    m1 = membership.select("set_id", F.col("doc_id").alias("a_id"))
    m2 = membership.select("set_id", F.col("doc_id").alias("b_id"))
    within = (
        m1.join(m2, "set_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.lit(1.0).alias("jac_approx"))
    )
    return cross.unionByName(within)


def _incremental_oracle() -> str:
    # Full DuckDB replay of the incremental (batch-vs-index) MinHash
    # pipeline: the same md5-mod-p token ids, affine permutations and
    # polynomial band fold as _minhash_oracle, split into an index side
    # (doc_id % 10 != 0, collapsed to distinct token sets) and a batch
    # side; exact matches by set digest, near matches through the band
    # join + rounded-Jaccard rescore, best match per batch set via a
    # (jac DESC, set_id) window on the shared 6 dp grid.
    p = _MINHASH_P
    m = 1000003
    r = _MINHASH_BAND_ROWS
    nb = _MINHASH_K // r
    sig_exprs = ", ".join(
        f"list_min(list_transform(th, t -> ({a} * t + {b}) % {p}))"
        for a, b in _minhash_params()
    )
    return f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, (doc_id % 10 = 0) AS is_batch,
                   list_sort(list_transform(
                       list_distinct(string_split(lower(text), ' ')),
                       t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
                            % {p})) AS th,
                   md5(array_to_string(list_sort(list_transform(
                       list_distinct(string_split(lower(text), ' ')),
                       t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
                            % {p})), ',')) AS skey
            FROM documents
        ),
        index_reps AS MATERIALIZED (
            SELECT skey, min(doc_id) AS set_id, any_value(th) AS th
            FROM toks WHERE NOT is_batch GROUP BY skey
        ),
        batch_reps AS MATERIALIZED (
            SELECT skey, min(doc_id) AS brep, any_value(th) AS th
            FROM toks WHERE is_batch GROUP BY skey
        ),
        isigs AS MATERIALIZED (
            SELECT set_id, th, [{sig_exprs}] AS sig FROM index_reps
        ),
        bsigs AS MATERIALIZED (
            SELECT skey, th, [{sig_exprs}] AS sig FROM batch_reps
        ),
        ibands AS MATERIALIZED (
            SELECT s.set_id, u.j AS band_no,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                                    s.sig[u.j * {r} + 1 : u.j * {r} + {r}]),
                       (acc, x) -> (acc * {m} + x) % {p}) AS band_val
            FROM isigs s, unnest(range(0, {nb})) AS u(j)
        ),
        bbands AS MATERIALIZED (
            SELECT s.skey, u.j AS band_no,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                                    s.sig[u.j * {r} + 1 : u.j * {r} + {r}]),
                       (acc, x) -> (acc * {m} + x) % {p}) AS band_val
            FROM bsigs s, unnest(range(0, {nb})) AS u(j)
        ),
        cand AS MATERIALIZED (
            SELECT DISTINCT b.skey, i.set_id
            FROM bbands b JOIN ibands i
              ON b.band_no = i.band_no AND b.band_val = i.band_val
        ),
        near AS (
            SELECT c.skey, c.set_id,
                   round(len(list_distinct(list_intersect(x.th, y.th)))
                         * 1.0
                         / len(list_distinct(list_concat(x.th, y.th))), 6)
                       AS jac
            FROM cand c
            JOIN bsigs x ON x.skey = c.skey
            JOIN isigs y ON y.set_id = c.set_id
        ),
        best_near AS (
            SELECT skey, set_id, jac FROM (
                SELECT skey, set_id, jac,
                       row_number() OVER (PARTITION BY skey
                                          ORDER BY jac DESC, set_id) AS rn
                FROM near WHERE jac >= 0.8) WHERE rn = 1
        )
        SELECT t.doc_id,
               CASE WHEN e.set_id IS NOT NULL THEN 'dup_exact_index'
                    WHEN n.set_id IS NOT NULL THEN 'dup_near_index'
                    WHEN t.doc_id <> br.brep   THEN 'dup_exact_batch'
                    ELSE 'new' END AS decision,
               CASE WHEN e.set_id IS NOT NULL THEN e.set_id
                    WHEN n.set_id IS NOT NULL THEN n.set_id
                    WHEN t.doc_id <> br.brep   THEN br.brep END AS match_id,
               CASE WHEN e.set_id IS NOT NULL THEN CAST(1.0 AS DOUBLE)
                    WHEN n.set_id IS NOT NULL THEN n.jac
                    WHEN t.doc_id <> br.brep   THEN CAST(1.0 AS DOUBLE)
                    END AS jac
        FROM toks t
        JOIN batch_reps br ON br.skey = t.skey
        LEFT JOIN index_reps e ON e.skey = t.skey
        LEFT JOIN best_near n ON n.skey = t.skey
        WHERE t.is_batch
    """


@query("dedup_incremental", oracle=_incremental_oracle(), family="text")
def dedup_incremental(spark, sf_dir):
    """Incremental dedup — the production crawl shape none of the other
    dedup ops cover: a NEW BATCH of documents (here doc_id % 10 == 0,
    standing in for today's crawl snapshot) is admitted against an
    EXISTING corpus index (the other 90%), never corpus-vs-corpus.
    Per batch doc one decision row: 'dup_exact_index' (identical
    distinct-token set already indexed — matched by set digest, no LSH
    needed), 'dup_near_index' (Jaccard ≥ 0.8 against some indexed set via
    the banded MinHash join; match_id/jac name the BEST index match on
    the rounded 6 dp grid, ties to the smallest set id),
    'dup_exact_batch' (identical token set as an earlier batch doc — the
    min doc_id of the group is the survivor), or 'new'. Near-dups WITHIN
    the batch are deliberately out of scope for the incremental pass
    (they are caught when the admitted survivors join the index and the
    next snapshot runs — the standard crawl-dedup contract, cf. CCNet /
    RefinedWeb dedup stages, which dedup each snapshot against
    accumulated history).

    Scale design: the index side (token-set digests + band table) is a
    PERSISTED artifact at 100 TB — built once, appended with each
    snapshot's survivors, bucketed by (band_no, band_val) so the
    incremental band join needs no index-side shuffle; per-snapshot cost
    is then batch-bounded: |batch|×8 band rows join the bucketed index,
    candidates (not the batch×index pair space) get the exact rescore,
    and the decision join is |batch| rows. The batch side is typically
    ≪ index and broadcast-able (auto-threshold does it at test scale; at
    100 TB the band join's shuffle key is still the band hash, never a
    pair). All stages are deterministic (md5 token ids, seeded affine
    permutations, rounded-grid compares), so the whole decision table is
    SQL-oracled."""
    docs = hash_documents(table(spark, sf_dir, "documents")).withColumn(
        "is_batch", F.col("doc_id") % 10 == 0
    # one materialization of the CPU-dense tokenize+hash stage: it
    # feeds index reps, batch reps and the decision join (branches
    # Catalyst won't share exchanges across). Kept EAGER on purpose
    # (r19 A/B: folding it into the consumer job's broadcast-build
    # thread read 4.5 s vs 4.2 s median — the serial hash stage delays
    # every build when lazy; the reps checkpoints below are lazy)
    ).localCheckpoint(eager=True)
    index_reps, index_bands = build_dedup_index(docs.filter(~F.col("is_batch")))
    return incremental_decisions(docs.filter(F.col("is_batch")), index_reps, index_bands)


def hash_documents(documents):
    """(doc_id, text) → (doc_id, tok_hashes, skey): the deterministic
    tokenize + md5-mod-p hash + set-digest stage every MinHash op shares.
    Per-row, shuffle-free (the repartition only spreads the single-row-
    group fixture across cores). NOTE (r18): AQE folds this coalescible
    repartition back to ONE partition by bytes at fixture scale, so the
    md5/minhash CPU runs serially — but pinning it to defaultParallelism
    was MEASURED WORSE end-to-end (alternating in-process A/B, medians:
    1 part 4.17 s, 32 parts 5.08 s, 8 parts 3.81 s for dedup_incremental):
    the extra partitions cascade into every downstream scan of the
    checkpoint and cost more than the ~0.3 s of serialized hashing. At
    real corpus scale the scan arrives multi-partition and AQE keeps it
    so; left as-is on purpose."""
    return (
        documents.repartition("doc_id")
        .select("doc_id", F.array_distinct(_tokens()).alias("tokset"))
        .withColumn(
            "tok_hashes",
            F.expr(
                f"sort_array(transform(tokset, t -> cast(conv(substr(md5(cast(t as binary)), 1, 15), 16, 10) as bigint) % {_MINHASH_P}L))"
            ),
        )
        .withColumn(
            "skey",
            F.md5(F.concat_ws("\x1f", F.transform("tok_hashes", lambda x: x.cast("string")))),
        )
        .drop("tokset")
    )


def _rep_bands(reps, idcol):
    return (
        reps.withColumn("sigs", F.expr(_minhash_sigs_expr()))
        .select(idcol, F.explode(F.expr(_minhash_band_expr())).alias("band"))
        .select(idcol, "band.band_no", "band.band_val")
    )


def build_dedup_index(hashed_docs):
    """Build the PERSISTED side of incremental dedup from hash_documents
    output: (reps, bands). reps = one row per distinct token set
    (skey, set_id = min doc_id, tok_hashes); bands = 8 (band_no,
    band_val) rows per rep. In production both frames are written once
    per snapshot (bands bucketed by band_val) and only APPENDED to —
    ``python -m tools.scale_probe incremental`` measures exactly that
    amortization."""
    reps = (
        hashed_docs.groupBy("skey")
        .agg(F.min("doc_id").alias("set_id"), F.first("tok_hashes").alias("tok_hashes"))
        # reps IS the persisted artifact — materialize once so bands,
        # rescore and exact-match consumers don't each re-run the
        # collapse groupBy (in production they read the same parquet).
        # Lazy (r19): the decision pass's first broadcast build
        # materializes it inside the consumer job — one driver job
        # fewer per snapshot, same single materialization
        .localCheckpoint(eager=False)
    )
    return reps, _rep_bands(reps, "set_id")


def incremental_decisions(batch_docs, index_reps, index_bands):
    """The per-snapshot decision pass of dedup_incremental: admit each
    batch doc against a prebuilt (reps, bands) index. Cost is
    batch-bounded — see the dedup_incremental docstring."""
    batch_reps = (
        batch_docs.groupBy("skey")
        .agg(F.min("doc_id").alias("brep"), F.first("tok_hashes").alias("tok_hashes"))
        # four consumers (bands, rescore, exacts, decision join) —
        # materialize once instead of re-running the groupBy per branch;
        # lazy (r19): rides the first consumer job like reps above
        .localCheckpoint(eager=False)
    )
    cand = (
        _rep_bands(batch_reps, "skey")
        .join(index_bands, ["band_no", "band_val"])
        .select("skey", "set_id")
        .distinct()
    )
    inter = F.size(F.array_intersect("b_th", "i_th")).cast("double")
    union = (
        F.size("b_th") + F.size("i_th") - F.size(F.array_intersect("b_th", "i_th"))
    )
    near = (
        cand.join(
            batch_reps.select("skey", F.col("tok_hashes").alias("b_th")), "skey"
        )
        .join(index_reps.select("set_id", F.col("tok_hashes").alias("i_th")), "set_id")
        .withColumn("jac", F.round(inter / union, 6))
        .filter(F.col("jac") >= 0.8)
    )
    # r19 decision-stage fusion (guide §2.4/§3 — fewer exchanges, which
    # the r18 A/B showed is the lever here, not partitioning): the old
    # shape resolved exact matches (a batch_reps⋈index_reps join), best
    # near matches (a per-skey row_number window over `near`), and then
    # attached BOTH to every batch doc through a
    # doc⋈reps⋈exacts⋈best_near chain — three skey-shuffled joins of the
    # per-doc frame plus the window's sort exchange
    # (plans/r19/dedup_incremental_before.txt). Both match kinds are
    # "best index match per skey" under one priority order — exact
    # first, then jac DESC, then set_id — so they fuse into ONE
    # min-struct aggregate over the union of (pri=0, exact) and
    # (pri=1, near-candidate) rows:
    #   min(struct(pri, -jac, set_id)) = the exact match when one exists
    #   (index_reps is unique per skey, so there is at most one), else
    #   the (jac DESC, set_id) rank-1 near row the old window picked —
    #   negation of a positive double is exact, so order and tiebreak
    #   are bit-identical, and the aggregate gets map-side partials and
    #   no per-partition sort.
    # The decision then needs ONE set-level left join (batch_reps ⋈
    # best) and ONE doc-level attach: per-doc rows cross a single join
    # (broadcast-eligible — the batch side is the small side by the
    # operator's own scale contract) instead of three.
    exact_m = batch_reps.join(index_reps.select("skey", "set_id"), "skey").select(
        "skey", F.lit(0).alias("pri"), F.lit(-1.0).alias("nj"), "set_id"
    )
    near_m = near.select(
        "skey", F.lit(1).alias("pri"), (-F.col("jac")).alias("nj"), "set_id"
    )
    best = (
        exact_m.unionByName(near_m)
        .groupBy("skey")
        .agg(F.min(F.struct("pri", "nj", "set_id")).alias("m"))
    )
    set_dec = batch_reps.select("skey", "brep").join(best, "skey", "left")
    m = F.col("m")
    is_ex = m.isNotNull() & (m["pri"] == 0)
    is_nr = m.isNotNull() & (m["pri"] == 1)
    not_rep = F.col("doc_id") != F.col("brep")
    return (
        batch_docs.select("doc_id", "skey")
        .join(set_dec, "skey")
        .select(
            "doc_id",
            F.when(is_ex, F.lit("dup_exact_index"))
            .when(is_nr, F.lit("dup_near_index"))
            .when(not_rep, F.lit("dup_exact_batch"))
            .otherwise(F.lit("new"))
            .alias("decision"),
            F.when(is_ex | is_nr, m["set_id"])
            .when(not_rep, F.col("brep"))
            .alias("match_id"),
            F.when(is_ex, F.lit(1.0))
            .when(is_nr, -m["nj"])
            .when(not_rep, F.lit(1.0))
            .alias("jac"),
        )
    )


_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


@query(
    "text_stopfilter",
    oracle=f"""
        SELECT doc_id,
               array_to_string(list_sort(list_filter(string_split(lower(text), ' '),
                         t -> t NOT IN {_STOPWORDS})), '|') AS kept,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_total,
               CAST(len(list_filter(string_split(lower(text), ' '),
                        t -> t NOT IN {_STOPWORDS})) AS BIGINT) AS n_kept
        FROM documents
    """,
    family="text",
)
def text_stopfilter(spark, sf_dir):
    """Stopword removal (StopWordsRemover equivalent, natively): drop a
    pinned stopword list from each document's token stream, reporting
    kept tokens (sorted for cross-engine determinism) and before/after
    counts. Per-row higher-order filter — shuffle-free, codegen; the
    stopword list is a literal in the plan, not a join (a broadcast join
    is the form once the list is itself data, e.g. per-language lists)."""
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    kept = F.filter(toks, lambda t: ~t.isin(*_STOPWORDS))
    return d.select(
        "doc_id",
        join_str_array(F.sort_array(kept)).alias("kept"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_total"),
        F.size(kept).cast("long").alias("n_kept"),
    )


@query(
    "text_keywords_tfidf",
    oracle="""
        WITH tf AS (
            SELECT doc_id, token AS term, count(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                  FROM documents)
            GROUP BY doc_id, token
        ),
        dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   round(tf.tf * (ln((n.n_docs + 1.0) / (dft.df + 1.0)) + 1.0), 6)
                       AS score
            FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n
        ),
        ranked AS (
            SELECT doc_id, term, score,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY score DESC, term
                   ) AS BIGINT) AS rnk
            FROM scored
        )
        SELECT doc_id, rnk, term, score FROM ranked WHERE rnk <= 3
    """,
    family="text",
    bnlj="1-row doc count crossJoined onto the term frequencies",
)
def text_keywords_tfidf(spark, sf_dir):
    """Top-3 TF-IDF keywords per document — the keyword-extraction
    readout layered on text_tfidf's exact scores (same smoothed-idf
    formula). The rank ORDERS BY THE ROUNDED score (then term, a full
    tiebreak), so both engines rank identical values and a 1-ulp ln()
    difference can never flip the cut. Plan adds one doc_id-partitioned
    window on top of tfidf's two bounded-key shuffles — per-doc frames
    are vocabulary-bounded, so the window is parallel and small at any
    corpus size (the same top-k-per-group shape as win_topk_group)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "score")
    )


_BAND_GEOMS = [(4, 10), (8, 5), (10, 4)]  # (bands, rows) over the 40 sigs


def _band_curve_oracle() -> str:
    # Full DuckDB replay of the MinHash-LSH core — possible because every
    # stage is engine-neutral: md5-derived 60-bit token ids mod p, FIXED
    # seeded affine permutations, and band keys that are md5 digests of
    # comma-joined signature slices. This oracle is the proof that the
    # "approximate" LSH path is deterministic end to end; dedup_minhash
    # stays rows-only only because its doc-pair output is huge, not
    # because banding is unreplayable.
    p = _MINHASH_P
    sig_exprs = ", ".join(
        f"list_min(list_transform(th, t -> ({a} * t + {b}) % {p}))"
        for a, b in _minhash_params()
    )
    geom_rows = []
    for b, r in _BAND_GEOMS:
        geom_rows.append(f"""
        SELECT {b} AS bands, {r} AS rows_per_band, s.set_id,
               u.k AS band_no,
               md5(array_to_string(s.sig[u.k * {r} + 1 : u.k * {r} + {r}], ','))
                   AS band_key
        FROM sigs s, unnest(range(0, {b})) AS u(k)""")
    return f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id,
                   list_sort(list_transform(
                       list_distinct(string_split(lower(text), ' ')),
                       t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
                            % {p})) AS th
            FROM documents
        ),
        reps AS MATERIALIZED (
            SELECT min(doc_id) AS set_id, any_value(th) AS th
            FROM toks GROUP BY md5(array_to_string(th, ','))
        ),
        sigs AS MATERIALIZED (
            SELECT set_id, th, [{sig_exprs}] AS sig FROM reps
        ),
        bandrows AS MATERIALIZED ({" UNION ALL ".join(geom_rows)}),
        cand AS MATERIALIZED (
            SELECT DISTINCT a.bands, a.rows_per_band,
                   a.set_id AS sa, b.set_id AS sb
            FROM bandrows a
            JOIN bandrows b
              ON a.bands = b.bands AND a.band_no = b.band_no
             AND a.band_key = b.band_key AND a.set_id < b.set_id
        ),
        scored AS MATERIALIZED (
            SELECT c.bands, c.rows_per_band,
                   CASE WHEN len(list_distinct(list_intersect(x.th, y.th)))
                             * 1.0
                             / len(list_distinct(list_concat(x.th, y.th)))
                             >= 0.8 THEN 1 ELSE 0 END AS ok
            FROM cand c
            JOIN sigs x ON x.set_id = c.sa
            JOIN sigs y ON y.set_id = c.sb
        )
        SELECT CAST(bands AS BIGINT) AS bands,
               CAST(rows_per_band AS BIGINT) AS rows_per_band,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(ok) AS BIGINT) AS n_verified,
               round(sum(ok) * 1.0 / count(*), 6) AS precision_at_08,
               round(1.0 - pow(1.0 - pow(0.8, rows_per_band), bands), 6)
                   AS theoretical_recall_at_08
        FROM scored GROUP BY bands, rows_per_band
    """


@query("dedup_minhash_band_curve", oracle=_band_curve_oracle(), family="text")
def dedup_minhash_band_curve(spark, sf_dir):
    """LSH BANDING-GEOMETRY TRADE-OFF TABLE, with a FULL SQL ORACLE —
    the proof that this repo's MinHash path is deterministic end to
    end (md5 token ids, fixed seeded permutations, digest band keys),
    so 'approximate' means approximate W.R.T. EXACT JACCARD, not
    unreproducible: DuckDB replays token hashing, all 40 signatures,
    banding, candidate generation, and the exact-Jaccard verify, and
    the result hash-matches. For each geometry over the 40-hash
    signature — (4 bands × 10 rows), (8 × 5, the production choice),
    (10 × 4) — the output reports rep-level candidate count, verified
    count (exact Jaccard ≥ 0.8), measured precision, and the
    theoretical recall 1-(1-j^r)^b at j=0.8: the table an engineer
    reads to pick banding for a corpus (more rows per band → fewer,
    more precise candidates; more bands → higher recall, more
    rescans). Scale shape identical to dedup_minhash: exact-dup sets
    collapse first, banding joins on (geometry, band, digest) — never
    the pair space — and the exact verify touches candidates only;
    the geometry column multiplies band rows by |geoms|, not the
    candidate blow-up of any single loose geometry."""
    p = _MINHASH_P
    docs = (
        table(spark, sf_dir, "documents")
        .repartition("doc_id")
        .select(
            "doc_id",
            F.expr(
                f"sort_array(transform(array_distinct(split(lower(text), ' ')), "
                f"t -> cast(conv(substr(md5(cast(t as binary)), 1, 15), 16, 10) as bigint) % {p}L))"
            ).alias("th"),
        )
    )
    reps = (
        docs.groupBy(
            F.md5(
                F.concat_ws(",", F.transform("th", lambda x: x.cast("string")))
            ).alias("skey")
        )
        .agg(F.min("doc_id").alias("set_id"), F.first("th").alias("th"))
        .drop("skey")
    )
    sigs = reps.withColumn(
        "sig",
        F.expr(
            "transform(array("
            + ", ".join(
                f"named_struct('a', {a}L, 'b', {b}L)" for a, b in _minhash_params()
            )
            + f"), s -> array_min(transform(th, t -> (s.a * t + s.b) % {p}L)))"
        ),
    ).localCheckpoint()  # feeds every geometry's band branch + the verify
    out = None
    for b, r in _BAND_GEOMS:
        bands = sigs.select(
            "set_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {b - 1}), k -> named_struct("
                    f"'band_no', k, 'band_key', md5(concat_ws(',', "
                    f"transform(slice(sig, k * {r} + 1, {r}), x -> cast(x as string))))))"
                )
            ).alias("e"),
        ).select("set_id", "e.band_no", "e.band_key")
        cand = (
            bands.alias("a")
            .join(
                bands.alias("bb"),
                (F.col("a.band_no") == F.col("bb.band_no"))
                & (F.col("a.band_key") == F.col("bb.band_key"))
                & (F.col("a.set_id") < F.col("bb.set_id")),
            )
            .select(
                F.col("a.set_id").alias("sa"), F.col("bb.set_id").alias("sb")
            )
            .distinct()
        )
        scored = (
            cand.join(sigs.select(F.col("set_id").alias("sa"), F.col("th").alias("tha")), "sa")
            .join(sigs.select(F.col("set_id").alias("sb"), F.col("th").alias("thb")), "sb")
            .select(
                F.when(
                    F.size(F.array_intersect("tha", "thb"))
                    / F.size(F.array_union("tha", "thb"))
                    >= 0.8,
                    1,
                )
                .otherwise(0)
                .alias("ok")
            )
        )
        row = scored.agg(
            F.lit(b).cast("bigint").alias("bands"),
            F.lit(r).cast("bigint").alias("rows_per_band"),
            F.count("*").cast("bigint").alias("n_candidates"),
            F.sum("ok").cast("bigint").alias("n_verified"),
            F.round(F.sum("ok") / F.count("*"), 6).alias("precision_at_08"),
            F.round(
                F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(F.lit(0.8), F.lit(r)), F.lit(b)),
                6,
            ).alias("theoretical_recall_at_08"),
        )
        out = row if out is None else out.unionByName(row)
    return out


_SUBSTR_K = 8  # span unit: the text_dup_ngram_fraction family's 8-gram


@query(
    "dedup_substring",
    oracle=f"""
        WITH docs AS MATERIALIZED (
            SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        ),
        grams AS MATERIALIZED (
            SELECT doc_id, pos,
                   array_to_string(toks[pos : pos + {_SUBSTR_K} - 1], ' ') AS gram
            FROM (
                SELECT doc_id, toks,
                       unnest(range(1, len(toks) - {_SUBSTR_K} + 2)) AS pos
                FROM docs
            )
        ),
        dup AS MATERIALIZED (
            SELECT gram FROM grams
            GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        ),
        starts AS MATERIALIZED (
            SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)
        ),
        isl AS MATERIALIZED (
            SELECT doc_id, pos,
                   sum(CASE WHEN prev IS NOT NULL AND pos - prev <= {_SUBSTR_K}
                            THEN 0 ELSE 1 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS grp
            FROM (
                SELECT doc_id, pos,
                       lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM starts
            )
        ),
        spans AS MATERIALIZED (
            SELECT doc_id, max(pos) - min(pos) + {_SUBSTR_K} AS span_len
            FROM isl GROUP BY doc_id, grp
        ),
        per_doc AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
                   CAST(max(span_len) AS BIGINT) AS longest_dup_span,
                   CAST(sum(span_len) AS BIGINT) AS covered_tokens
            FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
               coalesce(p.n_dup_spans, 0) AS n_dup_spans,
               coalesce(p.longest_dup_span, 0) AS longest_dup_span,
               coalesce(p.covered_tokens, 0) AS covered_tokens
        FROM docs d LEFT JOIN per_doc p USING (doc_id)
    """,
    family="text",
)
def dedup_substring(spark, sf_dir):
    """EXACT cross-document duplicated-SPAN detection — the suffix-array
    dedup modality of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", ExactSubstr), re-expressed as sorted
    k-gram chains so it shuffles POSTING LISTS, never pairs and never a
    global suffix sort. The §2.K dup-signal family stops at fixed
    8-gram set-fractions (text_dup_ngram_fraction); this op recovers
    the SPAN structure those sets discard: for every document, the
    maximal contiguous regions covered by at least one 8-token window
    that also appears verbatim in ANOTHER document, their count, the
    longest one, and the total covered token count (ints only — no fp
    anywhere, so no cross-engine rounding surface at all; consumers
    divide covered_tokens/n_tokens themselves).

    Pipeline: tokenize → per-doc k-gram windows built MAP-SIDE from the
    token array (transform over sequence — no explode-then-window
    shuffle), each gram immediately FINGERPRINTED to 64 bits
    (xxhash64) so occurrences travel as (doc_id, pos, 8-byte g), never
    strings; → the ≥2-DISTINCT-DOCS test as a min(doc_id) ≠
    max(doc_id) aggregate keyed by fingerprint — O(1) state per gram
    and MAP-SIDE COMBINABLE, so a Zipf-hot stop-phrase gram
    contributes one partial row per map partition to the shuffle
    instead of concentrating every (doc, pos) occurrence into a single
    reduce task (the round-8/9 perf-weak this replaces: an uncapped
    per-gram collect_list posting list; a cap would also have
    approximated single-doc hot grams as dup-by-fiat, while min≠max
    stays exact with LESS state); → a semi-join of the checkpointed
    occurrence stream against the surviving fingerprints re-emits the
    covered starts (dup-gram set ≪ gram stream; broadcasts when small,
    AQE skew-join splits the stream side otherwise); → per-doc
    gaps-and-islands (the win_sessionize pattern)
    with merge rule gap <= K so overlapping/adjacent windows fuse into
    ONE maximal covered region — islands are exactly the maximal runs
    of covered token positions (verified against an independent
    position-marking Python replay in tests/test_properties.py).

    Scale: the group space is the distinct-k-gram set (≪ token count)
    with constant-size aggregate state, candidate volume is bounded by
    posting-list agreement exactly like dedup_minhash's band buckets,
    and the island window partitions by doc_id (per-doc data is
    bounded by doc length). Fingerprint collisions (two grams sharing
    an xxhash64) can only over-mark a start — expected collisions at a
    billion distinct grams are ~1e-2 across the corpus (Lee et al.
    tolerate the same hashed-match expansion); the second exact pass
    over the flagged spans is shipped as ``dedup_substring_audit``
    (round 11), whose oracle pins over-marked = 0 so a real collision
    is a loud driver mismatch. Removal
    policy (Lee et al. §4: drop one copy of each duplicated span)
    composes downstream via covered-region slicing; this op emits the
    signal every policy needs."""
    d = table(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    grams = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"CASE WHEN size(toks) >= {_SUBSTR_K} THEN "
                    f"transform(sequence(1, size(toks) - {_SUBSTR_K} + 1), "
                    f"i -> array_join(slice(toks, i, {_SUBSTR_K}), ' ')) "
                    f"ELSE array() END"
                )
            ).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.xxhash64("gram").alias("g"),
        )
        # checkpoint the compact (8+8+8 bytes/row) fingerprint stream: it
        # feeds both the dup-gram aggregate and the start re-emission, and
        # recomputing the tokenize+window chain twice measured ~2.5x the
        # end-to-end wall when this op used the naive dup-set + join form
        .localCheckpoint(eager=True)
    )
    dup = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("g")
    )
    starts = grams.join(dup, "g", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = starts.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(
                F.col("pos") - F.lag("pos").over(w) <= _SUBSTR_K, 0
            ).otherwise(1)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("grp"),
    )
    spans = isl.groupBy("doc_id", "grp").agg(
        (F.max("pos") - F.min("pos") + _SUBSTR_K).alias("span_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_dup_spans"),
        F.max("span_len").cast("bigint").alias("longest_dup_span"),
        F.sum("span_len").cast("bigint").alias("covered_tokens"),
    )
    return (
        docs.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("longest_dup_span", F.lit(0))
            .cast("bigint")
            .alias("longest_dup_span"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("bigint")
            .alias("covered_tokens"),
        )
    )


@query(
    "dedup_substring_remove",
    oracle=f"""
        WITH docs AS MATERIALIZED (
            SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        ),
        grams AS MATERIALIZED (
            SELECT doc_id, pos,
                   array_to_string(toks[pos : pos + {_SUBSTR_K} - 1], ' ') AS gram
            FROM (
                SELECT doc_id, toks,
                       unnest(range(1, len(toks) - {_SUBSTR_K} + 2)) AS pos
                FROM docs
            )
        ),
        gstat AS MATERIALIZED (
            SELECT gram, min(doc_id) AS lo, max(doc_id) AS hi
            FROM grams GROUP BY gram
        ),
        removable AS MATERIALIZED (
            SELECT g.doc_id, g.pos
            FROM grams g JOIN gstat s USING (gram)
            WHERE s.lo <> s.hi AND g.doc_id <> s.lo
        ),
        isl AS MATERIALIZED (
            SELECT doc_id, pos,
                   sum(CASE WHEN prev IS NOT NULL AND pos - prev <= {_SUBSTR_K}
                            THEN 0 ELSE 1 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS grp
            FROM (
                SELECT doc_id, pos,
                       lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM removable
            )
        ),
        spans AS MATERIALIZED (
            SELECT doc_id, max(pos) - min(pos) + {_SUBSTR_K} AS span_len
            FROM isl GROUP BY doc_id, grp
        ),
        per_doc AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_removed,
                   CAST(sum(span_len) AS BIGINT) AS n_tokens_removed
            FROM spans GROUP BY doc_id
        )
        SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
               coalesce(p.n_spans_removed, 0) AS n_spans_removed,
               coalesce(p.n_tokens_removed, 0) AS n_tokens_removed,
               CAST(len(d.toks) AS BIGINT) - coalesce(p.n_tokens_removed, 0)
                   AS n_tokens_after
        FROM docs d LEFT JOIN per_doc p USING (doc_id)
    """,
    family="text",
)
def dedup_substring_remove(spark, sf_dir):
    """The REMOVAL policy on top of dedup_substring's signal — Lee et
    al. 2022 §4 (ExactSubstr-dedup): every duplicated span is dropped
    from every document EXCEPT the canonical copy, where canonical =
    the occurrence in the gram's MINIMUM doc_id (deterministic,
    coordination-free — the min rides the same O(1)-state per-gram
    aggregate the dup test uses, so "which copy survives" costs
    nothing extra at 100 TB). Per doc: the islands of removable
    windows (same gaps-and-islands fusion as dedup_substring, so
    overlapping/adjacent removable windows cut as ONE maximal span)
    and the resulting token counts — n_spans_removed,
    n_tokens_removed, n_tokens_after; downstream slicing consumes
    these exactly as Lee et al.'s byte-range drops. Canonical-doc
    occurrences and single-doc repeats survive by construction
    (removable ⊆ dedup_substring's covered set — asserted in
    tests/test_properties.py). Same scale shape as dedup_substring:
    64-bit fingerprints map-side, the (lo=min, hi=max) doc aggregate
    is map-side combinable so Zipf-hot grams never concentrate, ONE
    semi-join-shaped re-emission (here an inner join carrying lo),
    and a doc-partitioned island window bounded by doc length.
    All-integer outputs — no fp anywhere."""
    d = table(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    grams = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"CASE WHEN size(toks) >= {_SUBSTR_K} THEN "
                    f"transform(sequence(1, size(toks) - {_SUBSTR_K} + 1), "
                    f"i -> array_join(slice(toks, i, {_SUBSTR_K}), ' ')) "
                    f"ELSE array() END"
                )
            ).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.xxhash64("gram").alias("g"),
        )
        .localCheckpoint(eager=True)
    )
    gstat = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("g", "lo")
    )
    removable = (
        grams.join(gstat, "g")
        .where(F.col("doc_id") != F.col("lo"))
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = removable.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(
                F.col("pos") - F.lag("pos").over(w) <= _SUBSTR_K, 0
            ).otherwise(1)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("grp"),
    )
    spans = isl.groupBy("doc_id", "grp").agg(
        (F.max("pos") - F.min("pos") + _SUBSTR_K).alias("span_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans_removed"),
        F.sum("span_len").cast("bigint").alias("n_tokens_removed"),
    )
    return (
        docs.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans_removed", F.lit(0))
            .cast("bigint")
            .alias("n_spans_removed"),
            F.coalesce("n_tokens_removed", F.lit(0))
            .cast("bigint")
            .alias("n_tokens_removed"),
            (
                F.col("n_tokens")
                - F.coalesce("n_tokens_removed", F.lit(0))
            ).cast("bigint").alias("n_tokens_after"),
        )
    )

def substr_flag_and_audit(docs, fp=None):
    """Factored flag-then-audit kernel shared by ``dedup_substring_audit``
    and the synthetic-collision unit test. ``docs`` is a (doc_id, toks)
    frame; ``fp`` maps the gram-string Column to its fingerprint Column
    (default the production ``F.xxhash64`` — the test injects a
    deliberately WEAK fingerprint to force collisions). Two passes:

    1. FLAG (the dedup_substring fast path): per-gram fingerprint
       stream, min(doc)≠max(doc) dup test keyed by the 64-bit
       fingerprint — O(1) state, map-side combinable; flagged starts =
       occurrences of surviving fingerprints. Note every occurrence of
       a flagged fingerprint is flagged, so for each constituent gram
       STRING the flagged subset contains ALL of its occurrences —
       which is what makes pass 2 exact.
    2. AUDIT (the "second exact pass" of dedup_substring's docstring):
       re-derive the gram STRING for flagged starts only (one
       doc_id-keyed join back to the token arrays — flagged ≪ all
       grams, so strings travel only for the flagged sliver), then the
       same min≠max test keyed by the EXACT string: a start is
       CONFIRMED iff its own gram really spans ≥ 2 docs; anything else
       was over-marked by a fingerprint collision.

    Returns (doc_id, pos, gram, confirmed)."""
    grams = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"CASE WHEN size(toks) >= {_SUBSTR_K} THEN "
                    f"transform(sequence(1, size(toks) - {_SUBSTR_K} + 1), "
                    f"i -> array_join(slice(toks, i, {_SUBSTR_K}), ' ')) "
                    f"ELSE array() END"
                )
            ).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            (fp or F.xxhash64)(F.col("gram")).alias("g"),
        )
        .localCheckpoint(eager=True)
    )
    dup = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("g")
    )
    flagged = grams.join(dup, "g", "left_semi").select("doc_id", "pos")
    exact = flagged.join(docs, "doc_id").select(
        "doc_id",
        "pos",
        F.array_join(F.slice("toks", F.col("pos"), F.lit(_SUBSTR_K)), " ").alias(
            "gram"
        ),
    )
    estat = (
        exact.groupBy("gram")
        .agg(F.min("doc_id").alias("elo"), F.max("doc_id").alias("ehi"))
        .select("gram", (F.col("elo") != F.col("ehi")).alias("confirmed"))
    )
    return exact.join(estat, "gram").select("doc_id", "pos", "gram", "confirmed")


@query(
    "dedup_substring_audit",
    oracle=f"""
        WITH docs AS MATERIALIZED (
            SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        ),
        grams AS MATERIALIZED (
            SELECT doc_id, pos,
                   array_to_string(toks[pos : pos + {_SUBSTR_K} - 1], ' ') AS gram
            FROM (
                SELECT doc_id, toks,
                       unnest(range(1, len(toks) - {_SUBSTR_K} + 2)) AS pos
                FROM docs
            )
        ),
        dup AS MATERIALIZED (
            SELECT gram FROM grams
            GROUP BY gram HAVING min(doc_id) <> max(doc_id)
        ),
        starts AS MATERIALIZED (
            SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)
        )
        -- exact semantics: every exact-dup start confirms itself and
        -- nothing is over-marked; the Spark side reaches these numbers
        -- through fingerprint-flag + exact-string audit, so a REAL
        -- xxhash64 collision shows up as a LOUD driver mismatch here
        -- (n_flagged/n_overmarked diverge) instead of a silent
        -- over-removal downstream
        SELECT CAST((SELECT count(*) FROM starts) AS BIGINT)
                   AS n_flagged_starts,
               CAST((SELECT count(*) FROM starts) AS BIGINT)
                   AS n_confirmed_starts,
               CAST(0 AS BIGINT) AS n_overmarked_starts,
               CAST((SELECT count(*) FROM dup) AS BIGINT)
                   AS n_dup_grams_exact
    """,
    family="text",
)
def dedup_substring_audit(spark, sf_dir):
    """The SECOND EXACT PASS promised in dedup_substring's docstring,
    shipped as an auditable query (round-11; r10 advice): dedup_substring
    and dedup_substring_remove trade gram strings for 64-bit xxhash64
    fingerprints on the shuffle path, accepting that a fingerprint
    collision can only ever OVER-mark a start (never miss one). This op
    measures that over-marking exactly: pass 1 re-runs the fingerprint
    flag, pass 2 re-joins the flagged starts (a sliver — dup coverage,
    not the corpus) back to the token arrays, re-derives their gram
    STRINGS, and re-tests min(doc)≠max(doc) keyed by the exact string.
    Output is the audit ledger: flagged / confirmed / over-marked start
    counts and the exact distinct dup-gram count. Expected over-marked
    at corpus scale: ~n²/2⁶⁵ per Lee et al.'s hashed-match tolerance —
    ≈1e-2 starts at a BILLION distinct grams — and the oracle pins the
    exact-semantics answer (over-marked = 0), so any real collision on
    a fixture is a loud hash mismatch, not silent data loss. Scale
    shape: pass 1 is dedup_substring's (O(1)-state fingerprint agg);
    pass 2's string traffic is bounded by flagged coverage and its
    group space by the exact dup-gram set — measured ~9% of the gram
    stream on this corpus (flagged_frac 0.089 at sf0.01, 0.091 at
    sf0.1): the audit re-materializes strings for one start in eleven,
    and only the dup sliver of a production corpus. The synthetic-collision
    unit test (tests/test_pipeline.py) injects a deliberately weak
    fingerprint through ``substr_flag_and_audit`` and checks the audit
    recovers the exact answer under heavy collision pressure."""
    d = table(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    audited = substr_flag_and_audit(docs)
    return audited.agg(
        F.count("*").cast("bigint").alias("n_flagged_starts"),
        F.coalesce(F.sum(F.col("confirmed").cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("n_confirmed_starts"),
        F.coalesce(F.sum((~F.col("confirmed")).cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("n_overmarked_starts"),
        F.count_distinct(F.when(F.col("confirmed"), F.col("gram")))
        .cast("bigint")
        .alias("n_dup_grams_exact"),
    )
