"""Training-data-pipeline operators: language ID, quality scoring, token
counting, document fingerprinting, SimHash / n-gram / embedding near-dup,
and IVF approximate nearest neighbors.

These extend the §2.I surface with the operations a large-scale LLM
training-data pipeline needs. Every hash used in an oracle-checked operator
is engine-neutral (md5-prefix → bigint, or a polynomial rolling hash over
character codes) — never Spark's xxhash64/hash, which DuckDB can't
reproduce (SURVEY.md §7.4 hazard 6).

Scale notes are per-operator docstrings; the common theme: per-row feature
extraction is shuffle-free, near-dup pair generation goes through a banded
equi-join (LSH) so the shuffle key is a band hash, never the pair.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.functions.literals import inline_rows
from spark_ml_helper_spark.functions.vector_math import dot, l2_norm
from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table

# ---------------------------------------------------------------------------
# Language-ID marker profiles. The corpus vocabulary is synthetic (31
# bag-of-words tokens), so these profiles are tuned to that vocabulary: a
# stopword-overlap scorer, the classic cheap lang-ID heuristic (real corpora
# would use char-trigram profiles; identical plumbing, bigger marker maps).
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["batch", "merge", "group", "hash", "window"],
    "en": ["the", "a", "data", "value", "row", "fast"],
    "es": ["table", "sort", "line", "part", "order"],
    "fr": ["query", "scan", "slow", "filter", "column"],
    "zh": ["spark", "stream", "vector", "join", "key"],
}


def _toks(col: str = "text"):
    return F.split(F.lower(F.col(col)), " ")


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _spark_arr(words: list[str]):
    return F.array(*[F.lit(w) for w in words])


@query(
    "text_langid",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   {', '.join(
                       f"round(CAST(len(list_intersect(ts, {_sql_list(ws)})) AS DOUBLE) / len(ts), 6) AS s_{lang}"
                       for lang, ws in LANG_PROFILES.items()
                   )}
            FROM t
        )
        SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
               CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                    WHEN s_fr >= s_zh THEN 'fr'
                    ELSE 'zh' END AS pred_lang
        FROM s
    """,
    family="pipeline",
)
def text_langid(spark, sf_dir):
    """Language ID via stopword-profile overlap: score(lang) = |distinct
    tokens ∩ profile| / |distinct tokens|; argmax with lexicographic
    tiebreak (the CASE chain checks langs in sorted order with >=).
    Per-row, shuffle-free; profiles are literals folded into codegen."""
    d = table(spark, sf_dir, "documents")
    ts = F.array_distinct(_toks())
    df = d.select("doc_id", ts.alias("ts"))
    for lang, ws in LANG_PROFILES.items():
        df = df.withColumn(
            f"s_{lang}",
            F.round(
                F.size(F.array_intersect(F.col("ts"), _spark_arr(ws))).cast("double")
                / F.size("ts"),
                6,
            ),
        )
    pred = (
        F.when(
            (F.col("s_de") >= F.col("s_en")) & (F.col("s_de") >= F.col("s_es"))
            & (F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_zh")),
            "de",
        )
        .when(
            (F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_zh")),
            "en",
        )
        .when((F.col("s_es") >= F.col("s_fr")) & (F.col("s_es") >= F.col("s_zh")), "es")
        .when(F.col("s_fr") >= F.col("s_zh"), "fr")
        .otherwise("zh")
    )
    return df.select("doc_id", "s_de", "s_en", "s_es", "s_fr", "s_zh", pred.alias("pred_lang"))


@query(
    "text_quality",
    oracle="""
        WITH t AS (
            SELECT doc_id, n_chars,
                   len(string_split(text, ' ')) AS n_toks,
                   len(list_distinct(string_split(lower(text), ' '))) AS n_uniq,
                   len(list_filter(string_split(lower(text), ' '), t -> t IN ('the', 'a'))) AS n_stop
            FROM documents
        )
        SELECT doc_id, n_toks,
               round((n_chars - (n_toks - 1)) / CAST(n_toks AS DOUBLE), 6) AS avg_tok_len,
               round(n_stop / CAST(n_toks AS DOUBLE), 6) AS stop_ratio,
               round(1.0 - n_uniq / CAST(n_toks AS DOUBLE), 6) AS dup_ratio,
               round(0.4 * ln(1 + n_chars) / ln(600.0)
                     + 0.3 * (1.0 - n_stop / CAST(n_toks AS DOUBLE))
                     + 0.3 * (n_uniq / CAST(n_toks AS DOUBLE)), 6) AS quality
        FROM t
    """,
    family="pipeline",
)
def text_quality(spark, sf_dir):
    """Heuristic document-quality score: length signal + stopword ratio +
    token-repetition ratio, combined into one [0,1]-ish scalar — the
    standard cheap pre-filter before expensive dedup/training steps.
    Per-row, shuffle-free, all JVM expressions."""
    d = table(spark, sf_dir, "documents")
    toks = _toks()
    n_toks = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    stop_ratio = n_stop / n_toks.cast("double")
    uniq_ratio = n_uniq / n_toks.cast("double")
    return d.select(
        "doc_id",
        n_toks.cast("bigint").alias("n_toks"),
        F.round((F.col("n_chars") - (n_toks - 1)) / n_toks.cast("double"), 6).alias("avg_tok_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(1.0 - uniq_ratio, 6).alias("dup_ratio"),
        F.round(
            0.4 * F.log(1 + F.col("n_chars")) / F.log(F.lit(600.0))
            + 0.3 * (1.0 - stop_ratio)
            + 0.3 * uniq_ratio,
            6,
        ).alias("quality"),
    )


@query(
    "text_tokens",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
               CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_est4,
               round(n_chars / CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE), 6) AS chars_per_tok
        FROM documents
    """,
    family="pipeline",
)
def text_tokens(spark, sf_dir):
    """Token counting three ways: whitespace, BPE-ish regex pieces
    (letter-runs | digit-runs | single symbols — the classic pre-tokenizer
    shape), and the chars/4 estimator. Per-row regex, shuffle-free; regex
    is RE2-compatible so Spark (Java regex) and DuckDB (RE2) agree."""
    d = table(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)))
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_ws"),
        bpe.cast("bigint").alias("n_bpe"),
        F.ceil(F.col("n_chars") / 4.0).alias("n_est4"),
        F.round(F.col("n_chars") / bpe.cast("double"), 6).alias("chars_per_tok"),
    )


@query(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
                   (acc, x) -> (acc * 131 + x) % 1000000007
               ) AS roll_hash,
               CASE WHEN length(text) < 8 THEN NULL ELSE
               list_min(list_transform(
                   range(1, length(text) - 6),
                   i -> CAST(concat('0x', substr(md5(substr(text, i, 8)), 1, 15)) AS BIGINT)
               )) END AS min_shingle
        FROM documents
    """,
    family="pipeline",
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprints: (a) a polynomial rolling hash over the whole
    text (base 131 mod 1e9+7 — pure int64 arithmetic, identical in any
    engine), and (b) the minimum over all 8-char rolling windows of an
    md5-derived 60-bit shingle hash (the winnowing/min-hash fingerprint
    used for content-defined dedup). Per-row, shuffle-free."""
    d = table(spark, sf_dir, "documents")
    roll = F.expr(
        """aggregate(
               transform(slice(split(text, ''), 2, length(text) - 1), c -> cast(ascii(c) as bigint)),
               cast(ascii(substr(text, 1, 1)) as bigint),
               (acc, x) -> (acc * 131 + x) % 1000000007
           )"""
    )
    # Guard: for texts shorter than the 8-char window, sequence(1, len-7)
    # would DESCEND (1, 0, -1, ...) and hash garbage substr windows while
    # the DuckDB range() returns empty → NULL. NULL on both sides instead.
    # (Latent on the fixtures — min n_chars is 47 — but keeps the operator
    # total over arbitrary corpora.)
    min_shingle = F.expr(
        """CASE WHEN length(text) < 8 THEN NULL ELSE
           array_min(transform(
               sequence(1, length(text) - 7),
               i -> cast(conv(substr(md5(cast(substr(text, i, 8) as binary)), 1, 15), 16, 10) as bigint)
           )) END"""
    )
    return d.select("doc_id", roll.alias("roll_hash"), min_shingle.alias("min_shingle"))


# SimHash: 60-bit (bits 0..59 — staying clear of int64 sign games), token
# hash = first 15 hex chars of md5 (engine-neutral). Shared constants:
_SIMHASH_BITS = 60
_BAND_BITS = 15  # 4 bands × 15 bits; hamming ≤ 3 ⇒ ≥1 identical band

# Three-step Spark form, each hoisted into its own column so token hashing
# happens ONCE per doc (inlining the token hash inside the per-bit loop
# re-ran split+md5 60x per doc — measured 50 s vs ~4 s at sf0.1):
#   th     : md5-derived 60-bit id per distinct token
#   bitsum : single pass over tokens accumulating the 60 signed bit counts
#   sh     : sign of each bit count packed into a 60-bit signature
_SPARK_TH = """
    transform(array_distinct(split(lower(text), ' ')),
              t -> cast(conv(substr(md5(cast(t as binary)), 1, 15), 16, 10) as bigint))
"""
_SPARK_BITSUM = """
    aggregate(th, array_repeat(cast(0 as bigint), 60),
              (acc, h) -> zip_with(acc, sequence(0, 59),
                                   (x, b) -> x + IF((shiftright(h, b) & 1) = 1,
                                                    cast(1 as bigint), cast(-1 as bigint))))
"""
_SPARK_SH = """
    aggregate(zip_with(bitsum, sequence(0, 59),
                       (s, b) -> IF(s > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint))),
              cast(0 as bigint), (a, x) -> a + x)
"""

_DUCK_SIMHASH = """
    list_sum(list_transform(range(0, 60), b -> CASE WHEN
        list_sum(list_transform(
            list_transform(list_distinct(string_split(lower(text), ' ')),
                           t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)),
            h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END))
"""


@query(
    "dedup_simhash",
    oracle=f"""
        WITH sh AS (SELECT doc_id, {_DUCK_SIMHASH} AS sh FROM documents)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
    family="pipeline",
)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (60-bit signature over distinct tokens,
    hamming ≤ 3). The Spark plan is the SCALE plan: split the signature
    into 4 bands of 15 bits and equi-join on (band_no, band_value) — by
    pigeonhole every pair at hamming ≤ 3 agrees on ≥1 band, so the banded
    join is EXACT for this threshold while shuffling on band hashes, never
    enumerating the O(n²) pair space. Docs with IDENTICAL signatures are
    collapsed to one representative before banding (identical signatures
    otherwise grow band buckets quadratically — measured 48 s → ~5 s at
    sf0.1) and re-expanded through membership joins at the end. The
    quadratic oracle proves the whole construction."""
    # repartition: single-row-group fixture → 1 scan task; the signature
    # build is the CPU-dense stage and must spread (see dedup_ngram note)
    d = table(spark, sf_dir, "documents").repartition("doc_id")
    sh = (
        d.withColumn("th", F.expr(_SPARK_TH))
        .withColumn("bitsum", F.expr(_SPARK_BITSUM))
        .select("doc_id", F.expr(_SPARK_SH).alias("sh"))
        # signature build feeds reps/membership/bands branches with no
        # cross-branch exchange reuse — materialize it once
        .localCheckpoint(eager=True)
    )
    reps = sh.groupBy("sh").agg(F.min("doc_id").alias("rep_id"))
    membership = sh.join(reps, "sh").select("doc_id", "rep_id", "sh")
    bands = reps.select(
        "rep_id",
        "sh",
        F.explode(
            F.expr(
                f"transform(sequence(0, 3), k -> named_struct("
                f"'band_no', k, 'band_val', shiftright(sh, k * {_BAND_BITS}) & {2**_BAND_BITS - 1}))"
            )
        ).alias("band"),
    ).select("rep_id", "sh", "band.band_no", "band.band_val")
    a = bands.select(F.col("rep_id").alias("ra"), F.col("sh").alias("a_sh"), "band_no", "band_val")
    b = bands.select(F.col("rep_id").alias("rb"), F.col("sh").alias("b_sh"), "band_no", "band_val")
    hamming = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh")))
    # Hamming filter BEFORE the dedup shuffle: a band-collision pair that
    # fails the threshold is dropped map-side in the join stage, so the
    # distinct() shuffles only surviving (ra, rb, hamming) triples —
    # measured 640k raw candidates → 13.5k survivors at sf0.1 (47x less
    # shuffle), total 7.8 s → ~3 s. At 100 TB the raw-candidate volume is
    # the dominant intermediate; never materialize it across a shuffle.
    sig_pairs = (
        a.join(b, ["band_no", "band_val"])
        .filter((F.col("ra") < F.col("rb")) & (hamming <= 3))
        .select("ra", "rb", hamming.alias("hamming"))
        .distinct()
    )
    cross = (
        sig_pairs.join(membership.select(F.col("rep_id").alias("ra"), F.col("doc_id").alias("da")), "ra")
        .join(membership.select(F.col("rep_id").alias("rb"), F.col("doc_id").alias("db")), "rb")
        .select(F.least("da", "db").alias("a_id"), F.greatest("da", "db").alias("b_id"), "hamming")
    )
    m1 = membership.select("rep_id", F.col("doc_id").alias("a_id"))
    m2 = membership.select("rep_id", F.col("doc_id").alias("b_id"))
    within = (
        m1.join(m2, "rep_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(within)


@query(
    "dedup_ngram",
    oracle="""
        WITH ts AS (
            SELECT doc_id, list_sort(list_distinct(list_transform(
                       range(1, len(string_split(lower(text), ' '))),
                       i -> string_split(lower(text), ' ')[i] || ' ' || string_split(lower(text), ' ')[i + 1]
                   ))) AS bg
            FROM documents
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round(CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
                     / (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))), 6) AS jac
        FROM ts a JOIN ts b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
              / (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg))) >= 0.5
    """,
    family="pipeline",
    bnlj="G-row block-id spine (G=4) fanning set blocks into block pairs",
)
def dedup_ngram(spark, sf_dir):
    """Word-bigram Jaccard near-dup pairs (≥ 0.5): order-sensitive token
    overlap — catches shuffled-bag false positives that unigram Jaccard
    admits. Exact via the same PPJoin prefix-filter join as dedup_jaccard
    (functions.setsim) over the bigram-shingle sets — bigram vocabularies
    are wide, so the rarest-shingle posting lists are short and candidate
    volume collapses (507 s quadratic → ~10 s at sf0.1, identical rows)."""
    from spark_ml_helper_spark.functions.setsim import smallvocab_jaccard_pairs

    # repartition before the compute-dense bigram build: the fixture table
    # is one parquet row group → one scan task, serializing all per-doc
    # compute (measured 3.3 s single-task vs 0.5 s spread). At cluster
    # scale a many-file table parallelizes naturally and this shuffle of
    # the raw text is the redundant cost — drop it there.
    d = table(spark, sf_dir, "documents").repartition("doc_id")
    # tokens hoisted into their own projection: inlining split() into the
    # transform lambda re-splits the text on EVERY element access
    # (O(tokens²) per doc — the same trap the simhash signature hit)
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    bg = toks.select(
        "doc_id",
        F.expr(
            """array_distinct(CASE WHEN size(toks) < 2
                   THEN cast(array() as array<string>)
                   ELSE transform(sequence(0, size(toks) - 2),
                        i -> concat(toks[i], ' ', toks[i + 1]))
               END)"""
        ).alias("elems"),
    )
    # bigram vocab here is bounded (~1k) while τ=0.5 makes PPJoin prefixes
    # half the set → degenerate candidates (3.5M cands / 256 true pairs,
    # 48 s); the block-matmul multi-hot path covers all pairs at BLAS cost
    # instead (identical rows). See smallvocab_jaccard_pairs for the
    # crossover rule.
    return smallvocab_jaccard_pairs(bg, tau=0.5, out_col="jac")


_DUCK_DOT = "list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * {b}[i]))"
_DUCK_NORM = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * x)))"


@query(
    "dedup_embedding",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, embedding, {_DUCK_NORM.format(a='embedding')} AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round({_DUCK_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm), 6) AS sim
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {_DUCK_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm) >= 0.4
    """,
    family="pipeline",
    bnlj="G-row block-id spine (G=8) fanning vector blocks into block pairs",
)
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (sim ≥ 0.4): semantic dedup — the
    step after exact/MinHash dedup in a training pipeline. Exact result via
    block-matrix preselection: numpy matmul per block pair emits candidates
    above (τ − 1e-6), then the sequential JVM fold rescores them so output
    values are bit-identical to the naive all-pairs form (the margin
    absorbs matmul reassociation error, ~1e-13). At 100 TB the candidate
    set instead comes from sim_ann_lsh / sim_ann_ivf bucketing; this is
    the exact mid-scale path."""
    from spark_ml_helper_spark.functions.blockpairs import block_pair_candidates, threshold_kernel

    TAU = 0.4
    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm"))
    cand = block_pair_candidates(spark, v, threshold_kernel(TAU))
    av = v.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"), F.col("nrm").alias("a_nrm"))
    bv = v.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"), F.col("nrm").alias("b_nrm"))
    sim = dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
    return (
        cand.join(av, "a_id")
        .join(bv, "b_id")
        .withColumn("sim", F.round(sim, 6))
        .filter(sim >= TAU)
        .select("a_id", "b_id", "sim")
    )


@query(
    "sim_ann_ivf",
    oracle=f"""
        WITH ex AS (
            SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings, range(1, 65) r(i)
        ),
        cent AS (
            SELECT label AS c_label, list(round(avg_v, 6) ORDER BY pos) AS centroid
            FROM (SELECT label, pos, avg(v) AS avg_v FROM ex GROUP BY label, pos)
            GROUP BY label
        ),
        vn AS (
            SELECT vec_id, embedding, {_DUCK_NORM.format(a='embedding')} AS nrm
            FROM embeddings
        ),
        ranked AS (
            SELECT v.vec_id, v.embedding, v.nrm, c.c_label,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(list_sum(list_transform(range(1, 65),
                           i -> (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i])
                                * (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i]))), 6),
                           c.c_label
                   ) AS crn
            FROM vn v CROSS JOIN cent c
        ),
        assigned AS (SELECT vec_id, embedding, nrm, c_label FROM ranked WHERE crn = 1),
        probes AS (SELECT vec_id, embedding, nrm, c_label FROM ranked WHERE crn <= 2 AND vec_id < 50)
        SELECT q_id, n_id, sim, rn FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                   round({_DUCK_DOT.format(a='q.embedding', b='c.embedding')} / (q.nrm * c.nrm), 6) AS sim,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({_DUCK_DOT.format(a='q.embedding', b='c.embedding')} / (q.nrm * c.nrm), 6) DESC,
                                c.vec_id
                   ) AS rn
            FROM probes q JOIN assigned c
              ON q.c_label = c.c_label AND c.vec_id <> q.vec_id
        ) WHERE rn <= 5
    """,
    family="pipeline",
    bnlj="1-row broadcast cell-centroid array for map-side cell assignment",
)
def sim_ann_ivf(spark, sf_dir):
    """IVF approximate nearest neighbors: coarse-quantize every vector to
    its nearest centroid (per-label mean vectors as the deterministic
    codebook — production would train k-means, identical plumbing), then
    search only the query's nprobe=2 nearest cells. The neighbor join key
    is the CELL id — an equi-join, the sublinear 100 TB path — vs
    sim_knn's full cross product. Recall vs sim_knn is measured in tests;
    nprobe is the recall/cost dial. Distances are rounded to 6dp before
    ranking so the argmin/top-k is engine-stable; ties break on label /
    vec_id."""
    e = table(spark, sf_dir, "embeddings")
    # codebook: per-label mean, rounded — deterministic across engines.
    # Posexplode → (label, pos) partial agg on purpose (r18 measured: the
    # 64-wide single-aggregate variant regressed wall ~0.7 s from
    # whole-stage codegen compile at that width; see _km_train's note).
    ex = e.select("label", F.posexplode("embedding").alias("pos0", "v"))
    cent = (
        ex.groupBy(F.col("label").alias("c_label"), (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mv"))
        .groupBy("c_label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))), lambda s: s.getField("mv")
            ).alias("centroid")
        )
    )
    vn = e.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm"))
    # Cell assignment is MAP-SIDE (round-7, the sim_ann_ivfpq recipe):
    # the whole codebook rides in one broadcast row of (c_label,
    # centroid) structs and each vector array_sorts its (d², c_label)
    # structs in place — no corpus×cells row explosion, no row_number
    # window shuffle over the corpus. Same 6 dp grid and (d², label)
    # tie-break as the oracle's window form; values are bit-identical.
    cells = cent.agg(
        F.array_sort(F.collect_list(F.struct("c_label", "centroid"))).alias("cells")
    ).localCheckpoint(eager=True)
    ds = F.expr(
        "array_sort(transform(cells, c -> struct("
        "round(aggregate(zip_with(embedding, c.centroid, "
        "(x, cc) -> (cast(x as double) - cc) * (cast(x as double) - cc)), "
        "0D, (a, v) -> a + v), 6) AS d2, c.c_label AS c_label)))"
    )
    scored = vn.crossJoin(F.broadcast(cells)).select("vec_id", "embedding", "nrm", ds.alias("ds"))
    assigned = scored.select(
        "vec_id", "embedding", "nrm", F.expr("ds[0].c_label").alias("c_label")
    )
    probes = scored.where(F.col("vec_id") < 50).select(
        "vec_id",
        "embedding",
        "nrm",
        F.explode(F.expr("transform(slice(ds, 1, 2), s -> s.c_label)")).alias("c_label"),
    )
    q = probes.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("c_label").alias("cell"),
    )
    c = assigned.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("c_label").alias("cell"),
    )
    sim = F.round(dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6)
    w_top = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "n_id")
    return (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn("sim", sim)
        .withColumn("rn", F.row_number().over(w_top).cast("bigint"))
        .filter(F.col("rn") <= 5)
        .select("q_id", "n_id", "sim", "rn")
    )


@query(
    "pipeline_retrieval",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
            FROM documents
        ),
        doc_dims AS (
            SELECT doc_id,
                   ('0x' || substring(md5(w), 1, 8))::BIGINT % 64 AS dim,
                   count(*) AS tf
            FROM toks GROUP BY doc_id, dim
        ),
        doc_norm AS (
            SELECT doc_id,
                   sqrt(sum(CAST(tf AS DOUBLE) * tf)) AS nrm
            FROM doc_dims GROUP BY doc_id
        ),
        qtok AS (
            SELECT unnest(['table', 'scan', 'merge']) AS w
        ),
        q_dims AS (
            SELECT ('0x' || substring(md5(w), 1, 8))::BIGINT % 64 AS dim,
                   count(*) AS tf
            FROM qtok GROUP BY dim
        ),
        q_norm AS (
            SELECT sqrt(sum(CAST(tf AS DOUBLE) * tf)) AS qn FROM q_dims
        ),
        scored AS (
            SELECT d.doc_id,
                   round(sum(CAST(d.tf AS DOUBLE) * q.tf)
                         / (max(n.nrm) * max(qn.qn)), 6) AS sim
            FROM doc_dims d
            JOIN q_dims q ON d.dim = q.dim
            JOIN doc_norm n ON n.doc_id = d.doc_id
            CROSS JOIN q_norm qn
            GROUP BY d.doc_id
        )
        SELECT doc_id, sim,
               CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS BIGINT)
                   AS rnk
        FROM scored
        ORDER BY sim DESC, doc_id
        LIMIT 5
    """,
    family="pipeline",
    bnlj="1-row query norm broadcast onto the per-doc scores",
)
def pipeline_retrieval(spark, sf_dir):
    """End-to-end lexical retrieval pipeline — the BM25-lite/RAG-
    retrieval shape on pure engine primitives: embed every document as
    a 64-dim HASHED bag-of-words vector (md5(token) mod 64, the
    feature_hashing trick — vocabulary-free, so the embedding needs no
    fitted state), embed the query the same way, score cosine via a
    SPARSE dimension join (only dimensions the query touches are ever
    scored — the inverted-index property: cost ∝ postings of query
    dims, not |corpus|), and return the tiebroken top-5. This is the
    retrieval sibling of corpus_decontaminate (same join-on-shared-
    structure plan) and the lexical twin of sim_knn's dense path; at
    100 TB the doc_dims frame IS the inverted index — build once,
    partition by dim, and every query is a |query-dims|-key lookup
    join. Integer tfs keep the dot exact; norms/cosines round at 6 dp
    with full tiebreaks."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
    dim = F.pmod(
        F.conv(F.substring(F.md5(F.col("w").cast("binary")), 1, 8), 16, 10).cast(
            "bigint"
        ),
        F.lit(64),
    )
    doc_dims = toks.groupBy("doc_id", dim.alias("dim")).agg(
        F.count("*").alias("tf")
    )
    doc_norm = doc_dims.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf").cast("double") * F.col("tf"))).alias("nrm")
    )
    qtok = spark.sql(f"SELECT {inline_rows([('table',), ('scan',), ('merge',)], 'w string')}")
    q_dims = qtok.groupBy(dim.alias("dim")).agg(F.count("*").alias("tf_q"))
    q_norm = q_dims.agg(
        F.sqrt(F.sum(F.col("tf_q").cast("double") * F.col("tf_q"))).alias("qn")
    )
    scored = (
        doc_dims.join(F.broadcast(q_dims), "dim")
        .join(doc_norm, "doc_id")
        .join(F.broadcast(q_norm))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("tf").cast("double") * F.col("tf_q"))
                / (F.max("nrm") * F.max("qn")),
                6,
            ).alias("sim")
        )
    )
    w = Window.orderBy(F.desc("sim"), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 5)
        .orderBy(F.desc("sim"), "doc_id")
    )


@query(
    "pipeline_pretrain_report",
    oracle=f"""
        WITH base AS MATERIALIZED (
            SELECT doc_id, text, lower(text) AS key,
                   string_split(lower(text), ' ') AS t
            FROM documents
        ),
        feat AS MATERIALIZED (
            SELECT doc_id, text, key, t,
                   len(t) AS n_tokens,
                   round(len(list_distinct(t)) * 1.0 / len(t), 6) AS ttr,
                   {_DUCK_SIMHASH} AS sh
            FROM base
        ),
        q AS MATERIALIZED (
            SELECT *, (n_tokens BETWEEN 20 AND 1000 AND ttr > 0.3) AS q_pass
            FROM feat
        ),
        ex AS MATERIALIZED (
            SELECT *, q_pass AND row_number() OVER (
                PARTITION BY key
                ORDER BY CASE WHEN q_pass THEN 0 ELSE 1 END, doc_id
            ) = 1 AS exact_keep FROM q
        ),
        nr AS MATERIALIZED (
            SELECT *, exact_keep AND row_number() OVER (
                PARTITION BY sh
                ORDER BY CASE WHEN exact_keep THEN 0 ELSE 1 END, doc_id
            ) = 1 AS near_keep FROM ex
        ),
        benchsh AS MATERIALIZED (
            SELECT DISTINCT unnest(list_distinct(
                list_transform(range(1, len(t) - 2),
                               i -> array_to_string(t[i:i+3], ' ')))) AS shingle
            FROM base WHERE doc_id % 97 = 0
        ),
        contam AS MATERIALIZED (
            SELECT DISTINCT s.doc_id FROM (
                SELECT doc_id, unnest(list_distinct(
                    list_transform(range(1, len(t) - 2),
                                   i -> array_to_string(t[i:i+3], ' ')))) AS shingle
                FROM base WHERE doc_id % 97 <> 0
            ) s JOIN benchsh b ON s.shingle = b.shingle
        ),
        dc AS MATERIALIZED (
            SELECT n.*,
                   n.near_keep AND n.doc_id % 97 <> 0 AND c.doc_id IS NULL
                       AS decon_keep
            FROM nr n LEFT JOIN contam c ON n.doc_id = c.doc_id
        ),
        tot AS MATERIALIZED (
            SELECT CAST(floor(
                sum(CASE WHEN decon_keep THEN n_tokens ELSE 0 END) * 0.5
            ) AS BIGINT) AS budget FROM dc
        ),
        flags AS MATERIALIZED (
            SELECT doc_id, n_tokens, q_pass, exact_keep, near_keep, decon_keep,
                   decon_keep AND
                   sum(CASE WHEN decon_keep THEN n_tokens ELSE 0 END) OVER (
                       ORDER BY CASE WHEN decon_keep THEN 0 ELSE 1 END,
                                ttr DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) <= t.budget AS budget_keep
            FROM dc CROSS JOIN tot t
        )
        SELECT CAST(0 AS BIGINT) AS stage, 'input' AS stage_name,
               count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
        FROM flags
        UNION ALL SELECT 1, 'quality_filter', count(*) FILTER (q_pass),
               CAST(coalesce(sum(n_tokens) FILTER (q_pass), 0) AS BIGINT) FROM flags
        UNION ALL SELECT 2, 'exact_dedup', count(*) FILTER (exact_keep),
               CAST(coalesce(sum(n_tokens) FILTER (exact_keep), 0) AS BIGINT) FROM flags
        UNION ALL SELECT 3, 'neardup_collapse', count(*) FILTER (near_keep),
               CAST(coalesce(sum(n_tokens) FILTER (near_keep), 0) AS BIGINT) FROM flags
        UNION ALL SELECT 4, 'decontaminated', count(*) FILTER (decon_keep),
               CAST(coalesce(sum(n_tokens) FILTER (decon_keep), 0) AS BIGINT) FROM flags
        UNION ALL SELECT 5, 'token_budget', count(*) FILTER (budget_keep),
               CAST(coalesce(sum(n_tokens) FILTER (budget_keep), 0) AS BIGINT) FROM flags
    """,
    family="pipeline",
    global_window="corpus_token_budget's budget window, composed per stage",
)
def pipeline_pretrain_report(spark, sf_dir):
    """END-TO-END PRETRAIN CURATION FUNNEL in one plan — the composed
    pipeline the individual operators exist for, reported as the
    docs/tokens-surviving-each-stage table a data lead signs off on:
    input → quality filter (length window + type-token ratio) → exact
    dedup (min doc_id per normalized text) → near-dup collapse
    (identical 60-bit SimHash signature, the same signature
    dedup_simhash bands) → benchmark decontamination (4-token shingle
    overlap vs the doc_id%97 eval slice, corpus_decontaminate's exact
    filter) → 50% token-budget fill in quality order
    (corpus_token_budget's rule). Stages compose as PER-DOC BOOLEAN
    FLAGS, each conditioned on the previous via stage-aware window
    tiebreaks (survivors sort first inside each dedup partition), so
    the whole funnel is ONE pass over documents plus two dedup
    windows, one broadcast shingle join, and one budget window — then
    a single fused aggregate fans the 6 stage rows out through an
    explode (dq_expectations' pattern: no per-stage rescans). Exact
    integer outputs, hash-stable. At 100 TB each stage is the scale
    shape its standalone operator documents; composing them as flags
    keeps the corpus scanned ONCE instead of once per stage."""
    d = table(spark, sf_dir, "documents").repartition("doc_id")
    feat = (
        d.select(
            "doc_id",
            "text",
            F.lower(F.col("text")).alias("key"),
            F.split(F.lower(F.col("text")), " ").alias("t"),
        )
        .withColumn("n_tokens", F.size("t"))
        .withColumn(
            "ttr",
            F.round(
                F.size(F.array_distinct("t")) / F.size("t").cast("double"), 6
            ),
        )
        .withColumn("th", F.expr(_SPARK_TH))
        .withColumn("bitsum", F.expr(_SPARK_BITSUM))
        .withColumn("sh", F.expr(_SPARK_SH))
        .drop("th", "bitsum")
        # signature build feeds every later branch once — including, since
        # r19, the shingle branches (they used to re-scan + re-split the
        # parquet twice). Lazy: the final job's first broadcast build
        # materializes it, so the query is ONE driver job instead of two.
        .localCheckpoint(eager=False)
    )
    q = feat.withColumn(
        "q_pass",
        F.col("n_tokens").between(20, 1000) & (F.col("ttr") > 0.3),
    )
    wkey = Window.partitionBy("key").orderBy(
        F.when(F.col("q_pass"), 0).otherwise(1), "doc_id"
    )
    ex = q.withColumn(
        "exact_keep", F.col("q_pass") & (F.row_number().over(wkey) == 1)
    )
    wsh = Window.partitionBy("sh").orderBy(
        F.when(F.col("exact_keep"), 0).otherwise(1), "doc_id"
    )
    nr = ex.withColumn(
        "near_keep", F.col("exact_keep") & (F.row_number().over(wsh) == 1)
    )
    # r19: shingles derive from feat's already-split token array instead of
    # re-scanning and re-splitting the parquet in two more subtrees (the
    # before plan carried 4 parquet scans of documents; after: zero beyond
    # the checkpoint build — plans/r19/pipeline_pretrain_report_*.txt).
    # t IS split(lower(text), ' '), so the shingle stream is identical.
    shingles = feat.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size("t") < 4,
                    F.expr("cast(array() as array<string>)"),
                ).otherwise(
                    F.expr(
                        "transform(sequence(0, size(t) - 4), "
                        "i -> array_join(slice(t, i + 1, 4), ' '))"
                    )
                )
            )
        ).alias("shingle"),
    )
    bench = shingles.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    contam = (
        shingles.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    dc = nr.join(contam, "doc_id", "left").withColumn(
        "decon_keep",
        F.col("near_keep")
        & (F.col("doc_id") % 97 != 0)
        & F.col("contaminated").isNull(),
    )
    # r19 fusion: the token budget is the GLOBAL sum of the same
    # decon-kept tokens the cumulative window below folds — computing it
    # as a whole-frame window aggregate rides the single-partition window
    # stage the budget fill already pays, instead of a separate agg +
    # crossJoin whose broadcast build recomputed the ENTIRE dc subtree
    # (both dedup windows + the contam join + 2 parquet scans ran TWICE —
    # the duplicated operator tree in
    # plans/r19/pipeline_pretrain_report_before.txt nodes 35-72).
    # n_tokens is an exact integer, so the window sum is order-independent
    # and floor(sum * 0.5) is bit-identical to the old aggregate's.
    decon_tokens = F.sum(
        F.when(F.col("decon_keep"), F.col("n_tokens")).otherwise(0)
    )
    budget = F.floor(decon_tokens.over(Window.partitionBy()) * 0.5).cast("bigint")
    wcum = Window.orderBy(
        F.when(F.col("decon_keep"), 0).otherwise(1),
        F.col("ttr").desc(),
        "doc_id",
    ).rowsBetween(Window.unboundedPreceding, 0)
    flags = dc.withColumn(
        "budget_keep",
        F.col("decon_keep") & (decon_tokens.over(wcum) <= budget),
    )
    stages = [
        ("input", F.lit(True)),
        ("quality_filter", F.col("q_pass")),
        ("exact_dedup", F.col("exact_keep")),
        ("neardup_collapse", F.col("near_keep")),
        ("decontaminated", F.col("decon_keep")),
        ("token_budget", F.col("budget_keep")),
    ]
    aggs = []
    for i, (name, flag) in enumerate(stages):
        aggs.append(F.sum(F.when(flag, 1).otherwise(0)).alias(f"d{i}"))
        aggs.append(
            F.sum(F.when(flag, F.col("n_tokens")).otherwise(0)).alias(f"t{i}")
        )
    one = flags.agg(*aggs)
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("bigint").alias("stage"),
                        F.lit(name).alias("stage_name"),
                        F.col(f"d{i}").cast("bigint").alias("docs"),
                        F.col(f"t{i}").cast("bigint").alias("tokens"),
                    )
                    for i, (name, _) in enumerate(stages)
                ]
            )
        ).alias("e")
    ).select("e.stage", "e.stage_name", "e.docs", "e.tokens")
