"""Corpus-level statistics and curation operators for LLM training-data
pipelines: collocation mining (PMI), Zipf-law fitting, benchmark
decontamination, and language-mix reweighting.

All four are explode → hash-agg → (small) join shapes: the shuffles carry
token/shingle keys whose cardinality is the vocabulary (31 here, a few
million at web scale), never the document pair space. Decontamination —
the "did a benchmark leak into train?" sweep every eval-honest pipeline
runs — joins on the shingle dictionary, so its cost is proportional to
the contaminated overlap, not |train| × |benchmark|.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_ml_helper_spark.functions.literals import inline_rows
from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.sources.parquet import table
from spark_ml_helper_spark.operators.text import _tokens


@query(
    "text_collocations",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        uni AS (
            SELECT unnest(t) AS w FROM toks
        ),
        uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
        bi AS (
            SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS b
            FROM toks
        ),
        bc AS (SELECT b, count(*) AS c_ab FROM bi GROUP BY b),
        n AS (
            SELECT (SELECT count(*) FROM uni) AS n_uni,
                   (SELECT count(*) FROM bi) AS n_bi
        )
        SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2, c_ab,
               round(ln((c_ab / n_bi) / ((a.c / n_uni) * (bb.c / n_uni))), 6) AS pmi
        FROM bc, n
        JOIN uc a ON a.w = split_part(b, ' ', 1)
        JOIN uc bb ON bb.w = split_part(b, ' ', 2)
        WHERE c_ab >= 5
    """,
    family="corpus",
    bnlj="1-row unigram/bigram totals crossJoined onto the bigram counts",
)
def text_collocations(spark, sf_dir):
    """Collocation mining: PMI = ln(p(ab) / (p(a)·p(b))) over adjacent
    word pairs, keeping pairs seen ≥ 5 times. Three explode+agg passes
    (unigrams, bigrams, corpus totals — the totals are a single-row frame
    broadcast back) and two joins keyed on the vocabulary. The identical
    arithmetic expression runs on both engines so the doubles hash-match
    after 6-dp rounding."""
    d = table(spark, sf_dir, "documents").select("doc_id", _tokens().alias("t"))
    uni = d.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("c"))
    bi = d.select(
        F.explode(
            F.when(F.size("t") < 2, F.expr("cast(array() as array<string>)")).otherwise(
                F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))")
            )
        ).alias("b")
    )
    bc = bi.groupBy("b").agg(F.count("*").alias("c_ab"))
    totals = uni.agg(F.count("*").alias("n_uni")).crossJoin(bi.agg(F.count("*").alias("n_bi")))
    a, bb = uc.alias("a"), uc.alias("bb")
    return (
        bc.filter(F.col("c_ab") >= 5)
        .crossJoin(F.broadcast(totals))
        .withColumn("w1", F.split_part(F.col("b"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("b"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(a), F.col("w1") == F.col("a.w"))
        .join(F.broadcast(bb), F.col("w2") == F.col("bb.w"))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("n_bi"))
                    / ((F.col("a.c") / F.col("n_uni")) * (F.col("bb.c") / F.col("n_uni")))
                ),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "text_zipf",
    oracle="""
        WITH uc AS (
            SELECT w, count(*) AS c FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
            ) GROUP BY w
        ),
        ranked AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk FROM uc
        )
        SELECT count(*) AS n_types,
               round(regr_slope(ln(c), ln(rnk)), 4) AS zipf_slope,
               round(regr_intercept(ln(c), ln(rnk)), 4) AS zipf_intercept,
               round(regr_r2(ln(c), ln(rnk)), 4) AS r2
        FROM ranked
    """,
    family="corpus",
)
def text_zipf(spark, sf_dir):
    """Zipf-law fit: OLS regression of ln(frequency) on ln(rank) over the
    term-frequency table (rank tie-broken on the token for cross-engine
    determinism). The regression itself runs on the vocabulary-sized
    aggregate, so the only corpus-sized work is the term count; regr_*
    are single-pass mergeable aggregates on both engines. Rounded to 4 dp
    — the two engines' regr implementations differ in summation order."""
    d = table(spark, sf_dir, "documents")
    uc = (
        d.select(F.explode(_tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    ranked = uc.select(
        "c", F.row_number().over(Window.orderBy(F.col("c").desc(), "w")).alias("rnk")
    )
    lc, lr = F.log("c"), F.log("rnk")
    return ranked.agg(
        F.count("*").alias("n_types"),
        F.round(F.regr_slope(lc, lr), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(lc, lr), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(lc, lr), 4).alias("r2"),
    )


# 4-token shingles: the fixture vocabulary is 31 tokens, so the 8-gram
# space real pipelines use (31^8) is collision-free here and would make the
# overlap join trivially empty; 31^4 keeps genuine cross-doc collisions in
# the data so the join path is exercised. Width is the only knob.
_SHINGLE_N = 4
_SHINGLE_DUCK = (
    f"list_transform(range(1, len(t) - {_SHINGLE_N - 2}), "
    f"i -> array_to_string(t[i:i+{_SHINGLE_N - 1}], ' '))"
)


@query(
    "corpus_decontaminate",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        sh AS (
            SELECT doc_id, unnest(list_distinct({_SHINGLE_DUCK})) AS shingle FROM toks
        ),
        bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0)
        SELECT train.doc_id, count(*) AS n_shared_shingles
        FROM train JOIN bench ON train.shingle = bench.shingle
        GROUP BY train.doc_id
    """,
    family="corpus",
)
def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    4-token shingle with the held-out benchmark slice (doc_id % 97 = 0
    stands in for the eval set; production pipelines use 8-13-gram
    windows — see _SHINGLE_N). Both sides reduce to DISTINCT (doc,
    shingle) before the join, and the benchmark shingle dictionary — tiny
    relative to train — broadcasts, so the sweep costs one scan of train
    shingles plus a map-side join. This is the exact n-gram-overlap
    filter (GPT-3/PaLM style) used before training runs; at 100 TB the
    shingle explode dominates and shuffles only on matched shingles."""
    d = table(spark, sf_dir, "documents").select("doc_id", _tokens().alias("t"))
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(
                    F.size("t") < _SHINGLE_N, F.expr("cast(array() as array<string>)")
                ).otherwise(
                    F.expr(
                        f"transform(sequence(0, size(t) - {_SHINGLE_N}), "
                        f"i -> array_join(slice(t, i + 1, {_SHINGLE_N}), ' '))"
                    )
                )
            )
        ).alias("shingle"),
    )
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    train = sh.filter(F.col("doc_id") % 97 != 0)
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )


@query(
    "corpus_mix_weights",
    oracle="""
        WITH per_lang AS (
            SELECT lang, count(*) AS n_docs, sum(n_chars) AS n_chars
            FROM documents GROUP BY lang
        ),
        tot AS (SELECT sum(n_docs) AS n_total, count(*) AS n_langs FROM per_lang)
        SELECT lang, n_docs, CAST(n_chars AS BIGINT) AS n_chars,
               round(n_docs / n_total, 6) AS actual_frac,
               round((1.0 / n_langs) / (n_docs / n_total), 6) AS sample_weight,
               CAST(round(n_total * (1.0 / n_langs), 0) AS BIGINT) AS target_docs
        FROM per_lang, tot
    """,
    family="corpus",
    bnlj="1-row document total crossJoined onto the per-language counts",
)
def corpus_mix_weights(spark, sf_dir):
    """Language-mix reweighting: per-language corpus shares and the
    per-document sampling weight that flattens the mix to uniform (the
    data-mixture step of multilingual pretraining — swap the uniform
    target for any desired distribution). One hash agg over the corpus;
    the totals are a broadcast single-row frame. Weights > 1 mean
    upsample (repeat/epoch-boost), < 1 mean downsample."""
    d = table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = per_lang.agg(
        F.sum("n_docs").alias("n_total"), F.count("*").alias("n_langs")
    )
    frac = F.col("n_docs") / F.col("n_total")
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_chars",
        F.round(frac, 6).alias("actual_frac"),
        F.round((1.0 / F.col("n_langs")) / frac, 6).alias("sample_weight"),
        F.round(F.col("n_total") * (1.0 / F.col("n_langs")), 0)
        .cast("bigint")
        .alias("target_docs"),
    )


_PACK_L = 512  # target sequence length in tokens


@query(
    "corpus_pack_sequences",
    oracle=f"""
        WITH docs AS (
            SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tok
            FROM documents
        ),
        spans AS (
            SELECT doc_id, n_tok,
                   sum(n_tok) OVER (ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS c0
            FROM docs
        ),
        contrib AS (
            SELECT s.doc_id,
                   unnest(generate_series(
                       CAST(floor(coalesce(s.c0, 0) / {_PACK_L}) AS BIGINT),
                       CAST(floor((coalesce(s.c0, 0) + s.n_tok - 1) / {_PACK_L}) AS BIGINT)
                   )) AS seq_id,
                   coalesce(s.c0, 0) AS c0, s.n_tok
            FROM spans s
        )
        SELECT seq_id, count(*) AS n_docs,
               CAST(sum(least(c0 + n_tok, (seq_id + 1) * {_PACK_L})
                        - greatest(c0, seq_id * {_PACK_L})) AS BIGINT) AS n_tokens
        FROM contrib GROUP BY seq_id
    """,
    family="corpus",
    global_window="global token cumsum; scale path = per-shard packing with chained offsets",
)
def corpus_pack_sequences(spark, sf_dir):
    """Token-stream sequence packing (the GPT-style pretraining batcher):
    documents are concatenated in deterministic doc_id order into one
    virtual token stream and cut into fixed {_PACK_L}-token sequences;
    a document crossing a cut contributes to both sequences. Output: per
    sequence, how many documents touch it and its token fill (== L for
    every sequence but the last — asserted in tests). The global running
    offset is ONE window cumsum; the doc→sequence span expansion is a
    bounded explode (a doc spans ⌈n/L⌉+1 sequences max), and the final
    agg shuffles on seq_id. At 100 TB packing runs per shard with offsets
    chained shard-to-shard (cumsum of shard totals — same plan, one extra
    tiny join); no stage ever materializes the token stream itself."""
    d = table(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.size(_tokens()).alias("n_tok"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    spans = docs.select(
        "doc_id", "n_tok", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("c0")
    )
    L = _PACK_L
    # n_tok > 0 guard: a zero-token doc at an L boundary would make the
    # sequence upper bound drop BELOW the lower bound, and F.sequence then
    # emits a descending 2-element range (double-counting the doc) while
    # the oracle's generate_series returns empty. Unreachable with the
    # whitespace tokenizer, but cheap insurance against tokenizer changes.
    contrib = spans.filter(F.col("n_tok") > 0).select(
        "doc_id",
        "c0",
        "n_tok",
        F.explode(
            F.sequence(
                F.floor(F.col("c0") / L).cast("bigint"),
                F.floor((F.col("c0") + F.col("n_tok") - 1) / L).cast("bigint"),
            )
        ).alias("seq_id"),
    )
    overlap = F.least(
        F.col("c0") + F.col("n_tok"), (F.col("seq_id") + 1) * L
    ) - F.greatest(F.col("c0"), F.col("seq_id") * L)
    return (
        contrib.groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(overlap).cast("bigint").alias("n_tokens"),
        )
    )


@query(
    "text_repetition",
    oracle="""
        WITH b AS (
            SELECT doc_id,
                   list_transform(range(1, len(string_split(lower(text), ' '))),
                                  i -> string_split(lower(text), ' ')[i] || ' ' ||
                                       string_split(lower(text), ' ')[i + 1]) AS bigrams
            FROM documents
        )
        SELECT doc_id, len(bigrams) AS n_bigrams,
               round(1.0 - len(list_distinct(bigrams)) / len(bigrams), 6) AS dup_ratio
        FROM b WHERE len(bigrams) > 0
    """,
    family="corpus",
)
def text_repetition(spark, sf_dir):
    """Intra-document repetition score (the Gopher/MassiveText quality
    rule family): fraction of repeated word bigrams per document,
    dup_ratio = 1 − distinct/total. High values flag boilerplate, keyword
    stuffing, and degenerate generations. Entirely per-row higher-order
    functions — shuffle-free, codegen, no UDF; the split is hoisted into
    its own projection so it evaluates once per row (SCALE.md lesson 5)."""
    d = table(spark, sf_dir, "documents").select("doc_id", _tokens().alias("t"))
    bigrams = F.when(F.size("t") < 2, F.expr("cast(array() as array<string>)")).otherwise(
        F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))")
    )
    b = d.select("doc_id", bigrams.alias("bigrams")).filter(F.size("bigrams") > 0)
    return b.select(
        "doc_id",
        F.size("bigrams").cast("bigint").alias("n_bigrams"),
        F.round(
            1.0 - F.size(F.array_distinct("bigrams")) / F.size("bigrams"), 6
        ).alias("dup_ratio"),
    )


@query(
    "text_unigram_logprob",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
        ),
        freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        n AS (SELECT count(*) AS n_total FROM tok)
        SELECT tok.doc_id, count(*) AS n_tok,
               round(avg(ln(freq.c / (SELECT n_total FROM n))), 6) AS mean_logprob
        FROM tok JOIN freq ON tok.w = freq.w
        GROUP BY tok.doc_id
    """,
    family="corpus",
    bnlj="1-row token total crossJoined onto the tokens",
)
def text_unigram_logprob(spark, sf_dir):
    """Unigram language-model scoring: each document's mean token
    log-probability under the corpus unigram distribution — the cheapest
    useful stand-in for the perplexity filters real pipelines run
    (documents far below the corpus-typical logprob are noise; far above
    are degenerate repetition). One explode → vocab-sized freq agg
    (broadcast back) → per-doc agg; token instances shuffle on doc_id
    once. The real-model variant swaps the broadcast freq table for a
    Pandas-UDF scorer — same plan shape."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("w"))
    freq = tok.groupBy("w").agg(F.count("*").alias("c"))
    n = tok.agg(F.count("*").alias("n_total"))
    return (
        tok.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.round(F.avg(F.log(F.col("c") / F.col("n_total"))), 6).alias("mean_logprob"),
        )
    )


@query(
    "pipeline_pretrain",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, text,
                   round(0.4 * ln(1 + n_chars) / ln(600.0)
                         + 0.3 * (1.0 - len(list_filter(string_split(lower(text), ' '),
                                                        t -> t IN ('the', 'a'))
                                          ) / CAST(len(string_split(text, ' ')) AS DOUBLE))
                         + 0.3 * (len(list_distinct(string_split(lower(text), ' ')))
                                  / CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS quality
            FROM documents
        ),
        kept AS (SELECT doc_id, text FROM scored WHERE quality >= 0.77),
        deduped AS (
            SELECT min(doc_id) AS doc_id, text FROM kept GROUP BY text
        ),
        tokd AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM deduped),
        sh AS (
            SELECT doc_id, unnest(list_distinct({_SHINGLE_DUCK})) AS shingle FROM tokd
        ),
        bench AS (
            SELECT DISTINCT unnest(list_distinct({_SHINGLE_DUCK})) AS shingle
            FROM (SELECT string_split(lower(text), ' ') AS t
                  FROM documents WHERE doc_id % 97 = 0)
        ),
        contaminated AS (
            SELECT DISTINCT sh.doc_id FROM sh JOIN bench ON sh.shingle = bench.shingle
        ),
        clean AS (
            SELECT t.doc_id, len(t.t) AS n_tok FROM tokd t
            WHERE t.doc_id % 97 <> 0
              AND t.doc_id NOT IN (SELECT doc_id FROM contaminated)
        ),
        spans AS (
            SELECT doc_id, n_tok,
                   coalesce(sum(n_tok) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0
            FROM clean
        ),
        contrib AS (
            SELECT doc_id, c0, n_tok,
                   unnest(generate_series(
                       CAST(floor(c0 / {_PACK_L}) AS BIGINT),
                       CAST(floor((c0 + n_tok - 1) / {_PACK_L}) AS BIGINT))) AS seq_id
            FROM spans
        )
        SELECT seq_id, count(*) AS n_docs,
               CAST(sum(least(c0 + n_tok, (seq_id + 1) * {_PACK_L})
                        - greatest(c0, seq_id * {_PACK_L})) AS BIGINT) AS n_tokens
        FROM contrib GROUP BY seq_id
    """,
    family="corpus",
)
def pipeline_pretrain(spark, sf_dir):
    """The flagship LLM-data composition — four curation stages chained
    into ONE declarative program: (1) heuristic quality scoring + filter
    (same formula as text_quality/pipeline_curate), (2) exact dedup
    keeping min doc_id per text, (3) benchmark decontamination (drop
    survivors sharing a shingle with the doc_id%97 eval slice — the
    benchmark shingles come from the ORIGINAL corpus, as in production
    where the eval set is external), (4) token-stream packing of the
    cleaned corpus into {_PACK_L}-token training sequences. Output: one
    row per packed sequence. Every stage is an existing standalone
    operator; composed they stay a single Catalyst plan whose shuffles
    are: the dedup groupBy(text), the shingle equi-join (benchmark side
    broadcast), the global offset cumsum (one narrow row per surviving
    doc), and the final seq_id agg — nothing pair-space, nothing
    collected. This is the plan a 100 TB pretrain run executes daily;
    each stage's scale story is documented on its standalone twin."""
    d = table(spark, sf_dir, "documents")
    toks_raw = F.split(F.col("text"), " ")
    toks = F.split(F.lower(F.col("text")), " ")
    n_toks = F.size(toks_raw).cast("double")
    quality = F.round(
        0.4 * F.log(1 + F.col("n_chars")) / F.log(F.lit(600.0))
        + 0.3 * (1.0 - F.size(F.filter(toks, lambda t: t.isin("the", "a"))) / n_toks)
        + 0.3 * (F.size(F.array_distinct(toks)) / n_toks),
        6,
    )
    kept = d.select("doc_id", "text", quality.alias("q")).filter(F.col("q") >= 0.77)
    deduped = kept.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    tokd = deduped.select("doc_id", _tokens().alias("t"))

    shingles = F.array_distinct(
        F.when(F.size("t") < _SHINGLE_N, F.expr("cast(array() as array<string>)")).otherwise(
            F.expr(
                f"transform(sequence(0, size(t) - {_SHINGLE_N}), "
                f"i -> array_join(slice(t, i + 1, {_SHINGLE_N}), ' '))"
            )
        )
    )
    sh = tokd.select("doc_id", F.explode(shingles).alias("shingle"))
    bench = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(_tokens().alias("t"))
        .select(F.explode(shingles).alias("shingle"))
        .distinct()
    )
    contaminated = sh.join(F.broadcast(bench), "shingle").select("doc_id").distinct()
    clean = (
        tokd.filter(F.col("doc_id") % 97 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", F.size("t").alias("n_tok"))
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    spans = clean.select(
        "doc_id", "n_tok", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("c0")
    )
    L = _PACK_L
    # Same n_tok > 0 guard as corpus_pack_sequences (descending-sequence
    # hazard for zero-token docs at L boundaries).
    contrib = spans.filter(F.col("n_tok") > 0).select(
        "c0",
        "n_tok",
        F.explode(
            F.sequence(
                F.floor(F.col("c0") / L).cast("bigint"),
                F.floor((F.col("c0") + F.col("n_tok") - 1) / L).cast("bigint"),
            )
        ).alias("seq_id"),
    )
    overlap = F.least(
        F.col("c0") + F.col("n_tok"), (F.col("seq_id") + 1) * L
    ) - F.greatest(F.col("c0"), F.col("seq_id") * L)
    return contrib.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"), F.sum(overlap).cast("bigint").alias("n_tokens")
    )


@query(
    "corpus_bigram_lm",
    oracle="""
        WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS b
            FROM tok WHERE len(t) >= 2
        ),
        c2 AS (SELECT b, count(*) AS c2 FROM bg GROUP BY b),
        c1 AS (SELECT split_part(b, ' ', 1) AS w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(t) AS w FROM tok))
        SELECT bg.doc_id, count(*) AS n_bigrams,
               round(avg(-ln((c2.c2 + 1.0) / (c1.c1 + v.v))), 6) AS mean_nll
        FROM bg JOIN c2 USING (b)
        JOIN c1 ON split_part(bg.b, ' ', 1) = c1.w1
        CROSS JOIN v
        GROUP BY bg.doc_id
    """,
    family="corpus",
    bnlj="1-row vocabulary size crossJoined onto the bigram rows",
)
def corpus_bigram_lm(spark, sf_dir):
    """Bigram language-model scoring with add-one (Laplace) smoothing:
    each document's mean negative log-likelihood under the corpus bigram
    distribution, P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V). The step up from
    text_unigram_logprob that real perplexity filters take — a document
    of common words in an IMPROBABLE ORDER scores high NLL here but
    normal under the unigram model. Plan: one bigram explode → two
    vocab-sized count aggs (c2 keyed on the bigram, c1 folded from c2,
    so the corpus is scanned once for both) broadcast back onto the
    bigram stream → per-doc agg; token instances shuffle on doc_id once.
    The broadcasts hold the bigram TYPE table (V² worst case — fine for
    bounded vocab; at web scale the c2 join switches to a shuffle join
    on the bigram key and the plan is otherwise unchanged). Documents
    with fewer than 2 tokens have no bigrams and are excluded, matching
    the oracle's len(t) >= 2 guard."""
    d = table(spark, sf_dir, "documents").select("doc_id", _tokens().alias("t"))
    bg = (
        d.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))")
            ).alias("b"),
        )
    )
    c2 = bg.groupBy("b").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy(F.split_part(F.col("b"), F.lit(" "), F.lit(1)).alias("w1")).agg(
        F.sum("c2").alias("c1")
    )
    v = d.select(F.explode("t").alias("w")).agg(F.countDistinct("w").alias("v"))
    return (
        bg.withColumn("w1", F.split_part(F.col("b"), F.lit(" "), F.lit(1)))
        .join(F.broadcast(c2), "b")
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(-F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v")))), 6
            ).alias("mean_nll"),
        )
    )


@query(
    "text_oov_rate",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
        ),
        freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        vocab AS (SELECT w FROM freq ORDER BY c DESC, w LIMIT 20)
        SELECT doc_id, count(*) AS n_tok,
               count(*) FILTER (WHERE w NOT IN (SELECT w FROM vocab)) AS n_oov,
               round(count(*) FILTER (WHERE w NOT IN (SELECT w FROM vocab))
                     / CAST(count(*) AS DOUBLE), 6) AS oov_rate
        FROM tok GROUP BY doc_id
    """,
    family="corpus",
)
def text_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage: per-document out-of-vocabulary rate
    against the corpus's top-K tokens by frequency (K=20, ties broken
    lexicographically so the vocab is deterministic). The gate a pipeline
    runs before committing to a tokenizer: documents with high OOV rate
    under the candidate vocab either need a bigger vocab or aren't worth
    training on. Plan: one token explode feeds both the vocab agg (vocab-
    sized, broadcast back) and the per-doc agg; the row_number window
    runs over the VOCABULARY (bounded, 31 here), never the corpus."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("w"))
    freq = tok.groupBy("w").agg(F.count("*").alias("c"))
    vocab = (
        freq.withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w")))
        )
        .filter(F.col("rn") <= 20)
        .select("w", F.lit(1).alias("in_v"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0))
                / F.count("*").cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


@query(
    "text_sentiment",
    oracle="""
        WITH lex(w, polarity) AS (
            VALUES ('fast', 1), ('big', 1), ('merge', 1),
                   ('slow', -1), ('small', -1), ('dup', -1)
        ),
        tok AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
        ),
        hits AS (
            SELECT tok.doc_id, sum(lex.polarity) AS pol, count(lex.w) AS n_hits
            FROM tok LEFT JOIN lex ON tok.w = lex.w
            GROUP BY tok.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id)
        SELECT s.doc_id, s.n_tok, h.n_hits,
               round(coalesce(h.pol, 0) / CAST(s.n_tok AS DOUBLE), 6) AS sentiment
        FROM sizes s JOIN hits h ON s.doc_id = h.doc_id
    """,
    family="corpus",
)
def text_sentiment(spark, sf_dir):
    """Lexicon-based sentiment scoring (the distributed-sentiment-paper
    pattern, PAPERS.md): join tokens against a small polarity lexicon,
    score = Σ polarity / n_tokens in [-1, 1]. The lexicon is a broadcast
    dimension — real ones (VADER/AFINN, ~7k entries) broadcast just as
    well — so the plan is one token explode + broadcast hash join +
    per-doc agg: no shuffle carries more than (doc_id, partial-sum). A
    model-based scorer swaps the join for an Arrow-batched Pandas UDF;
    plan shape is otherwise identical."""
    lex_rows = [("fast", 1), ("big", 1), ("merge", 1), ("slow", -1), ("small", -1), ("dup", -1)]
    lex = spark.sql(f"SELECT {inline_rows(lex_rows, 'w string, polarity int')}")
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("w"))
    return (
        tok.join(F.broadcast(lex), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.count("polarity").alias("n_hits"),
            F.round(
                F.coalesce(F.sum("polarity"), F.lit(0)) / F.count("*").cast("double"), 6
            ).alias("sentiment"),
        )
    )


_BPE_ROUNDS = 10


def _bpe_oracle(rounds: int, final_select: str | None = None) -> str:
    """Unrolled-CTE BPE training: round i counts adjacent symbol pairs of
    s{i-1}, picks the (count DESC, pair ASC) argmax m{i}, and rewrites the
    corpus with a \\b-anchored global regexp_replace — the same
    deterministic recurrence the Spark loop runs (graph_pagerank's
    unrolled-oracle discipline). The CTEs are MATERIALIZED: each s{i} is
    referenced twice (by p{i+1} and s{i+1}), so inlining would expand the
    base scan 2^rounds times. ``final_select`` overrides the default
    merge-table projection (used by corpus_apply_bpe to diff s0 vs sN)."""
    parts = ["WITH s0 AS MATERIALIZED (SELECT doc_id, lower(text) AS seq FROM documents)"]
    for i in range(1, rounds + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"""p{i} AS MATERIALIZED (
            SELECT p, count(*) AS n FROM (
                SELECT unnest(list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j + 1])) AS p
                FROM (SELECT string_split(seq, ' ') AS t FROM {prev})
            ) GROUP BY p
        )"""
        )
        parts.append(f"m{i} AS MATERIALIZED (SELECT p, n FROM p{i} ORDER BY n DESC, p LIMIT 1)")
        parts.append(
            f"""s{i} AS MATERIALIZED (
            SELECT doc_id,
                   regexp_replace(seq, '\\b' || (SELECT p FROM m{i}) || '\\b',
                                  (SELECT replace(p, ' ', '_') FROM m{i}), 'g') AS seq
            FROM {prev}
        )"""
        )
    if final_select is None:
        final_select = "\nUNION ALL ".join(
            f"SELECT {i} AS merge_rank, p AS pair, n FROM m{i}" for i in range(1, rounds + 1)
        )
    return ",\n".join(parts) + "\n" + final_select


@query("tokenizer_bpe_train", oracle=_bpe_oracle(_BPE_ROUNDS), family="corpus")
def tokenizer_bpe_train(spark, sf_dir):
    """Byte-pair-encoding merge training at word granularity: 10 rounds of
    (count adjacent symbol pairs over the corpus → take the most frequent
    pair, ties broken lexicographically → rewrite every document merging
    that pair into one symbol) — the exact greedy recurrence of BPE
    tokenizer training (Sennrich et al.), here over whitespace symbols so
    the DuckDB oracle can replay it verbatim. Output: the learned merge
    table (rank, pair, count) a tokenizer would ship.

    Distribution: each round is one explode → pair-count agg (vocab²-
    bounded) → 1-row argmax to the driver (same cardinality-bounded
    driver scalar as dedup_clusters' convergence sum) → a \\b-anchored
    regexp_replace mapped over the corpus; localCheckpoint pins each
    round's rewrite so lineage (and re-tokenization cost) stays O(1) per
    round instead of compounding. Merged symbols join with '_' (a word
    character, keeping later rounds' \\b anchors exact, and tokens are
    [a-z]+ so patterns never contain regex metacharacters). At real
    scale rounds are the cost knob: production BPE batches the top-k
    non-overlapping pairs per round; the plan shape is unchanged."""
    merges, _final = _bpe_train(spark, sf_dir)
    return spark.sql(f"SELECT {inline_rows(merges, 'merge_rank int, pair string, n bigint')}")


def _bpe_train(spark, sf_dir):
    """Run the greedy merge loop; return (merges list, final rewritten
    corpus DataFrame (doc_id, seq)). Shared by tokenizer_bpe_train (which
    ships the merge table) and corpus_apply_bpe (which measures the
    rewritten corpus)."""
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.lower("text").alias("seq"))
        .localCheckpoint(eager=True)
    )
    merges = []
    cur = d
    for rank in range(1, _BPE_ROUNDS + 1):
        toks = cur.select(F.split("seq", " ").alias("t")).filter(F.size("t") >= 2)
        pairs = toks.select(
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), j -> concat(t[j], ' ', t[j + 1]))")
            ).alias("p")
        )
        top = (
            pairs.groupBy("p")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "p")
            .first()
        )
        if top is None:
            break
        merges.append((rank, top["p"], top["n"]))
        cur = cur.select(
            "doc_id",
            F.regexp_replace(
                "seq", "\\b" + top["p"] + "\\b", top["p"].replace(" ", "_")
            ).alias("seq"),
        ).localCheckpoint(eager=True)
    return merges, cur


@query(
    "corpus_apply_bpe",
    oracle=_bpe_oracle(
        _BPE_ROUNDS,
        final_select=f"""
        SELECT s0.doc_id,
               len(string_split(s0.seq, ' ')) AS n_tok_before,
               len(string_split(s{_BPE_ROUNDS}.seq, ' ')) AS n_tok_after,
               round(len(string_split(s{_BPE_ROUNDS}.seq, ' '))
                     / CAST(len(string_split(s0.seq, ' ')) AS DOUBLE), 6) AS compression
        FROM s0 JOIN s{_BPE_ROUNDS} ON s0.doc_id = s{_BPE_ROUNDS}.doc_id
    """,
    ),
    family="corpus",
)
def corpus_apply_bpe(spark, sf_dir):
    """Apply the trained BPE merge table back to the corpus and measure
    it: per-document token counts before/after the 10 merges and the
    compression ratio — the "did this tokenizer help" number that decides
    whether a merge table ships. Reuses the training loop's final
    rewritten corpus (each merge already applied with the \\b-anchored
    rewrite), so the measurement is exactly the corpus a tokenizer using
    that merge table would produce; the oracle replays the same 10-round
    recurrence and diffs s0 against s10. Token counting is per-row
    higher-order functions — shuffle-free, codegen."""
    _merges, final = _bpe_train(spark, sf_dir)
    orig = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).alias("n_tok_before")
    )
    after = final.select("doc_id", F.size(F.split("seq", " ")).alias("n_tok_after"))
    return (
        orig.join(after, "doc_id")
        .select(
            "doc_id",
            F.col("n_tok_before").cast("bigint").alias("n_tok_before"),
            F.col("n_tok_after").cast("bigint").alias("n_tok_after"),
            F.round(
                F.col("n_tok_after") / F.col("n_tok_before").cast("double"), 6
            ).alias("compression"),
        )
    )


@query(
    "text_dup_ngram_fraction",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w
            FROM documents
            WHERE len(string_split(lower(text), ' ')) >= 8
        ),
        shd AS (
            SELECT DISTINCT doc_id, sh
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(w) - 6),
                              i -> array_to_string(w[i:i+7], ' '))) AS sh
                FROM toks
            )
        ),
        cnt AS (SELECT sh, count(*) AS ndocs FROM shd GROUP BY sh)
        SELECT doc_id,
               count(*) AS n_shingles,
               CAST(count(*) FILTER (WHERE ndocs > 1) AS BIGINT) AS n_dup,
               round(count(*) FILTER (WHERE ndocs > 1) * 1.0 / count(*), 6)
                   AS dup_frac
        FROM shd JOIN cnt USING (sh)
        GROUP BY doc_id
    """,
    family="corpus",
)
def text_dup_ngram_fraction(spark, sf_dir):
    """Per-document duplicated-8-gram fraction: what share of a doc's
    DISTINCT 8-word shingles also appear in at least one other
    document — the Gopher/RefinedWeb-style "fraction of text inside
    duplicated n-grams" curation signal that catches boilerplate and
    template spam which document-level dedup (exact or MinHash)
    misses. Shape: explode each doc to its distinct shingles, one hash
    agg on the shingle key builds the corpus frequency dictionary, one
    shingle-keyed equi-join tags each doc-shingle with its corpus
    count, and a doc-keyed agg folds the fraction — every shuffle key
    is a shingle or doc id, so the pair space never materializes (same
    contract as dedup_minhash). At 100 TB the shingle dictionary is
    the big intermediate; hash the shingle to int64 (xxhash64) before
    the shuffle to cut key bytes ~10×, exactly as dedup_jaccard's
    banded path does. Docs under 8 words have no 8-gram and are
    excluded by contract. Counts are exact integers — bit-stable."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    toks = d.select("doc_id", words.alias("w")).where(F.size("w") >= 8)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 7),
                    lambda i: F.array_join(F.slice("w", i, 8), " "),
                )
            )
        ).alias("sh"),
    )
    cnt = sh.groupBy("sh").agg(F.count("*").alias("ndocs"))
    return (
        sh.join(cnt, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count(F.when(F.col("ndocs") > 1, 1)).alias("n_dup"),
            F.round(
                F.count(F.when(F.col("ndocs") > 1, 1)) * 1.0 / F.count("*"), 6
            ).alias("dup_frac"),
        )
    )


@query(
    "corpus_dup_rate_by_source",
    oracle="""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
               round(1.0 - count(DISTINCT text) * 1.0 / count(*), 6)
                   AS dup_rate,
               round(avg(n_chars), 6) AS avg_chars
        FROM documents
        GROUP BY source
    """,
    family="corpus",
)
def corpus_dup_rate_by_source(spark, sf_dir):
    """Exact-duplicate rate per ingestion source (1 − distinct/total
    texts) with size profile — the first triage table a curation run
    produces: which feed is flooding the corpus with copies. One hash
    agg; the count-distinct expands on (source, text) then folds — at
    100 TB group on sha2(text) instead of the full text (dedup_exact's
    digest discipline) so the expand carries 32-byte keys, or swap in
    approx_count_distinct when ±2% suffices (the agg_approx_distinct
    twin). avg over exact integer n_chars divides once per source —
    drift-free at 6 dp."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("text").alias("n_distinct"),
        F.round(1.0 - F.count_distinct("text") * 1.0 / F.count("*"), 6).alias(
            "dup_rate"
        ),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


@query("text_compression_ratio", oracle=None, family="corpus")
def text_compression_ratio(spark, sf_dir):
    """Per-document zlib compression ratio (deflate level 6) — the
    classic "too compressible = boilerplate, too incompressible =
    binary junk" curation signal (used alongside the Gopher rules in
    web-corpus filtering; C4 cousins threshold at roughly 0.3–0.9).
    Rows-only by design: DuckDB has no deflate, so the oracle gate
    can't hash-match it; determinism is pinned by a pytest twin-run
    instead (zlib level fixed, byte-identical output for identical
    input). The compressor runs as an Arrow-batched pandas UDF — text
    crosses to Python once per batch, the per-doc loop is C-speed
    zlib — a map-only operator with no shuffle at all: at 100 TB this
    is scan-bound, exactly like the multimodal decode plumbing
    (mm_image_features) it mirrors."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def comp_len(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(lambda t: len(zlib.compress(t.encode("utf-8"), 6)))

    d = table(spark, sf_dir, "documents")
    raw_len = F.octet_length("text")
    return (
        d.select("doc_id", raw_len.alias("raw_len"), comp_len("text").alias("comp_len"))
        .withColumn(
            "ratio", F.round(F.col("comp_len") * 1.0 / F.col("raw_len"), 6)
        )
    )


@query(
    "text_markov_generate",
    oracle="""
        WITH RECURSIVE toks AS (
            SELECT string_split(lower(text), ' ') AS w FROM documents
        ),
        bg AS (
            SELECT w[i] AS cur, w[i + 1] AS nxt, count(*) AS c
            FROM (
                SELECT w, unnest(range(1, len(w))) AS i FROM toks
            )
            GROUP BY cur, nxt
        ),
        best AS (
            SELECT cur, nxt FROM (
                SELECT cur, nxt,
                       row_number() OVER (
                           PARTITION BY cur ORDER BY c DESC, nxt
                       ) AS rn
                FROM bg
            ) WHERE rn = 1
        ),
        chain(step, tok) AS (
            SELECT CAST(0 AS BIGINT), 'the'
            UNION ALL
            SELECT ch.step + 1, b.nxt
            FROM chain ch JOIN best b ON b.cur = ch.tok
            WHERE ch.step < 19
        )
        SELECT step, tok FROM chain
    """,
    family="corpus",
)
def text_markov_generate(spark, sf_dir):
    """Greedy bigram-LM text generation: follow the ARGMAX successor
    chain 20 tokens from the seed 'the' — the deterministic
    decode-side twin of corpus_bigram_lm's scoring side (train the
    same counts, then GENERATE instead of scoring), executed as a
    recursive CTE over the argmax successor table (Spark 4 recursive
    CTE joining a data-derived frame — each iteration is a 1-row ×
    vocab broadcast lookup, 20 bounded steps). Fully deterministic:
    integer bigram counts, (count DESC, token ASC) tiebreak, greedy
    decode. At 100 TB the successor table is vocabulary-sized (the
    corpus-sized work is the one bigram count agg) and generation
    cost is per-step O(1) — the toy version of "the model is small,
    the data pass builds it"."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), " ")
    toks = d.select(w.alias("w"))
    bg = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(slice(w, 1, size(w) - 1), (x, i) -> struct(x AS cur, w[i + 1] AS nxt))"
                )
            ).alias("p")
        )
        .select("p.cur", "p.nxt")
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("c"))
    )
    wname = Window.partitionBy("cur").orderBy(F.desc("c"), F.asc("nxt"))
    best = (
        bg.withColumn("rn", F.row_number().over(wname))
        .where(F.col("rn") == 1)
        .select("cur", "nxt")
        # materialize: the recursion references this frame once per step, and
        # Catalyst would otherwise recompute the corpus-sized bigram count 20
        # times (SCALE.md lesson 2) — measured 17 s -> ~4 s warm at sf0.1 (the residue is 20 bounded recursion steps' scheduling)
        .localCheckpoint()
    )
    best.createOrReplaceTempView("smhs_markov_succ")
    return spark.sql(
        """
        WITH RECURSIVE chain(step, tok) AS (
            SELECT CAST(0 AS BIGINT), 'the'
            UNION ALL
            SELECT ch.step + 1, b.nxt
            FROM chain ch JOIN smhs_markov_succ b ON b.cur = ch.tok
            WHERE ch.step < 19
        )
        SELECT step, tok FROM chain
        """
    )


@query(
    "corpus_span_corruption",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w,
                   len(string_split(lower(text), ' ')) AS n
            FROM documents
        ),
        p AS (
            SELECT doc_id, w, n,
                   greatest(1, ((n * 15) // 100) // 3) AS n_spans
            FROM t
        ),
        q AS (
            SELECT doc_id, w, n, n_spans,
                   n // n_spans AS seg,
                   least(3, n // n_spans) AS l
            FROM p
        ),
        sp AS (
            SELECT doc_id, w, l,
                   unnest(list_transform(range(0, n_spans), i -> {
                       'span_id': i,
                       'start_tok': 1 + i * seg
                           + (('0x' || substring(
                                  md5(CAST(doc_id AS VARCHAR) || ':'
                                      || CAST(i AS VARCHAR)), 1, 8))::BIGINT
                              % greatest(1, seg - l + 1))
                   })) AS s
            FROM q
        )
        SELECT doc_id,
               CAST(s.span_id AS BIGINT) AS span_id,
               CAST(s.start_tok AS BIGINT) AS start_tok,
               CAST(l AS BIGINT) AS span_len,
               array_to_string(w[s.start_tok : s.start_tok + l - 1], ' ')
                   AS masked_tokens
        FROM sp
    """,
    family="corpus",
)
def corpus_span_corruption(spark, sf_dir):
    """T5-style span-corruption mask generation: per document, select
    ~15% of tokens as NON-OVERLAPPING mask spans (mean length 3) whose
    positions are pure md5 functions of (doc_id, span index) — the
    denoising-objective prep step between corpus curation and
    pack_sequences, with the "randomness" on the engine-neutral hash
    discipline so the same document masks identically on every engine,
    run, and partitioning (a replayable data pipeline's requirement
    for masks). Non-overlap by construction: the doc is cut into
    n_spans equal segments and each span lands inside its own segment
    at a hash-chosen offset. Map-only explode — tokens × 15% rows out,
    no shuffle at all until a downstream agg; at 100 TB this is
    scan-bound. All arithmetic is exact integers; the masked token
    slice is exposed for inspection."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("w"))
    q = (
        t.withColumn("n", F.size("w"))
        .withColumn("n_spans", F.expr("greatest(1, ((n * 15) div 100) div 3)"))
        .withColumn("seg", F.expr("n div n_spans"))
        .withColumn("l", F.least(F.lit(3), F.col("seg")))
    )

    def span(i):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), i.cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        start = (
            1
            + i * F.col("seg")
            + F.pmod(h, F.greatest(F.lit(1), F.col("seg") - F.col("l") + 1))
        )
        return F.struct(i.alias("span_id"), start.alias("start_tok"))

    sp = q.select(
        "doc_id",
        "w",
        "l",
        F.explode(
            F.transform(F.sequence(F.lit(0), F.col("n_spans") - 1), span)
        ).alias("s"),
    )
    return sp.select(
        "doc_id",
        F.col("s.span_id").cast("bigint").alias("span_id"),
        F.col("s.start_tok").cast("bigint").alias("start_tok"),
        F.col("l").cast("bigint").alias("span_len"),
        F.array_join(
            F.slice("w", F.col("s.start_tok").cast("int"), F.col("l").cast("int")), " "
        ).alias("masked_tokens"),
    )


@query(
    "corpus_curriculum_order",
    oracle="""
        WITH scored AS (
            SELECT doc_id,
                   len(string_split(lower(text), ' ')) AS n_tok,
                   len(list_distinct(string_split(lower(text), ' '))) AS n_types
            FROM documents
        ),
        banded AS (
            SELECT doc_id, n_tok,
                   CAST(least(4, n_types // 7) AS BIGINT) AS difficulty_band
            FROM scored
        ),
        ordered AS (
            SELECT doc_id, difficulty_band,
                   CAST(row_number() OVER (
                       ORDER BY difficulty_band,
                                md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS BIGINT) AS curriculum_rank
            FROM banded
        )
        SELECT doc_id, difficulty_band, curriculum_rank
        FROM ordered WHERE curriculum_rank <= 100
    """,
    family="corpus",
)
def corpus_curriculum_order(spark, sf_dir):
    """Curriculum data ordering: band documents by a difficulty proxy
    (lexical diversity — distinct-type count), then emit the training
    order easy→hard with a DETERMINISTIC md5 shuffle inside each band
    — curriculum learning's data-side contract (monotone difficulty
    schedule, reproducible within-band order so two runs stream
    identical batches; rand() would silently break replay — the
    engine-neutral-hash rule again). First 100 positions shown. The
    band assignment is exact integer arithmetic; the global rank is a
    row_number over (band, md5) — the one global sort, on the
    documented agg_gini trade (at 100 TB: range-partition by band and
    concatenate per-band md5-sorted runs — same order, no global
    sort)."""
    d = table(spark, sf_dir, "documents")
    w_toks = F.split(F.lower(F.col("text")), " ")
    banded = d.select(
        "doc_id",
        F.least(
            F.lit(4), F.floor(F.size(F.array_distinct(w_toks)) / 7)
        )
        .cast("bigint")
        .alias("difficulty_band"),
    )
    w = Window.orderBy(
        "difficulty_band",
        F.md5(F.col("doc_id").cast("string").cast("binary")),
        "doc_id",
    )
    return (
        banded.withColumn("curriculum_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("curriculum_rank") <= 100)
        .select("doc_id", "difficulty_band", "curriculum_rank")
    )


@query(
    "text_burstiness",
    oracle="""
        WITH per_doc AS (
            SELECT doc_id, w, count(*) AS c
            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                  FROM documents)
            GROUP BY doc_id, w
        ),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        stats AS (
            SELECT w,
                   CAST(sum(c) AS BIGINT) AS tot,
                   CAST(sum(c * c) AS BIGINT) AS tot2,
                   CAST(count(*) AS BIGINT) AS df
            FROM per_doc GROUP BY w
        )
        SELECT w AS term, tot AS n_occurrences, df AS n_docs_containing,
               round((tot2 * 1.0 / n_docs
                      - (tot * 1.0 / n_docs) * (tot * 1.0 / n_docs))
                     / (tot * 1.0 / n_docs), 6) AS fano_factor
        FROM stats CROSS JOIN nd
    """,
    family="corpus",
    bnlj="1-row doc count broadcast onto the per-term stats",
)
def text_burstiness(spark, sf_dir):
    """Term burstiness via the Fano factor (variance-to-mean ratio of
    per-document counts, zeros included): ≈1 means Poisson scatter
    (function words), ≫1 means the term CLUMPS into few documents
    (topical/bursty words) — the corpus-linguistics signal behind
    stopword induction and topical-keyword mining that raw frequency
    (text_wordcount) can't see. Computed from EXACT integer sufficient
    statistics (Σc, Σc², df per term) with zero-count docs folded in
    analytically (E[x]=Σc/N over ALL docs), so no dense doc×term
    materialization ever exists — one explode + one vocabulary-keyed
    agg + a 1-row broadcast, the text_wordcount plan shape exactly."""
    d = table(spark, sf_dir, "documents")
    per_doc = (
        d.select("doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    nd = d.agg(F.count("*").alias("n_docs"))
    stats = per_doc.groupBy("w").agg(
        F.sum("c").alias("tot"),
        F.sum(F.col("c") * F.col("c")).alias("tot2"),
        F.count("*").alias("df"),
    )
    mean = F.col("tot") * 1.0 / F.col("n_docs")
    var = F.col("tot2") * 1.0 / F.col("n_docs") - mean * mean
    return (
        stats.join(F.broadcast(nd))
        .select(
            F.col("w").alias("term"),
            F.col("tot").alias("n_occurrences"),
            F.col("df").alias("n_docs_containing"),
            F.round(var / mean, 6).alias("fano_factor"),
        )
    )


@query(
    "text_heaps_law",
    oracle="""
        WITH pts AS (
            SELECT cap,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS v_types
            FROM (
                SELECT cap.cap, t.w, count(*) AS c
                FROM (SELECT unnest([50, 100, 200, 300, 400, 500]) AS cap) cap
                JOIN (
                    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                    FROM documents
                ) t ON t.doc_id < cap.cap
                GROUP BY cap.cap, t.w
            )
            GROUP BY cap
        )
        , m AS (
            SELECT count(*) AS np,
                   round(avg(ln(n_tokens)), 10) AS mx,
                   round(avg(ln(v_types)), 10) AS my,
                   round(avg(ln(n_tokens) * ln(n_tokens)), 9) AS mxx,
                   round(avg(ln(n_tokens) * ln(v_types)), 9) AS mxy,
                   round(avg(ln(v_types) * ln(v_types)), 9) AS myy
            FROM pts
        )
        SELECT CAST(np AS BIGINT) AS n_points,
               round((mxy - mx * my) / (mxx - mx * mx), 4) AS heaps_beta,
               round(exp(my - (mxy - mx * my) / (mxx - mx * mx) * mx), 4)
                   AS heaps_k,
               round((mxy - mx * my) * (mxy - mx * my)
                     / ((mxx - mx * mx) * (myy - my * my)), 4) AS r2
        FROM m
    """,
    family="corpus",
    bnlj="6-row doc-cap spine joined on doc_id < cap",
)
def text_heaps_law(spark, sf_dir):
    """Heaps'-law fit: vocabulary growth V(n) ≈ K·n^β measured at six
    corpus prefixes (docs < 50, 100, …, 500) and fitted log-log —
    text_zipf's companion law, and the projection a data team
    actually uses ("how big does the tokenizer vocab get at 10× the
    corpus?" → V(10n)/V(n) ≈ 10^β). On this closed-vocabulary
    synthetic fixture β ≈ 0 (V saturates at 31) — itself the
    diagnostic reading: sublinear-β corpora are vocabulary-saturated,
    real web text runs β ≈ 0.5. Each prefix point is one
    (cap × token) aggregate over the prefix join; counts are exact
    and the 6-point regression is solved in CLOSED FORM from rounded
    moments (regr_slope over a multi-partition frame proved
    RUN-TO-RUN flaky at round(,4) — Spark's partial-merge order
    varies per run; the rounded-moment solve is the
    ml_linreg_normal discipline that removes the order dependence
    entirely). At 100 TB the prefixes come from cumulative daily
    vocab snapshots, not re-scans."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
    caps = spark.sql(
        f"SELECT {inline_rows([(c,) for c in [50, 100, 200, 300, 400, 500]], 'cap bigint')}"
    )
    pts = (
        toks.join(F.broadcast(caps), F.col("doc_id") < F.col("cap"))
        .groupBy("cap", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("cap")
        .agg(F.sum("c").alias("n_tokens"), F.count("*").alias("v_types"))
    )
    lv, lx = F.log("v_types"), F.log("n_tokens")
    m = pts.agg(
        F.count("*").alias("np"),
        F.round(F.avg(lx), 10).alias("mx"),
        F.round(F.avg(lv), 10).alias("my"),
        F.round(F.avg(lx * lx), 9).alias("mxx"),
        F.round(F.avg(lx * lv), 9).alias("mxy"),
        F.round(F.avg(lv * lv), 9).alias("myy"),
    )
    slope = (F.col("mxy") - F.col("mx") * F.col("my")) / (
        F.col("mxx") - F.col("mx") * F.col("mx")
    )
    return m.select(
        F.col("np").cast("bigint").alias("n_points"),
        F.round(slope, 4).alias("heaps_beta"),
        F.round(F.exp(F.col("my") - slope * F.col("mx")), 4).alias("heaps_k"),
        F.round(
            (F.col("mxy") - F.col("mx") * F.col("my"))
            * (F.col("mxy") - F.col("mx") * F.col("my"))
            / (
                (F.col("mxx") - F.col("mx") * F.col("mx"))
                * (F.col("myy") - F.col("my") * F.col("my"))
            ),
            4,
        ).alias("r2"),
    )


@query(
    "corpus_trigram_lm",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
        ),
        tri AS (
            SELECT doc_id, w1, w2, w3 FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(w) - 1),
                           i -> {'w1': w[i], 'w2': w[i+1], 'w3': w[i+2]})) AS g
                FROM toks
            ) t, LATERAL (SELECT g.w1 AS w1, g.w2 AS w2, g.w3 AS w3) u
        ),
        tri_c AS (
            SELECT w1, w2, w3, count(*) AS c3 FROM tri GROUP BY w1, w2, w3
        ),
        bi_c AS (
            SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS c2
            FROM tri_c GROUP BY w1, w2
        ),
        uni_c AS (
            SELECT w2 AS u, CAST(sum(c3) AS BIGINT) AS c1
            FROM tri_c GROUP BY w2
        ),
        n_uni AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uni_c),
        big2 AS (
            SELECT w2 AS b1, w3 AS b2, CAST(count(*) AS BIGINT) AS cb
            FROM tri GROUP BY w2, w3
        ),
        scored AS (
            SELECT t.doc_id,
                   round(ln(CASE
                       WHEN tc.c3 IS NOT NULL
                           THEN tc.c3 * 1.0 / bc.c2
                       WHEN b2.cb IS NOT NULL
                           THEN 0.4 * b2.cb / uc.c1
                       ELSE 0.16 * uc3.c1 / nu.n
                   END), 8) AS lp
            FROM tri t
            LEFT JOIN tri_c tc ON t.w1 = tc.w1 AND t.w2 = tc.w2 AND t.w3 = tc.w3
            LEFT JOIN bi_c bc ON t.w1 = bc.w1 AND t.w2 = bc.w2
            LEFT JOIN big2 b2 ON t.w2 = b2.b1 AND t.w3 = b2.b2
            LEFT JOIN uni_c uc ON t.w2 = uc.u
            LEFT JOIN uni_c uc3 ON t.w3 = uc3.u
            CROSS JOIN n_uni nu
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_trigrams,
               round(sum(lp), 4) AS total_logscore,
               round(sum(lp) / count(*), 6) AS avg_logscore
        FROM scored
        GROUP BY doc_id
    """,
    family="corpus",
    bnlj="1-row unigram total broadcast onto the scored trigrams",
)
def corpus_trigram_lm(spark, sf_dir):
    """Trigram language-model scoring with STUPID BACKOFF (Brants et
    al.): score each trigram by its MLE if seen, else 0.4× the bigram
    estimate, else 0.4²× the unigram — the web-scale smoothing that
    skips discount bookkeeping because at corpus scale coverage does
    the smoothing (corpus_bigram_lm is the lower-order sibling; both
    train and score in the same pass over count tables keyed by
    n-grams — vocabulary-bounded shuffles, never doc-pair ones).
    Self-scoring here (train = eval corpus), so every trigram is seen
    and the backoff arms are exercised only in the oracle's CASE
    ordering — the docstring says so honestly; in production the
    count tables come from train and the scored stream is held-out.
    Per-position log-probs round at 8 dp before the per-doc fold
    (≤ hundreds of addends — drift far inside the 4/6-dp outputs)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("w"))
    # Guard: for size(w) < 3, sequence(0, size(w)-3) would run DOWNWARD
    # (Spark defaults to step -1), emitting spurious NULL-padded trigram
    # rows the oracle's empty range never produces. Docs with <3 tokens
    # have no trigrams in either engine.
    toks = toks.where(F.size("w") >= 3)
    tri = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 3), "
                "i -> struct(w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3))"
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2", "g.w3")
    tri_c = tri.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    bi_c = tri_c.groupBy("w1", "w2").agg(F.sum("c3").alias("c2"))
    uni_c = tri_c.groupBy(F.col("w2").alias("u")).agg(F.sum("c3").alias("c1"))
    n_uni = uni_c.agg(F.sum("c1").alias("n"))
    big2 = tri.groupBy(
        F.col("w2").alias("b1"), F.col("w3").alias("b2")
    ).agg(F.count("*").alias("cb"))
    scored = (
        tri.join(F.broadcast(tri_c), ["w1", "w2", "w3"], "left")
        .join(F.broadcast(bi_c), ["w1", "w2"], "left")
        .join(
            F.broadcast(big2),
            (F.col("w2") == F.col("b1")) & (F.col("w3") == F.col("b2")),
            "left",
        )
        .join(F.broadcast(uni_c), F.col("w2") == F.col("u"), "left")
        .join(
            F.broadcast(uni_c.select(F.col("u").alias("u3"), F.col("c1").alias("c1_3"))),
            F.col("w3") == F.col("u3"),
            "left",
        )
        .join(F.broadcast(n_uni))
        .select(
            "doc_id",
            F.round(
                F.log(
                    F.when(
                        F.col("c3").isNotNull(), F.col("c3") * 1.0 / F.col("c2")
                    )
                    .when(
                        F.col("cb").isNotNull(), 0.4 * F.col("cb") / F.col("c1")
                    )
                    .otherwise(0.16 * F.col("c1_3") / F.col("n"))
                ),
                8,
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_trigrams"),
        F.round(F.sum("lp"), 4).alias("total_logscore"),
        F.round(F.sum("lp") / F.count("*"), 6).alias("avg_logscore"),
    )


@query(
    "corpus_filter_ablation",
    oracle="""
        WITH flags AS (
            SELECT doc_id,
                   CAST(len(string_split(lower(text), ' ')) < 20 AS INT)
                       AS f_short,
                   CAST(len(list_distinct(string_split(lower(text), ' ')))
                        * 1.0 / len(string_split(lower(text), ' ')) < 0.35
                        AS INT) AS f_repetitive,
                   CAST(n_chars > 450 AS INT) AS f_too_long,
                   CAST(lang NOT IN ('en', 'de', 'fr') AS INT) AS f_lang
            FROM documents
        ),
        per_filter AS (
            SELECT 1 AS ord, 'short' AS filter,
                   CAST(sum(f_short) AS BIGINT) AS n_flagged_alone,
                   CAST(sum(CAST(f_short = 1 AS INT)) AS BIGINT) AS n_cum
            FROM flags
            UNION ALL
            SELECT 2, 'repetitive', CAST(sum(f_repetitive) AS BIGINT),
                   CAST(sum(CAST(f_short = 1 OR f_repetitive = 1 AS INT)) AS BIGINT)
            FROM flags
            UNION ALL
            SELECT 3, 'too_long', CAST(sum(f_too_long) AS BIGINT),
                   CAST(sum(CAST(f_short = 1 OR f_repetitive = 1
                                 OR f_too_long = 1 AS INT)) AS BIGINT)
            FROM flags
            UNION ALL
            SELECT 4, 'lang', CAST(sum(f_lang) AS BIGINT),
                   CAST(sum(CAST(f_short = 1 OR f_repetitive = 1
                                 OR f_too_long = 1 OR f_lang = 1 AS INT)) AS BIGINT)
            FROM flags
        )
        SELECT CAST(ord AS BIGINT) AS stack_order, filter,
               n_flagged_alone, n_cum AS n_removed_cumulative
        FROM per_filter
    """,
    family="corpus",
)
def corpus_filter_ablation(spark, sf_dir):
    """Curation-filter ABLATION table: for each quality filter (short,
    repetitive, over-long, off-language), how many documents it flags
    ALONE and how many the stacked pipeline has removed once it is
    applied — the overlap analysis behind every filter-tuning
    decision (a filter whose alone-count is high but whose marginal
    cumulative contribution is ~0 is redundant with earlier filters
    and can be dropped; pipeline_curate applies the stack, this
    explains it). One scan computes all flags, then four exact
    conditional sums over the same tiny flag frame — adding a filter
    to the analysis is one more column, not one more scan. All
    integers; thresholds sit on exact token/char counts."""
    d = table(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), " ")
    flags = d.select(
        (F.size(w) < 20).cast("int").alias("f_short"),
        (F.size(F.array_distinct(w)) * 1.0 / F.size(w) < 0.35)
        .cast("int")
        .alias("f_repetitive"),
        (F.col("n_chars") > 450).cast("int").alias("f_too_long"),
        (~F.col("lang").isin("en", "de", "fr")).cast("int").alias("f_lang"),
    )
    f1, f2, f3, f4 = (F.col(c) == 1 for c in ["f_short", "f_repetitive", "f_too_long", "f_lang"])
    rows = [
        (1, "short", F.sum("f_short"), F.sum(f1.cast("int"))),
        (2, "repetitive", F.sum("f_repetitive"), F.sum((f1 | f2).cast("int"))),
        (3, "too_long", F.sum("f_too_long"), F.sum((f1 | f2 | f3).cast("int"))),
        (4, "lang", F.sum("f_lang"), F.sum((f1 | f2 | f3 | f4).cast("int"))),
    ]
    parts = [
        flags.agg(
            F.lit(o).cast("bigint").alias("stack_order"),
            F.lit(nm).alias("filter"),
            alone.alias("n_flagged_alone"),
            cum.alias("n_removed_cumulative"),
        )
        for o, nm, alone, cum in rows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "text_js_divergence",
    oracle="""
        WITH counts AS (
            SELECT source, w, count(*) AS c
            FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
                  FROM documents)
            GROUP BY source, w
        ),
        totals AS (
            SELECT source, CAST(sum(c) AS BIGINT) AS t FROM counts GROUP BY source
        ),
        probs AS (
            SELECT c.source, c.w, c.c * 1.0 / t.t AS p
            FROM counts c JOIN totals t ON c.source = t.source
        ),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b, a.w,
                   coalesce(a.p, 0) AS pa, coalesce(b.p, 0) AS pb
            FROM probs a JOIN probs b
              ON a.w = b.w AND a.source < b.source
        ),
        js AS (
            SELECT src_a, src_b,
                   round(sum(
                       0.5 * pa * ln(2.0 * pa / (pa + pb))
                       + 0.5 * pb * ln(2.0 * pb / (pa + pb))
                   ), 8) AS jsd
            FROM pairs GROUP BY src_a, src_b
        )
        SELECT src_a, src_b, round(jsd, 6) AS jsd,
               CAST(row_number() OVER (ORDER BY jsd DESC, src_a, src_b)
                    AS BIGINT) AS rnk
        FROM js
        ORDER BY jsd DESC, src_a, src_b
        LIMIT 10
    """,
    family="corpus",
)
def text_js_divergence(spark, sf_dir):
    """Jensen–Shannon divergence between per-source unigram
    distributions, top-10 most-divergent source pairs — the
    corpus-drift measure for text ("does feed X speak a different
    language than feed Y"), bounded, symmetric, and zero iff the
    distributions match — the tabular sibling of dq_psi_drift and the
    lexical sibling of vec_energy_distance. The pair join runs on the
    (source × vocab) probability frame — 20 × 31 rows here, sources ×
    vocabulary generally: divergence compares DISTRIBUTIONS, so the
    corpus-sized work is exactly one token-count aggregate and the
    pair space is dictionary-sized by construction. On this fixture
    every source shares the full 31-token support, so the
    shared-vocabulary inner join IS the complete JS sum (zero-support
    terms contribute zero; a real corpus adds the one-sided tail
    terms — documented, and the 0.5·p·ln(2p/(p+q)) form never
    divides by zero on shared support). Probabilities are exact-int
    ratios; per-pair folds span ≤ |vocab| addends, rounded at 8 then
    6 dp."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("t"))
    probs = counts.join(F.broadcast(totals), "source").select(
        "source", "w", (F.col("c") * 1.0 / F.col("t")).alias("p")
    )
    a = probs.select(
        F.col("source").alias("src_a"), "w", F.col("p").alias("pa")
    )
    b = probs.select(
        F.col("source").alias("src_b"), F.col("w").alias("wb"), F.col("p").alias("pb")
    )
    pairs = a.join(
        b, (F.col("w") == F.col("wb")) & (F.col("src_a") < F.col("src_b"))
    )
    term = 0.5 * F.col("pa") * F.log(2.0 * F.col("pa") / (F.col("pa") + F.col("pb"))) + \
        0.5 * F.col("pb") * F.log(2.0 * F.col("pb") / (F.col("pa") + F.col("pb")))
    js = pairs.groupBy("src_a", "src_b").agg(F.round(F.sum(term), 8).alias("jsd"))
    w_rank = Window.orderBy(F.desc("jsd"), "src_a", "src_b")
    return (
        js.select("src_a", "src_b", F.round(F.col("jsd"), 6).alias("jsd"))
        .withColumn("rnk", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rnk") <= 10)
        .orderBy(F.desc("jsd"), "src_a", "src_b")
    )


@query(
    "text_cooccurrence_pmi",
    oracle="""
        WITH dt AS (
            SELECT DISTINCT doc_id, w FROM (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            )
        ),
        df AS (SELECT w, CAST(count(*) AS BIGINT) AS d FROM dt GROUP BY w),
        nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM dt),
        pairs AS (
            SELECT a.w AS w1, b.w AS w2, CAST(count(*) AS BIGINT) AS d12
            FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.w < b.w
            GROUP BY a.w, b.w
        )
        SELECT p.w1, p.w2, p.d12,
               round(ln((p.d12 * 1.0 / n.n)
                     / ((da.d * 1.0 / n.n) * (db.d * 1.0 / n.n))), 6) AS pmi
        FROM pairs p
        JOIN df da ON da.w = p.w1
        JOIN df db ON db.w = p.w2
        CROSS JOIN nd n
        WHERE p.d12 >= 50
    """,
    family="corpus",
    bnlj="1-row doc count broadcast onto the pair counts",
)
def text_cooccurrence_pmi(spark, sf_dir):
    """Document-level co-occurrence PMI: for token pairs sharing ≥ 50
    documents, ln(P(both)/P(a)P(b)) over DOCUMENT incidence — the
    topical-association view that adjacency PMI (text_collocations)
    can't see (terms that live in the same documents without ever
    touching). The pair space is bounded by the VOCABULARY squared —
    the per-doc distinct-token self-join fans out ≤ |doc vocab|² per
    document and aggregates onto ≤ |V|² keys (961 here; at web scale
    you prune df below a support floor first, which also kills the
    quadratic's long tail — the dedup_jaccard prefix-filter idea
    applied to co-occurrence). Counts are exact document incidences;
    one distinct, one doc-keyed self-join, vocabulary-keyed folds."""
    d = table(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).distinct()
    df_ = dt.groupBy("w").agg(F.count("*").alias("d"))
    nd = dt.agg(F.count_distinct("doc_id").alias("n"))
    a = dt.select("doc_id", F.col("w").alias("w1"))
    b = dt.select(F.col("doc_id").alias("doc_b"), F.col("w").alias("w2"))
    pairs = (
        a.join(b, (F.col("doc_id") == F.col("doc_b")) & (F.col("w1") < F.col("w2")))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("d12"))
        .where(F.col("d12") >= 50)
    )
    da = df_.select(F.col("w").alias("w1"), F.col("d").alias("da"))
    db = df_.select(F.col("w").alias("w2"), F.col("d").alias("db"))
    return (
        pairs.join(F.broadcast(da), "w1")
        .join(F.broadcast(db), "w2")
        .join(F.broadcast(nd))
        .select(
            "w1",
            "w2",
            "d12",
            F.round(
                F.log(
                    (F.col("d12") * 1.0 / F.col("n"))
                    / ((F.col("da") * 1.0 / F.col("n")) * (F.col("db") * 1.0 / F.col("n")))
                ),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "corpus_token_budget",
    oracle="""
        WITH d AS (
            SELECT doc_id, source,
                   len(string_split(lower(text), ' ')) AS n_tokens,
                   round(
                       len(list_distinct(string_split(lower(text), ' ')))
                       * 1.0 / len(string_split(lower(text), ' ')),
                       6) AS ttr
            FROM documents
        ),
        tot AS (
            SELECT CAST(floor(sum(n_tokens) * 0.5) AS BIGINT) AS budget,
                   sum(n_tokens) AS corpus_tokens
            FROM d
        ),
        ranked AS (
            SELECT d.*, t.budget, t.corpus_tokens,
                   sum(n_tokens) OVER (
                       ORDER BY ttr DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_tokens
            FROM d CROSS JOIN tot t
        ),
        kept AS (
            SELECT * FROM ranked WHERE cum_tokens <= budget
        )
        SELECT r.source,
               count(*) AS n_docs,
               CAST(count(k.doc_id) AS BIGINT) AS docs_kept,
               CAST(sum(r.n_tokens) AS BIGINT) AS tokens_total,
               CAST(coalesce(sum(k.n_tokens), 0) AS BIGINT) AS tokens_kept,
               round(coalesce(sum(k.n_tokens), 0) * 1.0 / sum(r.n_tokens), 6)
                   AS keep_share
        FROM ranked r LEFT JOIN kept k ON r.doc_id = k.doc_id
        GROUP BY r.source
    """,
    family="corpus",
    bnlj="1-row token totals crossJoined onto the ranked documents",
    global_window="global quality-rank token cumsum; scale path = per-bucket budgets",
)
def corpus_token_budget(spark, sf_dir):
    """TOKEN-BUDGET SELECTION — the data-constrained-scaling step every
    modern pretraining pipeline runs (Muennighoff et al. 2023; the
    'which half of the corpus do we keep' decision): rank documents by
    a quality signal (type-token ratio here — repetitive docs rank
    last; tiebreak doc_id), take the cumulative token sum in rank
    order, and keep documents until the budget (50% of corpus tokens)
    is filled. Output is the per-source audit: docs/tokens kept vs
    total and the keep share — the table a data lead reads to see
    WHICH sources the quality cut actually spends the budget on.
    Exact integer arithmetic end to end (token counts, cumulative
    sums, floor budget) — hash-stable across engines with no rounding
    hazards except the two declared 6 dp ratios. Scale shape: one
    tokenize pass (map-side), a single-row total broadcast, and ONE
    global rank window — the documented exact-but-global form; at
    100 TB replace the global sort with quality-bucket histograms +
    per-bucket budgets (the feature_quantile_bucket pattern, same
    answer within one bucket's granularity), exactly as the
    sort_multi/limit_topk scale twins prescribe."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(_tokens()).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(_tokens()))
            / F.size(_tokens()).cast("double"),
            6,
        ).alias("ttr"),
    )
    tot = d.agg(
        F.floor(F.sum("n_tokens") * 0.5).cast("bigint").alias("budget"),
        F.sum("n_tokens").alias("corpus_tokens"),
    )
    wcum = Window.orderBy(F.col("ttr").desc(), "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = d.crossJoin(F.broadcast(tot)).withColumn(
        "cum_tokens", F.sum("n_tokens").over(wcum)
    )
    kept = ranked.where(F.col("cum_tokens") <= F.col("budget")).select(
        F.col("doc_id").alias("k_doc_id"), F.col("n_tokens").alias("k_tokens")
    )
    return (
        ranked.join(kept, ranked.doc_id == kept.k_doc_id, "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("k_doc_id").cast("bigint").alias("docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_total"),
            F.coalesce(F.sum("k_tokens"), F.lit(0)).cast("bigint").alias("tokens_kept"),
            F.round(
                F.coalesce(F.sum("k_tokens"), F.lit(0))
                / F.sum("n_tokens").cast("double"),
                6,
            ).alias("keep_share"),
        )
    )


@query(
    "corpus_epoch_schedule",
    oracle="""
        WITH avail AS (
            SELECT source,
                   CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                       AS tokens_avail
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT sum(tokens_avail) AS corpus_tokens,
                   sum(sqrt(tokens_avail)) AS sqrt_total
            FROM avail
        ),
        shares AS (
            SELECT a.source, a.tokens_avail,
                   round(a.tokens_avail * 1.0 / t.corpus_tokens, 6)
                       AS share_raw,
                   round(sqrt(a.tokens_avail) / t.sqrt_total, 6)
                       AS share_temp,
                   CAST(2 * t.corpus_tokens AS BIGINT) AS budget
            FROM avail a CROSS JOIN tot t
        ),
        plan AS (
            SELECT source, tokens_avail, share_raw, share_temp,
                   CAST(floor(budget * share_temp) AS BIGINT) AS target_tokens
            FROM shares
        )
        SELECT source, tokens_avail, share_raw, share_temp, target_tokens,
               round(least(target_tokens * 1.0 / tokens_avail, 4.0), 3)
                   AS epochs,
               CAST(least(target_tokens, 4 * tokens_avail) AS BIGINT)
                   AS tokens_served,
               (target_tokens > 4 * tokens_avail) AS capped
        FROM plan
    """,
    family="corpus",
    bnlj="1-row sqrt-token total crossJoined onto the per-source rows",
)
def corpus_epoch_schedule(spark, sf_dir):
    """EPOCH SCHEDULING under temperature-based source mixing — the
    data-constrained-scaling plan (Muennighoff et al. 2023: repeating
    data beyond ~4 epochs stops paying) a pretraining run computes
    before it starts: per-source available tokens → τ=0.5 temperature
    shares (∝ √tokens, the standard multilingual-mix rule that
    upweights small sources without letting the head dominate) → a
    2×-corpus training budget allocated by share → per-source epoch
    count CAPPED AT 4 with the capped flag telling the data lead
    which sources are repetition-bound (spend there goes to
    acquisition, not sampling). Determinism: shares are rounded at
    6 dp BEFORE the budget multiply, so the floor/cap arithmetic runs
    on bit-identical doubles in both engines; token counts and served
    totals are exact integers. Scale shape: one tokenize scan into a
    20-key agg, a single-row total broadcast, and per-row arithmetic
    — nothing grows with the corpus but the scan."""
    d = table(spark, sf_dir, "documents")
    avail = d.groupBy("source").agg(
        F.sum(F.size(_tokens())).cast("bigint").alias("tokens_avail")
    )
    tot = avail.agg(
        F.sum("tokens_avail").alias("corpus_tokens"),
        F.sum(F.sqrt("tokens_avail")).alias("sqrt_total"),
    )
    shares = avail.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens_avail",
        F.round(F.col("tokens_avail") / F.col("corpus_tokens").cast("double"), 6)
        .alias("share_raw"),
        F.round(F.sqrt("tokens_avail") / F.col("sqrt_total"), 6).alias("share_temp"),
        (F.lit(2) * F.col("corpus_tokens")).cast("bigint").alias("budget"),
    )
    plan = shares.withColumn(
        "target_tokens",
        F.floor(F.col("budget") * F.col("share_temp")).cast("bigint"),
    )
    return plan.select(
        "source",
        "tokens_avail",
        "share_raw",
        "share_temp",
        "target_tokens",
        F.round(
            F.least(
                F.col("target_tokens") / F.col("tokens_avail").cast("double"),
                F.lit(4.0),
            ),
            3,
        ).alias("epochs"),
        F.least(F.col("target_tokens"), F.lit(4) * F.col("tokens_avail"))
        .cast("bigint")
        .alias("tokens_served"),
        (F.col("target_tokens") > F.lit(4) * F.col("tokens_avail")).alias("capped"),
    )


_WE_ROUNDS = 10


def _word_embed_oracle() -> str:
    # Unrolled power iteration over the PPMI matrix keyed by WORD
    # (the _pca_oracle recipe on a token-indexed matrix). Every CTE
    # MATERIALIZED; vector re-rounded at 9 dp per round so per-round
    # group-sum order drift (≤ |V| terms) cannot compound.
    rounds = []
    prev = "v0"
    for r in range(1, _WE_ROUNDS + 1):
        rounds.append(f"""
        w{r} AS MATERIALIZED (
            SELECT vb.word, coalesce(s.wi, 0.0) AS wi
            FROM vocab vb LEFT JOIN (
                SELECT m.w AS word, sum(m.val * v.vj) AS wi
                FROM ppmi m JOIN {prev} v ON m.c = v.word GROUP BY m.w
            ) s ON vb.word = s.word
        ),
        n{r} AS MATERIALIZED (
            SELECT round(sqrt(sum(wi * wi)), 9) AS nrm FROM w{r}
        ),
        v{r} AS MATERIALIZED (
            SELECT w.word, round(w.wi / n.nrm, 9) AS vj
            FROM w{r} w CROSS JOIN n{r} n
        )""")
        prev = f"v{r}"
    return f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
        ),
        raw AS MATERIALIZED (
            SELECT p.w AS w, p.c AS c FROM (
                SELECT unnest(list_concat(
                    list_transform(range(1, len(t)),
                                   i -> {{'w': t[i], 'c': t[i + 1]}}),
                    list_transform(range(1, len(t) - 1),
                                   i -> {{'w': t[i], 'c': t[i + 2]}})
                )) AS p FROM toks
            )
        ),
        prs AS MATERIALIZED (
            SELECT w, c, CAST(count(*) AS BIGINT) AS n_wc FROM (
                SELECT w, c FROM raw UNION ALL SELECT c, w FROM raw
            ) GROUP BY w, c
        ),
        nw AS MATERIALIZED (
            SELECT w, CAST(sum(n_wc) AS BIGINT) AS d FROM prs GROUP BY w
        ),
        tot AS MATERIALIZED (SELECT CAST(sum(n_wc) AS BIGINT) AS n FROM prs),
        ppmi AS MATERIALIZED (
            SELECT p.w, p.c,
                   greatest(0.0, round(ln(
                       (p.n_wc * 1.0 / t.n)
                       / ((a.d * 1.0 / t.n) * (b.d * 1.0 / t.n))
                   ), 8)) AS val
            FROM prs p
            JOIN nw a ON a.w = p.w
            JOIN nw b ON b.w = p.c
            CROSS JOIN tot t
        ),
        vocab AS MATERIALIZED (SELECT w AS word FROM nw),
        nv AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS k FROM vocab),
        v0 AS MATERIALIZED (
            SELECT word, 1.0 / sqrt(k) AS vj FROM vocab CROSS JOIN nv
        ),
        {",".join(rounds)},
        wf AS MATERIALIZED (
            SELECT vb.word, coalesce(s.wi, 0.0) AS wi
            FROM vocab vb LEFT JOIN (
                SELECT m.w AS word, sum(m.val * v.vj) AS wi
                FROM ppmi m JOIN v{_WE_ROUNDS} v ON m.c = v.word GROUP BY m.w
            ) s ON vb.word = s.word
        ),
        lam AS MATERIALIZED (
            SELECT round(sqrt(sum(wi * wi)), 6) AS ev FROM wf
        ),
        sgn AS MATERIALIZED (
            SELECT CASE WHEN sum(vj) < 0 THEN -1.0 ELSE 1.0 END AS s
            FROM v{_WE_ROUNDS}
        )
        SELECT v.word, round(v.vj * sgn.s, 6) AS embed, lam.ev AS eigenvalue
        FROM v{_WE_ROUNDS} v CROSS JOIN lam CROSS JOIN sgn
    """


@query(
    "vec_word_embed_svd", oracle=_word_embed_oracle(), family="corpus",
    bnlj="1-row totals and vocabulary size crossJoined per power round",
)
def vec_word_embed_svd(spark, sf_dir):
    """Count-based WORD EMBEDDINGS, fully oracle-verified — the
    deterministic twin of the rows-only ml_word2vec, resting on the
    Levy & Goldberg (NeurIPS 2014) result that skip-gram with
    negative sampling implicitly factorizes the shifted PPMI matrix:
    build the symmetric ±2-window co-occurrence counts (map-side pair
    expansion over the token arrays — no self-join), convert to PPMI
    (max(0, ln(P(w,c)/P(w)P(c))), rounded at 8 dp), and extract the
    TOP SINGULAR DIMENSION by the vec_pca_power recipe: 10 unrolled
    multiply-normalize rounds on the word-keyed matrix with the
    vector re-rounded at 9 dp per round, sign fixed by Σv > 0. The
    output is each word's first embedding coordinate + the dominant
    singular value — dimension 1 of the classic PPMI-SVD embedding;
    more dimensions = repeat with deflation. Scale shape: the pair
    expansion is corpus-linear and map-side, the PPMI matrix is
    |V|²-bounded (vocabulary-keyed shuffles only), and each
    iteration round is one |V|-keyed join+agg over the matrix —
    at web-scale vocabularies this is exactly the randomized-SVD
    block iteration, word-partitioned. The corpus scan happens ONCE;
    everything after runs on vocabulary-sized frames."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.lower(F.col("text")), " ").alias("t"))
    # IF guards: for docs under 3 tokens Spark's sequence(1, size-2)
    # DESCENDS ([1, 0, ...]) and element_at(t, 0) throws under ANSI,
    # while DuckDB's range() returns empty — same hazard class as the
    # corpus_trigram_lm guard (round-5 ADVICE). Empty arrays on both.
    fwd = toks.select(
        F.explode(
            F.expr(
                "concat("
                "IF(size(t) >= 2, transform(sequence(1, size(t) - 1), "
                "  i -> struct(element_at(t, i) as w, element_at(t, i + 1) as c)), "
                "  cast(array() as array<struct<w: string, c: string>>)), "
                "IF(size(t) >= 3, transform(sequence(1, size(t) - 2), "
                "  i -> struct(element_at(t, i) as w, element_at(t, i + 2) as c)), "
                "  cast(array() as array<struct<w: string, c: string>>)))"
            )
        ).alias("p")
    ).select("p.w", "p.c")
    prs = (
        fwd.unionByName(fwd.select(F.col("c").alias("w"), F.col("w").alias("c")))
        .groupBy("w", "c")
        .agg(F.count("*").cast("bigint").alias("n_wc"))
    )
    nw = prs.groupBy("w").agg(F.sum("n_wc").cast("bigint").alias("d"))
    tot = prs.agg(F.sum("n_wc").cast("bigint").alias("n"))
    ppmi = (
        prs.join(F.broadcast(nw.select(F.col("w"), F.col("d").alias("da"))), "w")
        .join(
            F.broadcast(
                nw.select(F.col("w").alias("c"), F.col("d").alias("db"))
            ),
            "c",
        )
        .join(F.broadcast(tot))
        .select(
            "w",
            "c",
            F.greatest(
                F.lit(0.0),
                F.round(
                    F.log(
                        (F.col("n_wc") * 1.0 / F.col("n"))
                        / (
                            (F.col("da") * 1.0 / F.col("n"))
                            * (F.col("db") * 1.0 / F.col("n"))
                        )
                    ),
                    8,
                ),
            ).alias("val"),
        )
        .localCheckpoint()  # referenced 11x by the iteration rounds
    )
    vocab = nw.select(F.col("w").alias("word"))
    nv = vocab.agg(F.count("*").cast("bigint").alias("k"))
    v = vocab.crossJoin(F.broadcast(nv)).select(
        "word", (F.lit(1.0) / F.sqrt("k")).alias("vj")
    )

    def multiply(vec):
        s = (
            ppmi.join(F.broadcast(vec), ppmi.c == vec.word)
            .groupBy("w")
            .agg(F.sum(F.col("val") * F.col("vj")).alias("wi"))
            .withColumnRenamed("w", "word")
        )
        return vocab.join(s, "word", "left").select(
            "word", F.coalesce("wi", F.lit(0.0)).alias("wi")
        )

    for _ in range(_WE_ROUNDS):
        w_ = multiply(v)
        nrm = w_.agg(F.round(F.sqrt(F.sum(F.col("wi") * F.col("wi"))), 9).alias("nrm"))
        v = (
            w_.join(F.broadcast(nrm))
            .select("word", F.round(F.col("wi") / F.col("nrm"), 9).alias("vj"))
            .localCheckpoint()
        )
    wf = multiply(v)
    lam = wf.agg(F.round(F.sqrt(F.sum(F.col("wi") * F.col("wi"))), 6).alias("ev"))
    sgn = v.agg(
        F.when(F.sum("vj") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("s")
    )
    return (
        v.join(F.broadcast(lam))
        .join(F.broadcast(sgn))
        .select(
            "word",
            F.round(F.col("vj") * F.col("s"), 6).alias("embed"),
            F.col("ev").alias("eigenvalue"),
        )
    )


_BPE_MERGES = 10


def _bpe_chain() -> str:
    # Unrolled CTE chain, one (pairs -> best -> merge) triple per round —
    # the same literal-unroll discipline as the PageRank / k-means
    # oracles. Symbol sequences are serialized as '(s1)(s2)...(sN)': the
    # parens make pair replacement substring-safe (no symbol contains a
    # paren, so '(a)(b)' can only match at a symbol boundary) and both
    # engines' replace() scans left-to-right non-overlapping, which IS
    # BPE's greedy merge order. Pair counts are exact integers; the
    # best-pair argmax tie-breaks on (count DESC, left, right).
    # Shared by the merge-table and segmentation-stats oracles; ends
    # with best1..bestN and the final vocabulary frame w{N}.
    rounds = []
    for r in range(1, _BPE_MERGES + 1):
        prev = f"w{r - 1}"
        rounds.append(f"""
        a{r} AS MATERIALIZED (
            SELECT cnt, string_split(trim(seq, '()'), ')(') AS a FROM {prev}
        ),
        pr{r} AS MATERIALIZED (
            SELECT (p).l AS l, (p).r AS r, sum(cnt) AS c FROM (
                SELECT cnt, unnest(list_transform(range(1, len(a)),
                       i -> struct_pack(l := a[i], r := a[i + 1]))) AS p
                FROM a{r} WHERE len(a) >= 2
            ) GROUP BY 1, 2
        ),
        best{r} AS MATERIALIZED (
            SELECT l, r, c FROM pr{r} ORDER BY c DESC, l, r LIMIT 1
        ),
        w{r} AS MATERIALIZED (
            SELECT w.cnt,
                   replace(w.seq, '(' || b.l || ')(' || b.r || ')',
                           '(' || b.l || b.r || ')') AS seq
            FROM {prev} w CROSS JOIN best{r} b
        )""")
    chain = f"""
        WITH wc AS MATERIALIZED (
            SELECT w, count(*) AS cnt FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents
            ) WHERE len(w) > 0 GROUP BY w
        ),
        w0 AS MATERIALIZED (
            SELECT cnt,
                   '(' || array_to_string(
                       list_concat(
                           list_transform(range(1, len(w) + 1),
                                          i -> w[i:i]),
                           ['_']
                       ), ')(') || ')' AS seq
            FROM wc
        ),
        {",".join(rounds)}
    """
    return chain


def _bpe_char_oracle() -> str:
    outs = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_no, l AS left_sym, "
        f"r AS right_sym, CAST(c AS BIGINT) AS pair_count FROM best{r}"
        for r in range(1, _BPE_MERGES + 1)
    )
    return f"""
        {_bpe_chain()}
        SELECT merge_no, left_sym, right_sym, pair_count FROM ({outs})
    """


def _bpe_char_train(spark, sf_dir):
    """Run the 10-round BPE training loop; returns (bests, words) —
    the per-round 1-row best-pair frames and the final merged
    vocabulary frame (cnt, seq). Shared by bpe_train_merges and
    bpe_segment_stats."""
    d = table(spark, sf_dir, "documents")
    # length(w) > 0 guard: string_split keeps empty tokens on both engines
    # (doubled/leading/trailing spaces), but Spark's sequence(1, 0) yields
    # the DESCENDING [1, 0] (default step -1 when start > stop) — seq
    # '()()(_)' — while DuckDB's range(1, 1) is empty — seq '(_)'. Drop
    # zero-length words on both sides so the frames cannot desync.
    wc = (
        d.select(F.explode(_tokens()).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    words = wc.select(
        "cnt",
        F.concat(
            F.lit("("),
            F.array_join(
                F.concat(
                    F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
                    F.array(F.lit("_")),
                ),
                ")(",
            ),
            F.lit(")"),
        ).alias("seq"),
    ).localCheckpoint(eager=True)

    bests = []
    for r in range(1, _BPE_MERGES + 1):
        arr = F.split(F.expr("trim(BOTH '()' FROM seq)"), r"\)\(")
        pairs = (
            words.select("cnt", arr.alias("a"))
            .where(F.size("a") >= 2)  # fully-merged words have no pairs
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(a) - 2), "
                        "i -> struct(a[i] AS l, a[i + 1] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
        )
        best = pairs.orderBy(F.col("c").desc(), "l", "r").limit(1).localCheckpoint(eager=True)
        bests.append(
            best.select(
                F.lit(r).cast("bigint").alias("merge_no"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("c").cast("bigint").alias("pair_count"),
            )
        )
        words = (
            words.crossJoin(F.broadcast(best))
            .select(
                "cnt",
                F.expr(
                    "replace(seq, '(' || l || ')(' || r || ')', "
                    "'(' || l || r || ')')"
                ).alias("seq"),
            )
            .localCheckpoint(eager=True)
        )
    return bests, words


@query("bpe_train_merges", oracle=_bpe_char_oracle(), family="corpus")
def bpe_train_merges(spark, sf_dir):
    """BYTE-PAIR-ENCODING merge training (Sennrich et al., ACL 2016) —
    the tokenizer-training inner loop an LLM data pipeline runs before
    anything else, built from engine primitives and fully
    ORACLE-VERIFIED: words become character sequences with an '_'
    end-of-word marker, and each of the 10 rounds (a) counts adjacent
    symbol pairs weighted by word frequency, (b) picks the most
    frequent pair ((count DESC, left, right) tie-broken — exact
    integer counts, no float hazard), and (c) merges every greedy
    left-to-right occurrence in one map-only replace. Output: the
    merge table (merge_no, left_sym, right_sym, pair_count) — the
    artifact a tokenizer ships. The scale shape IS the plan: pair
    counting aggregates the DISTINCT-WORD table (vocabulary-sized,
    ~31 types here, ~10⁷ on a web corpus — never the token stream;
    word counts come from one corpus scan done once), the argmax is a
    1-row frame broadcast into the merge, and the merge itself is a
    map-only string rewrite over the vocab frame, localCheckpoint'ed
    per round to cut lineage. Cross-engine determinism: sequences are
    '(s)(t)...' strings whose parens make pair replacement
    substring-safe at symbol boundaries, and both engines' replace()
    is left-to-right non-overlapping — exactly BPE's greedy merge
    semantics. At 100 TB the word-count scan dominates (one shuffle on
    the word key with map-side combine); the 10-round loop costs
    vocab-sized work per round regardless of corpus size, the same
    argument as vec_kmeans_lloyd's centroid updates."""
    bests, _ = _bpe_char_train(spark, sf_dir)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out


def _bpe_segment_oracle() -> str:
    n = _BPE_MERGES
    return f"""
        {_bpe_chain()},
        fin AS MATERIALIZED (
            SELECT cnt, seq, string_split(trim(seq, '()'), ')(') AS a
            FROM w{n}
        ),
        agg AS MATERIALIZED (
            SELECT CAST(count(*) AS BIGINT) AS n_word_types,
                   round(sum(cnt * len(a)) * 1.0 / sum(cnt), 6) AS tokens_per_word,
                   -- sum of symbol lengths is merge-invariant = chars + 1
                   round(sum(cnt * (length(seq) - 2 * len(a))) * 1.0 / sum(cnt), 6)
                       AS chars_per_word
            FROM fin
        ),
        voc AS MATERIALIZED (
            SELECT CAST(count(DISTINCT s) AS BIGINT) AS vocab_symbols
            FROM (SELECT unnest(a) AS s FROM fin)
        )
        SELECT a.n_word_types, v.vocab_symbols, a.tokens_per_word,
               a.chars_per_word,
               round(a.tokens_per_word / a.chars_per_word, 6) AS compression_ratio
        FROM agg a CROSS JOIN voc v
    """


@query(
    "bpe_segment_stats", oracle=_bpe_segment_oracle(), family="corpus",
    bnlj="1-row vocabulary frame crossJoined onto each merge round's aggregate",
)
def bpe_segment_stats(spark, sf_dir):
    """Segmentation quality report for the trained BPE merges — what a
    tokenizer-selection pipeline actually reads off a candidate merge
    table: frequency-weighted tokens-per-word after the 10 merges,
    the post-merge symbol vocabulary size, and the compression ratio
    vs character-level (tokens/chars — the fertility number that
    decides whether the tokenizer earns its vocab slots). Rides the
    SAME training chain as bpe_train_merges (_bpe_char_train); the stats
    pass is one aggregate over the vocabulary frame plus a
    distinct-symbol count, both vocabulary-sized. A cute invariant
    carries the chars-per-word baseline without re-scanning the
    corpus: the sum of symbol lengths in a merged sequence is
    merge-invariant (merging concatenates), so chars+marker =
    length(seq) − 2·|symbols| (each symbol wears exactly 2 parens) —
    identical arithmetic in the oracle. All counts are exact
    integers; ratios round at 6 dp."""
    _, words = _bpe_char_train(spark, sf_dir)
    arr = F.split(F.expr("trim(BOTH '()' FROM seq)"), r"\)\(")
    fin = words.select("cnt", "seq", arr.alias("a")).localCheckpoint(eager=True)
    agg = fin.agg(
        F.count("*").cast("bigint").alias("n_word_types"),
        F.round(
            F.sum(F.col("cnt") * F.size("a")) * 1.0 / F.sum("cnt"), 6
        ).alias("tokens_per_word"),
        F.round(
            F.sum(F.col("cnt") * (F.length("seq") - 2 * F.size("a")))
            * 1.0
            / F.sum("cnt"),
            6,
        ).alias("chars_per_word"),
    )
    voc = fin.select(F.explode("a").alias("s")).agg(
        F.countDistinct("s").cast("bigint").alias("vocab_symbols")
    )
    return (
        agg.crossJoin(F.broadcast(voc))
        .select(
            "n_word_types",
            "vocab_symbols",
            "tokens_per_word",
            "chars_per_word",
            F.round(
                F.col("tokens_per_word") / F.col("chars_per_word"), 6
            ).alias("compression_ratio"),
        )
    )


_N_SHARDS = 16


@query(
    "corpus_shard_stats",
    oracle=f"""
        WITH per AS (
            SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % {_N_SHARDS} AS shard_id,
                   count(*) AS n_docs,
                   CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars
            FROM documents GROUP BY 1
        ),
        tot AS (
            SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                   max(n_tokens) AS max_t, min(n_tokens) AS min_t
            FROM per
        )
        SELECT shard_id, n_docs, n_tokens, n_chars,
               round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS token_share,
               round(CAST(max_t AS DOUBLE) / min_t, 6) AS balance_ratio
        FROM per CROSS JOIN tot
    """,
    family="corpus",
    bnlj="1-row corpus total crossJoined onto the per-shard stats",
)
def corpus_shard_stats(spark, sf_dir):
    """OUTPUT SHARDING audit — the webdataset/shard-manifest step every
    large-scale training pipeline runs before dataloading: assign each
    document to one of 16 shards by a deterministic
    engine-neutral hash (md5-hex prefix, the train_test_split
    discipline — engine-native hash() differs across engines) and emit
    the per-shard manifest (docs, tokens, chars, token share) plus the
    corpus-wide balance ratio (max/min shard tokens — the number a
    dataloader reads to know its stragglers). Hash sharding is the
    100 TB shape: assignment is MAP-ONLY (one scan, no shuffle beyond
    the 16-group partial agg), shard count scales freely, and
    the manifest agg state is O(shards). Token-BALANCED sharding (greedy
    bin-packing) needs a global sort; this hash form is what production
    uses because balance concentrates anyway: sum of ~n/16
    iid doc lengths per shard ⇒ ratio → 1 as the corpus grows, and the
    balance_ratio column is precisely the check that it did."""
    d = table(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % _N_SHARDS
    )
    per = (
        d.select(
            shard.alias("shard_id"),
            F.size(_tokens()).alias("toks"),
            F.length("text").alias("chars"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
            F.sum("chars").alias("n_chars"),
        )
    )
    tot = per.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.max("n_tokens").alias("max_t"),
        F.min("n_tokens").alias("min_t"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "shard_id",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(F.col("n_tokens").cast("double") / F.col("tot_tokens"), 6).alias(
            "token_share"
        ),
        F.round(F.col("max_t").cast("double") / F.col("min_t"), 6).alias(
            "balance_ratio"
        ),
    )
