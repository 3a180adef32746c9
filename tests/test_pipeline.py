"""Pipeline-operator tests: approx-op recall vs exact twins, multimodal
plumbing invariants, and physical-plan shape assertions (pushdown,
broadcast, no accidental cartesian products)."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_ORACLE, SF_SMOKE

QUERIES = entry_mod.queries()


def _plan(spark, name: str, sf: str = SF_ORACLE) -> str:
    return QUERIES[name](spark, sf)._sc._jvm.PythonSQLUtils.explainString(
        QUERIES[name](spark, sf)._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------- recall


def test_smallvocab_jaccard_matches_ppjoin(spark):
    # the block-matmul path and the PPJoin path are interchangeable EXACT
    # implementations — same input must give identical pairs and scores
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.functions.setsim import (
        exact_jaccard_pairs,
        smallvocab_jaccard_pairs,
    )
    from spark_ml_helper_spark.sources.parquet import table as t

    sets = (
        t(spark, SF_ORACLE, "documents")
        .repartition("doc_id")
        .select("doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("elems"))
    )
    pp = {(r.a_id, r.b_id, r.jac) for r in exact_jaccard_pairs(sets, 0.9, "jac").collect()}
    sv = {(r.a_id, r.b_id, r.jac) for r in smallvocab_jaccard_pairs(sets, 0.9, "jac").collect()}
    assert pp == sv and len(pp) > 0


def test_minhash_recall_vs_exact(spark):
    mh_rows = QUERIES["dedup_minhash_pairs"](spark, SF_ORACLE).collect()
    mh = {(r.a_id, r.b_id) for r in mh_rows}
    ex = {(r.a_id, r.b_id) for r in QUERIES["dedup_jaccard"](spark, SF_ORACLE).collect()}
    assert ex, "exact twin returned nothing — fixture changed?"
    recall = len(mh & ex) / len(ex)
    assert recall >= 0.95, f"banded MinHash recall {recall:.3f} < 0.95"
    # exact rescore on candidates → no false positives at the threshold
    assert mh <= ex
    # the rep-level summary must account for exactly the doc-level pairs
    summary = QUERIES["dedup_minhash"](spark, SF_ORACLE).collect()
    assert sum(r.n_doc_pairs for r in summary) == len(mh)


def test_incremental_dedup_decisions_consistent(spark):
    from pyspark.sql import functions as F

    rows = QUERIES["dedup_incremental"](spark, SF_ORACLE).collect()
    # one decision per batch doc, batch = doc_id % 10 == 0
    assert len(rows) == len({r.doc_id for r in rows}) > 0
    assert all(r.doc_id % 10 == 0 for r in rows)
    for r in rows:
        if r.decision == "new":
            assert r.match_id is None and r.jac is None
        elif r.decision == "dup_near_index":
            # best index match: an index doc id, on the 6 dp grid in-band
            assert r.match_id % 10 != 0 and 0.8 <= r.jac <= 1.0
        elif r.decision == "dup_exact_index":
            assert r.match_id % 10 != 0 and r.jac == 1.0
        else:  # dup_exact_batch: earlier batch doc is the survivor
            assert r.decision == "dup_exact_batch"
            assert r.match_id % 10 == 0 and r.match_id < r.doc_id and r.jac == 1.0
    # ground-truth spot check against the exact doc-level pair table:
    # a batch doc with an exact-index verdict must appear in a jaccard-1.0
    # exact pair with its match, and a 'new' doc must have NO exact twin
    # anywhere in the index (dedup_jaccard covers j >= 0.8 pairs exactly)
    ex_pairs = {
        (r.a_id, r.b_id) for r in QUERIES["dedup_jaccard"](spark, SF_ORACLE).collect()
    }

    def paired(a, b):
        return (min(a, b), max(a, b)) in ex_pairs

    exact_idx = [r for r in rows if r.decision == "dup_exact_index"]
    assert all(paired(r.doc_id, r.match_id) for r in exact_idx)
    # recompute exact token-set identity ground truth: a doc decided
    # 'new' or 'dup_exact_batch' must share its distinct-token set with
    # NO index doc (exact-index detection is digest-based, recall 1.0 —
    # unlike the near path, banding can't lose these)
    sets = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    "\x1f", F.array_sort(F.array_distinct(F.split(F.lower("text"), " ")))
                )
            ).alias("skey"),
        )
        .collect()
    )
    index_keys = {r.skey for r in sets if r.doc_id % 10 != 0}
    skey_of = {r.doc_id: r.skey for r in sets}
    for r in rows:
        in_index = skey_of[r.doc_id] in index_keys
        assert in_index == (r.decision == "dup_exact_index"), (
            f"doc {r.doc_id}: decision {r.decision} vs exact-index membership {in_index}"
        )


def test_ivf_recall_vs_exact_knn(spark):
    ivf = {(r.q_id, r.n_id) for r in QUERIES["sim_ann_ivf"](spark, SF_ORACLE).collect()}
    knn = {(r.q_id, r.n_id) for r in QUERIES["sim_knn"](spark, SF_ORACLE).collect()}
    assert len(knn) == 250  # 50 queries × k=5
    recall = len(ivf & knn) / len(knn)
    # nprobe=1 over a 10-cell label codebook: moderate recall by design
    assert recall >= 0.3, f"IVF recall {recall:.3f} suspiciously low"
    # every query returns exactly k neighbors (cells are larger than k)
    from collections import Counter

    per_q = Counter(q for q, _ in ivf)
    assert all(v == 5 for v in per_q.values())


def test_ivfpq_recall_vs_exact_l2(spark):
    import numpy as np

    rows = QUERIES["sim_ann_ivfpq"](spark, SF_ORACLE).collect()
    got: dict[int, list[int]] = {}
    for r in rows:
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    # 5 queries (vec_id % 100 == 0 over 500 vectors) × top-5 each
    assert len(rows) == 25 and len(got) == 5
    # exact rescore ⇒ per-query exact_dist is nondecreasing in rnk
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == [1, 2, 3, 4, 5]
        assert all(a.exact_dist <= b.exact_dist for a, b in zip(rs, rs[1:]))
    er = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in er])
    M = np.array([r.embedding for r in er], dtype="float64")
    rec = []
    for qi in np.nonzero(ids % 100 == 0)[0]:
        d2 = ((M - M[qi]) ** 2).sum(1)
        order = sorted(range(len(ids)), key=lambda j: (d2[j], ids[j]))
        exact5 = {int(ids[j]) for j in [j for j in order if ids[j] != ids[qi]][:5]}
        rec.append(len(set(got[int(ids[qi])]) & exact5) / 5)
    mean_recall = float(np.mean(rec))
    # ceiling is the nprobe=2/10-cell probe (~0.56 measured); ADC with
    # deliberately-coarse 2-bit codes then cuts to 50 — 0.36 measured
    assert mean_recall >= 0.2, f"IVFPQ recall {mean_recall:.3f} suspiciously low"


def test_simhash_pairs_within_threshold(spark):
    rows = QUERIES["dedup_simhash"](spark, SF_ORACLE).collect()
    assert rows
    assert all(0 <= r.hamming <= 3 for r in rows)
    pairs = [(r.a_id, r.b_id) for r in rows]
    assert len(pairs) == len(set(pairs)), "banded join emitted duplicate pairs"


def test_lsh_radius_recall(spark):
    import numpy as np

    lsh = {(r.a_id, r.b_id) for r in QUERIES["sim_ann_lsh"](spark, SF_ORACLE).collect()}
    rows = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows], dtype="float64")
    d2 = ((M[:, None, :] - M[None, :, :]) ** 2).sum(-1)
    ai, bj = np.nonzero((d2 <= 1.2**2) & (ids[:, None] < ids[None, :]))
    exact = {(int(ids[i]), int(ids[j])) for i, j in zip(ai, bj)}
    assert exact, "no exact pairs within radius — distribution changed?"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.5, f"BRP-LSH radius recall {recall:.3f} < 0.5"
    # every reported pair must genuinely be within the radius (exact rescore)
    assert lsh <= exact


# ------------------------------------------------------------------ multimodal


def test_mm_image_features_shape(spark):
    rows = QUERIES["mm_image_features"](spark, SF_ORACLE).collect()
    assert len(rows) == 500
    for r in rows[:50]:
        assert 1 <= r.width <= 64 and 1 <= r.height <= 64
        assert r.n_pixels == r.width * r.height
        assert r.fmt in ("png", "jpeg", "webp")


def test_mm_frame_sample_shape(spark):
    rows = QUERIES["mm_frame_sample"](spark, SF_ORACLE).collect()
    assert rows
    assert all(len(r.frame_hex) == 32 for r in rows[:100])  # 16 bytes → 32 hex
    # frame numbers are dense per doc starting at 0
    by_doc: dict[int, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_no)
    for doc_id, frames in list(by_doc.items())[:20]:
        assert sorted(frames) == list(range(len(frames)))


def test_decode_rejects_unsupported_formats():
    from spark_ml_helper_spark.operators.multimodal import decode_audio, decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG" + b"\x00" * 64)  # PNG magic → unsupported codec
    with pytest.raises(NotImplementedError):
        decode_audio(b"RIFF")  # truncated RIFF → not a parseable WAV
    with pytest.raises(ValueError):
        decode_image(b"BM" + b"\x00" * 10)  # right magic, truncated header


def test_bmp_roundtrip_with_row_padding():
    import numpy as np

    from spark_ml_helper_spark.operators.multimodal import decode_image, encode_bmp

    # w=3 → row_len=9, pad=3: exercises the 4-byte row-padding path; the
    # asymmetric pattern catches row-order flips and stride errors
    rng = np.random.default_rng(7)
    for w, h in ((3, 5), (4, 2), (7, 3), (1, 1)):
        pix = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_bmp(pix)
        dh, dw, dc, arr = decode_image(payload)
        assert (dh, dw, dc) == (h, w, 3)
        assert np.array_equal(arr, pix)


def test_bmp_decode_handcrafted_reference():
    import numpy as np

    from spark_ml_helper_spark.operators.multimodal import decode_image

    # hand-built 2x2 24-bit BMP, bottom-up rows, rows padded 6→8 bytes:
    # top row = (B1,G1,R1),(B2,G2,R2); bottom row = (B3,G3,R3),(B4,G4,R4)
    top = bytes([1, 2, 3, 4, 5, 6])
    bot = bytes([7, 8, 9, 10, 11, 12])
    body = bot + b"\x00\x00" + top + b"\x00\x00"  # stored bottom-up
    import struct

    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    h, w, c, arr = decode_image(hdr + info + body)
    assert (h, w, c) == (2, 2, 3)
    assert arr.tobytes() == top + bot  # top-down, padding stripped
    # negative height = stored top-down: same pixels, no flip
    info_td = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    body_td = top + b"\x00\x00" + bot + b"\x00\x00"
    _, _, _, arr_td = decode_image(hdr + info_td + body_td)
    assert np.array_equal(arr_td, arr)


def test_wav_roundtrip_and_reference():
    import numpy as np

    from spark_ml_helper_spark.operators.multimodal import decode_audio, encode_wav

    samples = np.array([0, 1, -1, 32767, -32768, 1000], dtype=np.int16)
    rate, decoded = decode_audio(encode_wav(samples, rate=16000))
    assert rate == 16000
    assert np.array_equal(decoded, samples)
    # byte-level reference: little-endian int16 PCM in the data chunk
    payload = encode_wav(np.array([258], dtype=np.int16), rate=8000)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    assert payload.endswith(b"\x02\x01")  # 258 = 0x0102 little-endian


def test_langid_outputs_valid(spark):
    rows = QUERIES["text_langid"](spark, SF_ORACLE).collect()
    assert len(rows) == 500
    assert all(r.pred_lang in ("de", "en", "es", "fr", "zh") for r in rows)


# ------------------------------------------------------------------ plan shape


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_pushdown_reaches_parquet(spark):
    plan = _formatted(QUERIES["scan_pruned"](spark, SF_ORACLE))
    assert "PushedFilters: [" in plan
    assert "PushedFilters: []" not in plan, "no filter reached the parquet scan"


def test_dim_join_broadcasts(spark):
    plan = _formatted(QUERIES["join_broadcast"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan


def test_minhash_join_is_not_cartesian(spark):
    plan = _formatted(QUERIES["dedup_minhash"](spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_agg_group_has_partial_agg(spark):
    plan = _formatted(QUERIES["agg_group"](spark, SF_ORACLE))
    assert plan.count("HashAggregate") >= 2, "map-side partial aggregation missing"


def test_bucketed_join_has_no_shuffle(spark):
    plan = _formatted(QUERIES["join_bucketed"](spark, SF_ORACLE))
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join should read co-located buckets, not shuffle"


def test_partitioned_sink_prunes(spark):
    plan = _formatted(QUERIES["sink_partitioned"](spark, SF_ORACLE))
    assert "PartitionFilters: [" in plan
    assert "o_year" in plan.split("PartitionFilters:")[1][:200], "year filter did not prune partitions"


def test_dpp_join_prunes_partitions(spark):
    plan = _formatted(QUERIES["join_dpp"](spark, SF_ORACLE))
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters:")[1][:250]
    assert "o_year" in seg, "year IN-list did not reach partition discovery"
    assert "BroadcastHashJoin" in plan, "dim side should broadcast"


def test_incremental_agg_merges_partials(spark):
    # merge(partial(stored), partial(delta)) must equal the one-pass agg
    import pyspark.sql.functions as F

    from spark_ml_helper_spark.sources.parquet import table as t

    merged = {r["o_orderpriority"]: (r["n"], r["total"]) for r in QUERIES["agg_incremental"](spark, SF_ORACLE).collect()}
    full = {
        r["o_orderpriority"]: (r["n"], r["total"])
        for r in t(spark, SF_ORACLE, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .collect()
    }
    assert merged == full


def test_approx_percentile_close_to_exact(spark):
    import pyspark.sql.functions as F

    from spark_ml_helper_spark.sources.parquet import table

    exact = {r.l_returnflag: r for r in QUERIES["agg_percentile"](spark, SF_ORACLE).collect()}
    # the query's own output asserts the sketch's rank-error bound...
    out = {r.l_returnflag: r for r in QUERIES["agg_approx_percentile"](spark, SF_ORACLE).collect()}
    assert set(exact) == set(out)
    for k, r in out.items():
        assert r.med_in_bounds and r.p25_in_bounds and r.p75_in_bounds, r
    # ...and the raw estimates land within 1% of the exact twin
    li = table(spark, SF_ORACLE, "lineitem")
    approx = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("med_qty"),
            F.expr("approx_percentile(l_quantity, 0.25, 10000)").alias("p25_qty"),
            F.expr("approx_percentile(l_quantity, 0.75, 10000)").alias("p75_qty"),
        )
        .collect()
    }
    for k in exact:
        for col in ("med_qty", "p25_qty", "p75_qty"):
            e, a = getattr(exact[k], col), getattr(approx[k], col)
            assert abs(a - e) <= max(0.01 * abs(e), 0.51), f"{k}.{col}: approx {a} vs exact {e}"


def test_file_sink_stream_matches_batch_twin(spark):
    sink = QUERIES["stream_run_file_sink"](spark, SF_ORACLE)
    batch = QUERIES["stream_tumbling"](spark, SF_ORACLE)
    # append-mode + 1h watermark may hold back the final (unclosed) windows;
    # everything emitted must match the batch twin exactly
    def naive(ts):  # sink ts is tz-aware UTC (watermark cast); twin is NTZ
        return ts.replace(tzinfo=None)

    s = {(naive(r.w_start), r.event_type): (r.n, r.sum_value) for r in sink.collect()}
    b = {(r.w_start, r.event_type): (r.n, r.sum_v) for r in batch.collect()}
    assert s, "file sink emitted nothing"
    assert len(s) >= 0.9 * len(b)
    mismatches = [k for k in s if k in b and s[k] != b[k]]
    assert not mismatches, f"sink rows diverge from batch twin: {mismatches[:3]}"
    assert all(k in b for k in s)


# ------------------------------------------------------------------ ML wrappers


def test_kmeans_deterministic(spark):
    a = [tuple(r) for r in QUERIES["ml_kmeans"](spark, SF_ORACLE).collect()]
    b = [tuple(r) for r in QUERIES["ml_kmeans"](spark, SF_ORACLE).collect()]
    assert sorted(a) == sorted(b), "seeded KMeans produced different clusterings across runs"
    assert sum(n for n, _ in a) == 500


def test_logreg_sane(spark):
    rows = QUERIES["ml_logreg"](spark, SF_ORACLE).collect()
    assert rows
    assert all(0.0 <= r.accuracy <= 1.0 for r in rows)
    assert 50 <= sum(r.n_test for r in rows) <= 150  # ~20% of 500


def test_pca_explained_variance_monotone(spark):
    rows = sorted(QUERIES["ml_pca"](spark, SF_ORACLE).collect(), key=lambda r: r.component)
    assert len(rows) == 8
    # monotone-decreasing ratios + bounded spectrum are now in-query booleans
    assert all(r.desc_ok for r in rows), "explained variance not decreasing"
    assert all(r.spectrum_ok for r in rows), "spectrum bounds violated"
    assert all(r.trace > 0 and r.max_diag > 0 for r in rows)


def test_salted_join_no_skewed_key(spark):
    # the join key must be the composite (orderkey, salt), never bare orderkey
    plan = _formatted(QUERIES["join_skew_salted"](spark, SF_ORACLE))
    assert "salt" in plan


def test_hll_sketch_error_vs_exact(spark):
    import pyspark.sql.functions as F

    # the query's in-band boolean asserts <5% error per row (incl. merged)
    out = {r.event_type: r for r in QUERIES["agg_hll_sketch"](spark, SF_ORACLE).collect()}
    assert "__ALL__" in out and len(out) > 1
    for k, r in out.items():
        assert r.within_5pct, f"{k}: HLL estimate outside 5% of exact {r.n_users}"
    from spark_ml_helper_spark.sources.parquet import table

    ev = table(spark, SF_ORACLE, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    ests = {
        r.event_type: r.est
        for r in per_type.select(
            "event_type", F.hll_sketch_estimate("sk").alias("est")
        ).collect()
    }
    merged = (
        per_type.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .first()
        .est
    )
    # union-merge must not exceed the sum of per-type estimates
    assert merged <= sum(ests.values()) + 1


def test_sample_deterministic_stable(spark):
    a = sorted(map(tuple, QUERIES["sample_deterministic"](spark, SF_ORACLE).collect()))
    b = sorted(map(tuple, QUERIES["sample_deterministic"](spark, SF_ORACLE).collect()))
    assert a == b and len(a) == 50


def test_dedup_clusters_consistent_with_pairs(spark):
    labels = {r.doc_id: r.cluster_id for r in QUERIES["dedup_clusters"](spark, SF_ORACLE).collect()}
    # every near-dup pair must share a cluster label, and labels are cluster minima
    from spark_ml_helper_spark.functions.setsim import exact_jaccard_pairs
    from spark_ml_helper_spark.operators.text import _tokens
    from spark_ml_helper_spark.sources.parquet import table
    import pyspark.sql.functions as F

    d = table(spark, SF_ORACLE, "documents")
    ts = d.select("doc_id", F.array_distinct(_tokens()).alias("elems"))
    pairs = exact_jaccard_pairs(ts, tau=0.95, out_col="jac").collect()
    assert pairs, "no near-dup pairs at tau=0.95 — fixture changed?"
    for r in pairs:
        assert labels[r.a_id] == labels[r.b_id], f"pair ({r.a_id},{r.b_id}) split across clusters"
    for doc_id, lab in labels.items():
        assert lab <= doc_id


def test_sliding_stream_matches_batch_twin(spark):
    stream = sorted(map(tuple, QUERIES["stream_run_sliding"](spark, SF_ORACLE).collect()))
    batch = sorted(map(tuple, QUERIES["stream_sliding"](spark, SF_ORACLE).collect()))
    assert stream == batch


def test_clustered_sink_pushes_date_filter(spark):
    plan = _plan(spark, "sink_clustered")
    assert "PushedFilters" in plan and "o_orderdate" in plan.split("PushedFilters")[1][:200]


def test_orc_sink_pushes_filter(spark):
    plan = _formatted(QUERIES["sink_orc"](spark, SF_ORACLE))
    assert "PushedFilters: [" in plan
    seg = plan.split("PushedFilters:")[1][:200]
    assert "l_returnflag" in seg, "returnflag filter did not push into the ORC scan"


def test_shuffle_hash_hint_honored(spark):
    plan = _formatted(QUERIES["join_hint_shuffle_hash"](spark, SF_ORACLE))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exactly_once_no_duplicate_windows(spark):
    # double-run against one checkpoint: every emitted window appears ONCE
    # (replay processed nothing) and its count matches the batch twin.
    # Trailing windows the final watermark never passed are legitimately
    # absent in append mode — subset, not equality.
    rows = QUERIES["stream_run_exactly_once"](spark, SF_ORACLE).collect()
    keys = [(r.w_start, r.event_type) for r in rows]
    assert len(keys) == len(set(keys)), "replayed stream duplicated windows"
    eo = {(r.w_start, r.event_type): r.n for r in rows}
    twin = {
        (r.w_start, r.event_type): r.n
        for r in QUERIES["stream_tumbling"](spark, SF_ORACLE).collect()
    }
    assert eo, "no windows emitted"
    assert all(twin.get(k) == v for k, v in eo.items()), "emitted window count differs from batch twin"
    # only trailing (never-finalized) windows may be missing
    missing = set(twin) - set(eo)
    max_emitted = max(ws for ws, _ in eo)
    assert all(ws >= max_emitted for ws, _ in missing), "non-trailing window missing = data lost"


# ------------------------------------------------------------ round-2 additions


def test_pagerank_deterministic_and_normalized(spark):
    a = [tuple(r) for r in QUERIES["graph_pagerank"](spark, SF_ORACLE).collect()]
    b = [tuple(r) for r in QUERIES["graph_pagerank"](spark, SF_ORACLE).collect()]
    assert a == b, "fixed-iteration PageRank diverged across runs"
    assert len(a) == 10
    ranks = [r for _, r in a]
    assert all(r > 0 for r in ranks)
    assert ranks == sorted(ranks, reverse=True)
    # dangling mass is redistributed each iteration, so the FULL vertex
    # distribution must sum to exactly 1 (up to float error) — this is the
    # regression guard for rank-mass loss
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.graph import _pagerank_ranks

    total = _pagerank_ranks(spark, SF_ORACLE).agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9, f"rank mass {total} != 1"
    assert sum(ranks) < total  # top-10 is a strict slice


def test_pagerank_empty_events(spark, tmp_path):
    # degenerate input: with no events there are no vertices, so the
    # query returns the empty (item, rank) frame instead of seeding 1/n
    import duckdb

    src = os.path.join(SF_SMOKE, "events.parquet")
    duckdb.sql(
        f"COPY (SELECT * FROM read_parquet('{src}') LIMIT 0) "
        f"TO '{tmp_path / 'events.parquet'}' (FORMAT PARQUET)"
    )
    empty = QUERIES["graph_pagerank"](spark, str(tmp_path))
    assert empty.count() == 0
    assert empty.dtypes == QUERIES["graph_pagerank"](spark, SF_SMOKE).dtypes


def test_graph_degree_handshake(spark):
    from spark_ml_helper_spark.operators.graph import _copurchase_edges

    n_edges = _copurchase_edges(spark, SF_ORACLE).count()
    rows = QUERIES["graph_degree"](spark, SF_ORACLE).collect()
    assert sum(r.degree * r.n_vertices for r in rows) == 2 * n_edges


def test_ewma_first_event_equals_value(spark):
    import pandas as pd

    df = QUERIES["win_ewma"](spark, SF_ORACLE).toPandas()
    # recompute one user's series in pandas (same alpha, same 20-row span)
    from spark_ml_helper_spark.sources.parquet import table
    import pyspark.sql.functions as F

    e = (
        table(spark, SF_ORACLE, "events")
        .filter(F.col("user_id") == 7)
        .orderBy("ts", "event_id")
        .select("event_id", "value")
        .toPandas()
    )
    assert len(e) > 5
    got = df[df.user_id == 7].set_index("event_id").ewma
    q = 0.7
    for n in range(len(e)):
        lo = max(0, n - 19)
        xs = e.value.iloc[lo : n + 1].tolist()
        wts = [q ** (len(xs) - 1 - i) for i in range(len(xs))]
        want = round(sum(w * x for w, x in zip(wts, xs)) / sum(wts), 6)
        assert abs(got[e.event_id.iloc[n]] - want) < 1e-9


def test_interpolate_grid_is_dense_and_observed_passthrough(spark):
    import pyspark.sql.functions as F

    df = QUERIES["ts_interpolate"](spark, SF_ORACLE)
    pdf = df.toPandas()
    # dense grid: hours × types, every cell filled
    assert pdf.v_interp.notna().all()
    n_types = pdf.event_type.nunique()
    assert len(pdf) == n_types * pdf.hr.nunique()
    # interpolated values stay within the observed envelope per type
    for t, g in pdf.groupby("event_type"):
        obs = g[g.observed].v_interp
        assert g.v_interp.min() >= obs.min() - 1e-9
        assert g.v_interp.max() <= obs.max() + 1e-9


def test_auc_matches_numpy_reference(spark):
    import numpy as np

    row = QUERIES["ml_eval_auc"](spark, SF_ORACLE).first()
    from spark_ml_helper_spark.sources.parquet import table

    pdf = table(spark, SF_ORACLE, "embeddings").select("embedding", "label").toPandas()
    scores = np.array([float(e[0]) for e in pdf.embedding])
    pos = (pdf.label >= 5).to_numpy()
    # Mann-Whitney with average ranks, computed independently
    order = np.argsort(scores, kind="mergesort")
    ranks = np.empty(len(scores))
    sorted_scores = scores[order]
    i = 0
    while i < len(scores):
        j = i
        while j + 1 < len(scores) and sorted_scores[j + 1] == sorted_scores[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2 + 1
        i = j + 1
    n_pos, n_neg = int(pos.sum()), int((~pos).sum())
    want = (ranks[pos].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert row.n_pos == n_pos and row.n_neg == n_neg
    assert abs(row.auc - round(want, 6)) < 1e-9


def test_random_forest_deterministic(spark):
    a = sorted(map(tuple, QUERIES["ml_random_forest"](spark, SF_ORACLE).collect()))
    b = sorted(map(tuple, QUERIES["ml_random_forest"](spark, SF_ORACLE).collect()))
    assert a == b, "seeded random forest diverged across runs"
    assert all(0.0 <= r[2] <= 1.0 for r in a)


def test_naive_bayes_labels_cover_langs(spark):
    rows = QUERIES["ml_naive_bayes"](spark, SF_ORACLE).collect()
    assert {r.lang for r in rows} <= {"en", "zh", "es", "de", "fr"}
    assert all(0.0 <= r.accuracy <= 1.0 for r in rows)
    assert sum(r.n_test for r in rows) > 50


def test_word2vec_deterministic(spark):
    a = [tuple(r) for r in QUERIES["ml_word2vec"](spark, SF_ORACLE).collect()]
    b = [tuple(r) for r in QUERIES["ml_word2vec"](spark, SF_ORACLE).collect()]
    assert a == b, "single-partition seeded Word2Vec diverged across runs"
    assert len(a) == 9  # 3 probes × 3 neighbors
    assert all(-1.0 <= s <= 1.0 + 1e-9 for _, _, s in a)


def test_decontaminate_flags_only_train_docs(spark):
    rows = QUERIES["corpus_decontaminate"](spark, SF_ORACLE).collect()
    assert rows, "no contamination found — shingle width too wide for fixture?"
    assert all(r.doc_id % 97 != 0 for r in rows)
    assert all(r.n_shared_shingles >= 1 for r in rows)


def test_pack_sequences_full_except_last(spark):
    from spark_ml_helper_spark.operators.corpus import _PACK_L

    rows = sorted(QUERIES["corpus_pack_sequences"](spark, SF_ORACLE).collect(), key=lambda r: r.seq_id)
    assert rows[0].seq_id == 0
    assert [r.seq_id for r in rows] == list(range(len(rows)))  # contiguous stream
    assert all(r.n_tokens == _PACK_L for r in rows[:-1]), "interior sequence not full"
    assert 0 < rows[-1].n_tokens <= _PACK_L
    # total packed tokens == total corpus tokens
    import pyspark.sql.functions as F
    from spark_ml_helper_spark.sources.parquet import table
    from spark_ml_helper_spark.operators.text import _tokens

    n_corpus = (
        table(spark, SF_ORACLE, "documents").select(F.size(_tokens()).alias("n")).agg(F.sum("n")).first()[0]
    )
    assert sum(r.n_tokens for r in rows) == n_corpus


def test_repetition_bounded(spark):
    rows = QUERIES["text_repetition"](spark, SF_ORACLE).collect()
    assert len(rows) == 500
    assert all(0.0 <= r.dup_ratio < 1.0 for r in rows)


def test_unigram_logprob_negative_and_bounded(spark):
    rows = QUERIES["text_unigram_logprob"](spark, SF_ORACLE).collect()
    assert len(rows) == 500
    import math

    # 31-token vocab: mean logprob must sit between ln(1/corpus) and ln(max_frac)
    assert all(-15.0 < r.mean_logprob < 0.0 for r in rows)


def test_hard_negatives_cross_label(spark):
    rows = QUERIES["sim_hard_negatives"](spark, SF_ORACLE).collect()
    assert len(rows) == 100
    assert all(r.anchor_label != r.neg_label for r in rows)
    assert all(-1.0 - 1e-9 <= r.sim <= 1.0 + 1e-9 for r in rows)


def test_pipeline_pretrain_composition(spark):
    from spark_ml_helper_spark.operators.corpus import _PACK_L

    rows = sorted(QUERIES["pipeline_pretrain"](spark, SF_ORACLE).collect(), key=lambda r: r.seq_id)
    assert rows, "curated corpus packed to nothing"
    assert all(r.n_tokens == _PACK_L for r in rows[:-1])
    # the curated stream must be smaller than the raw corpus pack
    raw = QUERIES["corpus_pack_sequences"](spark, SF_ORACLE).count()
    assert len(rows) < raw


def test_decontaminate_benchmark_side_broadcasts(spark):
    plan = _formatted(QUERIES["corpus_decontaminate"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan


def test_pretrain_anti_join_in_plan(spark):
    plan = _formatted(QUERIES["pipeline_pretrain"](spark, SF_ORACLE))
    assert "LeftAnti" in plan


def test_retrieval_metrics_bounded(spark):
    row = QUERIES["ml_eval_retrieval"](spark, SF_ORACLE).first()
    assert row.n_queries == 100
    assert 0.0 <= row.recall_at_5 <= 1.0
    assert 0.0 < row.mrr <= 1.0
    assert row.mrr <= 1.0 and row.recall_at_5 >= row.mrr - 1.0  # sanity shape


def _stream_state_rows(q):
    """numRowsTotal per micro-batch from a finished StreamingQuery."""
    import json as _json

    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else _json.loads(p.json)
        ops = d.get("stateOperators") or []
        if ops:
            out.append(sum(op["numRowsTotal"] for op in ops))
    return out


def test_watermark_bounds_window_state(spark):
    """The docstring claim 'watermark keeps state bounded' as a checked
    property: run the watermarked 1-hour windowed agg over the 8
    time-ranged event files in 4 micro-batches and read the state-store
    row counts from query progress. Eviction lags one batch (the batch-N
    watermark comes from data through batch N-1), so the live state may
    hold ~one batch's windows plus the straddler — but never the whole
    month of windows an unwatermarked complete-mode agg would retain."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.streaming import runs as R

    e = R._events_stream(spark, SF_ORACLE, max_files_per_trigger=2)
    agg = (
        e.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    name = "m" + _uuid.uuid4().hex[:12]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name).count()
    states = _stream_state_rows(q)
    assert states, "no stateOperators progress recorded"
    # bounded: the full month holds ~720 hourly windows; an unwatermarked
    # complete-mode agg would retain all of them. With the watermark, live
    # state holds at most ~one 2-file batch's window span (~1/4 month) plus
    # the one-batch eviction lag — and availableNow batches are not
    # guaranteed time-ordered, so bound against the full population rather
    # than a specific batch sequence.
    month_windows = 720
    assert emitted > 0
    assert max(states) <= month_windows // 2
    assert states[-1] <= month_windows // 4


def test_dedup_within_watermark_bounds_state(spark):
    """dropDuplicatesWithinWatermark must DROP key state once the
    watermark passes (first-seen + delay); with a 1-hour delay against a
    month-long stream, live state stays far below the full distinct-key
    population (750 user x type pairs at sf0.01)."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.streaming import runs as R

    e = (
        R._events_stream(spark, SF_ORACLE, max_files_per_trigger=2)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
    )
    dedup = e.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    name = "m" + _uuid.uuid4().hex[:12]
    q = (
        dedup.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    states = _stream_state_rows(q)
    assert states, "no stateOperators progress recorded"
    # Eviction lags one batch (the batch-N watermark is computed from data
    # through batch N-1), so one batch legitimately peaks near the full key
    # population (most keys first appear in the stream's first hours). The
    # bounded-state property is that state COLLAPSES once the watermark
    # advances instead of accumulating. availableNow does NOT promise
    # time-ordered micro-batches (observed both [728, 29, 0, 0] and
    # [0, 0, 720, 1]), so assert order-insensitively: some batch carried
    # real state, and the final state is a small fraction of both the key
    # population and the observed peak.
    n_keys = 750  # select count(distinct (user_id, event_type)) at sf0.01
    assert len(states) >= 2
    assert max(states) > 0
    assert states[-1] < n_keys // 10
    assert states[-1] <= max(states) // 10


def test_containment_summary_matches_pair_expansion(spark):
    """The per-doc summary and the doc-level pair expansion are two views
    of the same relation: n_containers must equal the number of directed
    pairs with this doc on the contained side, and max_containment the
    max score among them."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.functions.setsim import smallvocab_containment_pairs
    from spark_ml_helper_spark.sources.parquet import table as t

    sets = t(spark, SF_ORACLE, "documents").select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("elems")
    )
    pairs = smallvocab_containment_pairs(sets, tau=0.9, out_col="c").collect()
    n_by_doc: dict[int, int] = defaultdict(int)
    mx_by_doc: dict[int, float] = {}
    for r in pairs:
        n_by_doc[r.a_id] += 1
        mx_by_doc[r.a_id] = max(mx_by_doc.get(r.a_id, 0.0), r.c)
    summary = QUERIES["dedup_containment"](spark, SF_ORACLE).collect()
    assert len(summary) > 0
    for row in summary:
        assert row.n_containers == n_by_doc.get(row.doc_id, 0)
        assert row.is_contained == (row.n_containers > 0)
        if row.n_containers:
            assert abs(row.max_containment - mx_by_doc[row.doc_id]) < 1e-9
        else:
            assert row.max_containment is None


def test_containment_covers_jaccard_pairs(spark):
    """J(A,B) >= tau implies C(A->B) >= tau and C(B->A) >= tau, so every
    undirected Jaccard pair at the same threshold must appear in BOTH
    directions of the containment expansion."""
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.functions.setsim import (
        exact_jaccard_pairs,
        smallvocab_containment_pairs,
    )
    from spark_ml_helper_spark.sources.parquet import table as t

    sets = t(spark, SF_ORACLE, "documents").select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("elems")
    )
    jac = {(r.a_id, r.b_id) for r in exact_jaccard_pairs(sets, 0.95, "j").collect()}
    cont = {(r.a_id, r.b_id) for r in smallvocab_containment_pairs(sets, 0.95, "c").collect()}
    assert jac, "no jaccard pairs — fixture changed?"
    missing = {p for p in jac if p not in cont or (p[1], p[0]) not in cont}
    assert not missing, f"{len(missing)} jaccard pairs missing from containment"


def test_oov_and_bigram_scores_bounded(spark):
    oov = QUERIES["text_oov_rate"](spark, SF_ORACLE).collect()
    assert len(oov) > 0
    for r in oov:
        assert 0 <= r.n_oov <= r.n_tok
        assert 0.0 <= r.oov_rate <= 1.0
    lm = QUERIES["corpus_bigram_lm"](spark, SF_ORACLE).collect()
    assert len(lm) > 0
    # add-one smoothing keeps every bigram probability in (0, 1) -> NLL > 0
    for r in lm:
        assert r.n_bigrams > 0
        assert r.mean_nll > 0.0


def test_outlier_rate_is_tail_sized(spark):
    rows = QUERIES["vec_outlier_dist"](spark, SF_ORACLE).collect()
    assert len(rows) > 0
    flagged = sum(1 for r in rows if r.is_outlier)
    # mean + 2 sigma flags a distribution tail, not a large fraction
    assert flagged / len(rows) < 0.15
    for r in rows:
        assert r.dist >= 0.0


def test_weighted_sample_favors_long_docs(spark):
    """Inclusion probability proportional to n_chars: the 100-doc sample's
    mean length must exceed the corpus mean, and the draw is reproducible."""
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table as t

    a = QUERIES["sample_weighted"](spark, SF_ORACLE).collect()
    b = QUERIES["sample_weighted"](spark, SF_ORACLE).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)), "weighted draw not deterministic"
    assert len(a) == 100
    corpus_mean = (
        t(spark, SF_ORACLE, "documents").agg(F.avg("n_chars")).first()[0]
    )
    sample_mean = sum(r.n_chars for r in a) / len(a)
    assert sample_mean > corpus_mean, (
        f"length-weighted sample mean {sample_mean:.1f} <= corpus {corpus_mean:.1f}"
    )


def test_sentiment_bounded_and_hit_counted(spark):
    rows = QUERIES["text_sentiment"](spark, SF_ORACLE).collect()
    assert len(rows) > 0
    for r in rows:
        assert -1.0 <= r.sentiment <= 1.0
        assert 0 <= r.n_hits <= r.n_tok
        if r.n_hits == 0:
            assert r.sentiment == 0.0


def test_sample_weighted_is_topk_not_global_sort(spark):
    # map + k-row heap (TakeOrderedAndProject), never a full Exchange+Sort
    plan = _formatted(QUERIES["sample_weighted"](spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan


def test_bigram_lm_broadcasts_count_tables(spark):
    # both LM count tables are vocab-sized dimensions: they must broadcast,
    # never shuffle the token stream
    plan = _formatted(QUERIES["corpus_bigram_lm"](spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 2


def test_sentiment_lexicon_broadcasts(spark):
    plan = _formatted(QUERIES["text_sentiment"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_merges_deterministic_and_wellformed(spark):
    a = QUERIES["tokenizer_bpe_train"](spark, SF_ORACLE).collect()
    b = QUERIES["tokenizer_bpe_train"](spark, SF_ORACLE).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b], "BPE training diverged across runs"
    assert [r.merge_rank for r in a] == list(range(1, 11))
    assert len({r.pair for r in a}) == 10, "a merge pair repeated — rewrite did not apply"
    for r in a:
        assert r.n > 0
        left, right = r.pair.split(" ")
        assert left and right


def test_bpe_compression_strictly_helps(spark):
    rows = QUERIES["corpus_apply_bpe"](spark, SF_ORACLE).collect()
    assert len(rows) > 0
    for r in rows:
        assert 1 <= r.n_tok_after <= r.n_tok_before
        assert 0.0 < r.compression <= 1.0
    # 10 frequent merges must compress the corpus overall
    total_before = sum(r.n_tok_before for r in rows)
    total_after = sum(r.n_tok_after for r in rows)
    assert total_after < total_before


def test_semantic_decon_agrees_with_bruteforce(spark):
    import numpy as np

    rows = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows], dtype="float64")
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    bench = ids % 97 == 0
    sims = M[~bench] @ M[bench].T
    expect = {
        int(i): int(n)
        for i, n in zip(ids[~bench], (sims >= 0.35).sum(axis=1))
        if n > 0
    }
    got = {
        r.vec_id: r.n_benchmark_hits
        for r in QUERIES["corpus_decontaminate_semantic"](spark, SF_ORACLE).collect()
    }
    assert got == expect


def test_graph_cc_minlabel_property(spark):
    rows = QUERIES["graph_cc"](spark, SF_ORACLE).collect()
    assert rows
    labels = {r.node: r.cluster_id for r in rows}
    # min-label CC: every label is a member of its own cluster and is the
    # minimum node id in that cluster
    from collections import defaultdict

    members = defaultdict(list)
    for n, c in labels.items():
        members[c].append(n)
        assert c <= n
    for c, ns in members.items():
        assert c in labels and labels[c] == c
        assert min(ns) == c


def test_knn_preselect_matches_bruteforce(spark):
    # sim_knn's blocked-BLAS candidate preselect must be a pure filter: its
    # final (q_id, n_id, sim, rn) rows equal the naive |Q|x|C| join + window.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.functions.vector_math import dot, l2_norm
    from spark_ml_helper_spark.sources.parquet import table

    e = table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    c = e.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("c_emb"), F.col("nrm").alias("c_nrm")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), "n_id")
    naive = (
        q.join(c, F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm")), 6).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
    )
    expect = {(r.q_id, r.n_id, r.sim, r.rn) for r in naive.collect()}
    got = {(r.q_id, r.n_id, r.sim, r.rn) for r in QUERIES["sim_knn"](spark, SF_ORACLE).collect()}
    assert got == expect


def test_pit_features_plan_is_join_free(spark):
    # the union-merge PIT form must not contain any Join node — features
    # arrive via one last_value window over the merged stream
    plan = _plan(spark, "pit_features")
    assert "Join" not in plan
    assert plan.count("Window") >= 1


def test_interval_overlap_is_equi_join(spark):
    # bin replication must plan as an equi-join on bin id, never a
    # nested-loop over the raw interval predicate
    plan = _plan(spark, "join_interval_overlap")
    assert "NestedLoop" not in plan


def test_pca_variance_identity(spark):
    # eigen-identities tie MLlib's PCA output to closed-form data variance:
    # explained_var_i == score_var_i / trace — asserted in-query since r5
    # (ratio_consistent), with the trace itself independently recomputed
    # here against the query's hash-matched trace column
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table

    rows = QUERIES["ml_pca"](spark, SF_ORACLE).collect()
    assert rows
    assert all(r.ratio_consistent for r in rows), rows
    e = table(spark, SF_ORACLE, "embeddings")
    dims = e.select(F.posexplode("embedding").alias("d", "x"))
    total_var = (
        dims.groupBy("d").agg(F.var_samp(F.col("x").cast("double")).alias("v"))
        .agg(F.sum("v")).first()[0]
    )
    for r in rows:
        assert abs(r.trace - total_var) < 1e-4, (r.trace, total_var)


def test_cusum_matches_sequential_recursion(spark):
    # the window-reflection identity S_t = C_t - min(0, min_j<=t C_j) must
    # reproduce the textbook sequential recursion S_t = max(0, S_{t-1} + d_t)
    from collections import defaultdict

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table

    got = {
        (r["event_type"], r["day"]): r["cusum"]
        for r in QUERIES["ts_cusum"](spark, SF_ORACLE).collect()
    }
    daily = (
        table(spark, SF_ORACLE, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum("value").alias("x"))
        .collect()
    )
    series = defaultdict(list)
    for r in daily:
        series[r["event_type"]].append((r["day"], r["x"]))
    for et, pts in series.items():
        pts.sort()
        xs = [x for _, x in pts]
        mu = sum(xs) / len(xs)
        var = sum((x - mu) ** 2 for x in xs) / (len(xs) - 1)
        sd = var ** 0.5
        s = 0.0
        for day, x in pts:
            s = max(0.0, s + (x - mu - 0.5 * sd))
            assert abs(s - got[(et, day.isoformat())]) < 1e-4, (et, day)


def test_importance_resample_admits_top_quartile(spark):
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.curation import _DSIR_TARGET_SRC
    from spark_ml_helper_spark.sources.parquet import table

    rows = QUERIES["corpus_importance_resample"](spark, SF_ORACLE).collect()
    target_ids = {
        r.doc_id
        for r in table(spark, SF_ORACLE, "documents")
        .filter(F.col("source") == _DSIR_TARGET_SRC)
        .select("doc_id")
        .collect()
    }
    # one score per POOL doc; target exemplars never scored
    assert rows and not ({r.doc_id for r in rows} & target_ids)
    admitted = [r for r in rows if r.admitted]
    frac = len(admitted) / len(rows)
    assert 0.2 <= frac <= 0.35, frac  # top quartile, ties may widen it
    # admission must be exactly the score threshold rule
    th = min(r.score for r in admitted)
    assert all((r.score >= th) == r.admitted for r in rows)


def test_gmm_em_matches_numpy_replay_and_improves(spark):
    # replay the exact EM schedule in numpy (8dp re-rounded aggregates,
    # same init) — independent of both engines — and require the Spark
    # params to match to 1e-6; EM's monotone-improvement guarantee must
    # hold from init to the final loglik
    import numpy as np
    import pandas as pd

    from spark_ml_helper_spark.operators.ml import (
        _GMM_D,
        _GMM_K,
        _GMM_ROUNDS,
        _GMM_VFLOOR,
    )

    rows = QUERIES["ml_gmm_em"](spark, SF_ORACLE).collect()
    assert len(rows) == _GMM_K * _GMM_D
    got_w = {r.component: r.weight for r in rows}
    assert abs(sum(got_w.values()) - 1.0) < 1e-6
    assert all(r.sigma2 >= _GMM_VFLOOR for r in rows)

    df = pd.read_parquet(f"{SF_ORACLE}/embeddings.parquet")
    X = np.stack(df["embedding"].to_numpy())[:, :_GMM_D].astype(np.float64)
    vid = df["vec_id"].to_numpy()
    wk = np.full(_GMM_K, 0.33333333)
    mu = np.stack(
        [np.round(X[vid % _GMM_K == k].mean(axis=0), 8) for k in range(_GMM_K)]
    )
    va = np.tile(np.round(X.var(axis=0), 8), (_GMM_K, 1))

    def loglik():
        s = np.stack(
            [
                np.log(wk[k]) - 0.5 * (((X - mu[k]) ** 2 / va[k]).sum(1) + np.log(va[k]).sum())
                for k in range(_GMM_K)
            ]
        )
        sm = s.max(axis=0)
        return float(np.mean(np.log(np.exp(s - sm).sum(axis=0)) + sm))

    ll_init = loglik()
    for _ in range(_GMM_ROUNDS):
        s = np.stack(
            [
                np.log(wk[k]) - 0.5 * (((X - mu[k]) ** 2 / va[k]).sum(1) + np.log(va[k]).sum())
                for k in range(_GMM_K)
            ]
        )
        sm = s.max(axis=0)
        r = np.exp(s - sm) / np.exp(s - sm).sum(axis=0)
        a_r = np.round(r.mean(axis=1), 8)
        a_rx = np.round((r[:, :, None] * X[None]).mean(axis=1), 8)
        a_rxx = np.round((r[:, :, None] * X[None] ** 2).mean(axis=1), 8)
        wk = a_r
        mu = np.round(a_rx / a_r[:, None], 8)
        va = np.maximum(
            np.round(a_rxx / a_r[:, None] - (a_rx / a_r[:, None]) ** 2, 8), _GMM_VFLOOR
        )
    ll_final = loglik()
    assert ll_final > ll_init, (ll_final, ll_init)
    for r in rows:
        k, d = r.component, r.dim - 1
        assert abs(r.weight - wk[k]) < 1e-6, ("w", k)
        assert abs(r.mu - mu[k][d]) < 1e-6, ("mu", k, d)
        assert abs(r.sigma2 - va[k][d]) < 1e-6, ("va", k, d)
    assert abs(rows[0].loglik - round(ll_final, 6)) < 1e-5


def test_louvain_improves_modularity(spark):
    # synchronous integer-score Louvain must (a) partition every node,
    # (b) genuinely merge communities, (c) produce a partition whose
    # Newman modularity beats the singleton partition and is positive —
    # computed here independently in Python over the same edge list
    from collections import defaultdict

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.graph import _CC_MIN_COOCCUR, _CC_SUPP_OFFSET
    from spark_ml_helper_spark.sources.parquet import table

    labels = {
        r.node: r.community
        for r in QUERIES["graph_louvain"](spark, SF_ORACLE).collect()
    }
    e0 = (
        table(spark, SF_ORACLE, "orders")
        .join(table(spark, SF_ORACLE, "lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _CC_MIN_COOCCUR)
        .collect()
    )
    edges = [(r.c, r.s + _CC_SUPP_OFFSET) for r in e0]
    nodes = {n for e in edges for n in e}
    assert set(labels) == nodes  # every node labeled, none invented
    assert len(set(labels.values())) < len(nodes)  # real merging happened

    def q_of(lab):
        m2 = 2 * len(edges)
        internal = sum(2 for a, b in edges if lab[a] == lab[b])
        dsum = defaultdict(int)
        for a, b in edges:
            dsum[lab[a]] += 1
            dsum[lab[b]] += 1
        return internal / m2 - sum((d / m2) ** 2 for d in dsum.values())

    q_louvain = q_of(labels)
    q_single = q_of({n: n for n in nodes})
    assert q_louvain > 0 > q_single, (q_louvain, q_single)

    # phase 2 (multilevel contraction) must strictly improve modularity
    # over phase 1 on the same graph, merge communities, and keep the
    # partition a refinement-coarsening of phase 1 (every phase-1
    # community maps wholly into one phase-2 community)
    labels2 = {
        r.node: r.community
        for r in QUERIES["graph_louvain_multilevel"](spark, SF_ORACLE).collect()
    }
    assert set(labels2) == nodes
    assert len(set(labels2.values())) < len(set(labels.values()))
    parent = {}
    for n in nodes:
        c1, c2 = labels[n], labels2[n]
        assert parent.setdefault(c1, c2) == c2, (n, c1)  # coarsening only
    q_ml = q_of(labels2)
    assert q_ml > q_louvain, (q_ml, q_louvain)


def test_holt_linear_matches_sequential_recursion(spark):
    # the JVM array fold must reproduce the textbook Holt recursion run
    # sequentially in Python over the same daily series (independent of
    # the DuckDB oracle, which shares none of this code)
    from collections import defaultdict

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table
    from tests.test_properties import _holt_python

    got = {
        (r["event_type"], r["d"]): (r["fitted"], r["level"], r["trend"])
        for r in QUERIES["ts_holt_linear"](spark, SF_ORACLE).collect()
    }
    assert got, "no smoothed rows — fixture changed?"
    daily = (
        table(spark, SF_ORACLE, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.round(F.avg("value"), 6).alias("x"))
        .collect()
    )
    series = defaultdict(list)
    for r in daily:
        series[r["event_type"]].append((r["d"], r["x"]))
    n_checked = 0
    for et, pts in series.items():
        pts.sort()
        if len(pts) < 3:
            continue
        want = _holt_python([x for _, x in pts])
        for (d, _), exp in zip(pts[2:], want):
            assert got[(et, d)] == exp, (et, d)
            n_checked += 1
    assert n_checked == len(got)


def test_holt_winters_matches_sequential_recursion(spark):
    # same independent-Python-replay check as ts_holt_linear, now with
    # the m-slot seasonal queue
    from collections import defaultdict

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.timeseries import _HW_M
    from spark_ml_helper_spark.sources.parquet import table
    from tests.test_properties import _hw_python

    got = {
        (r["event_type"], r["d"]): (r["fitted"], r["level"], r["trend"], r["seasonal"])
        for r in QUERIES["ts_holt_winters"](spark, SF_ORACLE).collect()
    }
    assert got
    daily = (
        table(spark, SF_ORACLE, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.round(F.avg("value"), 6).alias("x"))
        .collect()
    )
    series = defaultdict(list)
    for r in daily:
        series[r["event_type"]].append((r["d"], r["x"]))
    m = _HW_M
    n_checked = 0
    for et, pts in series.items():
        pts.sort()
        if len(pts) < 2 * m + 1:
            continue
        want = _hw_python([x for _, x in pts], m)
        for (d, _), exp in zip(pts[m:], want):
            assert got[(et, d)] == exp, (et, d)
            n_checked += 1
    assert n_checked == len(got)


def test_autocorr_bounded_and_pair_counts(spark):
    rows = QUERIES["ts_autocorr"](spark, SF_ORACLE).collect()
    assert len(rows) == 5 * 7  # 5 event types x lags 1..7
    by_series = {}
    for r in rows:
        assert -1.0 <= r["acf"] <= 1.0
        by_series.setdefault(r["event_type"], {})[r["lag"]] = r["n_pairs"]
    for lags in by_series.values():
        # each extra lag loses exactly one pair off the series head
        for k in range(2, 8):
            assert lags[k] == lags[k - 1] - 1


def test_rfm_scores_partition_customers_into_quartiles(spark):
    from collections import Counter

    rows = QUERIES["rfm_segments"](spark, SF_ORACLE).collect()
    n = len(rows)
    assert n == 1500
    for col in ("r_score", "f_score", "m_score"):
        c = Counter(r[col] for r in rows)
        assert set(c) <= {1, 2, 3, 4}
        # monetary is continuous → near-exact quartiles; discrete metrics
        # (frequency, recency days) may have heavy ties at the cutpoint
        if col == "m_score":
            for score, cnt in c.items():
                assert abs(cnt - n / 4) <= n * 0.02, (score, cnt)


def test_rfm_has_no_global_sort_window(spark):
    # the scale contract: quartile scoring must come from a broadcast
    # cutpoint row, never an ntile window over a partition-less frame
    plan = _plan(spark, "rfm_segments")
    assert "Window" not in plan


def test_basket_lift_has_no_join_on_orderkey(spark):
    # pair generation must be the local double-explode of the basket
    # array — the plan may join item counts (broadcast) but must not
    # self-join baskets on l_orderkey
    plan = _plan(spark, "basket_lift")
    assert "SortMergeJoin" not in plan
    assert plan.count("Generate") >= 2  # the two explodes


def test_basket_lift_agrees_with_bruteforce_pairs(spark):
    from itertools import combinations

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table

    li = table(spark, SF_ORACLE, "lineitem").select("l_orderkey", "l_partkey")
    baskets = {}
    for r in li.distinct().collect():
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    from collections import Counter

    pair_cnt = Counter()
    for parts in baskets.values():
        for a, b in combinations(sorted(parts), 2):
            pair_cnt[(a, b)] += 1
    item_cnt = Counter()
    for parts in baskets.values():
        item_cnt.update(parts)
    n_orders = len(baskets)
    lifts = {
        p: (c * n_orders) / (item_cnt[p[0]] * item_cnt[p[1]])
        for p, c in pair_cnt.items()
        if c >= 2
    }
    expect_top = sorted(lifts.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    got = QUERIES["basket_lift"](spark, SF_ORACLE).collect()
    assert len(got) == len(expect_top)
    for r, (p, lift) in zip(got, expect_top):
        assert (r["part_a"], r["part_b"]) == p
        assert abs(r["lift"] - lift) < 1e-5


def test_welch_ab_test_matches_closed_form(spark):
    import math

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table

    r = QUERIES["stats_ab_test"](spark, SF_ORACLE).collect()[0]
    vals = (
        table(spark, SF_ORACLE, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "value")
        .collect()
    )
    a = [v["value"] for v in vals if v["user_id"] % 2 == 0]
    b = [v["value"] for v in vals if v["user_id"] % 2 == 1]

    def mean_var(xs):
        m = sum(xs) / len(xs)
        return m, sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    ma, va = mean_var(a)
    mb, vb = mean_var(b)
    se2 = va / len(a) + vb / len(b)
    t = (ma - mb) / math.sqrt(se2)
    df = se2 ** 2 / ((va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1))
    assert r["n_a"] == len(a) and r["n_b"] == len(b)
    assert abs(r["t_stat"] - t) < 1e-4
    assert abs(r["df_welch"] - df) < 1e-2
    # Welch df is bounded by min(na,nb)-1 below and na+nb-2 above
    assert min(len(a), len(b)) - 1 <= r["df_welch"] <= len(a) + len(b) - 2


def test_target_encode_shrinks_toward_prior(spark):
    rows = QUERIES["feature_target_encode"](spark, SF_ORACLE).collect()
    # global prior is the n-weighted mean of raw rates
    total_n = sum(r["n"] for r in rows)
    prior = sum(r["raw_rate"] * r["n"] for r in rows) / total_n
    for r in rows:
        raw, enc = r["raw_rate"], r["encoded"]
        # encoded value lies strictly between raw rate and the prior
        lo, hi = min(raw, prior), max(raw, prior)
        assert lo - 1e-6 <= enc <= hi + 1e-6, r
        # shrinkage magnitude: |enc - raw| = m/(n+m) * |prior - raw|
        assert abs((enc - raw) - 20 / (r["n"] + 20) * (prior - raw)) < 1e-4


def test_winsorize_clips_two_percent_per_segment(spark):
    from collections import Counter

    rows = QUERIES["feature_winsorize"](spark, SF_ORACLE).collect()
    assert all(r["winsorized"] == r["c_acctbal"] for r in rows if not r["clipped"])
    seg_n = Counter(r["c_mktsegment"] for r in rows)
    seg_clip = Counter(r["c_mktsegment"] for r in rows if r["clipped"])
    for seg, n in seg_n.items():
        # p01/p99 clip ≈ 2% of each group (interpolation rounds the edges)
        assert seg_clip[seg] <= max(4, 0.03 * n), (seg, seg_clip[seg], n)
        assert seg_clip[seg] >= 1, seg


def test_mutual_info_identities(spark):
    r = QUERIES["feature_mutual_info"](spark, SF_ORACLE).collect()[0]
    # 0 <= MI <= min(H(X), H(Y)); 0 <= NMI <= 1
    assert 0.0 <= r["mi_nats"] <= min(r["h_x"], r["h_y"]) + 1e-6
    assert 0.0 <= r["nmi"] <= 1.0 + 1e-6


def test_entropy_bounds_per_source(spark):
    import math

    rows = QUERIES["agg_entropy"](spark, SF_ORACLE).collect()
    for r in rows:
        # 0 <= H <= ln(k); 1/k <= HHI <= 1
        k = r["n_langs"]
        assert -1e-6 <= r["entropy_nats"] <= math.log(k) + 1e-6, r
        assert 1.0 / k - 1e-6 <= r["hhi"] <= 1.0 + 1e-6, r


def test_profile_skew_ratios_consistent(spark):
    rows = QUERIES["profile_skew"](spark, SF_ORACLE).collect()
    assert len(rows) == 10
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    r0 = rows[0]
    # the top row's ratio IS the max ratio, and ratio = cnt * n_keys / n_rows
    assert abs(r0["skew_ratio"] - r0["max_skew_ratio"]) < 1e-9
    assert abs(r0["skew_ratio"] - r0["cnt"] * r0["n_keys"] / r0["n_rows"]) < 1e-6


def test_seasonal_decompose_identity_and_weekday_means(spark):
    from collections import defaultdict

    rows = QUERIES["ts_seasonal_decompose"](spark, SF_ORACLE).collect()
    assert len(rows) == 150  # 5 series x 30 days
    by_dow = defaultdict(list)
    for r in rows:
        # additive identity holds exactly at the rounding grid
        assert abs(r["x"] - (r["trend"] + r["seasonal"] + r["residual"])) < 5e-6, r
        by_dow[(r["event_type"], r["dow"])].append(r["residual"])
    # seasonal term is the weekday mean of detrended values, so residuals
    # average ~0 within each (series, weekday) cell
    for cell, res in by_dow.items():
        assert abs(sum(res) / len(res)) < 1e-4, cell


def test_ols_normal_matches_numpy_lstsq(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    r = QUERIES["ml_linreg_normal"](spark, SF_ORACLE).collect()[0]
    pdf = (
        table(spark, SF_ORACLE, "lineitem")
        .select("l_quantity", "l_discount", "l_extendedprice")
        .toPandas()
    )
    X = np.column_stack(
        [np.ones(len(pdf)), pdf["l_quantity"], pdf["l_discount"]]
    )
    y = pdf["l_extendedprice"].to_numpy()
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    pred = X @ beta
    ss_res = ((y - pred) ** 2).sum()
    ss_tot = ((y - y.mean()) ** 2).sum()
    r2 = 1 - ss_res / ss_tot
    assert r["n"] == len(pdf)
    # moment rounding at 4dp perturbs coefficients only in far decimals
    assert abs(r["b0"] - beta[0]) < 1e-2
    assert abs(r["b_quantity"] - beta[1]) < 1e-3
    assert abs(r["b_discount"] - beta[2]) < 1e-1
    assert abs(r["r2"] - r2) < 1e-4
    assert 0.0 <= r["r2"] <= 1.0


def test_shipping_priority_pushdown_and_topk(spark):
    plan = _plan(spark, "sql_shipping_priority")
    # both date predicates must reach the parquet scans
    assert plan.count("PushedFilters") >= 2
    assert "TakeOrderedAndProject" in plan
    rows = QUERIES["sql_shipping_priority"](spark, SF_ORACLE).collect()
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert len(rows) == 10


def test_stratified_sample_proportions_and_determinism(spark):
    from collections import Counter

    df = QUERIES["class_sample_stratified"](spark, SF_ORACLE)
    rows = df.collect()
    rows2 = df.collect()
    assert sorted(r["vec_id"] for r in rows) == sorted(r["vec_id"] for r in rows2)
    kept = Counter(r["label"] for r in rows)
    from spark_ml_helper_spark.sources.parquet import table

    full = Counter(
        r["label"] for r in table(spark, SF_ORACLE, "embeddings").collect()
    )
    for lbl in range(10):
        frac = kept[lbl] / full[lbl]
        if lbl >= 5:
            assert frac == 1.0, (lbl, frac)
        else:
            assert 0.3 <= frac <= 0.7, (lbl, frac)  # md5 buckets ≈ 50%


def test_runtime_bloom_filter_in_plan(spark):
    plan = _plan(spark, "join_runtime_bloom")
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    # and the isolation: the caller session's broadcast threshold untouched
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"


def test_naive_forecast_scores_consistent(spark):
    rows = QUERIES["ts_forecast_naive"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        # 30-day series loses its first week to the lag
        assert r["n_scored"] == 23, r
        assert 0 <= r["mae"] <= r["rmse"], r  # RMSE >= MAE always
        assert r["mape"] > 0


def test_lpa_labels_respect_components(spark):
    # after propagation, every community label must stay within the
    # node's connected component (labels can only travel along edges)
    cc = {
        r["node"]: r["cluster_id"]
        for r in QUERIES["graph_cc"](spark, SF_ORACLE).collect()
    }
    lpa = QUERIES["graph_label_prop"](spark, SF_ORACLE).collect()
    assert len(lpa) == len(cc)
    for r in lpa:
        # the adopted label is itself a node id in the same component
        assert cc[r["community"]] == cc[r["node"]], r
    # LPA refines (or equals) the component partition — never coarser
    n_communities = len({r["community"] for r in lpa})
    n_components = len(set(cc.values()))
    assert n_communities >= n_components


def test_modularity_identities(spark):
    rows = QUERIES["graph_modularity"](spark, SF_ORACLE).collect()
    # components have NO inter-community edges, so internal half-edge
    # counts must sum to the full directed edge count (= Σ degree_sum)
    assert sum(r["internal_halfedges"] for r in rows) == sum(
        r["degree_sum"] for r in rows
    )
    q = sum(r["q_contrib"] for r in rows)
    assert -0.5 <= q <= 1.0
    for r in rows:
        # per-community: e_c/m <= 1 and the contribution is bounded
        assert r["internal_halfedges"] <= r["degree_sum"]


def test_jl_projection_preserves_distances(spark):
    import math
    import random

    from spark_ml_helper_spark.sources.parquet import table

    proj = {
        r["vec_id"]: [r[f"y_{j}"] for j in range(16)]
        for r in QUERIES["vec_random_projection"](spark, SF_ORACLE).collect()
    }
    full = {
        r["vec_id"]: r["embedding"]
        for r in table(spark, SF_ORACLE, "embeddings").collect()
    }
    rng = random.Random(7)
    ids = sorted(proj)
    ratios = []
    for _ in range(200):
        a, b = rng.sample(ids, 2)
        d_full = math.dist(full[a], full[b])
        d_proj = math.dist(proj[a], proj[b])
        if d_full > 1e-9:
            ratios.append(d_proj / d_full)
    # JL with k=16: loose per-pair bounds, but the MEAN ratio concentrates
    # near 1 (E[d_proj^2] = d_full^2 under the Rademacher projection)
    mean = sum(ratios) / len(ratios)
    assert 0.85 <= mean <= 1.15, mean
    assert all(0.3 <= r <= 2.0 for r in ratios), (min(ratios), max(ratios))


def test_attribution_conserves_credit(spark):
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table

    rows = QUERIES["events_attribution"](spark, SF_ORACLE).collect()
    assert {r["event_type"] for r in rows} == {"view", "click"}
    total_credit = sum(r["credited_conversions"] for r in rows)
    # credit sums to exactly the number of ATTRIBUTED purchases
    # (each purchase with >=1 touch distributes weight summing to 1)
    e = table(spark, SF_ORACLE, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("p_ts")
    )
    t = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("ts").alias("t_ts")
    )
    attributed = (
        p.join(t, "user_id")
        .filter(
            (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
            & (F.col("t_ts") < F.col("p_ts"))
        )
        .select("pid")
        .distinct()
        .count()
    )
    assert abs(total_credit - attributed) < 1e-3, (total_credit, attributed)


def test_active_users_monotone_and_bounded(spark):
    rows = sorted(
        QUERIES["events_active_users"](spark, SF_ORACLE).collect(),
        key=lambda r: r["day"],
    )
    assert len(rows) == 30
    for r in rows:
        assert r["dau"] <= r["wau"] <= r["mau"], r
        assert abs(r["stickiness"] - round(r["dau"] / r["mau"], 6)) < 1e-9
    # trailing windows: by day 30, MAU covers the full observed user base
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table

    total_users = (
        table(spark, SF_ORACLE, "events").select("user_id").distinct().count()
    )
    assert rows[-1]["mau"] <= total_users
    assert rows[-1]["mau"] >= rows[0]["mau"]  # window only grows early on


def test_argmin_assignment_is_map_side(spark):
    # round-7 refactor lock-in: Lloyd/PQ/IVF nearest-centroid assignment
    # must stay a map-side array_min over a broadcast codebook array —
    # regression would reappear as a WindowExec (row_number argmin) whose
    # per-round corpus×k shuffle dominated the 100× probe decade.
    from spark_ml_helper_spark.plans.audit import explain_formatted

    # (sim_ann_ivf/ivfpq keep legitimate per-query top-k windows, so only
    # the two queries whose plans are fully window-free are asserted here)
    for name in ["vec_kmeans_lloyd", "vec_pq_encode"]:
        plan = explain_formatted(QUERIES[name](spark, SF_ORACLE))
        assert "Window" not in plan, f"{name}: argmin regressed to a window plan"


@pytest.fixture(scope="module")
def audit_plans(spark):
    """Formatted plan of every query CI audits — PLAN_AUDIT_FAMILIES plus
    each query declaring a plan contract — built once for the three
    audit tests below."""
    from spark_ml_helper_spark.plans.audit import PLAN_AUDIT_FAMILIES, explain_formatted
    from spark_ml_helper_spark.registry import REGISTRY

    return {
        name: explain_formatted(spec.fn(spark, SF_ORACLE))
        for name, spec in REGISTRY.items()
        if spec.family in PLAN_AUDIT_FAMILIES
        or spec.bnlj
        or spec.cartesian
        or spec.global_window
        or spec.max_exchanges is not None
    }


def _contract_violations(plans, *props):
    """{name: findings} for the given contract properties (see
    plans.audit.contract_violations)."""
    from spark_ml_helper_spark.plans.audit import contract_violations
    from spark_ml_helper_spark.registry import REGISTRY

    out = {}
    for name, plan in plans.items():
        found = [f for f in contract_violations(REGISTRY[name], plan) if f.split(":")[0] in props]
        if found:
            out[name] = found
    return out


def test_plan_audit_no_new_nested_loops(audit_plans):
    # A nested-loop join is legitimate only over a small stat/spine
    # frame, declared with @query(bnlj="..."), and a CartesianProduct
    # only where declared with @query(cartesian="...");
    # tools/bnlj_volume_report measures the build sides and
    # test_bnlj_build_side_is_tiny_at_runtime pins two at runtime.
    bad = _contract_violations(audit_plans, "bnlj", "cartesian")
    assert not bad, (
        f"nested-loop/cartesian contract broken: {bad} — drop the non-equi "
        f"join, or declare bnlj=/cartesian= with its reason (remove a stale one)"
    )


def test_plan_audit_no_new_global_windows(audit_plans):
    # A global window over a non-reduced frame is a single-task sort at
    # scale (the vec_pairwise_dist_hist round-11 defect class):
    # partition it, reduce its input, or declare the documented trade
    # with @query(global_window="..."); tools/window_volume_report
    # measures the declared sites.
    bad = _contract_violations(audit_plans, "global_window")
    assert not bad, f"global-window contract broken: {bad}"


def test_min_label_distributed_equals_union_find(spark):
    # round-12 refactor lock-in: min_label_fixpoint's distributed path
    # (path-halving + fresh_stats_checkpoint, forced via
    # small_graph_nodes=0) must reach the same fixpoint as the
    # single-task union-find it normally short-circuits to — on random
    # graphs, not just the fixture (the two paths share no code).
    import random

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.graph import (
        _union_find_single_task,
        min_label_fixpoint,
    )

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        n = 120
        pairs = {(rng.randrange(n), rng.randrange(n)) for _ in range(150)}
        pairs = [(a, b) for a, b in pairs if a != b]
        fwd = spark.createDataFrame(pairs, "src bigint, dst bigint")
        edges = fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).localCheckpoint()
        dist, rounds = min_label_fixpoint(
            edges, max_rounds=50, small_graph_nodes=0)
        uf = _union_find_single_task(edges)
        got = {(r["node"], r["lab"]) for r in dist.collect()}
        want = {(r["node"], r["lab"]) for r in uf.collect()}
        assert got == want, (seed, rounds, got ^ want)
        assert rounds >= 1


def test_setsim_auto_blocks():
    # round-13 probe find, fixed in the library: the block-matmul
    # kernels derive block count from the collapsed rep count so a
    # block pair's float64 matrix stays ~BLOCK_TARGET_ROWS² (fixed
    # n_blocks=4 at 200k reps allocated a 20 GB matrix and killed the
    # Arrow worker). Floor 4 keeps fixture plans byte-identical.
    from spark_ml_helper_spark.functions.setsim import (
        BLOCK_TARGET_ROWS,
        _auto_blocks,
    )

    assert _auto_blocks(1) == 4
    assert _auto_blocks(4 * BLOCK_TARGET_ROWS) == 4       # fixture regime
    assert _auto_blocks(4 * BLOCK_TARGET_ROWS + 1) == 5
    assert _auto_blocks(200_000) == 50                    # the probe cell
    # ceiling division: never a block larger than the target
    for n in (1, 3999, 4000, 4001, 123_456):
        blocks = _auto_blocks(n)
        assert n <= blocks * BLOCK_TARGET_ROWS


def test_source_audit_pinned_inventory():
    # The judge's standing source audit as CI (round 12): driver-side
    # collect() sites, row-at-a-time Python UDFs, bare pass lines, and
    # NotImplementedError guards are pinned to the adjudicated
    # inventory. A new site fails here and must be adjudicated (bounded
    # driver state / declared demo / codec-scope guard) before the pin
    # moves — the point is that these classes never grow silently.
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "spark_ml_helper_spark"
    counts: dict[str, dict[str, int]] = {
        "collect": {}, "row_udf": {}, "bare_pass": {}, "not_impl": {}}
    for p in sorted(pkg.rglob("*.py")):
        src = p.read_text()
        rel = str(p.relative_to(pkg))
        # gc.collect() (Python's garbage collector, benchlib's GC-
        # between-timed-runs) is not a DataFrame collect — the audit
        # targets driver-side data materialization only
        n = src.count(".collect()") - src.count("gc.collect()")
        if n:
            counts["collect"][rel] = n
        n = len(re.findall(r"@F\.udf\(", src))
        if n:
            counts["row_udf"][rel] = n
        n = len(re.findall(r"^\s*pass$", src, re.M))
        if n:
            counts["bare_pass"][rel] = n
        n = src.count("NotImplementedError")
        if n:
            counts["not_impl"][rel] = n

    assert counts["collect"] == {
        # O(k·d) moment rows / scalar reductions — bounded driver state
        "operators/ml.py": 3,
        # scalar max batch_id for incremental-run bookkeeping
        "streaming/runs.py": 1,
        # 100 tiny rows, fixture staging only (not a data path)
        "sources/files.py": 1,
    }, counts["collect"]
    # row-at-a-time Python UDFs only in the declared §2.J demo surface
    assert counts["row_udf"] == {"operators/udfs.py": 3}, counts["row_udf"]
    assert sum(counts["bare_pass"].values()) <= 2, counts["bare_pass"]
    # documented codec-scope guards (multimodal) + the fresh-stats
    # capability check's RuntimeError is NOT counted here
    assert sum(counts["not_impl"].values()) <= 8, counts["not_impl"]


def test_global_window_detector_shapes(spark):
    # the four plan shapes the detector must separate: global-ordered
    # (risk), partitioned (fine), reduced-input (fine), limited (fine),
    # partition-only (fine — no sort, stays parallel)
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.plans.audit import global_window_risks

    df = spark.range(1000).withColumn("g", F.col("id") % 3)
    risky = df.select(F.row_number().over(W.orderBy("id")).alias("rn"))
    assert global_window_risks(risky)
    part = df.select(F.row_number().over(W.partitionBy("g").orderBy("id")).alias("rn"))
    assert not global_window_risks(part)
    reduced = df.groupBy("g").count().select(
        F.row_number().over(W.orderBy("g")).alias("rn"))
    assert not global_window_risks(reduced)
    limited = df.orderBy("id").limit(10).select(
        F.row_number().over(W.orderBy("id")).alias("rn"))
    assert not global_window_risks(limited)
    part_only = df.select(F.sum("id").over(W.partitionBy("g")).alias("s"))
    assert not global_window_risks(part_only)

    # round-13 advice: a reducing node on the BUILD side of a join must
    # NOT vouch for the probe side — the window still sorts the full
    # probe stream in one task. Old any-node-in-subtree logic passed
    # this plan; leaf-domination flags it.
    small = df.groupBy("g").agg(F.count("*").alias("n"))
    joined = df.join(F.broadcast(small), "g")
    half_reduced = joined.select(
        F.row_number().over(W.orderBy("id")).alias("rn"))
    assert global_window_risks(half_reduced)
    # ...while a join of two reduced branches stays clean
    small2 = df.groupBy("g").agg(F.sum("id").alias("s"))
    both_reduced = small.join(small2, "g").select(
        F.row_number().over(W.orderBy("g")).alias("rn"))
    assert not global_window_risks(both_reduced)


def test_global_window_detector_shapes_no_aqe(spark):
    # round-13 advice: with AQE OFF, whole-stage-codegen tree lines
    # render starred ('+- * HashAggregate (3)') and the old
    # parse_plan_tree regex dropped them — the reducing aggregate
    # vanished and reduced-input global windows false-positived. Pin
    # both directions under the non-AQE rendering.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.plans.audit import (
        global_window_risks,
        parse_plan_tree,
        explain_formatted,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.range(1000).withColumn("g", F.col("id") % 3)
        reduced = df.groupBy("g").count().select(
            F.row_number().over(W.orderBy("g")).alias("rn"))
        plan = explain_formatted(reduced)
        names = {n["name"].split(" ")[0] for n in parse_plan_tree(plan)}
        assert "HashAggregate" in names, plan  # starred node parsed
        assert not global_window_risks(plan)
        risky = df.select(F.row_number().over(W.orderBy("id")).alias("rn"))
        assert global_window_risks(risky)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


# A global window over a join where exchange reuse SWALLOWS one branch's
# reducing aggregate: the tree shows a bare ReusedExchange leaf and the
# referent (id 4) lives elsewhere. Handcrafted because Spark's
# ReuseExchange picks the innermost common exchange, so real plans keep
# the aggregate visible above the reuse leaf — the detail-line format is
# pinned against real output by test_global_window_reuse_real_plan.
_REUSE_PLAN = """== Physical Plan ==
Window (9)
+- * Sort (8)
   +- Exchange (7)
      +- * SortMergeJoin Inner (6)
         :- * Sort (5)
         :  +- Exchange (4)
         :     +- * HashAggregate (3)
         :        +- * HashAggregate (2)
         :           +- * Range (1)
         +- * Sort (10)
            +- ReusedExchange (11)


(9) Window
Input [2]: [k#1L, t#2L]
Arguments: [row_number() windowspecdefinition(t#2L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#3], [t#2L ASC NULLS FIRST]

(11) ReusedExchange [Reuses operator id: 4]
Output [2]: [k#4L, sum#5L]
"""


def test_global_window_reuse_resolution():
    # The round-12 docstring declared ReusedExchange leaves a known
    # conservative limitation (always read as non-reduced); round 13
    # resolves them through the detail section's referent id. Both
    # directions, plus the degrade-to-conservative paths.
    from spark_ml_helper_spark.plans.audit import global_window_risks

    # referent subtree is aggregate-bounded → the reuse leaf is too
    assert not global_window_risks(_REUSE_PLAN)
    # referent subtree is a raw scan → still a single-task sort risk
    raw = _REUSE_PLAN.replace(
        """         :  +- Exchange (4)
         :     +- * HashAggregate (3)
         :        +- * HashAggregate (2)
         :           +- * Range (1)""",
        """         :  +- Exchange (4)
         :     +- * Project (3)
         :        +- * Filter (2)
         :           +- * Range (1)""",
    )
    assert global_window_risks(raw)
    # self-referential map (malformed) → conservative flag, no recursion
    cycle = _REUSE_PLAN.replace(
        "[Reuses operator id: 4]", "[Reuses operator id: 11]"
    )
    assert global_window_risks(cycle)
    # missing referent detail line → conservative flag
    missing = _REUSE_PLAN.replace(
        "(11) ReusedExchange [Reuses operator id: 4]", "(11) Placeholder"
    )
    assert global_window_risks(missing)
    # MUTUAL cycle (round-14 advice): reuse 12 → exchange 7 whose subtree
    # holds reuse 11 → exchange 4 whose subtree holds reuse 12. The old
    # guard compared referent EXCHANGE ids against a _seen set of LEAF
    # ids (disjoint spaces) and recursed to RecursionError; the fix keys
    # the guard on the leaf id, degrading to the conservative flag.
    mutual = """== Physical Plan ==
Window (9)
+- * Sort (8)
   +- * SortMergeJoin Inner (6)
      :- * Sort (3)
      :  +- Exchange (4)
      :     +- ReusedExchange (12)
      +- * Sort (5)
         +- Exchange (7)
            +- ReusedExchange (11)


(9) Window
Input [2]: [k#1L, t#2L]
Arguments: [row_number() windowspecdefinition(t#2L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#3], [t#2L ASC NULLS FIRST]

(12) ReusedExchange [Reuses operator id: 7]
Output [2]: [k#4L, sum#5L]

(11) ReusedExchange [Reuses operator id: 4]
Output [2]: [k#6L, sum#7L]
"""
    assert global_window_risks(mutual)


def test_global_window_reuse_real_plan(spark):
    # Pin the referent-map parse against REAL Spark rendering (non-AQE,
    # no broadcast: a self-join of an aggregated frame plans a
    # ReusedExchange). Here the reducing aggregate stays visible above
    # the reuse leaf (innermost-exchange reuse), so the window is clean
    # with or without resolution — the assertion that matters is that
    # _reuse_referents finds the real detail line.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.plans.audit import (
        _reuse_referents,
        explain_formatted,
        global_window_risks,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.range(100).withColumn("k", F.col("id") % 7)
        agg = df.groupBy("k").agg(F.sum("id").alias("s"))
        j = agg.alias("a").join(agg.alias("b"), "k").select(
            F.col("a.k"), (F.col("a.s") + F.col("b.s")).alias("t")
        )
        w = j.withColumn("rn", F.row_number().over(W.orderBy("t")))
        plan = explain_formatted(w)
        assert "ReusedExchange" in plan, plan
        assert _reuse_referents(plan), plan  # detail-line format parsed
        assert not global_window_risks(plan)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_synth_graph_bench_fixtures(spark, monkeypatch):
    # The round-14 synthetic band fixtures replaced the degenerate sf0.1
    # co-occurrence walls (1 edge at sf0.1 — the round-12 fixture find).
    # Pin that the generators CANNOT degenerate: at a scaled-down pin
    # every level/round carries the exact expected mass (closed forms),
    # and the loops actually iterate.
    from pyspark.sql import functions as F

    import spark_ml_helper_spark.operators.graph_bench as gb
    from spark_ml_helper_spark.operators.graph import (
        boruvka_msf,
        coreness_decomposition,
        delta_stepping_fixpoint,
        sssp_fixpoint,
    )

    monkeypatch.setattr(gb, "SSSP_WIDTH", 40)
    monkeypatch.setattr(gb, "MST_PATHS", 16)
    monkeypatch.setattr(gb, "CORE_COPIES", 10)

    # layered DAG: every one of the L*W nodes is reached, and the
    # delta-frontier loop runs a real >=diameter-round relaxation
    edges, seeds = gb.layered_dag(spark)
    dist, rounds = sssp_fixpoint(edges, seeds, max_rounds=gb.SSSP_LAYERS + 2)
    assert dist.count() == gb.SSSP_LAYERS * 40
    assert rounds >= gb.SSSP_LAYERS - 1
    # the delta-stepping row's DAG: identical distances to Bellman-Ford,
    # converging INSIDE the production band row's pinned round budget
    # (delta_stepping_fixpoint raises on exhaustion, so running the test
    # under the same budget is what verifies the pin — round-15 advice)
    e2, s2 = gb.layered_dag(spark, L=gb.SSSP_DELTA_LAYERS)
    d_delta, _ = delta_stepping_fixpoint(
        e2, s2, delta=gb.SSSP_BENCH_DELTA, max_rounds=gb.sssp_delta_max_rounds()
    )
    d_bf, _ = sssp_fixpoint(e2, s2, max_rounds=gb.SSSP_DELTA_LAYERS + 2)
    assert d_delta.count() == gb.SSSP_DELTA_LAYERS * 40
    assert (
        d_delta.agg(F.sum("dist")).first()[0]
        == d_bf.agg(F.sum("dist")).first()[0]
    )

    # tournament-path bundle: the MSF of disjoint paths is every edge,
    # and the pairwise-merge tournament forces log2(path_len) rounds
    rounds_out: list = []
    forest = boruvka_msf(gb.mst_bench_inputs(spark), rounds_out=rounds_out)
    assert forest.count() == 16 * (gb.MST_PATH_LEN - 1)
    assert len(rounds_out) >= 3

    # clique bundle: a size-s clique has coreness s-1, exact per-level
    # counts — the row can never quietly turn into a scan wall
    out = coreness_decomposition(gb.coreness_bench_edges(spark))
    got = {
        r["coreness"]: r["n"]
        for r in out.groupBy("coreness").agg(F.count("*").alias("n")).collect()
    }
    assert got == {s - 1: 10 * s for s in gb.CORE_SIZES}


def test_loop_rows_structural_pin(spark, monkeypatch):
    # perfbench's loops rows are driver-bound, so their cost shows in
    # counts before it shows in wall time. Coreness is one h-index
    # fixpoint: on the clique bundle it converges in its first round
    # (edge count, that round's aggregate, the sink — the old level loop
    # ran 31 jobs). ml_gmm_em renders its rounds as SQL text: a
    # Column-API loop body made 6,092 py4j calls.
    import spark_ml_helper_spark.operators.graph_bench as gb
    from spark_ml_helper_spark.operators.graph import coreness_decomposition

    monkeypatch.setattr(gb, "CORE_COPIES", 10)
    edges = gb.coreness_bench_edges(spark)
    sc = spark.sparkContext
    sc.setJobGroup("coreness_pin", "coreness structural pin")
    try:
        coreness_decomposition(edges).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("coreness_pin")
    assert len(jobs) <= 6, jobs

    client = sc._gateway._gateway_client
    send, calls = client.send_command, []

    def counted(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # object releases follow the GC
            calls.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counted
    sc.setJobGroup("gmm_pin", "ml_gmm_em structural pin")
    try:
        QUERIES["ml_gmm_em"](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
    finally:
        del client.send_command
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(calls) < 1_000, len(calls)
    # five actions (init aggregate, three rounds, sink) run 10 jobs; the
    # parameter rows as a createDataFrame frame broadcast onto the
    # log-likelihood, an eager checkpoint and a separate mean collect ran 15
    jobs = sc.statusTracker().getJobIdsForGroup("gmm_pin")
    assert len(jobs) <= 10, jobs


def test_no_python_list_createDataFrame():
    # spark.createDataFrame(<python list>, ddl) is sc.parallelize plus a
    # PythonRDD: each action over it starts a Python worker task. Driver-
    # held rows go through functions.literals.inline_rows (SQL text)
    # instead. The one exempt call rebuilds a frame from a checkpointed
    # RDD (fresh_stats_checkpoint's fallback), not from a Python list.
    import ast
    import pathlib

    pkg = pathlib.Path(entry_mod.__file__).parent / "spark_ml_helper_spark"
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    sites.append((str(path.relative_to(pkg)), fn.name))
    assert sorted(set(sites)) == [("operators/graph.py", "fresh_stats_checkpoint")], sites


def test_inline_rows_round_trip(spark):
    # SQL-text rows come back bit-exact and typed, non-finite doubles,
    # NULLs, quotes and backslashes included; no rows still has the schema
    import math

    from spark_ml_helper_spark.functions.literals import inline_rows

    ddl = "i int, n bigint, x double, s string, b boolean"
    rows = [
        (1, 2**62, 0.1 + 0.2, "it's a \\ path", True),
        (-3, None, math.inf, "", False),
        (None, 0, -math.inf, None, None),
        (0, -1, 5e-324, "x", True),
    ]
    df = spark.sql(f"SELECT {inline_rows(rows, ddl)}")
    assert df.dtypes == [("i", "int"), ("n", "bigint"), ("x", "double"), ("s", "string"), ("b", "boolean")]
    assert [tuple(r) for r in df.collect()] == rows
    nan = spark.sql(f"SELECT {inline_rows([(math.nan,)], 'x double')}").collect()[0].x
    assert math.isnan(nan)
    empty = spark.sql(f"SELECT {inline_rows([], ddl)}")
    assert empty.dtypes == df.dtypes and empty.collect() == []


def test_declared_schemas_match_inferred(spark):
    # every declared source schema equals what parquet inference yields,
    # for each table present in every fixture copy
    from spark_ml_helper_spark.sources.parquet import SCHEMAS, table

    perf = os.path.join(os.path.dirname(entry_mod.__file__), "perfbench", "data", "sf0.1")
    dirs = [SF_SMOKE, SF_ORACLE, os.path.join(os.path.dirname(SF_ORACLE), "sf0.1"), perf]
    checked = 0
    for sf in dirs:
        for name in SCHEMAS:
            path = f"{sf}/{name}.parquet"
            if not os.path.exists(path):
                continue
            inferred = spark.read.parquet(path).schema
            assert table(spark, sf, name).schema == inferred, (path, inferred.simpleString())
            checked += 1
    assert checked >= 35, checked  # 3 x 10 driver tables + perfbench's 5


def test_table_read_launches_no_job(spark):
    # with a declared schema, planning a read needs no inference job
    from spark_ml_helper_spark.sources.parquet import TABLES, table

    sc = spark.sparkContext
    sc.setJobGroup("table_read_pin", "declared-schema reads")
    try:
        for name in TABLES:
            table(spark, SF_SMOKE, name).columns
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("table_read_pin") == []


def test_gmm_em_empty_embeddings(spark, tmp_path):
    # degenerate input: with no embeddings every average is NULL, so the
    # query returns the oracle's 12 parameter rows with NULL weight, mu
    # and loglik and the floored sigma2 (greatest() skips NULLs)
    import duckdb

    from spark_ml_helper_spark.check import check_one, duckdb_connect
    from spark_ml_helper_spark.sources.parquet import TABLES

    for name in TABLES:
        src = os.path.join(SF_SMOKE, f"{name}.parquet")
        if name == "embeddings":
            duckdb.sql(
                f"COPY (SELECT * FROM read_parquet('{src}') LIMIT 0) "
                f"TO '{tmp_path / 'embeddings.parquet'}' (FORMAT PARQUET)"
            )
        else:
            os.symlink(src, tmp_path / f"{name}.parquet")
    rows = QUERIES["ml_gmm_em"](spark, str(tmp_path)).collect()
    assert len(rows) == 12
    for r in rows:
        assert (r.weight, r.mu, r.loglik) == (None, None, None), r
        assert r.sigma2 == 1e-4, r
    con = duckdb_connect(str(tmp_path))
    status, detail = check_one(spark, con, "ml_gmm_em", str(tmp_path), verbose=False)
    assert status == "PASS", detail


def test_daily_kpis_internally_consistent(spark):
    rows = QUERIES["pipeline_daily_kpis"](spark, SF_ORACLE).collect()
    assert len(rows) == 30
    zs = [r["value_z"] for r in rows]
    # z-scores of a series against its own mean/σ: mean ~0, |z| mostly small
    assert abs(sum(zs) / len(zs)) < 1e-3
    for r in rows:
        assert r["n_purchases"] + r["n_errors"] <= r["n_events"]
        assert r["n_users"] <= r["n_events"]
        assert r["anomaly"] == (abs(r["value_z"]) > 2)
        assert abs(r["error_rate"] - round(r["n_errors"] / r["n_events"], 6)) < 1e-9


def test_woe_iv_identities(spark):
    import math

    rows = QUERIES["feature_woe_iv"](spark, SF_ORACLE).collect()
    tg = sum(r["n_good"] for r in rows)
    tb = sum(r["n_bad"] for r in rows)
    for r in rows:
        pg = (r["n_good"] + 0.5) / tg
        pb = (r["n_bad"] + 0.5) / tb
        assert abs(r["woe"] - math.log(pg / pb)) < 1e-4, r
        # IV contributions are non-negative by construction:
        # (pg - pb) and ln(pg/pb) always share a sign
        assert r["iv_contrib"] >= -1e-9, r


def test_poisson_rate_anomaly_consistent(spark):
    from collections import defaultdict

    rows = QUERIES["events_rate_anomaly"](spark, SF_ORACLE).collect()
    by_type = defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(r)
        assert r["anomaly"] == (abs(r["poisson_z"]) > 3)
    for et, rs in by_type.items():
        # lambda is the mean of k over the observed hours
        lam = rs[0]["lam"]
        mean_k = sum(r["k"] for r in rs) / len(rs)
        assert abs(lam - mean_k) < 1e-4, (et, lam, mean_k)
        # z-scores against the own-series mean sum to ~0 (scaled residuals)
        s = sum((r["k"] - lam) for r in rs)
        assert abs(s) < 1e-6 * len(rs) * max(lam, 1)


def test_survival_curve_monotone(spark):
    rows = sorted(
        QUERIES["events_survival_curve"](spark, SF_ORACLE).collect(),
        key=lambda r: r["t"],
    )
    assert rows[0]["t"] == 0 and rows[0]["survival"] == 1.0
    for a, b in zip(rows, rows[1:]):
        assert b["t"] == a["t"] + 1
        assert b["n_surviving"] <= a["n_surviving"]
    assert all(0.0 < r["survival"] <= 1.0 for r in rows)


def test_gini_bounded_and_scale_invariant(spark):
    r = QUERIES["agg_gini"](spark, SF_ORACLE).collect()[0]
    # spend concentration on near-uniform TPC-H orders: 0 < G < 0.5
    assert 0.0 < r["gini"] < 0.5, r
    assert r["n"] > 0 and r["total_spend"] > 0


def test_growth_accounting_ledger_identities(spark):
    from spark_ml_helper_spark.sources.parquet import table

    rows = {r["d"].date().isoformat(): r for r in
            QUERIES["events_growth_accounting"](spark, SF_ORACLE).collect()}
    assert len(rows) == 30
    users = table(spark, SF_ORACLE, "events").select("user_id").distinct().count()
    # every user is new exactly once
    assert sum(r["n_new"] for r in rows.values()) == users
    # day 1 has no history: all active users are new, none churned
    first = rows["2024-01-01"]
    assert first["n_retained"] == 0 and first["n_resurrected"] == 0
    assert first["n_churned"] == 0
    # active_t = new + retained + resurrected must never exceed the user base
    for r in rows.values():
        assert r["n_new"] + r["n_retained"] + r["n_resurrected"] <= users


def test_ks_and_chi2_bounded(spark):
    ks = QUERIES["stats_ks_test"](spark, SF_ORACLE).collect()[0]
    assert 0.0 <= ks["ks_d"] <= 1.0
    assert 0.0 <= ks["p_approx"] <= 1.0
    assert ks["n1"] > 0 and ks["n2"] > 0
    chi = QUERIES["stats_chi2"](spark, SF_ORACLE).collect()[0]
    assert chi["chi2"] >= 0.0
    assert chi["dof"] == 8  # 5 priorities x 3 statuses
    assert 0.0 <= chi["cramers_v"] <= 1.0


def test_heavy_hitters_threshold_exact(spark):
    from spark_ml_helper_spark.sources.parquet import table

    rows = QUERIES["agg_heavy_hitters"](spark, SF_ORACLE).collect()
    counts = {
        r["l_partkey"]: r["cnt"]
        for r in table(spark, SF_ORACLE, "lineitem")
        .groupBy("l_partkey").count()
        .withColumnRenamed("count", "cnt").collect()
    }
    n, nd = sum(counts.values()), len(counts)
    expect = {k for k, c in counts.items() if 2 * c * nd >= 3 * n}
    assert {r["l_partkey"] for r in rows} == expect
    assert len(rows) > 0


def test_vec_dim_stats_shape_and_bounds(spark):
    rows = QUERIES["vec_dim_stats"](spark, SF_ORACLE).collect()
    assert len(rows) == 64
    for r in rows:
        assert r["n"] == 500
        assert r["min_x"] <= r["mean"] <= r["max_x"]
        assert r["std"] >= 0.0


def test_rolling_corr_bounded_and_full_windows_only(spark):
    rows = QUERIES["ts_rolling_corr"](spark, SF_ORACLE).collect()
    assert len(rows) == 720 - 23  # one row per full 24h window
    for r in rows:
        assert -1.0 - 1e-9 <= r["roll_corr"] <= 1.0 + 1e-9


def test_dup_ngram_fraction_exact_dups_fully_flagged(spark):
    from spark_ml_helper_spark.sources.parquet import table

    rows = {r["doc_id"]: r for r in
            QUERIES["text_dup_ngram_fraction"](spark, SF_ORACLE).collect()}
    for r in rows.values():
        assert 0 <= r["n_dup"] <= r["n_shingles"]
        assert 0.0 <= r["dup_frac"] <= 1.0
    # every doc survives the >=8-word filter in this fixture
    n_docs = table(spark, SF_ORACLE, "documents").count()
    assert len(rows) == n_docs
    # the fixture contains near-duplicate docs: some docs are flagged, and at
    # least one is fully covered by shingles shared with another doc
    flagged = [r for r in rows.values() if r["dup_frac"] > 0.0]
    assert len(flagged) > 0
    assert max(r["dup_frac"] for r in flagged) == 1.0


def test_welch_ttest_matches_numpy(spark):
    import math

    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    r = QUERIES["stats_ttest_welch"](spark, SF_ORACLE).collect()[0]
    vals = {
        g["grp"]: g
        for g in table(spark, SF_ORACLE, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(2).alias("grp")
        )
        .agg(F.count("*").alias("n"), F.avg("o_totalprice").alias("m"),
             F.var_samp("o_totalprice").alias("v"))
        .collect()
    }
    a, b = vals[1], vals[2]
    se2 = a["v"] / a["n"] + b["v"] / b["n"]
    assert abs(r["t_stat"] - (a["m"] - b["m"]) / math.sqrt(se2)) < 1e-4
    assert r["n1"] == a["n"] and r["n2"] == b["n"]
    assert r["df"] > min(a["n"], b["n"]) - 1  # Welch df ≥ smaller group's df


def test_keywords_rank_consistent_with_tfidf(spark):
    kw = QUERIES["text_keywords_tfidf"](spark, SF_ORACLE).collect()
    by_doc = {}
    for r in kw:
        by_doc.setdefault(r["doc_id"], []).append(r)
    full = {}
    for r in QUERIES["text_tfidf"](spark, SF_ORACLE).collect():
        full.setdefault(r["doc_id"], []).append((r["score"], r["term"]))
    for doc_id, rows in list(by_doc.items())[:50]:
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        want = sorted(full[doc_id], key=lambda t: (-t[0], t[1]))[: len(rows)]
        assert [(r["score"], r["term"]) for r in rows] == want


def test_rolling_zscore_excludes_self(spark):
    rows = QUERIES["ts_zscore_rolling"](spark, SF_ORACLE).collect()
    assert len(rows) == 720 - 24  # 24h warm-up, then one row per hour
    for r in rows:
        assert r["anomaly"] == (abs(r["z"]) > 3)


def test_assortativity_bounded_and_graph_consistent(spark):
    r = QUERIES["graph_assortativity"](spark, SF_ORACLE).collect()[0]
    assert -1.0 - 1e-9 <= r["assortativity"] <= 1.0 + 1e-9
    deg = QUERIES["graph_degree"](spark, SF_ORACLE)
    from pyspark.sql import functions as F
    n_edges = deg.agg(F.sum(F.col("degree") * F.col("n_vertices"))).collect()[0][0] // 2
    assert r["n_edges"] == n_edges  # handshake lemma against graph_degree


def test_session_stats_consistent_with_sessionize(spark):
    r = QUERIES["events_session_stats"](spark, SF_ORACLE).collect()[0]
    sess = QUERIES["win_sessionize"](spark, SF_ORACLE)
    from pyspark.sql import functions as F
    n_sessions = sess.select("user_id", "session_seq").distinct().count()
    assert r["n_sessions"] == n_sessions
    assert r["n_events"] == sess.count()
    assert r["p50_duration_s"] <= r["p90_duration_s"]
    assert r["avg_events"] >= 1.0


def test_k_anonymity_matches_direct_group_sizes(spark):
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    r = QUERIES["dq_k_anonymity"](spark, SF_ORACLE).collect()[0]
    sizes = [
        x["sz"] for x in table(spark, SF_ORACLE, "customer")
        .groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("sz"))
        .collect()
    ]
    assert r["n_groups"] == len(sizes)
    assert r["k_anonymity"] == min(sizes)
    assert r["n_rows_at_risk"] == sum(s for s in sizes if s < 5)


def test_bootstrap_ci_brackets_mean(spark):
    r = QUERIES["stats_bootstrap_ci"](spark, SF_ORACLE).collect()[0]
    assert r["ci_lo"] < r["mean_est"] < r["ci_hi"]
    # CI width should be a small fraction of the mean at n=15000
    assert (r["ci_hi"] - r["ci_lo"]) / r["mean_est"] < 0.05
    assert r["b_reps"] == 100


def test_pairwise_dist_hist_covers_all_pairs(spark):
    rows = QUERIES["vec_pairwise_dist_hist"](spark, SF_ORACLE).collect()
    assert sum(r["n_pairs"] for r in rows) == 100 * 99 // 2
    for r in rows:
        assert abs(r["dist_lo"] - r["bucket"] * 0.5) < 1e-9


def test_heatmap_grid_complete_and_shares_sum(spark):
    rows = QUERIES["events_heatmap_hour_dow"](spark, SF_ORACLE).collect()
    assert len(rows) == 168  # 7 x 24, every cell active in this fixture
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert 1 <= r["dow"] <= 7 and 0 <= r["hr"] <= 23
        assert r["n_users"] <= r["n_events"]


def test_conversion_latency_ordered_percentiles(spark):
    r = QUERIES["events_conversion_latency"](spark, SF_ORACLE).collect()[0]
    assert r["n_converted"] > 0
    assert 0 <= r["p50_latency_s"] <= r["p90_latency_s"]


def test_dup_rate_by_source_bounds(spark):
    rows = QUERIES["corpus_dup_rate_by_source"](spark, SF_ORACLE).collect()
    assert sum(r["n_docs"] for r in rows) == 500
    for r in rows:
        assert 0 <= r["n_distinct"] <= r["n_docs"]
        assert 0.0 <= r["dup_rate"] < 1.0


def test_compression_ratio_deterministic_and_bounded(spark):
    a = {r["doc_id"]: r for r in
         QUERIES["text_compression_ratio"](spark, SF_ORACLE).collect()}
    b = {r["doc_id"]: r for r in
         QUERIES["text_compression_ratio"](spark, SF_ORACLE).collect()}
    assert len(a) == 500
    for doc_id, r in a.items():
        assert r["comp_len"] == b[doc_id]["comp_len"]  # twin-run identical
        # zlib header overhead can exceed savings on the shortest docs
        assert 0 < r["comp_len"] < r["raw_len"] + 64
        assert 0.0 < r["ratio"] < 1.5
    # but the corpus as a whole is compressible 31-word soup
    frac_compressed = sum(r["ratio"] < 1.0 for r in a.values()) / len(a)
    assert frac_compressed > 0.9


def test_regression_eval_identities(spark):
    r = QUERIES["ml_eval_regression"](spark, SF_ORACLE).collect()[0]
    assert r["rmse"] >= r["mae"] > 0  # RMSE dominates MAE
    assert 0.0 <= r["r2"] <= 1.0
    fit = QUERIES["ml_linreg_normal"](spark, SF_ORACLE).collect()[0]
    assert abs(r["r2"] - fit["r2"]) < 1e-3  # same model, same R²


def test_file_rowcounts_match_table_counts(spark):
    from spark_ml_helper_spark.sources.parquet import table

    rows = {r["file_name"]: r["n_rows"] for r in
            QUERIES["scan_file_rowcounts"](spark, SF_ORACLE).collect()}
    assert rows["orders.parquet"] == table(spark, SF_ORACLE, "orders").count()
    assert rows["lineitem.parquet"] == table(spark, SF_ORACLE, "lineitem").count()


def test_time_range_frame_counts_bounded_by_rows_frame(spark):
    rows = QUERIES["win_time_range_frame"](spark, SF_ORACLE).limit(5000).collect()
    for r in rows:
        assert r["n_last_hour"] >= 1  # frame always includes current row


def test_twa_differs_from_plain_mean_but_bounded(spark):
    rows = QUERIES["ts_twa"](spark, SF_ORACLE).collect()
    assert len(rows) > 0
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F
    bounds = {
        (r["user_id"], r["d"]): (r["lo"], r["hi"])
        for r in table(spark, SF_ORACLE, "events")
        .groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for r in rows:
        lo, hi = bounds[(r["user_id"], r["d"].date())]
        assert lo - 1e-6 <= r["twa_value"] <= hi + 1e-6  # mean-value property


def test_embedding_exact_dedup_partitions_corpus(spark):
    rows = QUERIES["dedup_embedding_exact"](spark, SF_ORACLE).collect()
    assert sum(r["n_copies"] for r in rows) == 500
    for r in rows:
        assert 1 <= r["n_labels"] <= r["n_copies"]


def test_asof_tolerance_subset_of_asof(spark):
    tol = {r["purchase_id"]: r for r in
           QUERIES["join_asof_tolerance"](spark, SF_ORACLE).collect()}
    base = {r["purchase_id"]: r for r in
            QUERIES["join_asof"](spark, SF_ORACLE).collect()}
    assert set(tol) == set(base)  # same left side: every purchase appears
    n_null, n_match = 0, 0
    for pid, r in tol.items():
        if r["click_id"] is None:
            n_null += 1
        else:
            n_match += 1
            assert 0 <= r["staleness_us"] <= 3_600_000_000
            # within tolerance the matched click is the same one join_asof picks
            assert base[pid]["click_id"] == r["click_id"]
    assert n_match > 0 and n_null > 0  # tolerance actually rejects stale matches


def test_interarrival_orderings(spark):
    rows = QUERIES["events_interarrival"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r["p50_gap_s"] <= r["p90_gap_s"] <= r["max_gap_s"]
        assert r["mean_gap_s"] > 0


def test_embedding_qc_consistent_with_parts(spark):
    r = QUERIES["pipeline_embedding_qc"](spark, SF_ORACLE).collect()[0]
    assert r["n_vecs"] == 500
    dups = QUERIES["dedup_embedding_exact"](spark, SF_ORACLE).collect()
    assert r["n_exact_dups"] == sum(x["n_copies"] - 1 for x in dups)
    assert r["min_norm"] <= r["mean_norm"] <= r["max_norm"]
    dim = QUERIES["vec_dim_stats"](spark, SF_ORACLE).collect()
    assert r["n_lowvar_dims"] == sum(1 for d in dim if d["std"] < 0.01)


def test_q6_pushdown_reaches_scan(spark):
    df = QUERIES["sql_revenue_q6"](spark, SF_ORACLE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]


def test_recursive_spine_matches_gap_free_days(spark):
    rows = QUERIES["sql_recursive_cte"](spark, SF_ORACLE).collect()
    assert len(rows) == 30
    assert sum(r["n_events"] for r in rows) == 10000  # every event lands on the spine


def test_money_decimal_matches_rounded_double_sum(spark):
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    rows = {r["o_orderpriority"]: r for r in
            QUERIES["agg_money_decimal"](spark, SF_ORACLE).collect()}
    dbl = {r["o_orderpriority"]: r["s"] for r in
           table(spark, SF_ORACLE, "orders")
           .groupBy("o_orderpriority")
           .agg(F.round(F.sum("o_totalprice"), 2).alias("s")).collect()}
    for k, r in rows.items():
        assert abs(float(r["revenue_exact"]) - dbl[k]) < 0.02  # decimal vs double


def test_adoption_curve_monotone_and_totals(spark):
    rows = sorted(QUERIES["events_adoption_curve"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["d"])
    assert rows[-1]["cum_users"] == 150
    running = 0
    for r in rows:
        running += r["n_new"]
        assert r["cum_users"] == running


def test_reconcile_counts_add_up(spark):
    r = QUERIES["dq_reconcile"](spark, SF_ORACLE).collect()[0]
    assert r["n_left"] == 15000
    assert r["n_same"] + r["n_changed"] + r["n_only_left"] == r["n_left"]
    assert r["n_same"] + r["n_changed"] + r["n_only_right"] == r["n_right"]
    assert r["n_changed"] > 0 and r["n_only_left"] > 0 and r["n_only_right"] > 0


def test_abc_classes_partition_revenue(spark):
    rows = {r["abc_class"]: r for r in
            QUERIES["abc_analysis"](spark, SF_ORACLE).collect()}
    assert set(rows) == {"A", "B", "C"}
    assert abs(sum(r["revenue_share"] for r in rows.values()) - 1.0) < 1e-3
    assert sum(r["n_parts"] for r in rows.values()) == 2000
    # Pareto shape: A-class parts earn more per part than C-class
    a, c = rows["A"], rows["C"]
    assert a["revenue"] / a["n_parts"] > c["revenue"] / c["n_parts"]


def test_payload_stats_cover_corpus(spark):
    rows = QUERIES["mm_payload_stats"](spark, SF_ORACLE).collect()
    assert sum(r["n_payloads"] for r in rows) == 500
    for r in rows:
        assert r["min_bytes"] <= r["p50_bytes"] <= r["max_bytes"]


def test_bitmap_distinct_equals_count_distinct(spark):
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    rows = {r["event_type"]: r["n_users"] for r in
            QUERIES["agg_bitmap_distinct"](spark, SF_ORACLE).collect()}
    truth = {r["event_type"]: r["n"] for r in
             table(spark, SF_ORACLE, "events")
             .groupBy("event_type").agg(F.count_distinct("user_id").alias("n"))
             .collect()}
    assert rows == truth


def test_weighted_median_is_weight_balanced(spark):
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    r = QUERIES["agg_weighted_median"](spark, SF_ORACLE).collect()[0]
    li = table(spark, SF_ORACLE, "lineitem")
    below = (
        li.where(F.col("l_extendedprice") < r["weighted_median"] - 0.005)
        .agg(F.sum("l_quantity")).collect()[0][0]
    )
    assert below <= r["total_weight"] / 2  # median balances the weight


def test_synthetic_source_deterministic(spark):
    a = QUERIES["source_synthetic"](spark, SF_ORACLE).collect()
    b = QUERIES["source_synthetic"](spark, SF_ORACLE).collect()
    assert sorted(a) == sorted(b)
    assert len(a) == 10000
    cats = {r["category"] for r in a}
    assert cats == {"alpha", "beta", "gamma", "delta", "epsilon"}
    vals = [r["value"] for r in a]
    assert 0.0 <= min(vals) and max(vals) <= 1000.0


def test_banded_range_join_equals_nested_loop(spark):
    banded = {(r["s_suppkey"], r["n_close"]) for r in
              QUERIES["join_range_banded"](spark, SF_ORACLE).collect()}
    plain = {(r["s_suppkey"], r["n_close"]) for r in
             QUERIES["join_range"](spark, SF_ORACLE).collect()}
    assert banded == plain
    # and the banded plan is an equi-join, not a nested loop
    df = QUERIES["join_range_banded"](spark, SF_ORACLE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_markov_chain_follows_argmax(spark):
    rows = sorted(QUERIES["text_markov_generate"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["step"])
    assert rows[0]["tok"] == "the"
    assert len(rows) == 20
    assert [r["step"] for r in rows] == list(range(20))


def test_cohort_ltv_monotone_cumulative(spark):
    rows = QUERIES["events_cohort_ltv"](spark, SF_ORACLE).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_day"], []).append(r)
    for day, rs in by_cohort.items():
        rs.sort(key=lambda r: r["offset_d"])
        for a, b in zip(rs, rs[1:]):
            assert b["cum_revenue_raw"] >= a["cum_revenue_raw"] - 1e-9
            assert b["ltv_per_user"] >= a["ltv_per_user"] - 1e-9


def test_repeat_interval_sane(spark):
    r = QUERIES["orders_repeat_interval"](spark, SF_ORACLE).collect()[0]
    assert r["n_repeat_customers"] <= r["n_repeat_orders"]
    assert 0 <= r["p50_gap_days"] <= r["p90_gap_days"]


def test_pareto_frontier_no_dominated_member(spark):
    rows = QUERIES["win_pareto_frontier"](spark, SF_ORACLE).collect()
    assert len(rows) >= 2
    pts = [(r["total_spend"], r["acctbal"]) for r in rows]
    for i, (s1, b1) in enumerate(pts):
        for j, (s2, b2) in enumerate(pts):
            if i != j:
                dominated = s2 >= s1 and b2 >= b1 and (s2 > s1 or b2 > b1)
                assert not dominated, (pts[i], pts[j])


def test_equiwidth_histogram_covers_all_orders(spark):
    rows = QUERIES["agg_histogram_equiwidth"](spark, SF_ORACLE).collect()
    assert sum(r["n_orders"] for r in rows) == 15000
    assert {r["bucket"] for r in rows} <= set(range(10))
    los = sorted(r["bin_lo"] for r in rows)
    assert los == [r["bin_lo"] for r in sorted(rows, key=lambda x: x["bucket"])]


def test_bot_detection_flag_matches_rule(spark):
    rows = QUERIES["events_bot_detection"](spark, SF_ORACLE).collect()
    assert len(rows) == 150
    for r in rows:
        expect = r["max_per_minute"] >= 5 or r["rate_per_hour"] > 12.0
        # boundary tolerance: rate_per_hour shown rounded; rule uses raw
        if abs(r["rate_per_hour"] - 12.0) > 1e-4:
            assert r["is_suspect"] == expect


def test_span_corruption_nonoverlapping_within_doc(spark):
    rows = QUERIES["corpus_span_corruption"](spark, SF_ORACLE).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == 500
    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda r: r["span_id"])
        prev_end = 0
        for s in spans:
            assert s["start_tok"] > prev_end  # strictly after previous span
            prev_end = s["start_tok"] + s["span_len"] - 1
            assert len(s["masked_tokens"].split(" ")) == s["span_len"]


def test_feature_cross_bucket_stable_and_bounded(spark):
    a = {r["c_custkey"]: r["cross_bucket"] for r in
         QUERIES["feature_crossed"](spark, SF_ORACLE).collect()}
    b = {r["c_custkey"]: r["cross_bucket"] for r in
         QUERIES["feature_crossed"](spark, SF_ORACLE).collect()}
    assert a == b
    assert all(0 <= v < 256 for v in a.values())


def test_islands_ranges_consistent_with_streaks(spark):
    rows = QUERIES["win_islands_ranges"](spark, SF_ORACLE).collect()
    max_by_user = {}
    for r in rows:
        d = (r["streak_end"] - r["streak_start"]).days + 1
        assert d == r["streak_days"]
        max_by_user[r["user_id"]] = max(max_by_user.get(r["user_id"], 0),
                                        r["streak_days"])
    streaks = {r["user_id"]: (r["longest_streak"], r["n_streaks"]) for r in
               QUERIES["win_streaks"](spark, SF_ORACLE).collect()}
    n_islands = {}
    for r in rows:
        n_islands[r["user_id"]] = n_islands.get(r["user_id"], 0) + 1
    for uid, (longest, n) in streaks.items():
        assert max_by_user[uid] == longest
        assert n_islands[uid] == n


def test_nearest_value_join_is_truly_nearest(spark):
    from spark_ml_helper_spark.sources.parquet import table

    rows = QUERIES["join_nearest_value"](spark, SF_ORACLE).collect()
    cust = {r["c_custkey"]: round(r["c_acctbal"] * 100) for r in
            table(spark, SF_ORACLE, "customer").collect()}
    supp = {r["s_suppkey"]: round(r["s_acctbal"] * 100) for r in
            table(spark, SF_ORACLE, "supplier").collect()}
    assert len(rows) == len(supp)
    bals = sorted(cust.values())
    import bisect
    for r in rows:
        sb = supp[r["s_suppkey"]]
        i = bisect.bisect_left(bals, sb)
        best = min(
            abs(sb - bals[j]) for j in (i - 1, i) if 0 <= j < len(bals)
        )
        assert round(r["bal_diff"] * 100) == best
        assert abs(cust[r["nearest_custkey"]] - sb) == best


def test_spatial_grid_join_matches_brute_force(spark):
    rows = {(r["s_suppkey"], r["c_custkey"]): r["dist2"] for r in
            QUERIES["join_spatial_grid"](spark, SF_ORACLE).collect()}
    import hashlib

    def coord(prefix, key):
        h = hashlib.md5(f"{prefix}{key}".encode()).hexdigest()[:8]
        return int(h, 16) % 1000

    from spark_ml_helper_spark.sources.parquet import table
    cust = [r["c_custkey"] for r in table(spark, SF_ORACLE, "customer").collect()]
    supp = [r["s_suppkey"] for r in table(spark, SF_ORACLE, "supplier").collect()]
    cpts = {k: (coord("x", k), coord("y", k)) for k in cust}
    spts = {k: (coord("x", k + 900_000), coord("y", k + 900_000)) for k in supp}
    brute = {}
    for sk, (sx, sy) in spts.items():
        for ck, (cx, cy) in cpts.items():
            d2 = (sx - cx) ** 2 + (sy - cy) ** 2
            if d2 <= 625:
                brute[(sk, ck)] = d2
    assert rows == brute


def test_gbt_deterministic_and_sane(spark):
    a = sorted(QUERIES["ml_gbt"](spark, SF_ORACLE).collect())
    b = sorted(QUERIES["ml_gbt"](spark, SF_ORACLE).collect())
    assert a == b  # seed-pinned twin runs identical
    for r in a:
        assert r["mae"] >= abs(r["mean_resid"]) - 1e-9
        assert 0 <= r["gbt_top_feature"] < 64


def test_moments_shape_matches_numpy(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = {r["event_type"]: r for r in
            QUERIES["agg_moments_shape"](spark, SF_ORACLE).collect()}
    vals = {}
    for r in table(spark, SF_ORACLE, "events").select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for et, xs in vals.items():
        a = np.array(xs)
        mu, sd = a.mean(), a.std()  # population
        skew = ((a - mu) ** 3).mean() / sd**3
        kurt = ((a - mu) ** 4).mean() / sd**4 - 3.0
        r = rows[et]
        assert abs(r["skewness"] - skew) < 1e-3
        assert abs(r["excess_kurtosis"] - kurt) < 1e-3


def test_iqr_outlier_counts_match_direct(spark):
    r = QUERIES["dq_outlier_iqr"](spark, SF_ORACLE).collect()[0]
    assert r["n_rows"] == 15000
    assert r["q1"] < r["q3"]
    assert abs(r["outlier_rate"] - (r["n_low"] + r["n_high"]) / 15000) < 1e-6


def test_paths_topk_ranked_and_bounded(spark):
    rows = QUERIES["events_paths_topk"](spark, SF_ORACLE).collect()
    assert len(rows) == 10
    assert [r["rnk"] for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert (a["n"], b["path"]) >= (b["n"], a["path"]) or a["n"] > b["n"]
    for r in rows:
        assert len(r["path"].split(" > ")) == 3


def test_pythagorean_means_ordering(spark):
    rows = QUERIES["agg_mean_family"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["mean_harm"] <= r["mean_geom"] + 0.01
        assert r["mean_geom"] <= r["mean_arith"] + 0.01
        assert r["mean_arith"] <= r["mean_quad"] + 0.01


def test_control_chart_limits_contain_most_days(spark):
    rows = QUERIES["ts_control_chart"](spark, SF_ORACLE).collect()
    assert len(rows) == 30
    n_out = sum(r["out_of_control"] for r in rows)
    assert n_out <= 3  # a stable process stays mostly inside 3-sigma-ish limits
    for r in rows:
        assert r["lcl"] < r["ucl"]
        assert r["out_of_control"] == (r["x"] > r["ucl"] or r["x"] < r["lcl"])


def test_theil_sen_matches_numpy_median_of_slopes(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    r = QUERIES["ts_trend_robust"](spark, SF_ORACLE).collect()[0]
    daily = sorted(
        (x["t"], x["x"]) for x in
        table(spark, SF_ORACLE, "events")
        .groupBy(F.datediff(F.col("ts").cast("date"),
                            F.lit("2024-01-01").cast("date")).alias("t"))
        .agg(F.count("*").alias("x")).collect()
    )
    slopes = [(x2 - x1) / (t2 - t1)
              for i, (t1, x1) in enumerate(daily)
              for (t2, x2) in daily[i + 1:]]
    assert r["n_pairs"] == len(slopes)
    assert abs(r["theil_sen_slope"] - float(np.median(slopes))) < 1e-6


def test_zorder_locality_beats_random(spark):
    import math

    rows = QUERIES["sink_zorder"](spark, SF_ORACLE).collect()
    assert len(rows) == 15000
    # decode the Morton key back to (x, y) and verify the interleave is exact
    def decode(z):
        x = y = 0
        for i in range(16):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F
    truth = {r["o_orderkey"]: (r["x"], r["y"]) for r in
             table(spark, SF_ORACLE, "orders").select(
                 "o_orderkey",
                 (F.col("o_custkey") % 65536).alias("x"),
                 (F.datediff(F.col("o_orderdate").cast("date"),
                             F.lit("1995-01-01").cast("date")) % 65536).alias("y"),
             ).collect()}
    for r in rows[:500]:
        assert decode(r["zorder_key"]) == truth[r["o_orderkey"]]


def test_calibration_bins_cover_and_order(spark):
    rows = sorted(QUERIES["ml_eval_calibration"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["bin"])
    assert [r["bin"] for r in rows] == list(range(1, 11))
    assert sum(r["n"] for r in rows) == 500
    scores = [r["mean_score"] for r in rows]
    assert scores == sorted(scores)  # deciles ordered by score
    for r in rows:
        assert 0.0 <= r["pos_rate"] <= 1.0


def test_backtest_covers_holdout_days(spark):
    rows = QUERIES["ts_backtest_seasonal"](spark, SF_ORACLE).collect()
    assert len(rows) == 7  # Jan 24-30 holdout
    for r in rows:
        assert r["n_hours"] == 24
        assert r["mae"] >= 0


def test_matryoshka_recall_bounded_and_nontrivial(spark):
    rows = QUERIES["vec_matryoshka_eval"](spark, SF_ORACLE).collect()
    assert len(rows) == 50
    for r in rows:
        assert 0 <= r["n_common"] <= 5
        assert abs(r["recall_at_5"] - r["n_common"] / 5.0) < 1e-9
    mean = sum(r["recall_at_5"] for r in rows) / 50
    assert 0.0 < mean < 1.0  # 16 of 64 dims: informative but lossy


def test_native_session_window_matches_manual_islands(spark):
    native = QUERIES["win_session_native"](spark, SF_ORACLE)
    n_native = native.count()
    manual = (
        QUERIES["win_sessionize"](spark, SF_ORACLE)
        .select("user_id", "session_seq").distinct().count()
    )
    assert n_native == manual  # same session count from both formulations


def test_bitmap_intersect_matches_count_distinct_truth(spark):
    from itertools import combinations

    from spark_ml_helper_spark.sources.parquet import table

    rows = {(r["type_a"], r["type_b"]): r for r in
            QUERIES["agg_bitmap_intersect"](spark, SF_ORACLE).collect()}
    users = {}
    for r in table(spark, SF_ORACLE, "events").select("event_type", "user_id").distinct().collect():
        users.setdefault(r["event_type"], set()).add(r["user_id"])
    assert len(rows) == 10  # C(5,2)
    for ta, tb in combinations(sorted(users), 2):
        r = rows[(ta, tb)]
        assert r["n_both"] == len(users[ta] & users[tb])
        assert r["n_either"] == len(users[ta] | users[tb])


def test_csv_corrupt_quarantine_counts(spark):
    r = QUERIES["source_csv_corrupt"](spark, SF_ORACLE).collect()[0]
    assert r["n_rows"] == 1500
    assert r["n_corrupt"] == 1500 // 50
    assert r["n_good"] + r["n_corrupt"] == r["n_rows"]


def test_generalized_classes_clear_k5(spark):
    rows = QUERIES["anon_generalize"](spark, SF_ORACLE).collect()
    assert sum(r["group_size"] for r in rows) == 1500
    frac_ok = sum(r["group_size"] for r in rows if r["k5_ok"]) / 1500
    assert frac_ok > 0.95  # generalization lattice chosen to clear k=5


def test_did_placebo_near_zero(spark):
    r = QUERIES["stats_diff_in_diff"](spark, SF_ORACLE).collect()[0]
    assert min(r["n_t_pre"], r["n_t_post"], r["n_c_pre"], r["n_c_post"]) > 50
    # no real intervention exists in the fixture: placebo effect ~ 0
    assert abs(r["did_estimate"]) < 20.0


def test_max_drawdown_matches_brute_force(spark):
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    r = QUERIES["ts_max_drawdown"](spark, SF_ORACLE).collect()[0]
    daily = sorted(
        (x["d"], round(x["rev"] * 100))
        for x in table(spark, SF_ORACLE, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev")).collect()
    )
    peak, worst_abs, worst_frac = 0, 0, 0.0
    for _, rev_c in daily:
        peak = max(peak, rev_c)
        worst_abs = max(worst_abs, peak - rev_c)
        worst_frac = max(worst_frac, (peak - rev_c) / peak)
    assert abs(r["max_drawdown_abs"] - worst_abs / 100.0) < 0.02
    assert abs(r["max_drawdown_frac"] - worst_frac) < 1e-5
    assert r["max_drawdown_abs"] > 0  # daily revenue fluctuates


def test_retrieval_returns_query_term_docs(spark):
    rows = QUERIES["pipeline_retrieval"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    assert [r["rnk"] for r in rows] == [1, 2, 3, 4, 5]
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert sims[0] > 0
    # top hit actually contains at least one query term
    from spark_ml_helper_spark.sources.parquet import table
    top_text = (
        table(spark, SF_ORACLE, "documents")
        .where(f"doc_id = {rows[0]['doc_id']}")
        .collect()[0]["text"].lower()
    )
    assert any(t in top_text.split() for t in ("table", "scan", "merge"))


def test_bag_set_ops_multiplicity_identities(spark):
    from collections import Counter

    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    o = table(spark, SF_ORACLE, "orders")
    ca = Counter(r["o_custkey"] for r in
                 o.filter(F.col("o_orderstatus") == "O").select("o_custkey").collect())
    cb = Counter(r["o_custkey"] for r in
                 o.filter(F.col("o_orderstatus") == "F").select("o_custkey").collect())
    inter = Counter(r["o_custkey"] for r in
                    QUERIES["set_intersect_all"](spark, SF_ORACLE).collect())
    exc = Counter(r["o_custkey"] for r in
                  QUERIES["set_except_all"](spark, SF_ORACLE).collect())
    for k in set(ca) | set(cb):
        assert inter[k] == min(ca[k], cb[k])
        assert exc[k] == max(ca[k] - cb[k], 0)


def test_ratio_to_report_shares_sum_to_one(spark):
    rows = QUERIES["agg_ratio_to_report"](spark, SF_ORACLE).collect()
    assert abs(sum(r["share_of_total"] for r in rows) - 1.0) < 1e-3
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r["o_custkey"], []).append(r["share_of_customer"])
    for shares in by_cust.values():
        assert abs(sum(shares) - 1.0) < 1e-3


def test_aging_buckets_partition_open_orders(spark):
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    rows = QUERIES["orders_aging_buckets"](spark, SF_ORACLE).collect()
    n_open = table(spark, SF_ORACLE, "orders").where(
        F.col("o_orderstatus") == "O").count()
    assert sum(r["n_orders"] for r in rows) == n_open


def test_centroid_drift_small_between_random_halves(spark):
    r = QUERIES["vec_centroid_drift"](spark, SF_ORACLE).collect()[0]
    assert r["n_dims"] == 64
    # halves of one zero-mean distribution: both centroids are ~0 vectors,
    # so the DISTANCE is tiny (no drift) while the cosine is noise-dominated
    assert r["centroid_dist"] < 0.5
    assert -1.0 <= r["centroid_cos"] <= 1.0
    assert 0 <= r["top_mover_dim"] < 64


def test_srm_check_no_mismatch_on_parity_split(spark):
    r = QUERIES["stats_srm_check"](spark, SF_ORACLE).collect()[0]
    assert r["n_t"] + r["n_c"] == 150
    assert 0.3 < r["treated_share"] < 0.7
    assert r["srm_detected"] == (r["srm_chi2"] > 3.841)


def test_values_lookup_covers_all_priorities(spark):
    rows = QUERIES["sql_values_lookup"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    assert sum(r["n_orders"] for r in rows) == 15000


def test_silhouette_bounded(spark):
    rows = QUERIES["vec_silhouette"](spark, SF_ORACLE).collect()
    assert sum(r["n_points"] for r in rows) == 200
    for r in rows:
        assert -1.0 - 1e-9 <= r["mean_silhouette"] <= 1.0 + 1e-9


def test_time_to_next_error_nonnegative_or_null(spark):
    rows = QUERIES["win_time_to_next_error"](spark, SF_ORACLE).collect()
    assert len(rows) > 1000
    n_null = sum(1 for r in rows if r["tte_us"] is None)
    assert 0 < n_null < len(rows)  # some purchases precede no further error
    for r in rows:
        if r["tte_us"] is not None:
            assert r["tte_us"] > 0


def test_mtbf_consistent_with_interarrival_scale(spark):
    r = QUERIES["events_mtbf"](spark, SF_ORACLE).collect()[0]
    assert r["n_users"] > 100
    assert r["mtbf_hours"] > 0
    # 2014 errors over 150 users over 720h -> per-user MTBF ~ 50-60h
    assert 10 < r["p50_user_mtbf_hours"] < 200


def test_curriculum_monotone_difficulty(spark):
    rows = sorted(QUERIES["corpus_curriculum_order"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["curriculum_rank"])
    assert len(rows) == 100
    bands = [r["difficulty_band"] for r in rows]
    assert bands == sorted(bands)  # easy -> hard, never backwards
    # twin-run determinism (the md5 within-band shuffle must replay)
    again = sorted(QUERIES["corpus_curriculum_order"](spark, SF_ORACLE).collect(),
                   key=lambda r: r["curriculum_rank"])
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in again]


def test_split_leakage_consistent_with_embedding_dedup(spark):
    r = QUERIES["dq_split_leakage"](spark, SF_ORACLE).collect()[0]
    assert r["n_train"] + r["n_test"] == 500
    dups = QUERIES["dedup_embedding_exact"](spark, SF_ORACLE).collect()
    n_multi = sum(1 for d in dups if d["n_copies"] > 1)
    # leaked contents are necessarily duplicated contents
    assert r["n_leaked_contents"] <= n_multi


def test_forward_asof_symmetric_with_backward(spark):
    fwd = QUERIES["join_asof_forward"](spark, SF_ORACLE).collect()
    assert len(fwd) == 2006  # one row per click, never dropped
    n_matched = sum(1 for r in fwd if r["purchase_id"] is not None)
    assert 0 < n_matched < len(fwd)
    for r in fwd:
        if r["lead_us"] is not None:
            assert r["lead_us"] >= 0


def test_shipping_lag_ordered_percentiles(spark):
    rows = QUERIES["orders_shipping_lag"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    assert sum(r["n_lines"] for r in rows) == 60000
    for r in rows:
        assert r["min_lag_days"] <= r["p50_lag_days"] <= r["p90_lag_days"] <= r["max_lag_days"]


def test_power_mde_scales_inverse_sqrt_n(spark):
    import math

    r = QUERIES["stats_power_mde"](spark, SF_ORACLE).collect()[0]
    assert r["n_users"] > 100 and r["sigma2"] > 0
    expect = 2.8016 * math.sqrt(2 * r["sigma2"] / (r["n_users"] / 2))
    assert abs(r["mde_current"] - expect) < 1e-4
    assert r["n_per_arm_for_5pct"] > 0


def test_burstiness_fano_nonnegative_and_covers_vocab(spark):
    rows = QUERIES["text_burstiness"](spark, SF_ORACLE).collect()
    assert len(rows) == 31  # fixture vocabulary
    for r in rows:
        assert r["fano_factor"] >= 0
        assert r["n_docs_containing"] <= 500


def test_ivm_merge_equals_recompute(spark):
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    rows = {r["event_type"]: r for r in
            QUERIES["agg_ivm_merge"](spark, SF_ORACLE).collect()}
    truth = {r["event_type"]: r for r in
             table(spark, SF_ORACLE, "events")
             .groupBy("event_type")
             .agg(F.count("*").alias("n"),
                  F.count_distinct("user_id").alias("n_users")).collect()}
    for et, t in truth.items():
        assert rows[et]["n"] == t["n"]
        assert rows[et]["n_users"] == t["n_users"]


def test_energy_distance_same_distribution_near_zero(spark):
    r = QUERIES["vec_energy_distance"](spark, SF_ORACLE).collect()[0]
    # both halves come from the same distribution: energy distance ~ 0,
    # and far smaller than the typical pairwise distance scale
    assert abs(r["energy_distance"]) < 0.1 * r["m_xy"]
    assert r["m_xy"] > 0 and r["m_xx"] > 0 and r["m_yy"] > 0


def test_seasonality_r2_bounded(spark):
    r = QUERIES["ts_seasonality_strength"](spark, SF_ORACLE).collect()[0]
    assert r["n_cells"] == 720
    assert 0.0 <= r["seasonality_r2"] <= 1.0
    assert r["sse"] <= r["sst"] + 1e-6


def test_segment_migration_matrix_complete(spark):
    rows = QUERIES["orders_segment_migration"](spark, SF_ORACLE).collect()
    total = sum(r["n_customers"] for r in rows)
    segs = {"low", "mid", "high"}
    assert {r["segment_before"] for r in rows} <= segs
    assert {r["segment_after"] for r in rows} <= segs
    assert total > 1000  # most customers order in both eras


def test_cuped_identities(spark):
    r = QUERIES["stats_cuped"](spark, SF_ORACLE).collect()[0]
    assert r["n_users"] > 100
    assert 0 <= r["var_cuped"] <= r["var_post"] + 1e-9  # CUPED never hurts
    assert 0 <= r["var_reduction_pct"] < 25.0  # placebo covariate: tiny gain


def test_alert_persistence_requires_consecutive_hours(spark):
    import datetime

    rows = QUERIES["ts_alert_persistence"](spark, SF_ORACLE).collect()
    zs = {r["hr"]: r["z"] for r in
          QUERIES["ts_zscore_rolling"](spark, SF_ORACLE).collect()}
    for r in rows:
        assert r["n_hours"] >= 2
        span_h = int((r["alert_end"] - r["alert_start"]).total_seconds() // 3600)
        assert span_h == r["n_hours"] - 1  # consecutive hours, no gaps
        # every hour in the episode is genuinely anomalous
        for k in range(r["n_hours"]):
            hr = r["alert_start"] + datetime.timedelta(hours=k)
            assert abs(zs[hr]) > 2.0


def test_seasonal_indices_average_near_one(spark):
    rows = QUERIES["ts_seasonal_index"](spark, SF_ORACLE).collect()
    assert len(rows) == 12
    mean_idx = sum(r["seasonal_index"] for r in rows) / 12
    assert abs(mean_idx - 1.0) < 0.05  # indices average to ~1 by construction
    for r in rows:
        assert 0.5 < r["seasonal_index"] < 2.0
        assert r["n_years"] >= 4


def test_benford_frequencies_partition(spark):
    rows = QUERIES["dq_benford"](spark, SF_ORACLE).collect()
    assert {r["leading_digit"] for r in rows} <= set(range(1, 10))
    assert abs(sum(r["observed_freq"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["benford_freq"] for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert abs(r["deviation"] - (r["observed_freq"] - r["benford_freq"])) < 1e-5


def test_anova_true_null_small_f(spark):
    r = QUERIES["stats_anova"](spark, SF_ORACLE).collect()[0]
    assert r["df_between"] == 4
    assert r["df_within"] == 15000 - 5
    assert 0 <= r["eta_squared"] < 0.01  # priorities independent of price
    assert r["f_stat"] >= 0


def test_hazard_rate_risk_sets_shrink(spark):
    rows = sorted(QUERIES["events_hazard_rate"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["t"])
    assert rows[0]["t"] == 0
    for a, b in zip(rows, rows[1:]):
        assert b["n_at_risk"] <= a["n_at_risk"]  # risk set only shrinks
    for r in rows:
        assert 0.0 <= r["hazard"] <= 1.0
        assert r["n_converted"] <= r["n_at_risk"]


def test_return_rate_lift_averages_to_one(spark):
    rows = QUERIES["orders_return_rate"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    total = sum(r["n_lines"] for r in rows)
    assert total == 60000
    weighted_lift = sum(r["lift_vs_global"] * r["n_lines"] for r in rows) / total
    assert abs(weighted_lift - 1.0) < 0.01


def test_peak_concurrency_bounded_by_sessions_and_users(spark):
    r = QUERIES["events_peak_concurrency"](spark, SF_ORACLE).collect()[0]
    n_native = QUERIES["win_session_native"](spark, SF_ORACLE).count()
    assert r["n_sessions"] == n_native
    assert 1 <= r["peak_concurrent"] <= 150  # can't exceed user count
    assert r["first_peak_us"] > 0


def test_kfold_assignment_balanced_and_exhaustive(spark):
    rows = QUERIES["ml_kfold_assign"](spark, SF_ORACLE).collect()
    assert {r["fold"] for r in rows} == set(range(5))
    assert sum(r["n_rows"] for r in rows) == 500
    for r in rows:
        assert 0.1 < r["fold_share"] < 0.3  # roughly balanced md5 split
        assert r["n_labels"] >= 8  # every fold sees most labels


def test_heaps_beta_saturated_vocab(spark):
    r = QUERIES["text_heaps_law"](spark, SF_ORACLE).collect()[0]
    assert r["n_points"] == 6
    # 31-token closed vocabulary: growth exponent ~ 0
    assert -0.05 <= r["heaps_beta"] <= 0.1


def test_trigram_lm_scores_negative_and_cover_docs(spark):
    rows = QUERIES["corpus_trigram_lm"](spark, SF_ORACLE).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["avg_logscore"] <= 1e-9  # log-probs never positive
        assert r["n_trigrams"] > 0
    # trigram context should predict better than bigram on the same corpus
    bi = {r["doc_id"]: r for r in
          QUERIES["corpus_bigram_lm"](spark, SF_ORACLE).collect()}
    assert len(bi) == 500


def test_filter_ablation_cumulative_monotone(spark):
    rows = sorted(QUERIES["corpus_filter_ablation"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["stack_order"])
    assert [r["filter"] for r in rows] == ["short", "repetitive", "too_long", "lang"]
    prev = 0
    for r in rows:
        assert r["n_removed_cumulative"] >= prev  # stacking never un-removes
        assert r["n_removed_cumulative"] >= r["n_flagged_alone"] or r["stack_order"] == 1
        prev = r["n_removed_cumulative"]
    assert rows[-1]["n_removed_cumulative"] <= 500


def test_learning_curve_nested_and_converging(spark):
    rows = sorted(QUERIES["ml_learning_curve"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["train_pct"])
    assert [r["train_pct"] for r in rows] == [10, 25, 50, 100]
    ns = [r["n_train"] for r in rows]
    assert ns == sorted(ns) and ns[-1] == 60000  # nested md5 subsets
    full = rows[-1]["r2_on_full"]
    for r in rows:
        # any subset fit scores at most the full fit (OLS optimality on full)
        assert r["r2_on_full"] <= full + 1e-9


def test_new_vs_returning_split_partitions_purchases(spark):
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    rows = QUERIES["events_new_vs_returning"](spark, SF_ORACLE).collect()
    n_total = sum(r["n_new_purchases"] + r["n_returning_purchases"] for r in rows)
    n_purch = table(spark, SF_ORACLE, "events").where(
        F.col("event_type") == "purchase").count()
    assert n_total == n_purch
    # day 1: every purchaser is new; late days: mostly returning
    first = min(rows, key=lambda r: r["d"])
    assert first["n_returning_purchases"] == 0
    last = max(rows, key=lambda r: r["d"])
    assert last["n_returning_purchases"] > last["n_new_purchases"]


def test_duplicate_payment_fires_on_planted_dupes(spark, tmp_path):
    import shutil

    # clean fixture: no exact repeats
    assert QUERIES["orders_duplicate_payment"](spark, SF_ORACLE).count() == 0
    # stage a copy with planted double-charges
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F

    staged = str(tmp_path / "sfdup")
    o = table(spark, SF_ORACLE, "orders")
    dupes = (
        o.limit(5)
        .select(
            (F.col("o_orderkey") + 90_000_000).alias("o_orderkey"),
            "o_custkey", "o_orderstatus", "o_totalprice",
            (F.col("o_orderdate") + F.expr("INTERVAL 2 DAYS")).alias("o_orderdate"),
            "o_orderpriority",
        )
    )
    o.unionByName(dupes).write.parquet(staged + "/orders.parquet")
    rows = QUERIES["orders_duplicate_payment"](spark, staged).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["gap_days"] == 2
        assert r["second_orderkey"] - 90_000_000 == r["first_orderkey"]


def test_knn_degree_weighted_mean_matches_handshake(spark):
    rows = QUERIES["graph_knn_degree"](spark, SF_ORACLE).collect()
    deg_hist = {r["degree"]: r["n_vertices"] for r in
                QUERIES["graph_degree"](spark, SF_ORACLE).collect()}
    assert {r["degree"] for r in rows} == set(deg_hist)
    for r in rows:
        assert r["n_vertices"] == deg_hist[r["degree"]]
        assert r["avg_neighbor_degree"] > 0


def test_js_divergence_bounded_and_ranked(spark):
    import math

    rows = QUERIES["text_js_divergence"](spark, SF_ORACLE).collect()
    assert len(rows) == 10
    assert [r["rnk"] for r in rows] == list(range(1, 11))
    for r in rows:
        assert 0.0 <= r["jsd"] <= math.log(2) + 1e-9  # JS divergence bound (nats)


def test_sql_pivot_matches_dataframe_pivot_totals(spark):
    rows = QUERIES["sql_pivot"](spark, SF_ORACLE).collect()
    assert len(rows) == 5
    total = sum((r["status_o"] or 0) + (r["status_f"] or 0) + (r["status_p"] or 0)
                for r in rows)
    from spark_ml_helper_spark.sources.parquet import table
    from pyspark.sql import functions as F
    direct = table(spark, SF_ORACLE, "orders").agg(
        F.round(F.sum("o_totalprice"), 2)).collect()[0][0]
    assert abs(total - direct) < 1.0  # five 2-dp group sums vs one global sum


def test_simpson_check_strata_partition(spark):
    r = QUERIES["stats_simpson_check"](spark, SF_ORACLE).collect()[0]
    assert r["n_subgroups_agree"] + r["n_subgroups_disagree"] == 7
    assert r["aggregate_direction"] in (-1, 0, 1)
    assert r["simpson_flag"] == (
        r["n_subgroups_disagree"] > (r["n_subgroups_agree"] + r["n_subgroups_disagree"]) / 2
    )


def test_revenue_bridge_reconciles(spark):
    r = QUERIES["orders_revenue_bridge"](spark, SF_ORACLE).collect()[0]
    assert abs(r["delta"] - (r["rev_1997"] - r["rev_1996"])) < 0.02
    recon = r["volume_effect"] + r["price_effect"] + r["residual"]
    assert abs(recon - r["delta"]) < 0.05  # bridge must reconcile
    assert abs(r["residual"]) < abs(r["delta"]) * 0.01 + 100


def test_pca_power_matches_numpy_eigsh(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = sorted(QUERIES["vec_pca_power"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["dim"])
    assert len(rows) == 64
    v = np.array([r["loading"] for r in rows])
    assert abs(np.linalg.norm(v) - 1.0) < 1e-3  # unit loading vector
    X = np.array([r["embedding"] for r in
                  table(spark, SF_ORACLE, "embeddings").collect()], dtype=np.float64)
    C = np.cov(X, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(C)
    # the isotropic fixture has a near-degenerate spectrum (top eigenvalues
    # within ~3% of each other), so 10 rounds land IN THE TOP EIGENSPACE
    # rather than on one eigvec: assert the projection onto the top-4
    # subspace, and the Rayleigh quotient inside the top band
    proj = np.linalg.norm(evecs[:, -4:].T @ v)
    assert proj > 0.9
    assert evals[-5] <= rows[0]["eigenvalue"] <= evals[-1] * 1.01
    assert 0.0 < rows[0]["explained_share"] < 0.1


def test_ytd_resets_each_january(spark):
    rows = QUERIES["rollup_ytd"](spark, SF_ORACLE).collect()
    by_year = {}
    for r in rows:
        by_year.setdefault(r["y"], []).append(r)
    for y, rs in by_year.items():
        rs.sort(key=lambda r: r["m"])
        assert abs(rs[0]["revenue_ytd"] - rs[0]["revenue"]) < 0.01  # reset
        run = 0
        for r in rs:
            run += r["n_orders"]
            assert r["orders_ytd"] == run


def test_whale_concentration_consistent_with_gini_total(spark):
    r = QUERIES["orders_whale_concentration"](spark, SF_ORACLE).collect()[0]
    g = QUERIES["agg_gini"](spark, SF_ORACLE).collect()[0]
    assert r["n_customers"] == g["n"]
    assert abs(r["total_revenue"] - g["total_spend"]) < 1.0
    assert 0 < r["top10_share"] < 1
    assert r["top10_revenue"] <= r["total_revenue"]


def test_cooccurrence_pmi_symmetric_support(spark):
    rows = QUERIES["text_cooccurrence_pmi"](spark, SF_ORACLE).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["w1"] < r["w2"]  # canonical unordered pairs
        assert r["d12"] >= 50


def test_kmeans_lloyd_matches_numpy_replay(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = {r["cluster"]: r for r in
            QUERIES["vec_kmeans_lloyd"](spark, SF_ORACLE).collect()}
    assert set(rows) == set(range(8))
    emb = sorted(table(spark, SF_ORACLE, "embeddings").collect(),
                 key=lambda r: r["vec_id"])
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    C = X[:8].copy()
    for _ in range(5):
        d = ((X[:, None, :] - C[None]) ** 2).sum(-1)
        a = d.argmin(1)  # np.argmin ties → lowest index, same as the op
        for c in range(8):
            if (a == c).any():
                C[c] = np.round(X[a == c].mean(0), 7)
    d = ((X[:, None, :] - C[None]) ** 2).sum(-1)
    a = d.argmin(1)
    md = d[np.arange(len(X)), a]
    for c in range(8):
        n = int((a == c).sum())
        assert rows[c]["n_members"] == n
        if n:
            assert abs(rows[c]["mean_dist"] - md[a == c].mean()) < 1e-5
        else:
            assert rows[c]["mean_dist"] is None
        assert abs(rows[c]["centroid_norm"] - np.linalg.norm(C[c])) < 1e-5
    # a k-means fit should beat the trivial one-cluster solution
    global_inertia = ((X - X.mean(0)) ** 2).sum(-1).mean()
    fitted = md.mean()
    assert fitted < global_inertia


def test_tree_stump_matches_numpy_brute_force(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = sorted(QUERIES["ml_tree_stump"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["split_qty"])
    li = table(spark, SF_ORACLE, "lineitem").select(
        "l_quantity", "l_extendedprice").collect()
    q = np.array([r["l_quantity"] for r in li])
    y = np.array([r["l_extendedprice"] for r in li])
    thresholds = np.unique(q)[:-1]  # last value has an empty right side
    assert len(rows) == len(thresholds)
    sse_parent = ((y - y.mean()) ** 2).sum()
    best_gain, best_t = -1.0, None
    for r, t in zip(rows, thresholds):
        left, right = y[q <= t], y[q > t]
        assert r["split_qty"] == t
        assert r["n_left"] == len(left) and r["n_right"] == len(right)
        assert abs(r["mean_left"] - left.mean()) < 1e-3
        assert abs(r["mean_right"] - right.mean()) < 1e-3
        gain = (sse_parent - ((left - left.mean()) ** 2).sum()
                - ((right - right.mean()) ** 2).sum())
        assert abs(r["gain_share"] - gain / sse_parent) < 1e-5
        if gain > best_gain:
            best_gain, best_t = gain, t
    assert [r["split_qty"] for r in rows if r["is_best"]] == [best_t]


def test_logreg_gd_matches_numpy_replay(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = sorted(QUERIES["ml_logreg_gd"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["dim"])
    assert len(rows) == 65
    emb = table(spark, SF_ORACLE, "embeddings").collect()
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    y = np.array([1.0 if r["label"] >= 5 else 0.0 for r in emb])
    b0, w = 0.0, np.zeros(64)
    for _ in range(8):
        z = b0 + X @ w
        err = 1.0 / (1.0 + np.exp(-z)) - y
        b0 = round(b0 - 2.0 * round(err.mean(), 8), 8)
        w = np.round(w - 2.0 * np.round((err[:, None] * X).mean(0), 8), 8)
    z = b0 + X @ w
    assert abs(rows[0]["weight"] - b0) < 1e-7
    got = np.array([r["weight"] for r in rows[1:]])
    assert np.abs(got - w).max() < 1e-7
    acc = ((z >= 0) == (y == 1.0)).mean()
    assert abs(rows[0]["accuracy"] - acc) < 1e-3
    assert rows[0]["accuracy"] > 0.55  # beats the ~50% base rate
    assert rows[0]["log_loss"] < np.log(2)  # better than the uninformed model


def test_pq_encode_matches_numpy_replay(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = {r["vec_id"]: r for r in
            QUERIES["vec_pq_encode"](spark, SF_ORACLE).collect()}
    emb = sorted(table(spark, SF_ORACLE, "embeddings").collect(),
                 key=lambda r: r["vec_id"])
    X = np.array([r["embedding"] for r in emb], dtype=np.float64)
    n = len(X)
    assert len(rows) == n
    codes = np.zeros(n, dtype=np.int64)
    total_dist = np.zeros(n)
    for sub in range(8):
        S = X[:, sub * 8:(sub + 1) * 8]
        C = S[:4].copy()
        for _ in range(3):
            d = ((S[:, None, :] - C[None]) ** 2).sum(-1)
            a = d.argmin(1)
            for c in range(4):
                if (a == c).any():
                    C[c] = np.round(S[a == c].mean(0), 7)
        d = ((S[:, None, :] - C[None]) ** 2).sum(-1)
        a = d.argmin(1)
        codes += a * 4 ** sub
        total_dist += d[np.arange(n), a]
    mismatches = sum(1 for i, r in enumerate(emb)
                     if rows[r["vec_id"]]["pq_code"] != codes[i])
    assert mismatches == 0
    for i, r in enumerate(emb):
        assert abs(rows[r["vec_id"]]["recon_err"] - total_dist[i]) < 1e-5
    assert abs(next(iter(rows.values()))["corpus_mse"]
               - total_dist.mean() / 8) < 1e-5
    # quantization must actually compress toward the data: reconstruction
    # error below the zero-codebook baseline (distance to subspace means)
    base = sum(((X[:, s*8:(s+1)*8] - X[:, s*8:(s+1)*8].mean(0)) ** 2)
               .sum(-1).mean() for s in range(8))
    assert total_dist.mean() < base


def test_pq_adc_correlates_with_exact_distance(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = QUERIES["sim_pq_adc"](spark, SF_ORACLE).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in table(spark, SF_ORACLE, "embeddings").collect()}
    n = len(emb)
    assert set(by_q) == {q for q in emb if q % 100 == 0}
    med_rank = []
    for q, nbrs in by_q.items():
        assert [r["rnk"] for r in sorted(nbrs, key=lambda r: r["rnk"])] == [1, 2, 3, 4, 5]
        exact = sorted((np.sum((emb[q] - v) ** 2), vid)
                       for vid, v in emb.items() if vid != q)
        pos = {vid: i for i, (_, vid) in enumerate(exact)}
        med_rank.append(np.median([pos[r["neighbor_id"]] for r in nbrs]))
    # 2-bit/subspace codes are coarse, but ADC top-5 must still land far
    # into the true-nearest head, not at the ~n/2 random-guess median
    assert np.mean(med_rank) < n / 4


def test_image_resize_real_handcrafted(spark):
    import numpy as np

    from spark_ml_helper_spark.operators.multimodal import (
        decode_image, encode_bmp)

    # 8x6 gradient image: resized 4x4 must pick exact source pixels at
    # rows (0,1,3,4) = (i*6)//4 and cols (0,2,4,6) = (i*8)//4
    pix = np.arange(8 * 6 * 3, dtype=np.uint8).reshape(6, 8, 3)
    dh, dw, _, arr = decode_image(encode_bmp(pix))
    assert (dh, dw) == (6, 8)
    rows = (np.arange(4) * dh) // 4
    cols = (np.arange(4) * dw) // 4
    small = arr[rows][:, cols]
    assert np.array_equal(rows, [0, 1, 3, 4])
    assert np.array_equal(cols, [0, 2, 4, 6])
    for ri, r in enumerate(rows):
        for ci, c in enumerate(cols):
            assert np.array_equal(small[ri, ci], pix[r, c])


def test_image_resize_real_rows(spark):
    rows = QUERIES["mm_image_resize_real"](spark, SF_ORACLE).collect()
    assert len(rows) == 500
    for r in rows[:50]:
        assert r["out_w"] == r["out_h"] == 4
        assert 4 <= r["src_w"] <= 11 and 4 <= r["src_h"] <= 8
        # 48 uint8 pixels bound the checksum
        assert 0 <= r["resized_sum"] <= 48 * 255
        assert 0 <= r["center_b"] <= 255


def test_cc_largestar_equals_min_label_cc(spark):
    a = {(r["node"], r["cluster_id"])
         for r in QUERIES["graph_cc_largestar"](spark, SF_ORACLE).collect()}
    b = {(r["node"], r["cluster_id"])
         for r in QUERIES["graph_cc"](spark, SF_ORACLE).collect()}
    assert a == b  # two algorithms, one fixpoint


def test_token_budget_invariants(spark):
    rows = QUERIES["corpus_token_budget"](spark, SF_ORACLE).collect()
    assert len(rows) == 20  # one row per source
    total = sum(r["tokens_total"] for r in rows)
    kept = sum(r["tokens_kept"] for r in rows)
    # kept fills the 50% budget to within one document's tokens
    assert kept <= total // 2
    assert kept > total // 2 - 200
    for r in rows:
        assert 0 <= r["docs_kept"] <= r["n_docs"]
        assert 0 <= r["tokens_kept"] <= r["tokens_total"]
        assert abs(r["keep_share"] - r["tokens_kept"] / r["tokens_total"]) < 1e-5


def test_xml_source_roundtrip_row_count(spark):
    rows = QUERIES["source_xml"](spark, SF_ORACLE).collect()
    src = QUERIES["source_csv"](spark, SF_ORACLE).collect()
    assert {r["c_custkey"] for r in rows} == {r["c_custkey"] for r in src}


def test_epoch_schedule_invariants(spark):
    rows = QUERIES["corpus_epoch_schedule"](spark, SF_ORACLE).collect()
    assert len(rows) == 20
    assert abs(sum(r["share_temp"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["share_raw"] for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert 0 < r["epochs"] <= 4.0
        assert r["tokens_served"] <= r["target_tokens"]
        assert r["tokens_served"] <= 4 * r["tokens_avail"]
        assert r["capped"] == (r["target_tokens"] > 4 * r["tokens_avail"])
    # temperature mixing flattens the raw distribution
    import numpy as np
    raw = np.array([r["share_raw"] for r in rows])
    temp = np.array([r["share_temp"] for r in rows])
    assert temp.std() < raw.std() or abs(raw.std() - temp.std()) < 1e-9


def test_dq_expectations_all_pass_on_clean_fixture(spark):
    rows = {r["expectation"]: r
            for r in QUERIES["dq_expectations"](spark, SF_ORACLE).collect()}
    assert len(rows) == 7
    for name, r in rows.items():
        assert r["pass"] is True, name
        assert r["n_failed"] == 0
        assert r["n_checked"] > 0


def test_plan_summary_extracts_known_shapes(spark):
    from spark_ml_helper_spark.plans.audit import (
        plan_summary, scan_read_schemas)

    s = plan_summary(QUERIES["agg_group"](spark, SF_ORACLE))
    assert s["parquet_scans"] == 1
    assert s["scans_with_pushdown"] == 1  # the date filter reaches the scan
    assert s["partial_aggs"] == 2  # partial + final pair
    assert s["cartesian_products"] == 0
    j = plan_summary(QUERIES["join_multi"](spark, SF_ORACLE))
    assert j["broadcast_joins"] >= 2  # both dims broadcast
    assert j["sortmerge_joins"] == 0
    schemas = scan_read_schemas(QUERIES["scan_pruned"](spark, SF_ORACLE))
    assert schemas and all("l_comment" not in s for s in schemas)  # pruned


def test_pretrain_report_funnel_monotone(spark):
    rows = sorted(QUERIES["pipeline_pretrain_report"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["stage"])
    assert [r["stage_name"] for r in rows] == [
        "input", "quality_filter", "exact_dedup", "neardup_collapse",
        "decontaminated", "token_budget"]
    docs = [r["docs"] for r in rows]
    toks = [r["tokens"] for r in rows]
    assert docs == sorted(docs, reverse=True)  # each stage only removes
    assert toks == sorted(toks, reverse=True)
    assert docs[0] == 500
    # budget stage fills ~half the decontaminated tokens
    assert toks[5] <= toks[4] // 2
    assert toks[5] > toks[4] // 2 - 200
    # cross-check stage 2 against the standalone exact-dedup operator:
    # survivors of quality that share normalized text collapse to one
    assert docs[2] <= docs[1]


def test_word_embed_svd_matches_numpy_eig(spark):
    import numpy as np

    rows = QUERIES["vec_word_embed_svd"](spark, SF_ORACLE).collect()
    words = sorted(r["word"] for r in rows)
    assert len(words) == len(set(words))  # one embedding per vocab word
    v = np.array([r["embed"] for r in sorted(rows, key=lambda r: r["word"])])
    assert abs(np.linalg.norm(v) - 1.0) < 1e-3
    # rebuild the PPMI matrix in numpy and check the Rayleigh quotient
    from spark_ml_helper_spark.sources.parquet import table
    docs = table(spark, SF_ORACLE, "documents").select("text").collect()
    from collections import Counter
    pair = Counter()
    for r in docs:
        t = r["text"].lower().split(" ")
        for i, w in enumerate(t):
            for k in (1, 2):
                if i + k < len(t):
                    pair[(w, t[i + k])] += 1
                    pair[(t[i + k], w)] += 1
    vocab = sorted({w for w, _ in pair})
    idx = {w: i for i, w in enumerate(vocab)}
    assert vocab == words
    N = sum(pair.values())
    nw = Counter()
    for (w, c), n in pair.items():
        nw[w] += n
    M = np.zeros((len(vocab), len(vocab)))
    for (w, c), n in pair.items():
        val = np.log((n / N) / ((nw[w] / N) * (nw[c] / N)))
        M[idx[w], idx[c]] = max(0.0, round(val, 8))
    evals = np.linalg.eigvalsh(M)
    rq = float(v @ M @ v)
    ev = rows[0]["eigenvalue"]
    # power iteration's Rayleigh quotient sits at the top of the spectrum
    assert abs(rq - ev) < 0.05 * abs(ev) + 1e-6
    assert ev >= 0.95 * evals[-1]


def test_als_rank1_matches_numpy_replay(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = {r["item"]: r for r in
            QUERIES["ml_als_rank1"](spark, SF_ORACLE).collect()}
    e = table(spark, SF_ORACLE, "events").select("user_id", "event_id", "value").collect()
    from collections import defaultdict
    agg = defaultdict(float)
    for r in e:
        agg[(r["user_id"], r["event_id"] % 50)] += r["value"]
    ratings = {k: round(v, 6) for k, v in agg.items()}
    items = sorted({i for _, i in ratings})
    vf = {i: 1.0 for i in items}
    for _ in range(6):
        num, den = defaultdict(float), defaultdict(float)
        for (u, i), rr in ratings.items():
            num[u] += rr * vf[i]
            den[u] += vf[i] * vf[i]
        uf = {u: round(num[u] / (0.1 + den[u]), 8) for u in num}
        num, den = defaultdict(float), defaultdict(float)
        for (u, i), rr in ratings.items():
            num[i] += rr * uf[u]
            den[i] += uf[u] * uf[u]
        vf = {i: round(num[i] / (0.1 + den[i]), 8) for i in num}
    sq = [(rr - uf[u] * vf[i]) ** 2 for (u, i), rr in ratings.items()]
    rmse = float(np.sqrt(np.mean(sq)))
    assert set(rows) == set(items)
    for i in items:
        assert abs(rows[i]["item_factor"] - vf[i]) < 1e-6
    any_row = next(iter(rows.values()))
    assert abs(any_row["rmse"] - rmse) < 1e-4
    assert any_row["n_obs"] == len(ratings)
    # the rank-1 fit must beat predicting zero everywhere
    base = float(np.sqrt(np.mean([rr ** 2 for rr in ratings.values()])))
    assert any_row["rmse"] < base


def test_lateral_topk_agrees_with_window_rewrite(spark):
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table

    rows = QUERIES["sql_lateral_topk"](spark, SF_ORACLE).collect()
    # rewrite with an explicit window over the same predicate
    from pyspark.sql import Window
    c = table(spark, SF_ORACLE, "customer").where(F.col("c_acctbal") > 9000)
    o = table(spark, SF_ORACLE, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey")
    expect = (
        o.join(c, o.o_custkey == c.c_custkey)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("c_custkey", "o_orderkey", "rnk")
        .collect()
    )
    got = {(r["c_custkey"], r["o_orderkey"], r["rnk"]) for r in rows}
    want = {(r["c_custkey"], r["o_orderkey"], r["rnk"]) for r in expect}
    assert got == want and len(got) > 0


def test_stream_outer_join_expires_unmatched_views(spark):
    inner = QUERIES["stream_run_stream_join"](spark, SF_ORACLE).collect()
    outer = QUERIES["stream_run_stream_join_outer"](spark, SF_ORACLE).collect()
    nulls = [r for r in outer if r["b_ts"] is None]
    matched = [r for r in outer if r["b_ts"] is not None]
    # watermark expiry must actually fire (the point of the operator)
    assert len(nulls) > 0
    for r in nulls:
        assert r["b_value"] is None  # null emission is all-or-nothing
    # matched outer rows are genuine inner matches; the multi-batch run
    # may drop late-side rows the single-batch inner run keeps, so
    # subset, not equality
    inner_keys = {(r["v_user"], r["v_id"], r["b_ts"]) for r in inner}
    for r in matched:
        assert (r["v_user"], r["v_id"], r["b_ts"]) in inner_keys
    # a view never emits both matched and null rows
    null_ids = {r["v_id"] for r in nulls}
    assert null_ids.isdisjoint({r["v_id"] for r in matched})


def test_stream_append_emission_batch_boundary_independent(spark):
    # The round-15 oracle flips rest on ONE claim: on a bounded
    # AvailableNow stream, append-mode emission is a pure data function
    # — batch boundaries decide WHEN a window emits, never WHETHER,
    # because the watermark is monotone in data only and the final
    # no-data micro-batch flushes everything with end <= final
    # watermark. Pin it structurally: the SAME watermarked windowed
    # aggregation run under three different micro-batch cuts (1, 2 and
    # all-8 files per trigger) must emit IDENTICAL final sets. If a
    # Spark upgrade ever changes the flush/watermark semantics, this
    # fails before the driver's oracle gate does.
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.streaming.runs import _events_stream, _run

    def final_set(mfpt):
        e = (
            _events_stream(spark, SF_ORACLE, max_files_per_trigger=mfpt)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "30 minutes")
        )
        agg = (
            e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("w_start"), "event_type", "n")
        )
        return {tuple(r) for r in _run(agg, "append").collect()}

    one, two, whole = final_set(1), final_set(2), final_set(None)
    assert one and one == two == whole


def test_stream_session_append_emits_closed_sessions_once(spark):
    app = QUERIES["stream_run_session_append"](spark, SF_ORACLE).collect()
    comp = QUERIES["stream_run_session"](spark, SF_ORACLE).collect()
    assert 0 < len(app) <= len(comp)
    # emit-once: a (user, session-start) appears exactly once
    keys = [(r["user_id"], r["s_start"]) for r in app]
    assert len(keys) == len(set(keys))
    # every emitted session respects the 10-minute gap contract
    for r in app[:500]:
        assert (r["s_end"] - r["s_start"]).total_seconds() >= 600
        assert r["n"] >= 1
    # with deterministic time-ordered staging, nearly every session closes
    # before end of stream: emitted sessions match complete-mode sessions
    ckeys = {(r["user_id"], r["s_start"], r["s_end"], r["n"]) for r in comp}
    akeys = {(r["user_id"], r["s_start"], r["s_end"], r["n"]) for r in app}
    assert len(akeys & ckeys) / len(akeys) > 0.95


def test_rocksdb_provider_matches_default_provider(spark):
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.streaming.runs import _events_stream, _run

    rocks = QUERIES["stream_run_rocksdb"](spark, SF_ORACLE).collect()
    assert len(rocks) > 0
    # identical query under the default HDFS-backed provider
    e = (
        _events_stream(spark, SF_ORACLE, max_files_per_trigger=2)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
    )
    agg = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_v"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_v")
    )
    default = _run(agg, "append").collect()
    k = lambda r: (r["w_start"], r["event_type"], r["n"], r["sum_v"])
    assert {k(r) for r in rocks} == {k(r) for r in default}


def test_stream_expiry_boundary_join_strict_agg_inclusive(spark):
    # ADVICE r15: STREAM_JOIN_OUTER_ORACLE null-expires on STRICT
    # `v_ts + 1h < wm` while the windowed oracles flush on `end <= wm`.
    # tools/probe_stream_expiry_boundary.py CONSTRUCTS the ms-exact
    # boundary case (match-window end / window end == final watermark)
    # and measured that the engine genuinely uses opposite boundaries:
    # a buffered outer-join row whose match window ends AT the watermark
    # is kept (a purchase at exactly wm is not yet provably late), while
    # an aggregation window ending AT the watermark emits. Pin both, so
    # a Spark upgrade that moves either boundary fails here before the
    # driver's oracle gate.
    from tools.probe_stream_expiry_boundary import (
        probe_agg_boundary,
        probe_join_boundary,
    )

    nulls = probe_join_boundary(spark)
    assert [r.v_id for r in nulls] == [40], (
        "join null-expiry boundary moved: expected ONLY the end==wm-1ms "
        f"view (strict <), got v_ids={sorted(r.v_id for r in nulls)}"
    )
    wins = probe_agg_boundary(spark)
    assert len(wins) == 2, (
        "append-mode flush boundary moved: expected the end==wm window "
        f"to emit (<=), got {len(wins)} windows"
    )


def test_run_single_input_batch_premise_asserted(spark):
    # The dedup/stateful update-mode oracles require the bounded source
    # to be taken in ONE data micro-batch; _run now asserts it (ADVICE
    # r15). A multi-batch run under the flag must fail in pytest, not at
    # the driver's hash gate.
    from spark_ml_helper_spark.streaming.runs import _events_stream, _run

    multi = _events_stream(spark, SF_ORACLE, max_files_per_trigger=1).select(
        "user_id", "event_type", "ts"
    )
    with pytest.raises(AssertionError, match="single-micro-batch"):
        _run(multi, "append", require_single_input_batch=True)
    # and the premise currently HOLDS for the whole-source form
    whole = _events_stream(spark, SF_ORACLE).select("user_id", "event_type", "ts")
    assert _run(whole, "append", require_single_input_batch=True).count() > 0


def test_single_batch_premise_rejects_truncated_progress():
    # recentProgress keeps only the last numRecentProgressUpdates entries
    # (default 100); a >100-batch run whose data batches rotated out of the
    # window would make a bare count-based check pass vacuously (ADVICE
    # r16). The check must treat an incomplete history (earliest retained
    # batchId != 0) as a loud failure, not evidence of compliance.
    from collections import namedtuple

    from spark_ml_helper_spark.streaming.runs import _assert_single_input_batch

    P = namedtuple("P", ["batchId", "numInputRows"])
    # complete history, one data batch + watermark no-data batch: OK
    _assert_single_input_batch([P(0, 500), P(1, 0)])
    # complete history, two data batches: premise violated
    with pytest.raises(AssertionError, match="premise violated"):
        _assert_single_input_batch([P(0, 300), P(1, 200), P(2, 0)])
    # truncated history (window overflowed): unverifiable, must fail even
    # though the RETAINED slice shows only one data batch
    with pytest.raises(AssertionError, match="UNVERIFIABLE"):
        _assert_single_input_batch([P(101, 500), P(102, 0)])
    # empty history: equally unverifiable
    with pytest.raises(AssertionError, match="UNVERIFIABLE"):
        _assert_single_input_batch([])


def test_headline_exchange_budgets(audit_plans):
    # @query(max_exchanges=N): a new Exchange (lost broadcast, extra
    # repartition, lost bucketing) fails here before the bench sees it.
    over = _contract_violations(audit_plans, "max_exchanges")
    assert not over, f"plans over shuffle budget: {over}"


def test_bucketed_join_stays_sortmerge_without_exchange(spark):
    from spark_ml_helper_spark.plans.audit import plan_summary
    from spark_ml_helper_spark.registry import REGISTRY

    s = plan_summary(REGISTRY["join_bucketed"].fn(spark, SF_ORACLE))
    assert s["exchanges"] == 0 and s["sortmerge_joins"] == 1


def test_gbt_stumps_boosting_reduces_rmse(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = sorted(QUERIES["ml_gbt_stumps"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["round"])
    assert [r["round"] for r in rows] == [1, 2, 3]
    li = table(spark, SF_ORACLE, "lineitem").select(
        "l_quantity", "l_discount", "l_extendedprice").collect()
    y = np.array([r["l_extendedprice"] for r in li])
    const_rmse = float(np.sqrt(((y - round(y.mean(), 4)) ** 2).mean()))
    final = rows[0]["train_rmse"]
    # the fixture's price is feature-independent (corr ~0.003), so no
    # stump can fit MUCH variance — boosting must still never hurt train
    assert final <= const_rmse + 0.01
    # gains are positive and non-increasing is NOT required (features
    # alternate), but each split must partition the data
    for r in rows:
        assert r["gain_b"] > 0
        assert r["n_l"] > 0 and r["n_r"] > 0
        assert r["feature"] in ("qty", "disc")
    # replay round 1 by brute force: best first split over both features
    q = np.array([r["l_quantity"] for r in li])
    d = np.array([r["l_discount"] for r in li])
    e = y - round(y.mean(), 4)
    best = None
    for fname, x in (("disc", d), ("qty", q)):
        for t in np.unique(x)[:-1]:
            sl, nl = round(e[x <= t].sum()), (x <= t).sum()
            st, nt = round(e.sum()), len(e)
            g = sl * sl / nl + (st - sl) ** 2 / (nt - nl) - st * st / nt
            if best is None or g > best[0]:
                best = (g, fname, t)
    assert (rows[0]["feature"], rows[0]["thr"]) == (best[1], best[2])


def test_kmeans_elbow_monotone_and_k1_is_variance(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = sorted(QUERIES["vec_kmeans_elbow"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["k"])
    assert [r["k"] for r in rows] == [1, 2, 4, 8]
    inertias = [r["inertia"] for r in rows]
    # more clusters never fit worse (same seeds nest via lowest-id init)
    assert inertias == sorted(inertias, reverse=True)
    assert rows[0]["improvement"] is None
    for prev, r in zip(rows, rows[1:]):
        assert abs(r["improvement"] - (prev["inertia"] - r["inertia"])) < 1e-9
    # k=1's centroid converges to the global mean -> inertia == variance
    X = np.array([r["embedding"] for r in
                  table(spark, SF_ORACLE, "embeddings").collect()],
                 dtype=np.float64)
    var = ((X - np.round(X.mean(0), 7)) ** 2).sum(-1).mean()
    assert abs(rows[0]["inertia"] - var) < 1e-4
    # and the k=8 fit must agree with the standalone vec_kmeans_lloyd op
    lloyd = QUERIES["vec_kmeans_lloyd"](spark, SF_ORACLE).collect()
    weighted = sum(r["n_members"] * r["mean_dist"] for r in lloyd
                   if r["mean_dist"] is not None)
    total = sum(r["n_members"] for r in lloyd)
    assert abs(rows[3]["inertia"] - weighted / total) < 1e-4


def test_band_curve_tradeoff_monotone(spark):
    rows = sorted(QUERIES["dedup_minhash_band_curve"](spark, SF_ORACLE).collect(),
                  key=lambda r: r["bands"])
    assert [(r["bands"], r["rows_per_band"]) for r in rows] == [
        (4, 10), (8, 5), (10, 4)]
    for r in rows:
        assert 0 < r["n_verified"] <= r["n_candidates"]
        assert 0 < r["precision_at_08"] <= 1
        expect = 1.0 - (1.0 - 0.8 ** r["rows_per_band"]) ** r["bands"]
        assert abs(r["theoretical_recall_at_08"] - expect) < 1e-6
    # looser geometry -> more candidates, at least as many verified pairs,
    # lower precision: the trade-off the table exists to show
    cands = [r["n_candidates"] for r in rows]
    ver = [r["n_verified"] for r in rows]
    prec = [r["precision_at_08"] for r in rows]
    assert cands == sorted(cands)
    assert ver == sorted(ver)
    assert prec == sorted(prec, reverse=True)


def test_pq_retrieval_rescore_improves_on_adc(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = QUERIES["pipeline_pq_retrieval"](spark, SF_ORACLE).collect()
    adc_only = QUERIES["sim_pq_adc"](spark, SF_ORACLE).collect()
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in table(spark, SF_ORACLE, "embeddings").collect()}

    def exact_rank_positions(results):
        pos = []
        by_q = {}
        for r in results:
            by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
        for q, nbrs in by_q.items():
            order = sorted((float(((emb[q] - v) ** 2).sum()), vid)
                           for vid, v in emb.items() if vid != q)
            rank = {vid: i for i, (_, vid) in enumerate(order)}
            pos.extend(rank[n] for n in nbrs)
        return float(np.mean(pos))

    # the rescored pipeline's picks sit closer to the true-nearest head
    # than raw ADC's picks
    assert exact_rank_positions(rows) < exact_rank_positions(adc_only)
    for r in rows:
        assert 1 <= r["rnk"] <= 5
        assert r["exact_dist"] >= 0
    # within each query, exact_dist is sorted by rank
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, nbrs in by_q.items():
        nbrs.sort(key=lambda r: r["rnk"])
        ds = [r["exact_dist"] for r in nbrs]
        assert ds == sorted(ds)


def test_hll_rollup_merge_equals_direct_sketch(spark):
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table

    rows = QUERIES["agg_hll_rollup"](spark, SF_ORACLE).collect()
    assert len(rows) >= 1
    for r in rows:
        assert r["within_5pct"] is True
        assert r["n_days"] >= 1 and r["n_users"] > 0
    # merging daily sketches must equal sketching the month directly —
    # the mergeability identity the rollup pattern rests on
    e = table(spark, SF_ORACLE, "events")
    daily = e.groupBy(
        F.date_trunc("month", "ts").alias("m"), F.date_trunc("day", "ts").alias("d")
    ).agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    merged = {r["m"]: r["est"] for r in daily.groupBy("m").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")).collect()}
    direct = {r["m"]: r["est"] for r in e.groupBy(
        F.date_trunc("month", "ts").alias("m")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("est")
    ).collect()}
    assert merged == direct


def test_pca_deflate_orthogonal_top_eigenspace(spark):
    import numpy as np

    from spark_ml_helper_spark.sources.parquet import table

    rows = QUERIES["vec_pca_deflate"](spark, SF_ORACLE).collect()
    by_c = {}
    for r in rows:
        by_c.setdefault(r["component"], []).append(r)
    assert set(by_c) == {1, 2} and all(len(v) == 64 for v in by_c.values())
    v1 = np.array([r["loading"] for r in sorted(by_c[1], key=lambda r: r["dim"])])
    v2 = np.array([r["loading"] for r in sorted(by_c[2], key=lambda r: r["dim"])])
    assert abs(np.linalg.norm(v1) - 1.0) < 1e-3
    assert abs(np.linalg.norm(v2) - 1.0) < 1e-3
    assert abs(float(v1 @ v2)) < 0.05  # deflation forces near-orthogonality
    l1 = by_c[1][0]["eigenvalue"]
    l2 = by_c[2][0]["eigenvalue"]
    assert 0 < l2 <= l1 * 1.001
    # component 1 must agree with the standalone vec_pca_power fit
    pc1 = {r["dim"]: r["loading"]
           for r in QUERIES["vec_pca_power"](spark, SF_ORACLE).collect()}
    same = np.array([pc1[r["dim"]] for r in sorted(by_c[1], key=lambda r: r["dim"])])
    assert np.abs(same - v1).max() < 1e-9
    # both vectors live in the true top eigenspace
    X = np.array([r["embedding"] for r in
                  table(spark, SF_ORACLE, "embeddings").collect()],
                 dtype=np.float64)
    C = np.cov(X, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(C)
    for v in (v1, v2):
        assert np.linalg.norm(evecs[:, -6:].T @ v) > 0.9


def test_bpe_merge_table_invariants(spark):
    rows = QUERIES["bpe_train_merges"](spark, SF_ORACLE).collect()
    assert [r["merge_no"] for r in rows] == list(range(1, 11))
    assert all(r["pair_count"] > 0 for r in rows)
    # round 1 merges two primitive symbols (single chars or the marker)
    assert len(rows[0]["left_sym"]) == 1 and len(rows[0]["right_sym"]) in (1,)
    # merged symbols must be concatenations of earlier-known symbols
    known = set("abcdefghijklmnopqrstuvwxyz_")
    for r in rows:
        assert set(r["left_sym"]) <= known and set(r["right_sym"]) <= known
        known.add(r["left_sym"] + r["right_sym"])


def test_bpe_segment_stats_invariants(spark):
    row = QUERIES["bpe_segment_stats"](spark, SF_ORACLE).collect()[0]
    # 10 merges can only shorten sequences; chars+marker is the ceiling
    assert row["tokens_per_word"] <= row["chars_per_word"]
    assert 0 < row["compression_ratio"] < 1
    # symbol vocab = primitive chars + up to 10 merged symbols
    assert row["vocab_symbols"] <= 27 + 10
    assert row["n_word_types"] >= 25


def test_mann_whitney_matches_pure_python_replay(spark):
    # the rank-sum fold replayed in pure Python over the same rows —
    # midranks, tie correction, and the z-statistic must agree with the
    # distributed per-distinct-value computation exactly (the Holt-test
    # discipline: every new fold gets an independent replay)
    from collections import Counter

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.sources.parquet import table

    row = QUERIES["stats_mann_whitney"](spark, SF_ORACLE).collect()[0]
    vals = (
        table(spark, SF_ORACLE, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    g1 = sorted(r.o_totalprice for r in vals if r.o_orderpriority == "1-URGENT")
    g2 = sorted(r.o_totalprice for r in vals if r.o_orderpriority == "5-LOW")
    n1, n2 = len(g1), len(g2)
    n = n1 + n2
    cnt = Counter(g1 + g2)
    cnt1 = Counter(g1)
    r1 = 0.0
    cum = 0
    ties3 = 0
    for x in sorted(cnt):
        c = cnt[x]
        r1 += cnt1[x] * (cum + (c + 1) / 2.0)
        cum += c
        ties3 += c * c * c - c
    u1 = r1 - n1 * (n1 + 1) / 2.0
    var_u = n1 * n2 / 12.0 * ((n + 1) - ties3 / (n * (n - 1.0)))
    z = round((u1 - n1 * n2 / 2.0) / var_u**0.5, 6)
    assert (row.n1, row.n2) == (n1, n2)
    assert row.u1 == u1  # exact 0.5-grid value, no tolerance needed
    assert abs(row.z_stat - z) < 1e-9, (row.z_stat, z)
    assert row.significant_95 == (abs(z) > 1.96)


def test_sketch_structural_guarantees(spark):
    # CMS: one-sided error (est >= exact, wider is tighter); Bloom:
    # zero false negatives and flagged = members + false positives
    cms = QUERIES["agg_cms_sketch"](spark, SF_ORACLE).collect()
    assert len(cms) == 10
    for r in cms:
        assert r.over_w64 >= 0 and r.over_w2048 >= 0
        assert r.est_w2048 <= r.est_w64  # more buckets never hurts here
    bloom = QUERIES["agg_bloom_filter"](spark, SF_ORACLE).collect()[0]
    assert bloom.n_false_neg == 0
    assert bloom.n_flagged == bloom.n_members + bloom.n_false_pos
    assert 0 < bloom.n_bits_set <= 3 * bloom.n_members
    assert bloom.fpr_measured < 0.05


def test_bfs_layers_consistent_with_components(spark):
    # cross-operator consistency: every BFS-reached node must sit in a
    # connected component that contains at least one hub seed, seeds are
    # exactly the degree>=3 nodes at dist 0, and a neighbor of any
    # reached node is reached within dist+1 (triangle property of hop
    # distance on the shared customer-supplier graph)
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.graph import (
        _BFS_SEED_DEG,
        _CC_MIN_COOCCUR,
        _CC_SUPP_OFFSET,
    )
    from spark_ml_helper_spark.sources.parquet import table

    dist = {
        r.node: r.dist
        for r in QUERIES["graph_bfs_layers"](spark, SF_ORACLE).collect()
    }
    comp = {
        r.node: r.cluster_id
        for r in QUERIES["graph_cc"](spark, SF_ORACLE).collect()
    }
    e0 = (
        table(spark, SF_ORACLE, "orders")
        .join(
            table(spark, SF_ORACLE, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _CC_MIN_COOCCUR)
        .collect()
    )
    edges = [(r.c, r.s + _CC_SUPP_OFFSET) for r in e0]
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    seeds = {n for n, k in deg.items() if k >= _BFS_SEED_DEG}
    assert seeds == {n for n, d in dist.items() if d == 0}
    hub_comps = {comp[s] for s in seeds}
    for n in dist:
        assert comp[n] in hub_comps, n
    for a, b in edges:
        if a in dist and b in dist:
            assert abs(dist[a] - dist[b]) <= 1, (a, b)


def test_l_diversity_consistent_with_k_anonymity(spark):
    # both audits partition customer by the same QI pair, so the class
    # counts must agree and l-diversity can never exceed the class size
    kanon = QUERIES["dq_k_anonymity"](spark, SF_ORACLE).collect()[0]
    ldiv = QUERIES["anon_l_diversity"](spark, SF_ORACLE).collect()[0]
    assert ldiv.n_classes == kanon.n_groups
    # the smallest class has l <= its size, so min-l <= min-size = k
    assert 1 <= ldiv.l_diversity <= kanon.k_anonymity
    assert 0 < ldiv.worst_class_share <= 1.0
    assert ldiv.n_rows_below_3 >= ldiv.n_classes_below_3  # classes are non-empty


def test_kcore_matches_python_peeling(spark):
    # pure-Python peel to fixpoint over the same edge list must yield the
    # identical core, every survivor must have >= k neighbors INSIDE the
    # core (the defining invariant), and core_degree must equal the
    # within-core degree
    from collections import defaultdict

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.graph import (
        _CC_SUPP_OFFSET,
        _KCORE_K,
        _KCORE_MIN_COOCCUR,
    )
    from spark_ml_helper_spark.sources.parquet import table

    got = {
        r.node: r.core_degree
        for r in QUERIES["graph_kcore"](spark, SF_ORACLE).collect()
    }
    e0 = (
        table(spark, SF_ORACLE, "orders")
        .join(
            table(spark, SF_ORACLE, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _KCORE_MIN_COOCCUR)
        .collect()
    )
    adj = defaultdict(set)
    for r in e0:
        adj[r.c].add(r.s + _CC_SUPP_OFFSET)
        adj[r.s + _CC_SUPP_OFFSET].add(r.c)
    alive = set(adj)
    while True:
        dead = {n for n in alive if len(adj[n] & alive) < _KCORE_K}
        if not dead:
            break
        alive -= dead
    assert set(got) == alive
    for n, k in got.items():
        assert k == len(adj[n] & alive) and k >= _KCORE_K, n


def test_hll_manual_accuracy_and_registers(spark):
    # the estimate must sit within 3 sigma (1.04/sqrt(m)) of the exact
    # count carried in the same row, and the register checksum must match
    # a pure-Python replay of the md5 bucket/rank fold
    import hashlib

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.aggregates import _HLL_M
    from spark_ml_helper_spark.sources.parquet import table

    row = QUERIES["agg_hll_manual"](spark, SF_ORACLE).collect()[0]
    sigma = 1.04 / (_HLL_M**0.5)
    assert abs(row.est_hll - row.n_exact) <= 3 * sigma * row.n_exact, row
    keys = [
        r.c_custkey
        for r in table(spark, SF_ORACLE, "customer").select("c_custkey").collect()
    ]
    regs = [0] * _HLL_M
    for hv in {int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) for k in set(keys)}:
        w = hv // _HLL_M
        rank = 25 - len(bin(w)[2:]) if w > 0 else 25
        regs[hv % _HLL_M] = max(regs[hv % _HLL_M], rank)
    assert row.reg_checksum == sum(regs)
    assert row.zero_registers == sum(1 for r in regs if r == 0)


def test_substr_audit_recovers_exact_under_collisions(spark):
    # dedup_substring_audit's second exact pass must recover the EXACT
    # dup-start set no matter how badly the fingerprint collides: inject
    # a deliberately weak fingerprint (gram length mod 3 — engine- and
    # Python-replicable, collides almost everything) through the factored
    # kernel and replay flag+audit in pure Python
    from collections import defaultdict

    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.text import (
        _SUBSTR_K,
        substr_flag_and_audit,
    )

    import numpy as np

    vocab = ["a", "bb", "ccc", "dddd", "e", "ff"]
    rng = np.random.default_rng(7)
    docs = []
    for doc_id in range(8):
        n = int(rng.integers(12, 40))
        docs.append((doc_id, [vocab[int(rng.integers(len(vocab)))] for _ in range(n)]))
    # plant a genuine cross-doc duplicated run (> K tokens) in docs 0/1
    shared = [vocab[i % len(vocab)] for i in range(_SUBSTR_K + 2)]
    docs[0] = (0, docs[0][1] + shared)
    docs[1] = (1, shared + docs[1][1])

    weak = lambda c: F.pmod(F.length(c), F.lit(3))  # noqa: E731
    df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    got = {
        (r.doc_id, r.pos): (r.gram, r.confirmed)
        for r in substr_flag_and_audit(df, fp=weak).collect()
    }

    grams = {}
    by_fp = defaultdict(set)
    by_gram = defaultdict(set)
    for doc_id, toks in docs:
        for i in range(len(toks) - _SUBSTR_K + 1):
            g = " ".join(toks[i : i + _SUBSTR_K])
            grams[(doc_id, i + 1)] = g
            by_fp[len(g) % 3].add(doc_id)
            by_gram[g].add(doc_id)
    flagged = {
        (d, p): g for (d, p), g in grams.items() if len(by_fp[len(g) % 3]) >= 2
    }
    want = {
        (d, p): (g, len(by_gram[g]) >= 2) for (d, p), g in flagged.items()
    }
    assert got == want
    # the weak fp must actually exert collision pressure (over-marks exist)
    overmarked = {k for k, (_, ok) in want.items() if not ok}
    assert overmarked, "weak fingerprint produced no collisions - test is vacuous"
    # and the audit's confirmed set is EXACTLY the true dup-start set
    exact_dup = {(d, p) for (d, p), g in grams.items() if len(by_gram[g]) >= 2}
    confirmed = {k for k, (_, ok) in got.items() if ok}
    assert confirmed == exact_dup


def test_sssp_delta_stepping_matches_bellman_ford(spark):
    # graph_sssp_delta (bucketed delta-stepping) and graph_sssp_weighted
    # (delta-frontier Bellman-Ford) are two engines for the SAME contract
    # - identical distances on the fixture graph, node for node
    bf = {
        (r.node, r.dist)
        for r in QUERIES["graph_sssp_weighted"](spark, SF_ORACLE).collect()
    }
    ds = {
        (r.node, r.dist)
        for r in QUERIES["graph_sssp_delta"](spark, SF_ORACLE).collect()
    }
    assert bf == ds
    assert bf, "fixture graph produced no distances - vacuous comparison"


def test_delta_stepping_reinsertion_semantics(spark):
    # a node settled within the current bucket and THEN improved within the
    # same bucket must be re-relaxed-from (Meyer & Sanders re-insertion),
    # or downstream nodes keep the stale distance. Graph (delta=4, all of
    # dist 0..3 in bucket 0): s->a w=3, s->b w=1, b->a w=1, a->t w=1.
    # Inner round 1 processes s (a=3, b=1); round 2 processes {a@3, b}
    # (t=4, a improves 3->2 and MUST re-enter); round 3 reprocesses a@2
    # (t improves 4->3). Without re-insertion t would end at 4.
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.graph import delta_stepping_fixpoint

    S, A, B, T = 0, 1, 2, 3
    edges = spark.createDataFrame(
        [(S, A, 3), (S, B, 1), (B, A, 1), (A, T, 1)],
        "src long, dst long, w long",
    ).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([(S, 0)], "node long, dist long")
    d, rounds = delta_stepping_fixpoint(edges, seeds, delta=4, max_rounds=32)
    got = {r.node: r.dist for r in d.collect()}
    assert got == {S: 0, B: 1, A: 2, T: 3}, got


def test_delta_stepping_matches_dijkstra_random_graphs(spark):
    # bucketed delta-stepping on random directed weighted graphs (light
    # AND heavy edges under delta=3, multiple sources, unreachable nodes,
    # empty buckets to skip) must equal a pure-Python multi-source
    # Dijkstra, seed for seed
    import heapq
    from collections import defaultdict

    import numpy as np

    from spark_ml_helper_spark.operators.graph import delta_stepping_fixpoint

    for seed in (0, 1, 2, 3):
        rng = np.random.default_rng(seed)
        n = 14
        edges = {
            (int(rng.integers(0, n)), int(rng.integers(0, n)))
            for _ in range(30)
        }
        edges = [
            (u, v, int(rng.integers(1, 10))) for (u, v) in sorted(edges) if u != v
        ]
        sources = sorted({int(rng.integers(0, n)) for _ in range(2)})

        e_df = spark.createDataFrame(edges, "src long, dst long, w long")
        s_df = spark.createDataFrame(
            [(s, 0) for s in sources], "node long, dist long"
        )
        d, _rounds = delta_stepping_fixpoint(
            e_df.localCheckpoint(eager=True), s_df, delta=3, max_rounds=256
        )
        got = {r.node: r.dist for r in d.collect()}

        adj = defaultdict(list)
        for u, v, w in edges:
            adj[u].append((v, w))
        dist = {s: 0 for s in sources}
        heap = [(0, s) for s in sources]
        heapq.heapify(heap)
        while heap:
            du, u = heapq.heappop(heap)
            if du > dist.get(u, float("inf")):
                continue
            for v, w in adj[u]:
                nd = du + w
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(heap, (nd, v))
        assert got == dist, (seed, sorted(got.items()), sorted(dist.items()))


def test_fresh_stats_checkpoint_bounds_estimate_growth(spark):
    # Dataset.localCheckpoint preserves the optimizer's sizeInBytes into
    # the LogicalRDD, and join estimates MULTIPLY - a frame joined back
    # into itself grows the estimate's digit count geometrically until
    # the driver grinds in BigInteger math (the round-11 Boruvka find).
    # fresh_stats_checkpoint must keep the digits bounded.
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators.graph import fresh_stats_checkpoint

    def digits(df):
        return len(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )

    base = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))

    plain = base.localCheckpoint(eager=True)
    for _ in range(7):
        plain = (
            plain.join(
                plain.select(F.col("k"), F.col("v").alias("v2")), "k"
            )
            .select("k", F.least("v", "v2").alias("v"))
            .localCheckpoint(eager=True)
        )
    grown = digits(plain)

    fresh = fresh_stats_checkpoint(base)
    for _ in range(7):
        fresh = fresh_stats_checkpoint(
            fresh.join(
                fresh.select(F.col("k"), F.col("v").alias("v2")), "k"
            ).select("k", F.least("v", "v2").alias("v"))
        )
    bounded = digits(fresh)

    # the plain chain compounds geometrically (x2 self-reference per
    # round); the fresh chain stays pinned near the engine default
    assert grown > bounded + 30, (grown, bounded)
    assert bounded < 25, bounded
    # and the data itself is identical
    assert sorted(r.k for r in fresh.collect()) == list(range(10))


def test_fresh_stats_checkpoint_fallback_without_internal_api(spark, monkeypatch):
    # Verdict r15 item 3: fresh_stats_checkpoint's fast path is the
    # tree's only private[sql] dependency. A Spark upgrade that drops
    # SparkSession.internalCreateDataFrame must NOT strand the
    # Borůvka/min-label fixpoints — the public-API fallback
    # (createDataFrame over the checkpointed RDD) must deliver the same
    # two properties: bounded stats digits under self-referential join
    # compounding, and identical data. Force the fallback branch by
    # monkeypatching the capability probe.
    from pyspark.sql import functions as F

    from spark_ml_helper_spark.operators import graph as G

    monkeypatch.setattr(G, "_has_internal_create", lambda jss: False)

    def digits(df):
        return len(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )

    base = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    fresh = G.fresh_stats_checkpoint(base)
    for _ in range(7):
        fresh = G.fresh_stats_checkpoint(
            fresh.join(
                fresh.select(F.col("k"), F.col("v").alias("v2")), "k"
            ).select("k", F.least("v", "v2").alias("v"))
        )
    assert digits(fresh) < 25, digits(fresh)
    assert sorted(r.k for r in fresh.collect()) == list(range(10))


def test_shuffle_ledger_parsers():
    # tools/shuffle_ledger: the three SQLMetrics string forms — plain
    # count with separators, simple size, and the multi-line
    # "total (min, med, max)" statistical form.
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.shuffle_ledger import parse_count, parse_size

    assert parse_size("4.6 KiB") == 4.6 * 1024
    assert parse_size("0.0 B") == 0.0
    assert parse_size(
        "total (min, med, max (stageId: taskId))\n"
        "1024.0 KiB (256.0 KiB, 256.0 KiB, 256.0 KiB (stage 0.0: task 2))"
    ) == 1024.0 * 1024
    assert parse_size("not a size") is None
    assert parse_count("1,234") == 1234
    assert parse_count(
        "total (min, med, max (stageId: taskId))\n803 ms (200 ms, …)"
    ) == 803


def test_shuffle_ledger_reads_real_metrics(spark):
    # End-to-end: the status-store extraction must see agg_group's
    # executed plan and report the map-side-combine shape — a shuffle
    # orders of magnitude smaller than the scan (the exchange carries
    # group cardinality, not input rows) and zero spill. Volumes are
    # plan+data properties: stable across box temperature, unlike walls.
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.shuffle_ledger import collect_execution_metrics, execution_window

    from spark_ml_helper_spark.registry import REGISTRY

    store, after_id = execution_window(spark, REGISTRY["agg_group"].fn, SF_SMOKE)
    rec = collect_execution_metrics(store, after_id)
    assert rec["n_execs"] >= 1
    assert rec["shuffle_write_bytes"] > 0
    assert rec["scan_bytes"] > 0
    # partial aggregation: shuffled bytes ≪ scanned bytes (measured
    # ~5 KB vs ~5 MB at sf0.01; the margin here is deliberately loose)
    assert rec["shuffle_write_bytes"] < rec["scan_bytes"] / 10, rec
    assert rec["spill_bytes"] == 0.0, rec
    assert rec["max_node_rows"] >= rec["shuffle_records"] > 0


def test_window_volume_measures_bounded_claims(spark):
    # The two strongest global_window declarations, verified at RUNTIME from the
    # executed plan's per-node metrics (not from docstrings): ml_pca's
    # global windows each see exactly k=8 rows regardless of input
    # size, and win_pareto_frontier's window input is customer-group
    # cardinality, not the orders stream it is computed from.
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.shuffle_ledger import execution_window
    from tools.window_volume_report import window_input_rows

    from spark_ml_helper_spark.registry import REGISTRY
    from spark_ml_helper_spark.sources.parquet import table

    def measure(name):
        return window_input_rows(*execution_window(spark, REGISTRY[name].fn, SF_ORACLE))

    pca = measure("ml_pca")
    assert pca and all(r == 8 for _, _, r in pca), pca
    n_cust = table(spark, SF_ORACLE, "customer").count()
    pareto = measure("win_pareto_frontier")
    assert pareto and all(
        r is not None and r <= n_cust for _, _, r in pareto
    ), (pareto, n_cust)


def test_bnlj_build_side_is_tiny_at_runtime(spark):
    # The bnlj declarations' claim ("broadcast of a constant-size
    # stat/spine frame") measured from the executed plan: the
    # BroadcastExchange actually feeding the nested-loop join carries
    # single-digit rows. Two representative sites; the full-registry
    # sweep (tools/bnlj_volume_report) records the registry-wide max.
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.bnlj_volume_report import bnlj_build_rows
    from tools.shuffle_ledger import execution_window

    from spark_ml_helper_spark.registry import REGISTRY

    for name in ("agg_ratio_to_report", "class_balance"):
        joins = bnlj_build_rows(*execution_window(spark, REGISTRY[name].fn, SF_ORACLE))
        assert joins, f"{name} no longer plans a BNLJ — update this test"
        for _, r in joins:
            assert r is not None and r <= 8, (name, joins)


# ---------------------------------------------------------------------------
# README worked examples — executed, not just proofread (VERDICT r16 item 4).
# Extracts every `python -m tools.run_query ...` / `smh-run ...` invocation
# from README.md plus each per-family table's `Try` name, and executes them
# at sf0.001 through the real CLI entry point (spark_ml_helper_spark.cli),
# so a renamed query or dropped flag rots the docs loudly. Names + flags
# only — output text is not asserted (the oracle gate owns values).


def _readme_example_invocations():
    import re
    import shlex

    readme = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "README.md")
    with open(readme, encoding="utf-8") as fh:
        text = fh.read()
    seen, cases = set(), []

    def add(argv):
        key = tuple(argv)
        if key not in seen:
            seen.add(key)
            cases.append(argv)

    for line in text.splitlines():
        code = line.split("  #", 1)[0].strip()
        m = re.match(r"(?:python -m tools\.run_query|smh-run)\s+(\S.*)$", code)
        if m:
            add(shlex.split(m.group(1)))
    # the "One representative query per family" table: | family | `name` | … |
    sec = re.search(r"One representative query per family.*?(?=\n## )", text, re.S)
    if sec:
        for m in re.finditer(r"^\|[^|`]+\|\s*`([a-z0-9_]+)`\s*\|", sec.group(0), re.M):
            add([m.group(1), "--show", "3"])
    assert len(cases) >= 20, f"README example extraction broke: only {cases}"
    return cases


@pytest.mark.parametrize(
    "argv", _readme_example_invocations(), ids=lambda a: " ".join(a)[:60]
)
def test_readme_examples_execute(spark, tmp_path, argv):
    from spark_ml_helper_spark.cli import main

    argv = list(argv)
    if "--out" in argv:  # redirect the doc's illustrative /tmp path
        argv[argv.index("--out") + 1] = str(tmp_path / "out")
    if "--list" not in argv:  # pin docs-scale runs to the smoke fixture
        argv += ["--sf-dir", SF_SMOKE]
    main(argv)
