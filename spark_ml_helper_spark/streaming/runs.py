"""True Structured Streaming runs — SURVEY.md §2.H.

Each operator here actually executes a streaming query: file-source stream
over the events parquet → transformation under test → memory sink, with
Trigger.AvailableNow so the run is bounded.

Oracle status: every run here carries a full SQL oracle. Round 7 flipped
the boundary-independent ones (complete-mode aggregations re-emit the whole
result each batch; the stream-stream inner join buffers both fully-present
sides before any watermark eviction can drop a row). Round 15 flipped the
REST by proving the append/update-mode emission sets are ALSO
batch-boundary-independent on a bounded stream: the watermark is a
monotone function of data only (floor-to-millisecond max event time minus
the delay — EventTimeStatsAccum collects max in ms), emission in batch k
is "state with end ≤ watermark_k", so the union over all batches is
"end ≤ final watermark" no matter where the planner cut the batches, and
Trigger.AvailableNow runs a final no-data micro-batch
(spark.sql.streaming.noDataMicroBatches.enabled, default true) that
advances the watermark over the WHOLE input and flushes every finalized
window/session/expired-outer row. Update-mode folds over a single-batch
source equal the batch aggregate outright. The one arrival-order-defined
output (which duplicate survives dropDuplicatesWithinWatermark) is
projected away — see stream_run_dedup. Verified empirically at three SFs:
repeated runs are bit-identical and hash-match the oracles below.

Scale design: identical code runs against kafka/file sources on a cluster —
watermark + windowed state keeps state bounded regardless of stream length;
the state store shuffles by grouping key exactly like a batch groupBy.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from spark_ml_helper_spark.registry import query
from spark_ml_helper_spark.session import staging_dir
from spark_ml_helper_spark.sources.parquet import SCHEMAS, table
from spark_ml_helper_spark.streaming.batch_equiv import (
    SESSION_ORACLE,
    SLIDING_ORACLE,
    STATIC_JOIN_ORACLE,
    TUMBLING_ORACLE,
)

_MULTIFILE_CACHE: dict[str, str] = {}

# Spark's watermark is floor-to-millisecond(max event time) − delay
# (EventTimeStatsAccum tracks max in ms); append-mode state flushes when
# window/session end ≤ watermark. The round-15 flips reuse this fragment so
# every oracle encodes the exact same threshold the engine evicts against.
_WM_MS = "date_trunc('milliseconds', (SELECT max(ts) FROM events))"

WATERMARK_APPEND_ORACLE = f"""
    SELECT w_start, n FROM (
        SELECT date_trunc('hour', ts) AS w_start, count(*) AS n
        FROM events GROUP BY 1
    ) w
    WHERE w.w_start + INTERVAL '1 hour' <= {_WM_MS} - INTERVAL '30 minutes'
"""

FILE_SINK_ORACLE = f"""
    SELECT w_start, event_type, n, sum_value FROM (
        SELECT date_trunc('hour', ts) AS w_start, event_type,
               count(*) AS n, round(sum(value), 6) AS sum_value
        FROM events GROUP BY 1, 2
    ) w
    WHERE w.w_start + INTERVAL '1 hour' <= {_WM_MS} - INTERVAL '1 hour'
"""

EXACTLY_ONCE_ORACLE = f"""
    SELECT w_start, event_type, n FROM (
        SELECT date_trunc('hour', ts) AS w_start, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ) w
    WHERE w.w_start + INTERVAL '1 hour' <= {_WM_MS} - INTERVAL '1 hour'
"""

ROCKSDB_APPEND_ORACLE = f"""
    SELECT w_start, event_type, n, sum_v FROM (
        SELECT date_trunc('hour', ts) AS w_start, event_type,
               count(*) AS n, round(sum(value), 6) AS sum_v
        FROM events GROUP BY 1, 2
    ) w
    WHERE w.w_start + INTERVAL '1 hour' <= {_WM_MS} - INTERVAL '30 minutes'
"""

STATEFUL_TOTALS_ORACLE = """
    SELECT user_id, round(sum(value), 6) AS total_v, count(*) AS n_events
    FROM events GROUP BY 1
"""

SESSION_APPEND_ORACLE = f"""
    SELECT * FROM ({{session}}) s
    WHERE s.s_end <= {_WM_MS} - INTERVAL '30 minutes'
""".format(session=SESSION_ORACLE)

# Null-expiry threshold is STRICT `<` — deliberately different from the
# `<=` every windowed/session oracle uses, because the engine's two
# eviction predicates genuinely differ at the boundary: aggregation state
# flushes on window.end <= watermark (WatermarkSupport's LessThanOrEqual),
# but a buffered outer-join row whose match-window end EQUALS the
# watermark is kept — a purchase with b_ts == wm is not yet provably late,
# so the view cannot null-expire. Measured, not assumed:
# tools/probe_stream_expiry_boundary.py constructs both boundary cases
# (end == wm at ms precision) and observes 1 join null row (strict) vs 2
# agg windows (<=); pinned by tests test_stream_expiry_boundary_*.
# The wm CTE yields ZERO rows when either side is empty: DuckDB's least()
# would ignore a NULL max and keep expiring off the non-empty side, but
# Spark's global watermark is the MIN over both sides' source watermarks
# and never advances past 0 while one side has no data — so the oracle
# must emit no null rows at all in that case (ADVICE r15).
STREAM_JOIN_OUTER_ORACLE = """
    WITH v AS (
        SELECT user_id AS v_user, event_id AS v_id, ts AS v_ts
        FROM events WHERE event_type = 'view'
    ), b AS (
        SELECT user_id AS b_user, ts AS b_ts, value AS b_value
        FROM events WHERE event_type = 'purchase'
    ), pairs AS (
        SELECT v.v_user, v.v_id, v.v_ts, b.b_ts, round(b.b_value, 6) AS b_value
        FROM v JOIN b ON v.v_user = b.b_user
         AND b.b_ts >= v.v_ts AND b.b_ts <= v.v_ts + INTERVAL '1 hour'
    ), maxima AS (
        SELECT date_trunc('milliseconds', (SELECT max(v_ts) FROM v)) AS max_v,
               date_trunc('milliseconds', (SELECT max(b_ts) FROM b)) AS max_b
    ), wm AS (
        SELECT least(max_v, max_b) - INTERVAL '30 minutes' AS w
        FROM maxima WHERE max_v IS NOT NULL AND max_b IS NOT NULL
    )
    SELECT * FROM pairs
    UNION ALL
    SELECT v.v_user, v.v_id, v.v_ts,
           CAST(NULL AS TIMESTAMP) AS b_ts, CAST(NULL AS DOUBLE) AS b_value
    FROM v, wm
    WHERE v.v_ts + INTERVAL '1 hour' < wm.w
      AND v.v_id NOT IN (SELECT v_id FROM pairs)
"""


def _events_stream(spark, sf_dir, path=None, max_files_per_trigger=None):
    """events as a file-source stream. The file source requires a
    *directory*, so events is staged once per sf_dir into a temp dir of
    time-ranged files (which also gives watermark runs real multi-batch
    behavior). maxFilesPerTrigger is a *source* option — it must be set on
    readStream (setting it on writeStream is silently ignored)."""
    path = path or _multifile_events(spark, sf_dir)
    reader = spark.readStream.schema(SCHEMAS["events"])
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _run(df, mode="complete", require_single_input_batch=False):
    """Execute to a memory sink under AvailableNow; return the result table.

    ``require_single_input_batch`` asserts the run consumed ALL input in
    ONE data micro-batch (plus watermark-only no-data batches). The
    dedup/stateful update-mode oracles are correct ONLY under that premise
    (their docstrings prove single-batch == batch GROUP BY / DISTINCT);
    before r16 the premise lived in docstrings alone, so an edit adding
    maxFilesPerTrigger to their source would surface only as a driver-gate
    hash fail. Now it fails HERE, in pytest (ADVICE r15)."""
    name = "m" + uuid.uuid4().hex[:12]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if require_single_input_batch:
        _assert_single_input_batch(q.recentProgress)
    return df.sparkSession.table(name)


def _assert_single_input_batch(progress):
    """Assert a finished run's progress shows EXACTLY one data micro-batch.

    ``recentProgress`` retains only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` entries (default 100),
    so a >100-batch run could rotate its data batches out of the window and
    the old count-based check would silently pass (ADVICE r16). Guard: the
    retained history must start at batchId 0 — i.e. be COMPLETE — before
    the count means anything; a truncated window fails loudly as
    unverifiable (and a run long enough to truncate has certainly taken
    more than one data batch anyway)."""
    if not progress or progress[0].batchId != 0:
        first = progress[0].batchId if progress else None
        raise AssertionError(
            "single-micro-batch oracle premise UNVERIFIABLE: progress history "
            f"is truncated (earliest retained batchId={first!r}, expected 0; "
            "numRecentProgressUpdates window overflowed). A run with that many "
            "micro-batches cannot have consumed the bounded source whole."
        )
    data_batches = [p for p in progress if p.numInputRows > 0]
    if len(data_batches) > 1:
        raise AssertionError(
            f"single-micro-batch oracle premise violated: {len(data_batches)} "
            "data micro-batches consumed input (expected 1). This query's "
            "update/append-mode oracle equals the batch aggregate only when "
            "the bounded source is taken whole — do not set "
            "maxFilesPerTrigger on its _events_stream."
        )


def _multifile_events(spark, sf_dir, n_files=8):
    """Rewrite events as n time-ranged files so maxFilesPerTrigger yields a
    multi-batch stream (lets the watermark actually advance mid-run).

    Staging is fully DETERMINISTIC across processes: buckets come from a
    tiebroken ntile (not repartitionByRange, whose boundary sampling and
    parallel-write mtimes vary per process and silently reshuffle the
    FileStreamSource's mtime-then-path listing order — measured as
    run-to-run row-count drift in the append-mode session/outer-join
    runs), each bucket lands as one explicitly-named file, and mtimes are
    set strictly increasing in time order. The global ntile window is
    staging-only test-scale shaping, not a production path."""
    if sf_dir in _MULTIFILE_CACHE:
        return _MULTIFILE_CACHE[sf_dir]
    import shutil

    from pyspark.sql import Window

    out = os.path.join(staging_dir(prefix="smhs_stream_"), "events_files")
    os.makedirs(out, exist_ok=True)
    ev = table(spark, sf_dir, "events")  # ts already normalized
    b = ev.withColumn(
        "_b", F.ntile(n_files).over(Window.orderBy("ts", "event_id"))
    ).localCheckpoint()
    base = 1_600_000_000
    for k in range(1, n_files + 1):
        tmp = os.path.join(out, f"_tmp{k}")
        b.filter(F.col("_b") == k).drop("_b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet"))
        dst = os.path.join(out, f"{k:02d}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (base + k, base + k))
    _MULTIFILE_CACHE[sf_dir] = out
    return out


@query("stream_run_tumbling", oracle=TUMBLING_ORACLE, family="streaming")
def stream_run_tumbling(spark, sf_dir):
    """Streaming 1h tumbling count/sum per event_type (complete mode).
    Same program as stream_tumbling's batch twin — and since round 7 the
    SAME SQL ORACLE: complete mode re-emits the full aggregate each
    micro-batch, so the final memory table is batch-boundary-independent
    and hash-comparable."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_v"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_v")
    )
    return _run(agg, "complete")


@query("stream_run_session", oracle=SESSION_ORACLE, family="streaming")
def stream_run_session(spark, sf_dir):
    """Streaming 10-min-gap session windows per user (complete mode) —
    exercises the merging-session state store."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("s_start"), F.col("w.end").alias("s_end"), "n")
    )
    return _run(agg, "complete")


@query(
    "stream_run_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    family="streaming",
)
def stream_run_dedup(spark, sf_dir):
    """Streaming stateful dedup within a watermark: the first (user_id,
    event_type) occurrence survives; dedup state is dropped once the
    watermark passes (bounded state — THE requirement for infinite
    streams).

    Round-15 flip: the operator's GUARANTEE is the surviving key set —
    exactly one row per key while its state lives inside the watermark —
    and on this bounded single-batch source (no maxFilesPerTrigger → the
    file source takes all staged files in one micro-batch, and the
    watermark starts at 0 so no state is evicted mid-batch) that set is
    exactly DISTINCT(user_id, event_type). The surviving row's PAYLOAD
    (its ts) is arrival-order-defined, not a data property — measured at
    sf0.001: 11/75 survivors carry a ts from a later staged file than the
    key's earliest, i.e. task completion order picked the winner — so the
    output projects to the key columns and the entry is hash-gated on the
    guarantee instead of rows-only on the accident.

    MEASURED state decade (SCALE.md round-6 table, probe
    ``git show a87ea52:tools/scale_probe_stream.py``; fixed 1.2M-event
    stream, key cardinality 5k→50k→500k): peak state rows equal live-key cardinality EXACTLY at every decade, batch
    wall stays flat (3.3→3.1 s HDFS at 100× keys — input-bound once
    state fits), and RocksDB holds the same rows in 0.6/4.1/31.5 MB vs
    HDFSBacked's 1.6/23.8/235.3 MB (3–7× smaller, compressed off-heap
    SSTs). The 100 TB knobs: `spark.sql.streaming.stateStore
    .providerClass` → RocksDB once keys × row-width outgrows executor
    heap, and the watermark horizon — state ∝ keys live inside it."""
    # withWatermark requires tz-aware TimestampType; session tz is pinned
    # to UTC so the cast is identity on the stored instant.
    e = _events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", "1 hour"
    )
    dedup = e.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    return _run(dedup, "append", require_single_input_batch=True).select(
        "user_id", "event_type"
    )


@query("stream_run_watermark", oracle=WATERMARK_APPEND_ORACLE, family="streaming")
def stream_run_watermark(spark, sf_dir):
    """Watermarked windowed aggregation in APPEND mode over a multi-batch
    file stream: windows emit only once the 30-min watermark passes their
    end — the late-data/finality contract. Bounded state.

    Round-15 flip: batch boundaries decide WHEN a window emits, never
    WHETHER — the watermark is monotone in data only, batch k flushes
    windows with end ≤ watermark_k, and AvailableNow's final no-data
    micro-batch advances the watermark over the whole input — so the
    union of all emissions is exactly "window end ≤ floor_ms(max ts) −
    30 min", which is what the oracle computes.

    MEASURED state decade (SCALE.md round-6 table, probe
    ``git show a87ea52:tools/scale_probe_stream.py``): state rows are
    keys × windows-inside-the-watermark — 35k/350k/667k at 5k/50k/500k keys over a fixed 1.2M-event stream
    (the 100× decade saturates because the INPUT can't populate every
    (window, key) pair — the store isn't the bound), with rows_removed
    showing the watermark expiring state mid-run at every scale. Batch
    wall is input-bound (6.5→4.2 s HDFS at 100× keys); RocksDB carries
    the same state in ~3× fewer resident bytes (112.5 vs 316.1 MB at
    100×) — the `stateStore.providerClass` dial for the decade where
    heap-resident state dies."""
    # 2 files/trigger over the 8 staged files = 4 micro-batches: enough to
    # advance the watermark mid-run (the point of this query) at half the
    # per-batch state-store overhead of single-file triggers.
    e = _events_stream(spark, sf_dir, max_files_per_trigger=2)
    agg = (
        e.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    name = "m" + uuid.uuid4().hex[:12]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@query("stream_watermark", oracle=WATERMARK_APPEND_ORACLE, family="streaming")
def stream_watermark(spark, sf_dir):
    """SURVEY §2.H `stream_watermark` — the late-data drop policy: a
    30-min watermark ahead of a windowed agg in append mode, so a window
    emits exactly once, when the watermark passes its end, and events
    arriving later than 30 min behind max(ts) are dropped from state.
    Delegates to stream_run_watermark (same program, same round-15
    boundary-independence oracle); registered under the survey name so
    the §2 inventory maps 1:1 to queries()."""
    return stream_run_watermark(spark, sf_dir)


@query("stream_run_stateful", oracle=STATEFUL_TOTALS_ORACLE, family="streaming")
def stream_run_stateful(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState: per-user
    running total + event count carried in explicit state across
    micro-batches (the arbitrary-state API — what you reach for when
    windows/dedup can't express the state machine).

    Round-15 flip: update mode emits one row per (key, batch the key
    appeared in); with the bounded source taken in a single micro-batch
    (no maxFilesPerTrigger) that is exactly one FINAL row per user —
    the batch GROUP BY — so the run is hash-gated against it.
    Cross-batch state carry is exercised by the multi-batch runs below
    and was measured by the state-store decade in SCALE.md.

    State is one (double, bigint) row per live user — ∝ keys, not
    stream length, the same shape the round-6 state-store decade
    measured for the built-in stateful ops (SCALE.md: state rows track
    key cardinality exactly 5k→500k while batch wall stays input-bound);
    at the decade where keys × row-width outgrows executor heap the
    RocksDB provider (`spark.sql.streaming.stateStore.providerClass`)
    carries the same rows in 3–7× fewer resident bytes, and
    GroupStateTimeout (here NoTimeout for the bounded fixture) is the
    knob that expires dead keys on a real unbounded stream.

    Rounding path (ADVICE r15): the fold emits the RAW float total and
    F.round is applied on the output DataFrame — Spark HALF_UP, the same
    engine rounding every other oracled entry hashes through — instead of
    Python round() inside the fold (banker's half-even, which disagrees
    with DuckDB's half-away round for totals within ~1 ulp of a 6th-
    decimal boundary)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdf_iter, state: GroupState):
        if state.exists:
            total, n = state.get
        else:
            total, n = 0.0, 0
        for pdf in pdf_iter:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame({"user_id": [key[0]], "total_v": [total], "n_events": [n]})

    e = _events_stream(spark, sf_dir).select("user_id", "value")
    out = e.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id bigint, total_v double, n_events bigint",
        stateStructType="total_v double, n_events bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run(out, "update", require_single_input_batch=True).select(
        "user_id", F.round("total_v", 6).alias("total_v"), "n_events"
    )


@query("stream_run_transform_state", oracle=STATEFUL_TOTALS_ORACLE, family="streaming")
def stream_run_transform_state(spark, sf_dir):
    """Per-user running totals via transformWithStateInPandas — Spark 4's
    arbitrary-state API (successor to applyInPandasWithState): explicit
    typed ValueState owned by a StatefulProcessor, RocksDB-backed state
    store, update output mode. Same semantics as stream_run_stateful; the
    two entries exercise both generations of the stateful API, and both
    carry the same round-15 single-batch GROUP BY oracle (the fallback
    path computes the identical state machine, so the hash gate holds on
    either branch).

    Environment gate: the TWS Python state-server protocol speaks
    protobuf; this container ships a broken google.protobuf (no
    `descriptor` module), which crashes the TWS driver worker. When that
    import fails we fall back to the applyInPandasWithState form of the
    SAME state machine so the query stays runnable; on a real cluster the
    TWS path executes as written."""
    import pandas as pd

    try:
        from google.protobuf import descriptor  # noqa: F401 — TWS wire format
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )
    except ImportError:
        return _stateful_fallback(spark, sf_dir)

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "total_v double, n_events bigint")

        def handleInputRows(self, key, rows, timerValues):
            total, n = (0.0, 0) if not self._state.exists() else self._state.get()
            for pdf in rows:
                total += float(pdf["value"].sum())
                n += len(pdf)
            self._state.update((total, n))
            # raw total out; F.round on the DataFrame (see stream_run_stateful)
            yield pd.DataFrame(
                {"user_id": [key[0]], "total_v": [total], "n_events": [n]}
            )

        def close(self) -> None:
            pass

    # transformWithState requires the RocksDB state store provider; scope
    # the conf to this run (file-stream runs above use the default HDFS-
    # backed store and are unaffected by it, so leaving it set is safe,
    # but restore anyway to keep runs order-independent).
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        e = _events_stream(spark, sf_dir).select("user_id", "value")
        out = e.groupBy("user_id").transformWithStateInPandas(
            RunningTotals(),
            outputStructType="user_id bigint, total_v double, n_events bigint",
            outputMode="update",
            timeMode="none",
        )
        return _run(out, "update", require_single_input_batch=True).select(
            "user_id", F.round("total_v", 6).alias("total_v"), "n_events"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def _stateful_fallback(spark, sf_dir):
    """applyInPandasWithState twin of stream_run_transform_state's state
    machine (used only when the TWS protobuf dependency is unavailable)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdf_iter, state: GroupState):
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdf_iter:
            total += float(pdf["value"].sum())
            n += len(pdf)
        state.update((total, n))
        yield pd.DataFrame({"user_id": [key[0]], "total_v": [total], "n_events": [n]})

    e = _events_stream(spark, sf_dir).select("user_id", "value")
    out = e.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id bigint, total_v double, n_events bigint",
        stateStructType="total_v double, n_events bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run(out, "update", require_single_input_batch=True).select(
        "user_id", F.round("total_v", 6).alias("total_v"), "n_events"
    )


@query("stream_run_static_join", oracle=STATIC_JOIN_ORACLE, family="streaming")
def stream_run_static_join(spark, sf_dir):
    """Stream⋈static-dim join + aggregation under the streaming engine
    (static side broadcast per micro-batch)."""
    e = _events_stream(spark, sf_dir)
    c = table(spark, sf_dir, "customer")
    agg = (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_v"))
    )
    return _run(agg, "complete")


@query("stream_run_file_sink", oracle=FILE_SINK_ORACLE, family="streaming")
def stream_run_file_sink(spark, sf_dir):
    """End-to-end streaming ETL shape: file-source stream → windowed agg →
    PARQUET file sink with a checkpoint dir (exactly-once via checkpoint +
    sink manifest), Trigger.AvailableNow. This is the production
    batch-as-a-stream backfill pattern; the memory-sink runs above test
    semantics, this one tests the durable-sink path. Returns the re-read
    sink output. Round-15 flip: the committed file set is exactly the
    finalized windows — end ≤ floor_ms(max ts) − 1 h (the 1-hour
    watermark), batch-boundary-independent — so the durable sink is
    hash-gated end to end."""
    base = staging_dir(prefix="smhs_fsink_")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    ev = _events_stream(spark, sf_dir)
    # withWatermark requires tz-aware TimestampType; session tz is pinned
    # to UTC so the cast is identity on the stored instant.
    agg = (
        ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


@query(
    "stream_run_stream_join",
    oracle="""
        SELECT v.user_id AS v_user, v.event_id AS v_id, v.ts AS v_ts,
               b.ts AS b_ts, round(b.value, 6) AS b_value
        FROM events v JOIN events b
          ON v.user_id = b.user_id
         AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL '1 hour'
        WHERE v.event_type = 'view' AND b.event_type = 'purchase'
    """,
    family="streaming",
)
def stream_run_stream_join(spark, sf_dir):
    """Stream-stream inner join with watermarks on BOTH sides: each user's
    'view' events join their 'purchase' events within the following hour
    — the funnel/attribution join. Both sides buffer in the state store;
    the time-range condition plus watermarks bound how long a buffered row
    can wait for a match, which is what makes the state finite on an
    infinite stream (without them Spark rejects the join in append mode)."""
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").cast("timestamp").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "30 minutes")
    )
    buys = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts").cast("timestamp").alias("b_ts"),
            F.col("value").alias("b_value"),
        )
        .withWatermark("b_ts", "30 minutes")
    )
    joined = views.join(
        buys,
        (F.col("v_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("v_ts"))
        & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("v_user", "v_id", "v_ts", "b_ts", F.round("b_value", 6).alias("b_value"))
    # state-store instances scale with shuffle partitions × 2 join sides;
    # at local fixture volume that fixed cost dominates — run the join at
    # 8 partitions (a cluster run sizes this to data volume instead)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _run(joined, "append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@query(
    "stream_run_foreach_batch",
    oracle="""
        SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_v
        FROM events GROUP BY 1
    """,
    family="streaming",
)
def stream_run_foreach_batch(spark, sf_dir):
    """foreachBatch sink: each micro-batch is handed to arbitrary batch
    code — here an idempotent partitioned-parquet upsert keyed by batch id,
    the standard escape hatch for sinks Structured Streaming lacks (JDBC
    merges, multi-table writes). Exactly-once comes from checkpoint +
    idempotent-by-batch-id writes, the documented contract."""
    base = staging_dir(prefix="smhs_feb_")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    e = _events_stream(spark, sf_dir, max_files_per_trigger=4)
    agg = e.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_v")
    )

    def upsert(batch_df, batch_id: int):
        # idempotent: a replayed batch overwrites its own partition
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(out)

    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = spark.read.parquet(out)
    last_id = latest.agg(F.max("batch_id")).collect()[0][0]
    return latest.filter(F.col("batch_id") == last_id).drop("batch_id")


@query("stream_run_sliding", oracle=SLIDING_ORACLE, family="streaming")
def stream_run_sliding(spark, sf_dir):
    """Streaming 1h windows sliding every 15 min per event_type (complete
    mode): each event updates 4 overlapping windows, so the state store
    carries 4x the tumbling key space — the canonical smoothed-rate
    query. Same program as stream_sliding's batch twin, which the test
    suite asserts it matches exactly."""
    e = _events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )
    return _run(agg, "complete")


@query("stream_run_exactly_once", oracle=EXACTLY_ONCE_ORACLE, family="streaming")
def stream_run_exactly_once(spark, sf_dir):
    """Exactly-once replay protection: the SAME bounded file stream is
    executed TWICE against one checkpoint directory into one parquet
    sink. The second run's source offset log shows all files already
    committed, so it processes zero new data and the sink is NOT
    double-appended — re-running a failed/duplicate job is safe. The
    returned frame is the sink after both runs; round-15 flip: a
    double-append (or any finality drift) would double counts or add
    windows, so the hash gate against the single-run finalized-window
    oracle IS the exactly-once assertion."""
    base = staging_dir(prefix="smhs_eo_")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

    def run_once():
        ev = _events_stream(spark, sf_dir)
        agg = (
            ev.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("w_start"), "event_type", "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    run_once()  # replay: must be a no-op against the same checkpoint
    return spark.read.parquet(out)


@query("stream_run_stream_join_outer", oracle=STREAM_JOIN_OUTER_ORACLE, family="streaming")
def stream_run_stream_join_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER join with watermarks on both sides — the
    semantics the inner join (stream_run_stream_join) cannot show: a
    'view' with no 'purchase' inside its one-hour window must still
    emit, with nulls, but ONLY once the watermark passes the end of
    its match window (before that, a matching purchase could still
    arrive — emitting early would be wrong, so the row waits in the
    state store). The run feeds the time-ranged event files two per
    micro-batch so the watermark genuinely advances mid-stream and
    null-expiry fires; unmatched rows younger than the FINAL watermark
    are still buffered when the bounded stream ends and are correctly
    NOT emitted. Round-15 flip: that makes the emitted set an exact
    data function — all matched pairs (watermark eviction never drops
    a row that could still match, the engine's correctness guarantee)
    plus null rows for unmatched views whose match window provably
    closed, v_ts + 1 h < min(floor_ms(max view ts), floor_ms(max
    purchase ts)) − 30 min (the global watermark is the min over both
    sides' per-source watermarks) — which the oracle reproduces. State
    size is bounded by watermark horizon × arrival rate per key, same
    as the inner form; at 100 TB the RocksDB state store holds the
    window."""
    views = (
        _events_stream(spark, sf_dir, max_files_per_trigger=2)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").cast("timestamp").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "30 minutes")
    )
    buys = (
        _events_stream(spark, sf_dir, max_files_per_trigger=2)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts").cast("timestamp").alias("b_ts"),
            F.col("value").alias("b_value"),
        )
        .withWatermark("b_ts", "30 minutes")
    )
    joined = views.join(
        buys,
        (F.col("v_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("v_ts"))
        & (F.col("b_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        "v_user", "v_id", "v_ts", "b_ts", F.round("b_value", 6).alias("b_value")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _run(joined, "append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@query("stream_run_session_append", oracle=SESSION_APPEND_ORACLE, family="streaming")
def stream_run_session_append(spark, sf_dir):
    """Session windows in APPEND mode — the production form
    stream_run_session (complete mode) cannot show: a session row
    emits EXACTLY ONCE, and only after the watermark passes its end
    (i.e. the gap has provably closed — no later event can extend the
    session anymore). Until then the merging-session state store
    keeps it open and emits nothing. The run feeds the time-ranged
    files two per micro-batch so the watermark advances and sessions
    genuinely close mid-stream; sessions still open when the bounded
    stream ends stay in state and are correctly not emitted. Round-15
    flip: the emitted set is exactly the sessions with end ≤
    floor_ms(max ts) − 30 min — boundary-independent — so the oracle is
    the complete-mode islands SQL filtered by that watermark (the test
    additionally asserts the prefix-in-time-subset relation to the
    complete-mode run). This emit-once-on-close contract is what
    lets a downstream sink treat each session row as final —
    complete mode re-emits the whole table every batch and cannot.
    State per key is one open session row; the watermark horizon
    bounds it exactly as in the windowed aggs."""
    e = (
        _events_stream(spark, sf_dir, max_files_per_trigger=2)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 minutes")
    )
    agg = (
        e.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n",
        )
    )
    return _run(agg, "append")


@query("stream_run_rocksdb", oracle=ROCKSDB_APPEND_ORACLE, family="streaming")
def stream_run_rocksdb(spark, sf_dir):
    """Watermarked tumbling aggregation under the ROCKSDB state-store
    provider — the 100 TB state path every scale note in this repo
    points at ("state store → RocksDB provider"), here actually
    executed: rocksdbjni ships inside Spark 4, so the provider swap is
    ONE session conf, and the run proves the plan, checkpoint format,
    and state schema all work unchanged on the off-heap store. The
    default HDFS-backed provider keeps every key's state in executor
    heap — fine until keys × state-row-width outgrow memory; RocksDB
    spills to local SSD with the same exactly-once checkpoint
    contract, which is what makes billion-key watermarked aggregations
    operable. Output is the same hourly per-type windowed count the
    default-provider runs produce (the test asserts result equality
    provider-to-provider — the store is an implementation detail,
    never a semantics change); round-15 flip: append-mode finality is
    boundary-independent, so the run is hash-gated on the finalized
    windows (end ≤ floor_ms(max ts) − 30 min) — a provider that
    corrupted or dropped state would break the hash. The conf is
    set/restored around the run, matching the shuffle-partition
    pattern of the join runs."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        e = (
            _events_stream(spark, sf_dir, max_files_per_trigger=2)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "30 minutes")
        )
        agg = (
            e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_v"))
            .select(
                F.col("w.start").alias("w_start"),
                "event_type",
                "n",
                "sum_v",
            )
        )
        return _run(agg, "append")
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def _cms_merge_oracle() -> str:
    from spark_ml_helper_spark.operators.aggregates import _CMS_P, _CMS_ROWS

    cells = " UNION ALL ".join(
        f"""SELECT {i} AS row_i,
                   (({a} * CAST(user_id AS BIGINT) + {b}) % {_CMS_P}) % 64
                       AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 2"""
        for i, (a, b) in enumerate(_CMS_ROWS)
    )
    return f"SELECT row_i, bucket, cnt FROM ({cells}) cells"


@query("stream_run_cms_merge", oracle=_cms_merge_oracle(), family="streaming")
def stream_run_cms_merge(spark, sf_dir):
    """Streaming count-min sketch maintenance — agg_cms_sketch's
    mergeable-state claim EXECUTED through Structured Streaming rather
    than asserted: the events file stream is consumed in micro-batches
    (maxFilesPerTrigger=4), each batch folds its keys into a PARTIAL
    d=3 x w=64 cell frame inside foreachBatch (idempotent: partials are
    partitioned by batch_id and overwritten on replay, the
    stream_run_foreach_batch contract), and the final sketch is the
    cell-wise SUM over all batch partials. Counter addition is
    associative and commutative, so the result is INDEPENDENT of how
    the planner cut the micro-batches — which is exactly why the entry
    can carry a full SQL oracle (the one-shot batch build over the same
    events) instead of a rows-only check, and why CMS is the standard
    streaming frequency sketch: per-batch state is a fixed 192-row
    frame whatever the stream volume, and day/shard/stream partials
    roll up by the same addition at read time."""
    from spark_ml_helper_spark.operators.aggregates import _CMS_P, _CMS_ROWS

    base = staging_dir(prefix="smhs_cms_")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    e = _events_stream(spark, sf_dir, max_files_per_trigger=4)

    def merge(batch_df, batch_id: int):
        cells = (
            batch_df.select(
                F.posexplode(
                    F.array(
                        *[
                            (
                                (F.lit(a) * F.col("user_id").cast("bigint") + F.lit(b))
                                % _CMS_P
                            )
                            % 64
                            for a, b in _CMS_ROWS
                        ]
                    )
                ).alias("row_i", "bucket")
            )
            .groupBy("row_i", "bucket")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )
        cells.withColumn("batch_id", F.lit(batch_id)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(out)

    q = (
        e.writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("row_i", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
