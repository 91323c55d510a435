"""Structured Streaming operators over the events table.

Design rules (the 100 TB shape):

- Every transformation is expressed once and runs under BOTH batch and
  streaming DataFrames — batch is the oracle, streaming the scale path.
- Watermarks bound state: windowed aggs and dedup state are dropped once
  the watermark passes, so long-running streams hold O(active windows)
  state, not O(stream).
- The file source + checkpoint replaces the reference's
  skip-if-output-exists rerun (batch_export.py:128-132, S7): a restarted
  query reprocesses nothing, new files process exactly once.
- Custom stateful logic uses ``applyInPandasWithState`` (Arrow-batched,
  grouped state) — the extension point for operators session_window
  can't express.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from datasheet_etl_spark.functions.aggregates import dsum

# ---------------------------------------------------------------------------
# source
# ---------------------------------------------------------------------------


def events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    ``ts`` must come out as a plain ``timestamp`` whatever the parquet
    encoding (TIMESTAMP(NANOS) → nanosAsLong + rebuild; pyarrow's
    non-UTC-adjusted ``timestamp[us]`` → NTZ inference disabled + cast),
    mirroring the batch loader so batch and streaming plans see identical
    values. ``maxFilesPerTrigger`` is the backpressure knob: on a real
    cluster it bounds per-microbatch input so one trigger never swallows
    a backfill.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isfile(path):
        raise ValueError(
            f"events_stream needs a directory of parquet files, got file {path!r} "
            "(FileStreamSource tracks per-file progress under a directory basePath)"
        )
    df = reader.load(path)
    if dict(df.dtypes).get("ts") == "bigint":
        from datasheet_etl_spark.io import _epoch_to_micros, _ts_parquet_unit

        df = df.withColumn(
            "ts", F.timestamp_micros(_epoch_to_micros("ts", _ts_parquet_unit(path)))
        )
    elif dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# windowed aggregations (Q31 family)
# ---------------------------------------------------------------------------


def tumbling_counts(
    events: DataFrame, duration: str = "1 hour", watermark: str | None = "10 minutes"
) -> DataFrame:
    """Tumbling-window counts/sums per event_type — the streaming form of
    q31_tumbling_window (identical output columns)."""
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start_sec"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    duration: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Sliding-window counts/sums — streaming form of q31b."""
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start_sec"), "n", "total_value"
        )
    )


# ---------------------------------------------------------------------------
# dedup (Q32 family)
# ---------------------------------------------------------------------------


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    lookback: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    right_prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left row matches right rows
    with the same ``key`` whose timestamp falls in
    ``[left.ts - lookback, left.ts]`` — the attribution-join shape
    (purchase ← preceding click). Right columns come back prefixed.

    Both sides are watermarked, and the interval condition is what makes
    the join's state BOUNDED: Spark can discard right-side state older
    than ``left_watermark - lookback`` and left-side state older than
    the watermark, so state is O(rows per lookback window per key),
    independent of stream length. An equi-join on key alone (no time
    bound) would have to buffer both streams forever — the unbounded-
    state trap this operator exists to avoid. On a bounded input the
    result equals the batch interval join exactly (DuckDB-oracled in
    full-outer form as t122).

    ``how`` passes through to the join, but note the outer-mode caveat:
    unmatched rows emit only when the watermark CLOSES their interval,
    and a bounded availableNow drain ends with the watermark at
    ``max(ts) - watermark`` — trailing unmatched rows inside that last
    window are never emitted. Inner join (the default) has no such
    tail. For bounded replays needing full outer-row delivery, stage a
    far-future sentinel row into the FINAL micro-batch so the watermark
    passes every real row before the drain ends — the registry entry
    t122 (``plans/streaming_entries``) stages one that way, and its
    DuckDB oracle pins the drained result equal to the batch FULL JOIN,
    NULL rows of both sides included.
    """
    lhs = left.withWatermark(ts_col, watermark)
    rhs = right.withWatermark(ts_col, watermark).select(
        [F.col(c).alias(f"{right_prefix}{c}") for c in right.columns]
    )
    r_key, r_ts = f"{right_prefix}{key}", f"{right_prefix}{ts_col}"
    cond = (
        (F.col(key) == F.col(r_key))
        & (F.col(r_ts) <= F.col(ts_col))
        & (F.col(r_ts) >= F.col(ts_col) - F.expr(f"INTERVAL {lookback}"))
    )
    return lhs.join(rhs, cond, how)


def streaming_dedup(
    events: DataFrame, key_cols: Iterable[str] = ("event_id",), watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once events by key: ``dropDuplicates`` with watermark-bounded
    state. A duplicate arriving later than the watermark is not caught —
    that is the deliberate state/completeness trade; the batch Q32 top-1
    dedup is the exact recompute."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return events.dropDuplicates(list(key_cols))


def streaming_dedup_within_watermark(
    events: DataFrame, key_cols: Iterable[str] = ("event_id",), watermark: str = "1 hour"
) -> DataFrame:
    """Dedup where duplicates arrive within ``watermark`` of EACH OTHER
    (``dropDuplicatesWithinWatermark``): state for a key expires one
    watermark after its first sighting instead of growing with the
    stream — the right tool when duplicates are retry/redelivery
    artifacts (bounded lag) rather than arbitrary re-sends. State is
    O(keys per watermark window), not O(all keys seen)."""
    if not events.isStreaming:
        return events.dropDuplicates(list(key_cols))
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


# ---------------------------------------------------------------------------
# sessions (Q18 family)
# ---------------------------------------------------------------------------


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str | None = "10 minutes"
) -> DataFrame:
    """Gap-based sessions via the built-in ``session_window`` — the
    streaming equivalent of the batch lag/run-length sessionize
    (operators.relational.sessionize): same inactivity-gap semantics,
    state merged incrementally instead of a sort-based window."""
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
            dsum(F.col("value")).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "first_event",
            "last_event",
            "session_value",
        )
    )


_SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, "
    "first_event long, last_event long, session_value double"
)
_SESSION_STATE_SCHEMA = "last_ts double, session_id long, n long, first long, last long, value double"


def _session_frame(user_id, rows: list) -> pd.DataFrame:
    """Pack (session_id, n, first, last, value) tuples into ONE output
    frame. Per-session one-row DataFrames were the sessionize hotspot:
    ~0.3 ms of pandas constructor per emission × one emission per
    closed session dominated the stateful stage (guide §4.2 — batch
    the work crossing the boundary, don't ship it row by row)."""
    sid, n, first, last, value = zip(*rows)
    return pd.DataFrame(
        {
            "user_id": np.full(len(rows), user_id, dtype=np.int64),
            "session_id": np.asarray(sid, dtype=np.int64),
            "n_events": np.asarray(n, dtype=np.int64),
            "first_event": np.asarray(first, dtype=np.int64),
            "last_event": np.asarray(last, dtype=np.int64),
            "session_value": np.asarray(value, dtype=np.float64),
        }
    )


def _session_segments(chunks: list, last_ts, gap_seconds: float):
    """Shared vectorized gap fold: concatenate the key's Arrow chunks,
    sort by event_id, split into gap-delimited segments, and return
    per-segment aggregates as numpy arrays plus the continuation flag.

    All Arrow chunks are materialized and concatenated BEFORE the sort:
    chunk-spanning keys have no cross-chunk order guarantee, so a
    per-chunk sort would mis-fold. Per-segment sums run
    ``np.add.reduceat`` over the event_id-sorted rows — the same
    sequential left-to-right accumulation the per-row fold performed.
    Rows are event_id-sorted, so each segment's first/last event are
    its endpoints; the carried ``last_ts`` is the segment's LAST ROW's
    ts (not the segment max): the batch sessionize computes every gap
    against lag(ts) in event_id order, so the next batch's first gap
    test must see the previous batch's final event's ts — identical
    only when ts is monotone in event_id, which the fold must not
    assume (pinned by the non-monotone-ts property test in
    tests/test_streaming.py).
    """
    ids = np.concatenate([c["event_id"].to_numpy() for c in chunks])
    vals = np.concatenate(
        [c["value"].to_numpy(dtype=np.float64) for c in chunks]
    )
    ts_sec = (
        np.concatenate([c["ts"].astype("int64").to_numpy() for c in chunks])
        / 1e9
    )
    order = np.argsort(ids, kind="stable")
    ids, vals, ts_sec = ids[order], vals[order], ts_sec[order]
    prev = np.empty_like(ts_sec)
    prev[0] = last_ts if last_ts is not None else np.nan
    prev[1:] = ts_sec[:-1]
    is_start = np.isnan(prev) | ((ts_sec - prev) > gap_seconds)
    cont = not bool(is_start[0])
    bounds = np.flatnonzero(is_start)
    if cont:
        bounds = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds[1:], [len(ids)])) - 1
    return {
        "cont": cont,
        "n": np.diff(np.concatenate((bounds, [len(ids)]))),
        "first": ids[bounds],
        "last": ids[ends],
        "value": np.add.reduceat(vals, bounds),
        "last_ts": ts_sec[ends],
    }


def _session_fn(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
    gap_seconds: float = 1800.0,
):
    """Per-user gap sessionizer (applyInPandasWithState body).

    State carries the open session (last ts, running aggregates); each
    micro-batch folds its events in event_id order and emits every
    session touched in this batch (update semantics — a session row is
    re-emitted with refreshed aggregates if a later batch extends it).
    The fold itself is the shared vectorized ``_session_segments`` (the
    per-row-Python version of this loop was a profiled hotspot — same
    numbers, C speed).
    """
    (user_id,) = key
    if state.exists:
        last_ts, session_id, n, first, last, value = state.get
    else:
        last_ts, session_id, n, first, last, value = (None, 0, 0, None, None, 0.0)

    touched: list[tuple] = []
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        seg = _session_segments(chunks, last_ts, gap_seconds)
        base = session_id if seg["cont"] else session_id + 1
        i0 = 0
        if n > 0 and seg["cont"]:
            # first segment continues the stored open session: merge
            n += int(seg["n"][0])
            first = min(first, int(seg["first"][0]))
            last = max(last, int(seg["last"][0]))
            value += float(seg["value"][0])
            last_ts = float(seg["last_ts"][0])
            touched.append((session_id, n, first, last, value))
            i0 = 1
        for j in range(i0, len(seg["n"])):
            session_id = base + j
            n, first, last, value, last_ts = (
                int(seg["n"][j]),
                int(seg["first"][j]),
                int(seg["last"][j]),
                float(seg["value"][j]),
                float(seg["last_ts"][j]),
            )
            touched.append((session_id, n, first, last, value))

    state.update((last_ts, session_id, n, first, last, value))
    if touched:
        yield _session_frame(user_id, touched)


def _session_timeout_fn(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
    gap_seconds: float = 1800.0,
):
    """Close-on-timeout gap sessionizer (EventTimeTimeout body).

    Emission discipline differs from ``_session_fn`` deliberately: a
    session row is yielded EXACTLY ONCE, at close — either an in-batch
    gap starts the next session (the prior one is closed), or the
    event-time timeout fires (watermark passed ``last_ts + gap``) and
    ``hasTimedOut`` finalizes the open tail. Update-mode re-emission
    never happens, so the raw sink content IS the session table with
    no dedup pass — the exactly-once-per-session contract
    :func:`sessionize_stateful`'s update-mode operator cannot offer.
    """
    (user_id,) = key

    if state.hasTimedOut:
        # no new events for this key and the watermark passed the open
        # session's close time: finalize and drop the state row
        last_ts, session_id, n, first, last, value = state.get
        state.remove()
        if n > 0:
            yield _session_frame(user_id, [(session_id, n, first, last, value)])
        return

    if state.exists:
        last_ts, session_id, n, first, last, value = state.get
    else:
        last_ts, session_id, n, first, last, value = (None, 0, 0, None, None, 0.0)

    # vectorized gap fold (the per-row-Python version of this loop was
    # the 5x-at-10x hotspot in the scale audit; the per-closed-session
    # one-row-DataFrame emission was the next one — both now go through
    # the shared ``_session_segments``/``_session_frame`` helpers).
    # Cross-batch continuity comes from seeding the first row's
    # "previous timestamp" with the state's last_ts.
    closed: list[tuple] = []
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        seg = _session_segments(chunks, last_ts, gap_seconds)
        base = session_id if seg["cont"] else session_id + 1
        i0 = 0
        if n > 0 and seg["cont"]:
            # first segment continues the stored open session: merge
            n += int(seg["n"][0])
            first = min(first, int(seg["first"][0]))
            last = max(last, int(seg["last"][0]))
            value += float(seg["value"][0])
            last_ts = float(seg["last_ts"][0])
            i0 = 1
        elif n > 0:
            # the batch's first event started a NEW session: the
            # stored one closed at the gap — emit it now
            closed.append((session_id, n, first, last, value))
            n = 0
        # all but the last segment are closed in-batch
        for j in range(i0, len(seg["n"])):
            if n > 0:
                closed.append((session_id, n, first, last, value))
            session_id = base + j
            n, first, last, value, last_ts = (
                int(seg["n"][j]),
                int(seg["first"][j]),
                int(seg["last"][j]),
                float(seg["value"][j]),
                float(seg["last_ts"][j]),
            )
    if closed:
        yield _session_frame(user_id, closed)
    if last_ts is None:
        return
    state.update((last_ts, session_id, n, first, last, value))
    # close time in epoch-millis: when the watermark passes it, the
    # timeout branch above finalizes this session
    state.setTimeoutTimestamp(int((last_ts + gap_seconds) * 1000))


def sessionize_timeout(events: DataFrame, gap_seconds: float = 1800.0) -> DataFrame:
    """Sessionize with EVENT-TIME TIMEOUT state expiry: sessions emit
    exactly once, when closed — by the next event's gap, or by the
    watermark passing ``last_event + gap`` (``GroupStateTimeout.
    EventTimeTimeout``; the stream must carry ``withWatermark``). This
    is the state-LIFECYCLE half of stateful processing that
    ``NoTimeout`` operators never exercise: keys with no further
    traffic still finalize and their state is REMOVED, so state size
    tracks open sessions, not ever-seen keys — the difference between
    bounded and unbounded state on a 100 TB event stream where most
    keys go quiet forever.

    Session ids restart at 1 per key and number CLOSED-in-order, which
    matches batch ``sessionize`` (q18's SQL) on an in-order bounded
    replay — t117's DuckDB oracle grades exactly that equality.

    Production caveat: ``state.remove()`` at timeout
    also discards the per-key session COUNTER, so a key that returns
    after going quiet numbers its next session 1 again. That is the
    deliberate price of bounded state — keeping counters for every
    ever-seen key is exactly the unbounded growth the timeout exists
    to prevent. On a long-running stream, treat ``(user_id,
    session_id, first_event)`` as the unique key, or derive an id from
    the session's start time downstream; within one bounded replay
    (the oracle setting) ids are unique per key as emitted.
    """

    def fn(key, batches, state):
        yield from _session_timeout_fn(key, batches, state, gap_seconds)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def sessionize_stateful(events: DataFrame, gap_seconds: float = 1800.0) -> DataFrame:
    """Custom stateful sessionize via ``applyInPandasWithState`` — the
    extension point for stateful logic ``session_window`` cannot express
    (here: session ids numbered per user + event_id-ordered folding,
    matching the batch Q18 output exactly).

    Streaming-only (Spark restricts applyInPandasWithState to streaming
    DataFrames); the batch oracle is operators.relational.sessionize.
    """

    def fn(key, batches, state):
        yield from _session_fn(key, batches, state, gap_seconds)

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# incremental file pipeline (S7)
# ---------------------------------------------------------------------------


def incremental_file_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    transform=None,
):
    """Checkpointed file-source → parquet-sink pipeline: the streaming
    replacement for the reference's skip-if-output-exists rerun loop.

    Each invocation processes exactly the files not yet recorded in the
    checkpoint (availableNow drains them, then stops); rerunning with no
    new input writes nothing. Returns the finished StreamingQuery.
    """
    src = events_stream(spark, input_dir)
    out = transform(src) if transform is not None else src
    query = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


# ---------------------------------------------------------------------------
# test/drive helper
# ---------------------------------------------------------------------------


def idempotent_keyed_sink(
    sdf: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    key_cols: Iterable[str] = ("event_id",),
):
    """Drain a stream into a keyed parquet target with INSERT-ONLY merge
    semantics via ``foreachBatch``: each micro-batch is deduped on the
    key, anti-joined against the current target, and only genuinely new
    keys are appended.

    The anti-join — not the checkpoint — is what makes the sink
    idempotent: a parquet append is not transactional with the
    checkpoint commit, so a crash between the two replays the batch on
    restart, and a plain append sink would duplicate it. Here the replay
    re-arrives, anti-joins against what the first attempt already wrote,
    and appends nothing. (Delta/Iceberg MERGE is the transactional form;
    this is the same guarantee built from primitives, at the cost of one
    target-keys scan per micro-batch — keep the target partitioned or
    compacted so that scan reads keys, not bodies, at corpus scale.)
    """
    keys = list(key_cols)
    spark = sdf.sparkSession

    def _read_target() -> DataFrame | None:
        # The question is precisely "would spark.read.parquet(target)
        # succeed?", so ask Spark once and REUSE the answer: analysis
        # fails on a missing path OR a dir with no data files (e.g.
        # only _temporary/ left by a crashed first micro-batch, or a
        # pre-created empty dir — either would otherwise wedge every
        # later batch). Works for file://, hdfs://, s3a:// and for
        # partitioned/compacted layouts (key=…/part-*.parquet) alike —
        # an os.path or flat-glob check would misjudge both. ONLY
        # AnalysisException means "no target yet": a transient IO or
        # credential failure must propagate and fail the batch (the
        # checkpoint retries it) — swallowing it would silently skip
        # the anti-join and append duplicates forever.
        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(target_dir)
        except AnalysisException:
            return None

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        fresh = batch_df.dropDuplicates(keys)
        existing = _read_target()
        if existing is not None:
            fresh = fresh.join(existing.select(keys), keys, "left_anti")
        fresh.write.mode("append").parquet(target_dir)

    _bind_checkpoint_target(
        spark, target_dir, checkpoint_dir, target_alive=_read_target() is not None
    )
    query = (
        sdf.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def materialized_agg_sink(
    agg_sdf: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    partition_cols: Iterable[str],
):
    """Maintain a streaming aggregation as a queryable parquet table —
    the incremental-materialized-view pattern: the aggregation runs in
    ``update`` output mode (each micro-batch emits only the groups that
    batch changed), and ``foreachBatch`` rewrites exactly those groups'
    partitions via dynamic partition overwrite. Unchanged groups'
    files are never touched, so maintenance cost tracks the CHANGED
    group count, not the table size — the property that makes a 100 TB
    rollup maintainable from a stream.

    CONTRACT: ``partition_cols`` must be the aggregation's FULL grouping
    key. A coarser partitioning would make an update-mode batch (which
    carries only changed groups) overwrite a partition that also holds
    unchanged groups, silently dropping them. Presence of the columns is
    checked here; their equality with the grouping key is the caller's
    responsibility (the grouping key is not recoverable from the
    DataFrame).

    Replays are safe by construction: rewriting a group's partition with
    its latest aggregate state is idempotent.
    """
    parts = list(partition_cols)
    missing = [c for c in parts if c not in agg_sdf.columns]
    if missing:
        raise ValueError(f"partition cols not in aggregate output: {missing}")

    def replace(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            batch_df.write.mode("overwrite").partitionBy(*parts).parquet(target_dir)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    from pyspark.errors import AnalysisException

    _spark = agg_sdf.sparkSession
    try:
        _spark.read.parquet(target_dir)
        _alive = True
    except AnalysisException:
        _alive = False
    _bind_checkpoint_target(_spark, target_dir, checkpoint_dir, target_alive=_alive)
    query = (
        agg_sdf.writeStream.outputMode("update")
        .foreachBatch(replace)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def run_available_now(
    sdf: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a streaming DataFrame with availableNow into a memory sink
    and return the result as a batch DataFrame (smoke-test harness)."""
    query = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return sdf.sparkSession.sql(f"SELECT * FROM {name}")


# ---------------------------------------------------------------------------
# streaming MinHash dedup
# ---------------------------------------------------------------------------

_MINHASH_OUT_SCHEMA = "id_a long, id_b long, est_jaccard double"
_MINHASH_STATE_SCHEMA = "ids array<long>, sigs array<array<long>>"


def _minhash_bucket_fn(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
    num_perm: int,
    max_bucket: int,
    threshold: float,
):
    """Per-(band, bucket) matcher (applyInPandasWithState body).

    State holds this bucket's members (doc id + full signature), capped
    at ``max_bucket`` — the same skew guard as the batch path, expressed
    as bounded state. Each arriving doc compares against the members
    already in state (est. Jaccard = signature agreement), emits pairs
    over threshold, then joins the bucket. Docs are folded in doc_id
    order so replays are deterministic."""
    if state.exists:
        seen_ids, seen_sigs = state.get
        seen_ids = list(seen_ids)
        sig_mat = [np.asarray(s, dtype=np.int64) for s in seen_sigs]
    else:
        seen_ids, sig_mat = [], []
    seen_set = set(seen_ids)

    out_a: list[int] = []
    out_b: list[int] = []
    out_est: list[float] = []
    for pdf in batches:
        pdf = pdf.sort_values("doc_id")
        for doc_id, sig in zip(pdf["doc_id"], pdf["sig"]):
            doc_id = int(doc_id)
            sig = np.asarray(sig, dtype=np.int64)
            if doc_id in seen_set:
                continue  # replayed row — state already counts it
            if seen_ids:
                # one vectorized agreement count against the whole
                # bucket (the per-member Python loop over num_perm
                # components was the profiled hotspot — same
                # matches/num_perm arithmetic, C speed)
                ests = (np.vstack(sig_mat) == sig).sum(axis=1) / num_perm
                for hit in np.flatnonzero(ests >= threshold):
                    sid = seen_ids[hit]
                    out_a.append(min(doc_id, sid))
                    out_b.append(max(doc_id, sid))
                    out_est.append(float(ests[hit]))
            if len(seen_ids) < max_bucket:
                seen_ids.append(doc_id)
                sig_mat.append(sig)
                seen_set.add(doc_id)

    state.update((seen_ids, [s.tolist() for s in sig_mat]))
    if out_a:
        yield pd.DataFrame(
            {
                "id_a": np.asarray(out_a, dtype=np.int64),
                "id_b": np.asarray(out_b, dtype=np.int64),
                "est_jaccard": np.asarray(out_est, dtype=np.float64),
            }
        )


def streaming_minhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 2,
    max_bucket: int = 256,
) -> DataFrame:
    """Streaming MinHash near-dup detection: each arriving document is
    matched against everything previously seen that shares an LSH
    bucket, incrementally — the streaming face of
    ``operators.dedup.minhash_dedup_pairs``.

    Stage shape (one stateful op, everything before it stateless):
    per-row signature expression (bit-identical to the batch
    signatures) → stateless band explode → groupBy(band, bucket) →
    ``applyInPandasWithState`` holding capped bucket membership.
    State is O(buckets × max_bucket × num_perm) regardless of stream
    length. A pair agreeing in k bands emits up to k times (per-band
    groups are independent); downstream dedups with
    ``dropDuplicates``/first-wins, exactly as the batch path applies
    ``distinct`` after banding.

    Emits (id_a, id_b, est_jaccard) with est = signature agreement —
    the exact-Jaccard re-verify of the batch path needs the full corpus
    at rest and belongs downstream of the match stream.
    """
    from datasheet_etl_spark.functions import tokens
    from datasheet_etl_spark.operators.dedup import (
        banded_buckets,
        minhash_signature_col,
        shingle_hashes_col,
        word_shingles,
    )

    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(tokens(F.col(text_col)), shingle_n).alias("sh"),
    ).filter(F.size("sh") > 0)
    # hash staged once (no CSE across the num_perm HOFs), then permute
    sigs = sh.select("doc_id", shingle_hashes_col("sh").alias("_h")).select(
        "doc_id", minhash_signature_col("_h", num_perm).alias("sig")
    )
    banded = banded_buckets(sigs, "doc_id", "sig", bands, num_perm, keep_sig=True)

    def fn(key, batches, state):
        yield from _minhash_bucket_fn(
            key, batches, state, num_perm, max_bucket, threshold
        )

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        fn,
        outputStructType=_MINHASH_OUT_SCHEMA,
        stateStructType=_MINHASH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class rocksdb_state_store:
    """Run streaming queries started inside the block with the RocksDB
    state-store provider — the large-state path (state spills to local
    disk instead of living on the JVM heap; the right provider when
    session/dedup state approaches executor memory, i.e. at 100 TB).
    Results must be provider-independent; pinned in tests."""

    PROVIDER = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    KEY = "spark.sql.streaming.stateStore.providerClass"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        try:
            self.prev = self.spark.conf.get(self.KEY)
        except Exception:
            self.prev = None
        self.spark.conf.set(self.KEY, self.PROVIDER)
        return self

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(self.KEY)
        else:
            self.spark.conf.set(self.KEY, self.prev)


def streaming_gram_index_maintain(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    matches_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_rows: int | None = 64,
    min_span_tokens: int | None = None,
):
    """Streaming maintenance of the substring gram index — the LIVE
    form of the t98 nightly increment: every micro-batch of documents
    (a) probes the index AT REST for verbatim-span overlaps with
    everything already indexed (``dedup.probe_gram_index``, matches
    appended to ``matches_path``), then (b) appends its own capped
    postings to the index, so later batches match against it. An
    initial index must exist (``dedup.write_gram_index`` — its
    ``_meta`` recipe gates every probe, so a drifted k/cap fails loudly
    mid-stream instead of silently matching nothing).

    Exactly-once-ness, from primitives (the idempotent_keyed_sink
    argument): parquet appends are not transactional with the
    checkpoint commit, so a crash anywhere in the batch replays it on
    restart. The commit marker is the ``_docs`` LEDGER inside the
    index (seeded by ``write_gram_index``, appended LAST here): docs
    already in the ledger are dropped before anything is written, so
    a fully-committed batch replays as a no-op. A crash before the
    ledger append replays the WHOLE batch — including re-appending
    postings that may have partially (or fully) landed — which is
    exactly why the probe runs with ``dedupe_postings=True``:
    duplicate (id, pos) postings rows collapse before the meet, so a
    re-append can never split island runs or corrupt span lengths,
    and a PARTIAL append (some part files committed, some not) is
    completed by the replay rather than mistaken for done. The same
    crash window also puts the batch's OWN (possibly partial)
    postings in front of its replayed probe — those meets would be
    self/intra-batch pairs the original run never emitted, so the
    probe result drops id_a ∈ batch before appending. With both
    guards, match rows re-emitted by a replay are identical (pure
    functions of the pre-batch index and the doc), which is why
    readers take ``distinct()`` over ``matches_path``.

    Scale shape: per batch, one ledger scan (ids only, never gram
    bodies), one probe (batch grams vs index keyed by the 16-byte
    gkey, plus the dedupe shuffle the replay-safety costs), one
    postings append, one ledger append. State lives in the INDEX, not
    in streaming state stores — restarting the query carries nothing
    but the file-source log."""
    from datasheet_etl_spark.operators.dedup import (
        _positioned_gram_postings,
        probe_gram_index,
    )

    ledger_path = f"{index_path}/_docs"
    fs, hledger, _ = _hadoop_fs(spark, ledger_path)
    if not fs.exists(hledger):
        raise ValueError(
            f"{index_path} has no _docs ledger — it predates the ledger "
            "format (or is not a write_gram_index index). Rebuild it "
            "with dedup.write_gram_index before streaming maintenance."
        )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.persist()
        try:
            committed = spark.read.parquet(ledger_path).distinct()
            fresh = batch_df.join(committed, id_col, "left_anti").persist()
            g_batch = None
            try:
                if fresh.isEmpty():
                    return  # pure replay: batch fully committed already
                # the batch's capped postings feed TWO separate actions
                # (the probe's matches write, then the index append) —
                # compute the tokenize + gram + cap pass ONCE per batch
                # and persist it for both; the per-batch unpersist below
                # is exactly the release a long-lived stream needs (the
                # reason probe's own scoped persist is off here)
                _, g_batch = _positioned_gram_postings(
                    fresh, id_col, text_col, k, max_gram_rows,
                    persist_postings=False,
                )
                g_batch = g_batch.persist()
                matches = probe_gram_index(
                    spark,
                    index_path,
                    fresh,
                    id_col,
                    text_col,
                    k,
                    max_gram_rows,
                    min_span_tokens,
                    dedupe_postings=True,
                    persist_postings=False,
                    postings=g_batch,
                )
                # a crash BETWEEN the postings append and the ledger
                # append replays the batch with its own (possibly
                # partial) postings already in the index — those meets
                # surface as id_a ∈ this batch (self-pairs included),
                # with spans that depend on how much of the append
                # landed. Dropping id_a ∈ fresh makes every replay's
                # match rows a pure function of (index-before-batch,
                # doc), so readers' distinct() really collapses replays.
                fresh_ids = fresh.select(
                    F.col(id_col).alias("id_a")
                ).distinct()
                matches.join(fresh_ids, "id_a", "left_anti").write.mode(
                    "append"
                ).parquet(matches_path)
                g_batch.write.mode("append").parquet(index_path)
                # the ledger append is LAST: it is the batch's commit
                # marker, so everything above is inside the replay
                fresh.select(id_col).distinct().coalesce(1).write.mode(
                    "append"
                ).parquet(ledger_path)
            finally:
                if g_batch is not None:
                    g_batch.unpersist()
                fresh.unpersist()
        finally:
            batch_df.unpersist()

    query = (
        docs_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def incremental_curation_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    min_quality: float = 0.5,
    sample_rate: float = 1.0,
    dedup_within_watermark: str | None = None,
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
):
    """Streaming corpus curation: quality filter → deterministic hash
    downsample → fingerprint dedup, file source to parquet sink.

    The batch curation stages compose unchanged on the stream because
    every per-doc step is a stateless projection/filter and the sampling
    is hash-derived (not rand()) — a replayed micro-batch re-selects
    exactly the same docs, which is what makes the checkpointed sink
    exactly-once.

    Dedup state is the operational knob at scale:

    - ``dedup_within_watermark=None`` (default): ``dropDuplicates`` with
      unbounded state — the fingerprint set IS the corpus index, and at
      100 TB of distinct content it grows to the corpus' distinct-hash
      set. Exact forever, but a long-lived run must carry that state
      (use the RocksDB state store provider) — a real operational cliff.
    - ``dedup_within_watermark="24 hours"`` (or any interval): switches
      to ``dropDuplicatesWithinWatermark`` keyed on ``ts_col`` (an
      ingest-time column is added if the input lacks one): state for a
      fingerprint expires one watermark after its first sighting, so
      state is O(docs per watermark window), not O(all docs ever). The
      trade: a duplicate arriving later than the watermark is re-emitted
      — right when duplicates are redelivery/crawl-overlap artifacts
      with bounded lag, wrong when they can recur arbitrarily late
      (then the exact batch dedup is the periodic recompute).

    Each invocation drains only files not yet in the checkpoint
    (availableNow), so re-running after a backfill processes exactly
    the new files — the reference's skip-if-output-exists rerun, with
    the ledger in the checkpoint instead of the output directory.
    """
    from datasheet_etl_spark.operators.sampling import weighted_sample
    from datasheet_etl_spark.operators.text import fingerprint, quality_score

    schema = spark.read.parquet(input_dir).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.load(input_dir)
    curated = (
        src.withColumn("quality", quality_score(F.col("text")))
        .filter(F.col("quality") >= min_quality)
        .withColumn("fp", fingerprint(F.col("text")))
    )
    sampled = weighted_sample(curated, "doc_id", "doc_id", {}, default_rate=sample_rate)
    if dedup_within_watermark is None:
        deduped = sampled.dropDuplicates(["fp"])
    else:
        drop_ts = ts_col not in sampled.columns
        if drop_ts:
            sampled = sampled.withColumn(ts_col, F.current_timestamp())
        deduped = sampled.withWatermark(
            ts_col, dedup_within_watermark
        ).dropDuplicatesWithinWatermark(["fp"])
        if drop_ts:
            deduped = deduped.drop(ts_col)
    query = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _read_text(spark: SparkSession, path: str) -> str | None:
    """Small-file read via the Hadoop FileSystem API — file://, hdfs://,
    s3a:// alike (an os.path check would silently report 'missing' on
    any remote scheme)."""
    fs, hpath, jvm = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    # tmp + rename, NOT create(overwrite=true): rename is atomic on
    # local and HDFS, while overwrite-create is truncate-then-write —
    # a crash or racing reader could observe an empty/torn file. The
    # brief absent window between delete and rename is covered by the
    # resolvers' committed-version fallbacks. This is THE commit
    # primitive for both the _LATEST pointer and bucketed manifests.
    fs, tmp_path, jvm = _hadoop_fs(spark, path + ".tmp")
    out = fs.create(tmp_path, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    final = jvm.org.apache.hadoop.fs.Path(path)
    if fs.exists(final):
        fs.delete(final, False)
    fs.rename(tmp_path, final)


def _read_pointer(spark: SparkSession, target_dir: str) -> str | None:
    """Version name from the ``_LATEST`` pointer, or None."""
    text = _read_text(spark, f"{target_dir}/_LATEST")
    return (text.strip() or None) if text is not None else None


def _write_pointer(spark: SparkSession, target_dir: str, version: str) -> None:
    _write_text_atomic(spark, f"{target_dir}/_LATEST", version)


def _committed_versions(spark: SparkSession, target_dir: str) -> list[str]:
    """``v*`` dirs with a ``_SUCCESS`` marker, sorted ascending. Beside
    no manifest these are uncommitted bucket writes or versions of the
    retired full-snapshot layout (see
    :func:`_resolve_or_init_bucketed_manifest`)."""
    fs, _, jvm = _hadoop_fs(spark, target_dir)
    glob = jvm.org.apache.hadoop.fs.Path(f"{target_dir}/v*")
    statuses = fs.globStatus(glob)
    out = []
    if statuses is not None:
        for st in statuses:
            name = st.getPath().getName()
            if name[1:].isdigit() and fs.exists(
                jvm.org.apache.hadoop.fs.Path(f"{target_dir}/{name}/_SUCCESS")
            ):
                out.append(name)
    return sorted(out)


def _next_version(spark: SparkSession, target_dir: str) -> str:
    """Monotonic version id: max existing v* + 1 — NEVER the batch id.
    After checkpoint loss, replayed batch ids restart at 0; naming
    versions by batch id would overwrite 'immutable' dirs a concurrent
    reader may still be scanning."""
    fs, _, jvm = _hadoop_fs(spark, target_dir)
    glob = jvm.org.apache.hadoop.fs.Path(f"{target_dir}/v*")
    statuses = fs.globStatus(glob)
    mx = -1
    if statuses is not None:
        for st in statuses:
            name = st.getPath().getName()
            if name[1:].isdigit():
                mx = max(mx, int(name[1:]))
    return f"v{mx + 1:010d}"


# --- CDC / SCD2 target layout ----------------------------------------------
#
# Every cdc_upsert_sink and scd2_upsert_sink target has one layout:
#   target/_LATEST                      -> committed manifest version
#   target/manifests/v<n>.json          commit record (atomic tmp+rename)
#   target/v<n>/_bucket=<k>/*.parquet   immutable per-bucket data dirs
# Keys hash into ``num_buckets`` fixed buckets (one by default). A
# manifest maps bucket id -> the relative data dir holding that bucket's
# CURRENT rows; a new version writes dirs ONLY for buckets its batch
# touched and re-points untouched buckets at the previous version's
# dirs. With one bucket a batch rewrites the whole table; with N buckets
# per-batch cost is O(changed partitions), not O(table) — the
# ``materialized_agg_sink`` dynamic-overwrite economics with the
# versioned-pointer reader isolation kept intact.


def _cdc_bucket(keys: Sequence[str], num_buckets: int):
    """Deterministic key→bucket assignment — a pure function of the key
    columns, so every change for a key lands in the same bucket for the
    target's lifetime (``num_buckets`` is fixed at sink creation)."""
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)
    ).cast("int")


def _manifest_path(target_dir: str, version: str) -> str:
    return f"{target_dir}/manifests/{version}.json"


def _read_manifest(
    spark: SparkSession, target_dir: str, version: str
) -> dict | None:
    # a manifest file's EXISTENCE is the version's commit record
    # (written through _write_text_atomic, so never torn)
    text = _read_text(spark, _manifest_path(target_dir, version))
    return json.loads(text) if text is not None else None


def _commit_bucketed_version(
    spark: SparkSession,
    target_dir: str,
    version: str,
    prev_buckets: dict,
    replaced: Iterable[int],
    num_buckets: int,
    schema_json: str,
) -> None:
    """Commit one bucketed version: map the bucket dirs the parquet
    write actually produced under ``{version}/``, splice them over
    ``prev_buckets`` (every bucket in ``replaced`` is superseded — a
    replaced bucket with NO output dir drops out), then atomically
    publish the manifest and move the pointer. Shared by the sink's
    per-batch commit and compaction."""
    fs, _, jvm = _hadoop_fs(spark, target_dir)
    statuses = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(f"{target_dir}/{version}/_bucket=*")
    )
    written = {
        int(st.getPath().getName().split("=")[1]): (
            f"{version}/{st.getPath().getName()}"
        )
        for st in (statuses or [])
    }
    buckets = dict(prev_buckets)
    for b in replaced:
        buckets.pop(str(b), None)
    for b, rel in written.items():
        buckets[str(b)] = rel
    _write_text_atomic(
        spark,
        _manifest_path(target_dir, version),
        json.dumps(
            {
                "num_buckets": num_buckets,
                "buckets": buckets,
                # stored so an all-tombstones-compacted (bucketless)
                # snapshot still reads back as an EMPTY table with its
                # schema, not as a missing table
                "schema": schema_json,
            },
            sort_keys=True,
        ),
    )
    _write_pointer(spark, target_dir, version)


def _committed_manifest_versions(
    spark: SparkSession, target_dir: str
) -> list[str]:
    """Versions whose manifest file exists — the commit criterion (the
    data write precedes the manifest rename, so a manifest always
    references fully-written dirs)."""
    fs, _, jvm = _hadoop_fs(spark, target_dir)
    glob = jvm.org.apache.hadoop.fs.Path(f"{target_dir}/manifests/v*.json")
    statuses = fs.globStatus(glob)
    out = []
    if statuses is not None:
        for st in statuses:
            name = st.getPath().getName()[: -len(".json")]
            if name[1:].isdigit():
                out.append(name)
    return sorted(out)


def _orphaned_bucketed_versions(
    spark: SparkSession, target_dir: str
) -> list[str]:
    """Committed (``_SUCCESS``-marked) ``v*`` dirs whose data consists of
    ``_bucket=*`` partition subdirs. On a target with no manifest this is
    the sink's first-batch crash window: the partitioned parquet write
    drops ``_SUCCESS`` BEFORE the manifest commit, so a crash in between
    leaves a version that no manifest (and no checkpoint commit —
    foreachBatch commits after the batch function returns) ever
    acknowledged. Once a manifest exists, unreferenced version dirs are
    ``gc_cdc_target``'s job. One listStatus per committed version; only
    a target with no manifest yet pays it."""
    fs, _, jvm = _hadoop_fs(spark, target_dir)
    orphans = []
    for v in _committed_versions(spark, target_dir):
        statuses = fs.listStatus(jvm.org.apache.hadoop.fs.Path(f"{target_dir}/{v}"))
        if any(
            st.isDirectory() and st.getPath().getName().startswith("_bucket=")
            for st in (statuses or [])
        ):
            orphans.append(v)
    return orphans


def _checkpoint_has_offsets(spark: SparkSession, checkpoint_dir: str) -> bool:
    """True when a streaming checkpoint has RECORDED at least one
    micro-batch's offsets. Batch ids are pinned from the first offsets
    file — Spark writes ``offsets/<n>`` BEFORE running the batch and
    ``commits/<n>`` after — so a checkpoint with offsets is RESUMABLE
    (replay reuses the recorded batch ids), not fresh, even when the
    first batch crashed before its commit. The freshness test for
    batch-id-keyed sinks, where `_checkpoint_has_commits` would
    misdiagnose a first-batch crash as a brand-new checkpoint."""
    fs, _, jvm = _hadoop_fs(spark, checkpoint_dir)
    statuses = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/offsets/*")
    )
    return any(
        st.getPath().getName().isdigit() for st in (statuses or [])
    )


def _checkpoint_has_commits(spark: SparkSession, checkpoint_dir: str) -> bool:
    """True when a streaming checkpoint records at least one COMMITTED
    micro-batch (a ``commits/<n>`` file) — i.e. Spark will treat that
    input as already delivered on restart."""
    fs, _, jvm = _hadoop_fs(spark, checkpoint_dir)
    statuses = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/commits/*")
    )
    return any(
        st.getPath().getName().isdigit() for st in (statuses or [])
    )


def _bind_checkpoint_target(
    spark: SparkSession,
    target_dir: str,
    checkpoint_dir: str,
    target_alive: bool,
) -> None:
    """The checkpoint/target pair of any checkpointed sink must live
    and die TOGETHER: a checkpoint that outlives its target (target
    deleted or recreated, checkpoint kept) makes the restarted stream
    skip every already-committed batch — the rebuilt target would stay
    missing its history FOREVER with no error anywhere. Refuse loudly
    instead. Clearing the checkpoint is always the safe rebuild path:
    with no surviving target there is no state to protect, and
    replaying the full input into an empty target is exactly the
    rebuild the user wants.

    Mechanism: the first sink run drops a ``_SINK_INIT`` marker inside
    the target (after the guard passes), so a checkpoint whose
    committed batches happened to produce no target data yet — e.g. an
    empty bootstrap batch — is still recognized as healthy on restart;
    only a checkpoint with commits facing a target with neither
    committed state (``target_alive``) nor the marker is orphaned.
    Underscore-prefixed files are invisible to Spark's file scans, so
    the marker never surfaces as data."""
    marker = f"{target_dir.rstrip('/')}/_SINK_INIT"
    fs, hmarker, _ = _hadoop_fs(spark, marker)
    marked = fs.exists(hmarker)
    if (
        _checkpoint_has_commits(spark, checkpoint_dir)
        and not target_alive
        and not marked
    ):
        raise ValueError(
            f"checkpoint {checkpoint_dir} records committed batches but "
            f"target {target_dir} has no committed state — the target "
            "was deleted or recreated out from under its checkpoint. "
            "Restarting now would silently skip all replay. Delete the "
            "checkpoint directory too (the full input then rebuilds "
            "the target), or restore the target from backup/GC grace."
        )
    if not marked:
        _write_text_atomic(spark, marker, "bound\n")


def _resolve_manifest(spark: SparkSession, target_dir: str) -> dict | None:
    """The committed manifest a reader should use: the pointer when it
    names a committed manifest, else the NEWEST committed manifest. The
    fallback is load-bearing: a crash between manifest rename and
    pointer rename must not read as 'empty table', or the next batch
    would merge onto a zero-row base and lose the accumulated table."""
    committed = _committed_manifest_versions(spark, target_dir)
    pointed = _read_pointer(spark, target_dir)
    version = (
        pointed if pointed in committed else (committed[-1] if committed else None)
    )
    if version is None:
        return None
    manifest = _read_manifest(spark, target_dir, version)
    if manifest is not None:
        manifest["version"] = version
    return manifest


def _resolve_or_init_bucketed_manifest(
    spark: SparkSession,
    target_dir: str,
    checkpoint_dir: str,
    num_buckets: int,
) -> dict:
    """Resolve a target's committed manifest, initializing an empty one
    for a new target — with the guard ladder every upsert sink (CDC
    latest-rows AND SCD2 history) must run before touching the target.
    Raises rather than guessing on the corruption-shaped states
    (manifest history lost after commit; versions of the retired
    full-snapshot layout; a bucket count other than the target's)."""
    manifest = _resolve_manifest(spark, target_dir)
    if manifest is None:
        committed = _committed_versions(spark, target_dir)
        if committed:
            orphans = _orphaned_bucketed_versions(spark, target_dir)
            if set(orphans) == set(committed):
                # every committed-looking version is bucket-shaped
                # with no manifest. Two very different states look
                # like this, and only the checkpoint tells them apart:
                if _checkpoint_has_commits(spark, checkpoint_dir):
                    # the checkpoint has committed batches, so these
                    # versions WERE manifest-committed once and the
                    # manifests dir was lost separately (partial
                    # restore, fs mishap). Discarding the data dirs
                    # here would be silent data loss — the committed
                    # batches will never be replayed.
                    raise ValueError(
                        f"{target_dir} holds bucketed CDC data but "
                        "its manifests/ dir is missing while the "
                        "checkpoint records committed batches — the "
                        "manifest history was lost after commit. "
                        "Restore manifests/ and _LATEST from backup "
                        "(or recreate checkpoint AND target together "
                        "and replay the changelog); refusing to "
                        "discard committed data"
                    )
                # checkpoint has no commits: a previous run crashed
                # between its parquet write (which drops _SUCCESS) and
                # its manifest commit. The batch never reached the
                # checkpoint's commits, so it WILL be replayed —
                # discard the uncommitted dirs and proceed as a new
                # target.
                fs, _, jvm = _hadoop_fs(spark, target_dir)
                for v in orphans:
                    fs.delete(
                        jvm.org.apache.hadoop.fs.Path(f"{target_dir}/{v}"),
                        True,
                    )
            else:
                # full-snapshot versions: treating this as 'new table'
                # would make every existing row invisible to the stale
                # guard and the first commit would orphan the snapshot
                raise ValueError(
                    f"{target_dir} holds full-snapshot CDC versions and "
                    "no manifests; that layout is gone. Rebuild the "
                    "target by replaying its changelog into a fresh "
                    "target (delete the target and its checkpoint "
                    "together)"
                )
        manifest = {"num_buckets": num_buckets, "buckets": {}}
    if manifest["num_buckets"] != num_buckets:
        raise ValueError(
            f"target created with num_buckets={manifest['num_buckets']}, "
            f"sink configured with {num_buckets} — a key's bucket must "
            "never move; re-bucket with migrate_cdc_target"
        )
    return manifest


def _check_num_buckets(num_buckets) -> None:
    """Refuse a bucket count that is not an int >= 1 before anything
    touches a target: the sinks would otherwise bind the checkpoint and
    start the stream, and only the first batch would fail on
    ``pmod(hash, 0)``."""
    if not isinstance(num_buckets, int) or num_buckets < 1:
        raise ValueError(f"num_buckets must be an int >= 1, got {num_buckets!r}")


def _upsert_stream(
    changes_sdf: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    num_buckets: int,
    merge,
) -> None:
    """Drain ``changes_sdf`` into a CDC-layout target (availableNow),
    committing one manifest version per micro-batch. Shared by
    :func:`cdc_upsert_sink` and :func:`scd2_upsert_sink`, which differ
    only in ``merge(batch_df, base)``: ``base`` is the current rows of
    the buckets the batch touches (None when none holds data yet), and
    the result is those buckets' next rows, or None when every change
    is stale — a pure replay then commits nothing.

    Per batch: resolve (or initialize) the manifest through the guard
    ladder, find the touched buckets, read only their dirs, merge,
    write the merged rows partitioned by bucket into a new ``v<n>``
    dir, then atomically publish the manifest and move the pointer."""
    _check_num_buckets(num_buckets)
    kl = list(keys)
    bucket = _cdc_bucket(kl, num_buckets)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        manifest = _resolve_or_init_bucketed_manifest(
            spark, target_dir, checkpoint_dir, num_buckets
        )
        # bounded driver-side set: ≤ num_buckets ints, never row data
        touched = sorted(
            r["_b"]
            for r in batch_df.select(bucket.alias("_b")).distinct().collect()
        )
        current = [
            f"{target_dir}/{manifest['buckets'][str(b)]}"
            for b in touched
            if str(b) in manifest["buckets"]
        ]
        # partition-scoped read: ONLY touched buckets' dirs are opened —
        # the base-side cost is O(changed partitions) like the write
        base = spark.read.parquet(*current).persist() if current else None
        try:
            merged = merge(batch_df, base)
            if merged is None:
                return
            version = _next_version(spark, target_dir)
            (
                merged.withColumn("_bucket", bucket)
                # one task per bucket → one file per bucket dir, not
                # shuffle.partitions tiny files in each
                .repartition(F.col("_bucket"))
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(f"{target_dir}/{version}")
            )
            # touched buckets re-point at this version's dirs (a touched
            # bucket that produced no rows drops out); untouched buckets
            # keep their existing dirs untouched on disk
            _commit_bucketed_version(
                spark,
                target_dir,
                version,
                manifest["buckets"],
                touched,
                num_buckets,
                merged.schema.json(),
            )
        finally:
            if base is not None:
                base.unpersist()

    spark = changes_sdf.sparkSession
    _bind_checkpoint_target(
        spark,
        target_dir,
        checkpoint_dir,
        target_alive=_resolve_manifest(spark, target_dir) is not None,
    )
    # the guard ladder once up front too, so a target this sink must not
    # extend is refused even when no new input arrives
    _resolve_or_init_bucketed_manifest(spark, target_dir, checkpoint_dir, num_buckets)
    query = (
        changes_sdf.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def read_cdc_snapshot(
    spark: SparkSession,
    target_dir: str,
    include_tombstones: bool = False,
    version: str | None = None,
) -> DataFrame | None:
    """Current snapshot of a :func:`cdc_upsert_sink` target, or None if
    no version has committed yet. Readers resolve the committed
    manifest (the ``_LATEST`` pointer moves only AFTER a version's
    parquet write and manifest commit) and read the union of its
    per-bucket dirs, so they see exactly one committed version's worth
    of data — assembled from dirs written by several versions, never a
    half-written table. A directory with no committed manifest (a new
    target, or one written by the retired full-snapshot layout) reads
    as None. Deleted keys are tombstone rows (``_deleted`` true,
    payload NULL); the default read filters them out,
    ``include_tombstones=True`` returns them (the sink needs them — a
    tombstone carries the key's sequence watermark).

    ``version`` pins the read to a specific COMMITTED version (time
    travel): versions are immutable until :func:`gc_cdc_target` sweeps
    them, so a pinned read is reproducible for as long as the GC
    retention keeps the version. A version that was never committed or
    has been GC'd raises (not None — 'table missing' and 'version
    missing' are different failures)."""
    if version is not None:
        if version not in _committed_manifest_versions(spark, target_dir):
            raise ValueError(
                f"version {version!r} is not committed in {target_dir} "
                "(never existed, or swept by gc_cdc_target)"
            )
        manifest = _read_manifest(spark, target_dir, version)
    else:
        manifest = _resolve_manifest(spark, target_dir)
    if manifest is None:
        return None
    if not manifest["buckets"]:
        # fully-compacted (or all-deleted-and-compacted) table: an
        # EMPTY DataFrame with the committed schema — not None, which
        # reads as 'table never created'
        if not manifest.get("schema"):
            return None
        from pyspark.sql.types import StructType

        df = spark.createDataFrame(
            [], StructType.fromJson(json.loads(manifest["schema"]))
        )
    else:
        paths = [f"{target_dir}/{rel}" for rel in manifest["buckets"].values()]
        df = spark.read.parquet(*paths)
    if not include_tombstones and "_deleted" in df.columns:
        # column guard: SCD2 targets carry no _deleted column
        df = df.filter(~F.col("_deleted")).drop("_deleted")
    return df


def cdc_upsert_sink(
    changes_sdf: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    num_buckets: int = 1,
) -> None:
    """Streaming MERGE INTO built from primitives: each micro-batch of
    CDC changes (op I/U/D + payload, ordered by ``seq_col``) is applied
    onto the current rows with :func:`operators.relational.
    apply_changes` in tombstone mode, and the result is committed as a
    NEW immutable manifest version (see the layout comment above
    :func:`_cdc_bucket`) before the ``_LATEST`` pointer moves. The
    streaming complement of ``relational.apply_changes``' batch CDC
    apply; the transactional form is Delta/Iceberg MERGE, this is the
    same guarantee from parquet + a manifest and a pointer file.

    Correctness properties, each load-bearing (and each pinned in
    tests/test_streaming.py):
    - **Out-of-order across batches**: every key's last-applied
      ``seq_col`` persists in the table — INCLUDING deleted keys,
      whose tombstone rows carry the delete's sequence — and incoming
      changes with ``seq <= stored seq`` are dropped BEFORE the merge.
      A late stale update can neither overwrite a newer row NOR
      resurrect a deleted one.
    - **Crash replay**: re-applying a batch is idempotent — its
      changes are all stale against the already-advanced table, so
      the replay commits nothing.
    - **Reader isolation**: version ids are monotonic (max existing
      + 1, never the restartable batch id), so committed version dirs
      are genuinely immutable; the manifest and pointer are replaced
      atomically post-write — a concurrent reader sees the old version
      or the new one, never a mix. All pointer/version IO goes
      through the Hadoop FileSystem API (file://, hdfs://, s3a://).

    Scale — ``num_buckets``: keys hash into that many fixed buckets,
    and a batch reads and rewrites ONLY the buckets its changed keys
    land in; the committed manifest re-points untouched buckets at
    their existing immutable dirs (untouched partition files stay
    byte-identical across versions, pinned in tests/test_streaming.py).
    The default of one bucket rewrites the whole table every batch,
    O(table) no matter how small the change set; ``num_buckets=N``
    makes it O(changed buckets). ``num_buckets`` is fixed at target
    creation (a key's bucket must never move): a mismatch raises, and
    :func:`migrate_cdc_target` copies a target to another bucket count.

    Operational notes: tombstones accumulate — reclaim them with
    :func:`compact_cdc_target` once the source's replay horizon has
    passed their sequence numbers. The checkpoint and target are ONE
    unit: recreate them together (a checkpoint that outlives its
    target is refused at startup — see
    :func:`_bind_checkpoint_target`)."""
    from datasheet_etl_spark.operators.relational import apply_changes

    kl = list(keys)

    def merge(batch_df: DataFrame, base: DataFrame | None) -> DataFrame | None:
        if base is None:
            base = batch_df.drop(op_col).limit(0).withColumn(
                "_deleted", F.lit(False)
            )
        # stale-change guard: seq must strictly advance per key; base
        # includes tombstones, so deletes gate too
        fresh = (
            batch_df.join(
                base.select(*kl, F.col(seq_col).alias("_base_seq")),
                kl,
                "left",
            )
            .filter(
                F.col("_base_seq").isNull()
                | (F.col(seq_col) > F.col("_base_seq"))
            )
            .drop("_base_seq")
        )
        if fresh.isEmpty():
            return None
        return apply_changes(
            base, fresh, kl, seq_col, op_col=op_col, tombstone_col="_deleted"
        )

    _upsert_stream(changes_sdf, target_dir, checkpoint_dir, kl, num_buckets, merge)


def read_scd2_snapshot(
    spark: SparkSession,
    target_dir: str,
    include_tombstones: bool = False,
    version: str | None = None,
) -> DataFrame | None:
    """Committed view of a :func:`scd2_upsert_sink` target (manifest-
    resolved, reader-isolated and time-travel-pinnable by ``version``
    exactly like :func:`read_cdc_snapshot`, since both sinks share one
    layout), with the zero-width ``_tombstone`` watermark rows filtered
    out — they carry sequence high-water marks for delete-closed keys,
    not history. ``include_tombstones=True`` returns the raw rows (what
    the sink's own stale guard reads). None until a version has
    committed."""
    snap = read_cdc_snapshot(
        spark, target_dir, include_tombstones=True, version=version
    )
    if snap is None:
        return None
    if include_tombstones:
        return snap
    return snap.filter(~F.col("_tombstone")).drop("_tombstone")


def scd2_as_of(history: DataFrame, seq) -> DataFrame:
    """Point-in-time read over SCD2 history: the row version each key
    had when the change with sequence ``seq`` was the newest applied —
    ``valid_from <= seq < valid_to`` (open intervals unbounded). A
    key whose interval was delete-closed at or before ``seq`` has no
    row, exactly like a latest-rows table rewound to that moment.
    Pure filter — at 100 TB this is a metadata-cheap scan of the one
    committed snapshot, no join and no time-travel version walk."""
    return history.filter(
        (F.col("valid_from") <= F.lit(seq))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(seq)))
    )


def scd2_upsert_sink(
    changes_sdf: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    seq_col: str,
    payload_cols: Sequence[str],
    op_col: str = "op",
    num_buckets: int = 1,
) -> None:
    """Streaming TYPE-2 SCD materialization: where
    :func:`cdc_upsert_sink` keeps each key's LATEST row, this keeps
    the full validity-interval HISTORY — one row per upsert with
    ``valid_from``/``valid_to``/``is_current``, deletes closing the
    open interval without opening one (the warehouse dimension-history
    pattern, Delta/Iceberg MERGE-into-SCD2 from parquet + a manifest
    and a pointer).
    Read targets with :func:`read_scd2_snapshot`.

    Per micro-batch, incremental by construction:
    - **same-seq collapse**: duplicate deliveries at one (key, seq)
      inside a batch are collapsed FIRST, by the same deterministic
      total order :func:`operators.relational.apply_changes` uses
      (delete-wins, then op, then payload) — every run/partitioning
      picks the same winner.
    - **stale guard**: a key's high-water mark is
      ``max(coalesce(valid_to, valid_from))`` over its RAW history —
      closed intervals carry the closing change's seq in ``valid_to``,
      and a delete that closes nothing (double delete, delete of a
      closed key) leaves a zero-width ``_tombstone`` watermark row so
      its sequence still gates (without it, a later out-of-order
      change could interleave into delete-closed history). Changes
      at/below the mark are dropped; like the cdc
      sink, the ordered-feed contract is per key ACROSS batches, and
      stale stragglers are rejected, never spliced.
    - **touched-keys rebuild**: untouched keys' rows pass through
      verbatim; for touched keys, only their OPEN interval re-enters
      the derivation (as a synthetic 'U' at its own ``valid_from``)
      together with the fresh changes, and one
      :func:`operators.relational.scd2_history` pass re-derives the
      intervals — closed history is never recomputed. The base rows
      are persisted for the batch and read once (one semi-join,
      filter-split after).
    - **commit**: the result is a NEW immutable manifest version, the
      ``_LATEST`` pointer moves after the write, and a batch whose
      changes are all stale (crash replay) commits nothing. The
      per-batch commit, checkpoint/target binding and
      orphaned-checkpoint refusal are the cdc sink's own
      (:func:`_upsert_stream`, :func:`_bind_checkpoint_target`).

    Scale — ``num_buckets``: history rows bucket by key exactly like
    the cdc sink's latest rows do, so a micro-batch reads and rewrites
    ONLY the buckets its keys hash into. The default of one bucket
    rewrites the whole history per batch, O(history); ``num_buckets=N``
    makes it O(touched buckets). Layout, guards (crash-debris recovery,
    num_buckets pinning), reader isolation and time travel are the CDC
    sink's own machinery, shared, not mirrored. t121b grades 8 buckets
    against the DuckDB lead-window oracle of the from-scratch batch
    derivation (incremental == batch); the one-bucket default is pinned
    in tests/test_streaming.py.
    """
    from pyspark.sql import Window

    kl = list(keys)
    pcols = list(payload_cols)
    tombstone_schema_cols = [
        *kl,
        *pcols,
        "valid_from",
        "valid_to",
        "is_current",
        "_tombstone",
    ]

    def collapse(batch_df: DataFrame) -> DataFrame:
        # same-seq duplicate collapse, deterministic — apply_changes'
        # total order (delete-wins, then op, then payload) through the
        # SHARED payload_tiebreak, so map payloads work here exactly
        # like they do in the CDC sink (one tiebreak definition, so
        # the map canonicalization cannot diverge between sinks)
        from datasheet_etl_spark.operators.relational import payload_tiebreak

        changes = batch_df.select(*kl, *pcols, F.col(seq_col), F.col(op_col))
        wdup = Window.partitionBy(*kl, seq_col).orderBy(
            (F.col(op_col) == "D").cast("int").desc(),
            F.col(op_col).desc(),
            *payload_tiebreak(changes, pcols),
        )
        return (
            changes.withColumn("_rn", F.row_number().over(wdup))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def with_tombstones(history: DataFrame, applied: DataFrame, ptypes):
        # zero-width watermark rows for keys whose max applied seq
        # is not already carried by a history row
        marks_applied = applied.groupBy(*kl).agg(
            F.max(seq_col).alias("_aseq")
        )
        carried = history.groupBy(*kl).agg(
            F.max(F.coalesce("valid_to", "valid_from")).alias("_hseq")
        )
        need = (
            marks_applied.join(carried, kl, "left")
            .filter(
                F.col("_hseq").isNull() | (F.col("_aseq") > F.col("_hseq"))
            )
            .select(
                *kl,
                *[F.lit(None).cast(ptypes[c]).alias(c) for c in pcols],
                F.col("_aseq").alias("valid_from"),
                F.col("_aseq").alias("valid_to"),
                F.lit(False).alias("is_current"),
                F.lit(True).alias("_tombstone"),
            )
        )
        return history.select(*tombstone_schema_cols).unionByName(need)

    def derive(base: DataFrame | None, changes: DataFrame) -> DataFrame | None:
        """Next history for the touched buckets ``base`` holds, or None
        when every change is stale (an all-stale batch commits
        nothing). ``base`` arrives persisted when not None."""
        from datasheet_etl_spark.operators.relational import scd2_history

        ptypes = dict(changes.dtypes)
        if base is None:
            hist = scd2_history(changes, kl, seq_col, pcols, op_col)
            return with_tombstones(
                hist.withColumn("_tombstone", F.lit(False)), changes, ptypes
            )
        marks = base.groupBy(*kl).agg(
            F.max(F.coalesce("valid_to", "valid_from")).alias("_mark")
        )
        fresh = (
            changes.join(marks, kl, "left")
            .filter(F.col("_mark").isNull() | (F.col(seq_col) > F.col("_mark")))
            .drop("_mark")
        )
        if fresh.isEmpty():
            return None
        touched = fresh.select(*kl).distinct()
        untouched = base.join(touched, kl, "left_anti")
        touched_rows = base.join(touched, kl, "left_semi")
        # old tombstones for touched keys are superseded by the
        # rebuild's new watermark; real closed rows pass through
        closed_rows = touched_rows.filter(
            (~F.col("_tombstone")) & F.col("valid_to").isNotNull()
        )
        open_rows = touched_rows.filter(
            (~F.col("_tombstone")) & F.col("valid_to").isNull()
        )
        reopened = open_rows.select(
            *kl,
            *pcols,
            F.col("valid_from").alias(seq_col),
            F.lit("U").alias(op_col),
        )
        rebuilt = scd2_history(
            reopened.unionByName(fresh), kl, seq_col, pcols, op_col
        ).withColumn("_tombstone", F.lit(False))
        # watermark basis: everything the touched keys now carry
        # (closed + rebuilt) vs the max seq applied (fresh ∪ reopened
        # covers closed-key deletes too)
        applied = fresh.select(*kl, seq_col).unionByName(
            reopened.select(*kl, seq_col)
        )
        touched_hist = closed_rows.select(*tombstone_schema_cols).unionByName(
            rebuilt.select(*tombstone_schema_cols)
        )
        return untouched.select(*tombstone_schema_cols).unionByName(
            with_tombstones(touched_hist, applied, ptypes)
        )

    _upsert_stream(
        changes_sdf,
        target_dir,
        checkpoint_dir,
        kl,
        num_buckets,
        lambda batch_df, base: derive(base, collapse(batch_df)),
    )


def compact_cdc_target(
    spark: SparkSession, target_dir: str, min_seq, seq_col: str = "seq"
) -> int:
    """Reclaim tombstones from a :func:`cdc_upsert_sink` target: drop
    tombstone rows whose sequence is **below** ``min_seq`` (the
    source's replay horizon — the caller's promise that no change with
    ``seq < min_seq`` will ever arrive again; a tombstone older than
    that can no longer gate anything). Commits the compacted state as
    a NEW version through the same atomic manifest/pointer protocol —
    readers see the old version or the compacted one, never a mix, and
    a crash mid-compaction leaves the target on the old version.
    Tombstones at/above the horizon survive, so the stale-change guard
    keeps rejecting in-horizon replays (pinned in tests). Returns the
    number of tombstones dropped.

    Compaction is partition-scoped: one metadata-only pass finds the
    bucket dirs that actually contain expired tombstones (via
    ``input_file_name``), and ONLY those buckets are rewritten —
    untouched buckets keep their existing immutable dirs, O(expired
    buckets) not O(table). A target with no ``_deleted`` column (an
    SCD2 target) has nothing to compact."""
    from functools import reduce

    expired = F.col("_deleted") & (F.col(seq_col) < F.lit(min_seq))
    manifest = _resolve_manifest(spark, target_dir)
    if manifest is None or not manifest["buckets"]:
        return 0
    paths = [f"{target_dir}/{rel}" for rel in manifest["buckets"].values()]
    rows = spark.read.parquet(*paths)
    if "_deleted" not in rows.columns:
        return 0
    # bounded driver-side set: distinct FILES holding expired tombstones
    # (≤ one per bucket dir the sink writes), mapped back to bucket ids
    # by their `_bucket=<k>` path segment — no key columns needed
    hit_files = [
        r["_f"]
        for r in rows.filter(expired)
        .select(F.input_file_name().alias("_f"))
        .distinct()
        .collect()
    ]
    hit_buckets = sorted(
        {
            int(seg.split("=", 1)[1])
            for f in hit_files
            for seg in f.split("/")
            if seg.startswith("_bucket=")
        }
    )
    if not hit_buckets:
        return 0
    # bounded loop over BUCKET ids (≤ num_buckets), not data: each dir
    # read carries its bucket id as a literal so the rewrite partitions
    parts = [
        spark.read.parquet(
            f"{target_dir}/{manifest['buckets'][str(b)]}"
        ).withColumn("_bucket", F.lit(b))
        for b in hit_buckets
    ]
    hit_df = reduce(lambda a, b: a.unionByName(b), parts)
    n = hit_df.filter(expired).count()
    version = _next_version(spark, target_dir)
    (
        hit_df.filter(~expired)
        .repartition(F.col("_bucket"))
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(f"{target_dir}/{version}")
    )
    _commit_bucketed_version(
        spark,
        target_dir,
        version,
        manifest["buckets"],
        hit_buckets,
        manifest["num_buckets"],
        manifest.get("schema")
        or hit_df.drop("_bucket").schema.json(),
    )
    return n


def gc_cdc_target(
    spark: SparkSession, target_dir: str, keep_versions: int = 2
) -> int:
    """Reclaim disk from a :func:`cdc_upsert_sink` target: every commit
    writes a new immutable version, so superseded versions accumulate
    forever without this. Keeps the newest ``keep_versions`` committed
    manifests plus every DATA DIRECTORY any kept manifest still
    references (a current manifest legitimately points into much older
    versions' bucket dirs for never-touched buckets; reachability, not
    age, decides liveness). Also deletes nothing newer than the oldest
    kept version, so an in-flight (uncommitted) write's directory is
    never swept. Returns the number of paths deleted (manifests plus
    data dirs).

    ``keep_versions`` is the reader grace window: a reader that
    resolved a version just before GC can finish scanning it as long
    as it does so before ``keep_versions`` further commits — the same
    retention contract as Delta's VACUUM horizon."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    fs, _, jvm = _hadoop_fs(spark, target_dir)
    P = jvm.org.apache.hadoop.fs.Path
    committed = _committed_manifest_versions(spark, target_dir)
    if len(committed) <= keep_versions:
        return 0
    kept, dropped = committed[-keep_versions:], committed[:-keep_versions]
    live: set[str] = set(kept)
    for v in kept:
        m = _read_manifest(spark, target_dir, v)
        if m:
            live |= {rel.split("/", 1)[0] for rel in m["buckets"].values()}
    floor = kept[0]
    for v in dropped:
        fs.delete(P(_manifest_path(target_dir, v)), False)
    deleted = len(dropped)
    for st in fs.globStatus(P(f"{target_dir}/v*")) or []:
        d = st.getPath().getName()
        # reachable dirs stay whatever their age; unreachable dirs are
        # swept only BELOW the kept floor (newer unreachable = possibly
        # in-flight). Zero-padded names compare like their numbers.
        if d[1:].isdigit() and d not in live and d < floor:
            fs.delete(P(f"{target_dir}/{d}"), True)
            deleted += 1
    return deleted


def gc_cdc_checkpoint(
    spark: SparkSession, checkpoint_dir: str, keep_batches: int = 2
) -> int:
    """Bound the streaming CHECKPOINT alongside the target GC — the
    other half of the lifecycle :func:`gc_cdc_target` closes. A
    long-lived sink accretes one ``offsets/<n>`` + ``commits/<n>`` pair
    per micro-batch (Spark's own retention keeps the last
    ``minBatchesToRetain`` = 100 — a bound, but two orders looser than
    a trickle-fed CDC target wants) and a file-source metadata log
    under ``sources/<i>/`` whose periodic ``<n>.compact`` files fold
    the full history of every prior entry.

    Deletes, conservatively:
    - batch-log pairs strictly below ``latest_offset - keep_batches + 1``
      — restart reads the newest offset file AND its predecessor (to
      recover the replay batch's start offsets), hence the
      ``keep_batches >= 2`` floor;
    - file-source log entries strictly below that source's newest
      ``.compact`` — their content is BY CONSTRUCTION folded into the
      compact, so the restart's seen-files reconstruction (newest
      compact + later increments) never misses them. With no compact
      yet, nothing is deleted for that source.

    Never touches ``metadata`` (the query id) or ``state/``. Returns
    the number of files deleted. Idempotent; safe between runs of an
    availableNow sink.

    In-flight guard (not just a docstring caveat): a checkpoint whose
    newest ``offsets/<n>`` has no matching ``commits/<n>`` is
    mid-batch — either the query is LIVE right now (offsets are
    written at batch start, commits at batch end) or it crashed
    between the two and the next start will replay from exactly that
    state. GC'ing around an uncommitted batch would compute the
    deletion floor from an offset whose batch may still be rolled
    back, and deleting while a query is live races its own log
    maintenance — refuse both, with zero false refusals for the
    availableNow drain-then-stop lifecycle this sink uses (a drained
    query always leaves offsets and commits level)."""
    if keep_batches < 2:
        raise ValueError(
            "keep_batches must be >= 2: restart reads the latest offset "
            "file and its predecessor"
        )
    fs, _, jvm = _hadoop_fs(spark, checkpoint_dir)
    P = jvm.org.apache.hadoop.fs.Path

    def batch_files(sub: str) -> dict:
        statuses = fs.globStatus(P(f"{checkpoint_dir}/{sub}/*"))
        return {
            int(st.getPath().getName()): st.getPath()
            for st in (statuses or [])
            if st.getPath().getName().isdigit()
        }

    offsets = batch_files("offsets")
    if not offsets:
        return 0
    if max(offsets) not in batch_files("commits"):
        raise ValueError(
            f"checkpoint {checkpoint_dir} has an in-flight batch "
            f"{max(offsets)} (offsets written, no commit): the query is "
            "either live or crashed mid-batch. Let it finish — or "
            "restart the sink so the batch replays and commits — then "
            "GC."
        )
    floor = max(offsets) - keep_batches + 1
    deleted = 0
    for sub in ("offsets", "commits"):
        for n, path in batch_files(sub).items():
            if n < floor:
                fs.delete(path, False)
                deleted += 1
    src_dirs = fs.globStatus(P(f"{checkpoint_dir}/sources/*"))
    for src in (src_dirs or []):
        entries = []  # (batch_id, path)
        newest_compact = None
        for st in fs.listStatus(src.getPath()) or []:
            name = st.getPath().getName()
            base = name[: -len(".compact")] if name.endswith(".compact") else name
            if not base.isdigit():
                continue
            if name.endswith(".compact"):
                newest_compact = max(newest_compact or -1, int(base))
            entries.append((int(base), st.getPath()))
        if newest_compact is None:
            continue
        for n, path in entries:
            if n < newest_compact:
                fs.delete(path, False)
                deleted += 1
    return deleted


def gc_cdc(
    spark: SparkSession,
    target_dir: str,
    checkpoint_dir: str,
    keep_versions: int = 2,
    keep_batches: int = 2,
) -> dict:
    """Checkpoint+target co-GC: ONE retention decision for the pair
    that lives and dies together (:func:`_bind_checkpoint_target`).
    Runs :func:`gc_cdc_target` and :func:`gc_cdc_checkpoint` in that
    order, refusing to touch the checkpoint of a target with no
    committed state — GC'ing a live checkpoint against a dead target
    is exactly the orphan the ``_SINK_INIT`` guard refuses at the next
    start, and a co-GC must never manufacture that state. Returns
    ``{"target_paths_deleted": n, "checkpoint_files_deleted": m}``."""
    if _resolve_manifest(spark, target_dir) is None:
        raise ValueError(
            f"{target_dir} has no committed state; refusing to GC its "
            f"checkpoint {checkpoint_dir} — rebuild the pair together "
            "(delete both) instead"
        )
    return {
        "target_paths_deleted": gc_cdc_target(
            spark, target_dir, keep_versions
        ),
        "checkpoint_files_deleted": gc_cdc_checkpoint(
            spark, checkpoint_dir, keep_batches
        ),
    }


def _quarantine_ingest_guard(
    spark: SparkSession,
    checkpoint_dir: str,
    clean_path: str,
    quarantine_path: str,
) -> None:
    """Both lifecycle refusals for the batch-id-keyed quarantine sinks,
    factored for direct testing:

    - FRESH checkpoint (no ``offsets/`` recorded — offsets, not
      commits: a first-batch crash leaves offsets without a commit and
      is RESUMABLE because the recorded offsets pin the batch ids)
      over a POPULATED sink is refused — an availableNow restart
      renumbers batches, so stale batch=* partitions would survive
      next to re-routed rows and duplicate them.
    - A checkpoint that OUTLIVES a deleted sink is refused via
      ``_bind_checkpoint_target`` (per-sink ``_SINK_INIT`` markers) —
      a restarted stream would otherwise skip every committed batch
      and leave the rebuilt sinks empty forever with no error.

    Underscore-prefixed entries (the markers) don't count as
    population; each path is checked on ITS OWN FileSystem."""
    fresh = not _checkpoint_has_offsets(spark, checkpoint_dir)
    for p in (clean_path, quarantine_path):
        fs, h, _ = _hadoop_fs(spark, p)
        populated = fs.exists(h) and any(
            not st.getPath().getName().startswith("_")
            for st in fs.listStatus(h)
        )
        if fresh and populated:
            raise ValueError(
                f"fresh checkpoint {checkpoint_dir} but sink {p} is "
                "not empty — a restarted ingest would renumber "
                "batches and duplicate rows next to the stale "
                "batch=* partitions. Delete BOTH sinks and the "
                "checkpoint to re-ingest from scratch, or restore "
                "the original checkpoint to resume."
            )
        _bind_checkpoint_target(spark, p, checkpoint_dir, populated)


def quarantine_ingest(
    spark: SparkSession,
    input_dir: str,
    clean_path: str,
    quarantine_path: str,
    checkpoint_dir: str,
    schema: str,
    corrupt_col: str = "_corrupt_record",
    processing_time: str | None = None,
):
    """Streaming lenient ingest with a quarantine SIDE OUTPUT — the
    LIVE form of ``io.read_json_lenient``: raw JSON-lines files land in
    ``input_dir``; every micro-batch parses leniently and routes clean
    rows to ``clean_path`` and malformed lines (verbatim, with their
    batch id) to ``quarantine_path``, so one bad shard never kills —
    or silently shrinks — a continuous 100 TB ingest.

    Exactly-once from primitives: parquet appends are not transactional
    with the checkpoint, so each batch instead OVERWRITES its own
    ``batch=<id>`` subdirectory in both sinks — a crash-replayed batch
    (SAME checkpoint, so same batch ids) rewrites the same two
    directories and the result is bit-identical (the parse is a pure
    per-line function; no cross-batch state). The guarantee is keyed
    to the CHECKPOINT: a FRESH checkpoint renumbers batches (an
    availableNow restart coalesces all pending files into batch 0), so
    stale higher-numbered partitions from a previous life would
    survive next to re-routed rows and duplicate them — which is why a
    fresh checkpoint over a NON-EMPTY sink is refused outright.
    Freshness is keyed on recorded OFFSETS, not commits: a crash
    during the very first batch leaves offsets without a commit, and
    that checkpoint is RESUMABLE (its offsets pin the batch ids), not
    fresh. The INVERSE is refused too (``_bind_checkpoint_target``,
    the gc_cdc philosophy): a checkpoint outliving deleted sinks would
    make the restarted stream skip every committed batch and leave the
    rebuilt sinks empty forever — delete BOTH to rebuild, never one
    side. Readers scan the
    sink root; the batch id surfaces as a partition column, which
    doubles as ingest provenance (WHICH batch quarantined a line — the
    first question an ingest operator asks).

    Scale shape: one text scan per batch (the parsed frame is
    persisted across the two sink writes), map-side parse + split, two
    partition-scoped writes; no state store, no shuffle. The parse is
    ``io._parse_lenient`` over the streaming text frame — the same
    definition behind ``read_json_lenient``/``read_csv_lenient``;
    ``split_corrupt`` is shared verbatim.

    ``processing_time`` switches the trigger from availableNow (drain
    pending files, then stop — the default, and what the batch-shaped
    tests grade) to a LIVE processingTime micro-batch loop: the query
    is returned still running and the caller owns ``stop()``. The
    exactly-once story is UNCHANGED — batch-id keying comes from the
    checkpoint, not the trigger, so a long-lived processingTime
    checkpoint keeps incrementing ids across restarts and the
    fresh-checkpoint-over-populated-sink refusal applies identically
    (it guards checkpoint lifetime, not trigger cadence)."""
    from datasheet_etl_spark.io import _parse_lenient, split_corrupt

    _quarantine_ingest_guard(spark, checkpoint_dir, clean_path, quarantine_path)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        parsed = _parse_lenient(
            batch_df,
            lambda value, full: F.from_json(
                value,
                full,
                {
                    "mode": "PERMISSIVE",
                    "columnNameOfCorruptRecord": corrupt_col,
                },
            ),
            schema,
            corrupt_col,
        ).persist()
        try:
            clean, bad = split_corrupt(parsed, corrupt_col)
            clean.write.mode("overwrite").parquet(
                f"{clean_path}/batch={batch_id}"
            )
            bad.write.mode("overwrite").parquet(
                f"{quarantine_path}/batch={batch_id}"
            )
        finally:
            parsed.unpersist()

    writer = (
        spark.readStream.text(input_dir)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if processing_time is not None:
        return writer.trigger(processingTime=processing_time).start()
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    return query


def cdc_version_diff(
    spark: SparkSession,
    target_dir: str,
    old_version: str,
    new_version: str | None,
    keys: Sequence[str],
    ignore_cols: Sequence[str] = (),
) -> DataFrame:
    """What changed between two COMMITTED versions of a CDC target —
    the time-travel audit an operator runs before acting on a sink
    ("what did last night's stream do to this table"): every key
    classified added / removed / changed / unchanged between
    ``old_version`` and ``new_version`` (None = the current committed
    snapshot). Deleted keys surface as ``removed`` because snapshots
    exclude tombstones; a key resurrected after deletion is ``added``.

    Built from primitives this module already guarantees: version
    reads are immutable-until-GC (:func:`read_cdc_snapshot`) and the
    diff is :func:`relational.snapshot_diff`'s one full-outer join on
    map-side fingerprints — non-key payload columns collapse to one
    md5 per row before anything shuffles, so the diff moves
    (key, 16-byte fp) pairs, never payloads. Raises (via
    read_cdc_snapshot) on uncommitted/GC'd versions; a never-written
    target raises ValueError.

    ``ignore_cols`` excludes bookkeeping columns from the fingerprint —
    pass the sink's ``seq_col`` to diff only user-visible values:
    snapshots persist the per-key sequence watermark, and a source
    that re-emits identical values under a new sequence number (full
    reloads, touch-updates) advances ONLY that column, which would
    otherwise report the key as ``changed``."""
    from datasheet_etl_spark.operators.relational import snapshot_diff

    skip = set(keys) | set(ignore_cols)

    def fingerprinted(version):
        snap = read_cdc_snapshot(spark, target_dir, version=version)
        if snap is None:
            raise ValueError(f"{target_dir} has no committed version")
        payload = [c for c in snap.columns if c not in skip]
        # the shared canonical row fingerprint (_canonical_row_fp):
        # key-sorted map entries at every nesting level,
        # ignoreNullFields=false so {a: null, b: 1} cannot collide
        # with {b: 1}
        fp = _canonical_row_fp(snap, payload)
        key = (
            F.col(keys[0])
            if len(keys) == 1
            else F.to_json(F.struct(*[F.col(k) for k in keys]))
        )
        return snap.select(key.alias("_key"), fp.alias("fp"))

    return snapshot_diff(
        fingerprinted(old_version),
        fingerprinted(new_version),
        key_col="_key",
        fp_col="fp",
    )


def _canonical_row_fp(df: DataFrame, cols: Sequence[str]):
    """THE row-content fingerprint expression every version/migration
    diff in this module must share (single definition on purpose, so
    version diffs and migration checks cannot fingerprint the same row
    differently): maps canonicalized to key-sorted entries at every
    nesting level, ``ignoreNullFields=false`` so a NULL field stays
    distinct from an ABSENT one, one md5 per row."""
    from datasheet_etl_spark.operators.relational import canonicalize_maps

    types = {f.name: f.dataType for f in df.schema.fields}
    return F.md5(
        F.to_json(
            F.struct(
                *[
                    canonicalize_maps(F.col(c), types[c]).alias(c)
                    for c in cols
                ]
            ),
            {"ignoreNullFields": "false"},
        )
    )


def _bucket_fingerprints(df: DataFrame, bucket, cols: Sequence[str]):
    """Per-bucket content fingerprint for migration diffing: every row
    collapses map-side to one md5 (:func:`_canonical_row_fp` — the
    cdc_version_diff discipline, shared code), then buckets combine
    rows ORDER-INDEPENDENTLY with partial-aggregable reductions: row
    count, bit_xor of two independently-salted 64-bit hashes, and an
    overflow-proof decimal sum of a third. No collect_list — a bucket
    with 10^9 rows costs the same driver/task memory as one with 10.
    Returns ≤ num_buckets rows."""
    fp = _canonical_row_fp(df, cols)
    return (
        df.select(bucket.alias("_b"), fp.alias("_fp"))
        .groupBy("_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(_fp))").alias("h1"),
            F.expr("bit_xor(xxhash64(_fp, 'salt'))").alias("h2"),
            F.sum(
                F.expr("CAST(xxhash64(_fp) AS DECIMAL(28,0))")
            ).alias("h3"),
        )
    )


def migrate_cdc_target(
    spark: SparkSession,
    source_dir: str,
    dest_dir: str,
    num_buckets: int,
    keys: Sequence[str],
    preserve_history: bool = True,
) -> dict:
    """Re-bucketing: copy a committed CDC or SCD2 target into a FRESH
    target with ``num_buckets`` buckets. A target's bucket count is
    fixed for its lifetime (a key's bucket must never move), so this
    is how a target changes it. Works for both sink families because
    they share one layout: rows are copied VERBATIM (tombstones and
    per-key sequence watermarks included, so the stale guard's
    continuity survives — a change that was stale against the source
    is stale against the copy), only the bucketing changes.

    ``preserve_history=True`` (default) copies EVERY committed version
    under its ORIGINAL version id, so time-travel reads
    (``read_cdc_snapshot(..., version=...)``) return identical rows
    in both targets. Each copied version writes ONLY the buckets whose
    content changed vs the previous version — unchanged buckets
    re-point at their existing immutable dirs. Change detection is
    per-bucket content fingerprints (:func:`_bucket_fingerprints` —
    order-independent, partial-agged, never ships payloads), not
    per-key joins, so it is exact for CDC latest-rows AND SCD2
    multi-row-per-key history alike.

    ``preserve_history=False`` copies only the CURRENT snapshot as one
    version — an EXPLICIT truncation: prior versions stay readable in
    the (untouched) source but are not carried, and the returned
    summary records ``truncated_versions`` so the decision is on the
    record.

    Refusals: the source must have a committed manifest, and the
    destination must be empty (bucket counts and histories must never
    be spliced onto existing state). The source is READ-ONLY
    throughout: verify the copy, then retire the source.

    Scale: per version, one fingerprint scan of the source snapshot +
    one write of the changed buckets. Nothing is shuffled except
    (bucket, fingerprint) rows and the changed buckets' own data."""
    _check_num_buckets(num_buckets)
    kl = list(keys)
    src_versions = _committed_manifest_versions(spark, source_dir)
    if not src_versions:
        raise ValueError(f"{source_dir} has no committed versions")
    if _committed_manifest_versions(spark, dest_dir) or _committed_versions(
        spark, dest_dir
    ):
        raise ValueError(
            f"{dest_dir} is not empty — migration only initializes a "
            "FRESH target (histories must never be spliced)"
        )
    versions = src_versions if preserve_history else src_versions[-1:]
    bucket = _cdc_bucket(kl, num_buckets)
    prev_fp = None
    prev_buckets: dict = {}
    migrated = []
    for v in versions:
        snap = read_cdc_snapshot(
            spark, source_dir, include_tombstones=True, version=v
        )
        cols = snap.columns
        cur_fp = _bucket_fingerprints(snap, bucket, cols).cache()
        if prev_fp is None:
            touched = sorted(r["_b"] for r in cur_fp.select("_b").collect())
        else:
            # a bucket is touched iff its content fingerprint changed,
            # appeared, or disappeared — ≤ 2*num_buckets comparison
            # rows ever reach the driver
            joined = cur_fp.alias("c").join(
                prev_fp.alias("p"), on="_b", how="full_outer"
            )
            touched = sorted(
                r["_b"]
                for r in joined.filter(
                    F.col("c.n").isNull()
                    | F.col("p.n").isNull()
                    | (F.col("c.n") != F.col("p.n"))
                    | (F.col("c.h1") != F.col("p.h1"))
                    | (F.col("c.h2") != F.col("p.h2"))
                    | (F.col("c.h3") != F.col("p.h3"))
                )
                .select("_b")
                .collect()
            )
        # write ALWAYS creates the version dir (zero rows → _SUCCESS
        # with no bucket dirs): a version whose content equals its
        # predecessor's must still claim its version id on disk — a
        # manifest-only commit would let a later sink's _next_version
        # (which scans v* DIRS) reuse the id and overwrite the
        # manifest — and stays time-travel-addressable (the 1:1
        # version-parity contract)
        (
            snap.withColumn("_bucket", bucket)
            .filter(F.col("_bucket").isin([int(b) for b in touched]))
            .repartition(F.col("_bucket"))
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(f"{dest_dir}/{v}")
        )
        _commit_bucketed_version(
            spark,
            dest_dir,
            v,
            prev_buckets,
            touched,
            num_buckets,
            snap.schema.json(),
        )
        prev_buckets = _read_manifest(spark, dest_dir, v)["buckets"]
        migrated.append(v)
        if prev_fp is not None:
            prev_fp.unpersist()
        prev_fp = cur_fp
    if prev_fp is not None:
        prev_fp.unpersist()
    return {
        "migrated_versions": migrated,
        "truncated_versions": [v for v in src_versions if v not in versions],
        "num_buckets": num_buckets,
        "dest": dest_dir,
    }
