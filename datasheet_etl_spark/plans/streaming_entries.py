"""Driver-contract entries that execute under Structured Streaming.

Each entry stages the events table into a file-source directory, runs
the streaming query with an availableNow trigger into a memory sink,
and returns the drained result as a batch DataFrame — so the driver's
oracle compare exercises the *streaming* execution path end to end.
A bounded input drained through a streaming query must reproduce the
batch answer exactly, so most entries are oracled with batch SQL (t117
with Q18's own sessionize SQL); entries whose state or hashes are
engine-specific register rows-only.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasheet_etl_spark.plans.queries import ORACLES, register
from datasheet_etl_spark.streaming import events_stream, run_available_now
from datasheet_etl_spark.streaming.streams import stream_interval_join


def _source_files(src: str) -> list[str]:
    import os

    if os.path.isdir(src):
        return [
            os.path.join(src, f)
            for f in sorted(os.listdir(src))
            if f.endswith(".parquet")
        ]
    return [src]


def _source_signature(src: str) -> str:
    # identity of the CURRENT source generation: name+size+mtime of
    # every part file. Spark rewrites produce fresh UUID part names, so
    # add/refresh-by-name staging would leave ORPHANED old-generation
    # parts beside the new ones and every streaming entry would quietly
    # read the union of two generations — the signature forces a full
    # wipe-and-restage whenever the source changed in any way.
    import os

    parts = []
    for f in _source_files(src):
        st = os.stat(f)
        parts.append(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def _stage_synced(d: str, signature: str, build) -> str:
    """Wipe-and-rebuild staging dir ``d`` via ``build(d)`` whenever
    ``signature`` differs from the recorded one; no-op when current."""
    import os

    sig_path = os.path.join(d, "_SRC_SIG")
    try:
        current = open(sig_path).read()
    except OSError:
        current = None
    if current == signature:
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    build(d)
    with open(sig_path, "w") as fh:
        fh.write(signature)
    return d


def _stage_events_2file(spark: SparkSession, sf_dir: str) -> str:
    """TWO-file staged copy of events (the source parquet is one file
    at test sfs), so ``maxFilesPerTrigger=1`` yields two genuine
    micro-batches. ONE helper shared by every entry that needs the
    multi-batch structure (t143's sink, t145's sketch merge) — the
    cache dir is keyed on the source signature, so two divergent
    inline copies could silently consume each other's staging
    (review-found r14)."""
    import hashlib
    import os

    from datasheet_etl_spark.io import load_table

    events_src = f"{sf_dir.rstrip('/')}/events.parquet"
    return _stage_synced(
        os.path.join(
            tempfile.gettempdir(),
            f"t143_src_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}",
        ),
        _source_signature(events_src) + "|2file",
        lambda dst: load_table(spark, sf_dir, "events")
        .repartition(2)
        .write.mode("overwrite")
        .parquet(dst),
    )


def _stage_events(sf_dir: str) -> str:
    # deterministic per-sf staging dir, reused across calls (repeated
    # bench/driver runs must not leak one events copy per invocation)
    import hashlib
    import os

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"events_stream_{tag}")
    src = f"{sf_dir.rstrip('/')}/events.parquet"

    def build(dst_dir):
        for f in _source_files(src):
            shutil.copy2(f, os.path.join(dst_dir, os.path.basename(f)))

    return _stage_synced(d, _source_signature(src), build)


class _few_state_partitions:
    """Streaming state partition count is captured from
    spark.sql.shuffle.partitions when the query starts; 32 state stores
    × N micro-batches is pure file-IO overhead for these bounded
    drains — run them at few partitions and restore the session conf
    after.

    The count is a scale knob, not a semantic one (state distribution
    only; values are identical at any N), so it is env-parameterised:
    ``SPARK_GRAFT_STATE_PARTITIONS`` overrides every default; a
    long-lived production stream wants it sized to the executor
    parallelism instead — set the env accordingly at submit time.

    The LOCAL default is shape-differentiated (r16; measured with
    ABBA-ordered pairs after r15's plain A-then-B attempt was rejected
    for 10-25% first-mover drift):

    - JVM-state drains (joins, window/dedup aggregates, foreachBatch
      sinks) default to **4**: their wall is dominated by the
      HDFS-backed store-commit floor (~0.1 s of fsync-bound file IO
      per partition × micro-batch × store; a stream-stream join keeps
      4 stores per partition), so halving partitions halves the
      dominant term — ABBA medians 0.83-0.87× on the interval joins with
      the faster arm winning EVERY pair in BOTH positions, and the t119
      decomposition (source floor ~2.4 s + join-state ~5.5 s +
      agg-state ~0.8 s at 8 partitions) puts the commit term at >60%
      of the entry. Per-partition state stays far below memory at any
      bench SF, and a bounded drain (backfill/replay) has the same
      commit-floor shape on a real cluster.
    - Python-stateful drains (``applyInPandasWithState``: t117,
      t24) keep **8**: state partitions are also their Python worker
      parallelism, and r15 measured 1.10-1.21× REGRESSION at 4 in its
      cleanest pairs (this round's re-check ran at steal 0.35-0.66 —
      unusable either way, so the r15 low-steal finding stands).
    """

    def __init__(self, spark: SparkSession, n: int | None = None, default: int = 4):
        if n is None:
            raw = os.environ.get(
                "SPARK_GRAFT_STATE_PARTITIONS", str(default)
            )
            try:
                n = int(raw)
            except ValueError as exc:
                raise ValueError(
                    "SPARK_GRAFT_STATE_PARTITIONS must be an integer >= 1, "
                    f"got {raw!r}"
                ) from exc
            if n < 1:
                raise ValueError(
                    "SPARK_GRAFT_STATE_PARTITIONS must be >= 1, "
                    f"got {raw!r}"
                )
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def _stage_events_sentinels(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    sentinel_files: list[list[tuple[int, int, str, int]]],
) -> tuple[str, int]:
    """Events staging for watermark-flush drains: the real part files
    (as ``a_*``, oldest mtimes) plus one extra file per element of
    ``sentinel_files`` (``b0_*``, ``b1_*``, …, utime'd one minute
    apart, newest last), each holding far-future rows given as
    ``(event_id, user_id, event_type, days_after_max_ts)``. With
    ``maxFilesPerTrigger = n_real`` the real data lands in micro-batch
    1 and each sentinel lands in its OWN later batch, so the watermark
    computed from every batch N's data is live during batch N+1 —
    advancing it past the real rows before the drain ends, which a
    bounded availableNow run never guarantees by itself for outer
    joins or event-time timeouts.

    One-batch-per-sentinel is made structural, not hoped-for: the file
    source fills each trigger with up to ``maxFilesPerTrigger`` files
    in (mtime, path) order, so with ``n_real >= 2`` a bare sentinel
    file would be BATCHED TOGETHER with the next one (review-found);
    each sentinel is therefore padded with ``n_real - 1`` empty
    same-schema parquet files at the same mtime, making every sentinel
    group exactly one full trigger. Returns (dir, n_real)."""
    import hashlib
    import os

    src = f"{sf_dir.rstrip('/')}/events.parquet"
    d = os.path.join(
        tempfile.gettempdir(),
        f"events_{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}",
    )
    n_real = len(_source_files(src))

    def build(dst_dir):
        now = 0.0
        for f in _source_files(src):
            shutil.copy2(f, os.path.join(dst_dir, f"a_{os.path.basename(f)}"))
            now = max(now, os.stat(f).st_mtime)
        ev = spark.read.parquet(src)
        max_ts = ev.agg(F.max("ts").cast("timestamp").alias("m"))
        for i, rows in enumerate(sentinel_files):
            sent = max_ts.selectExpr(
                "stack({}, {}) AS (sent_id, sent_uid, sent_type, sent_days)".format(
                    len(rows),
                    ", ".join(
                        f"CAST({eid} AS BIGINT), CAST({uid} AS BIGINT), "
                        f"'{etype}', {days}"
                        for eid, uid, etype, days in rows
                    ),
                ),
                "m",
            ).select(
                *[
                    F.col("sent_id").alias(f.name)
                    if f.name == "event_id"
                    else F.col("sent_uid").alias(f.name)
                    if f.name == "user_id"
                    else F.col("sent_type").alias(f.name)
                    if f.name == "event_type"
                    else F.timestamp_add("DAY", F.col("sent_days"), F.col("m")).alias(
                        f.name
                    )
                    if f.name == "ts"
                    else F.lit(0.0).cast(f.dataType).alias(f.name)
                    if f.name == "value"
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in ev.schema.fields
                ]
            )
            tmp = os.path.join(dst_dir, "_sent_build")
            sent.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(dst_dir, f"b{i}_sentinel.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            mtime = now + 60 * (i + 1)
            os.utime(dst, (mtime, mtime))
            if n_real > 1:
                # pad the sentinel's trigger group to exactly n_real
                # files so maxFilesPerTrigger = n_real puts each
                # sentinel in its own micro-batch
                empty_tmp = os.path.join(dst_dir, "_empty_build")
                ev.limit(0).coalesce(1).write.mode("overwrite").parquet(
                    empty_tmp
                )
                epart = next(
                    f for f in os.listdir(empty_tmp) if f.endswith(".parquet")
                )
                for j in range(n_real - 1):
                    pad = os.path.join(dst_dir, f"b{i}_pad{j:03d}.parquet")
                    shutil.copyfile(os.path.join(empty_tmp, epart), pad)
                    os.utime(pad, (mtime, mtime))
                shutil.rmtree(empty_tmp)

    # sentinel spec AND staging-layout version are part of the staging
    # identity: changing the planted rows or the layout rules (v2:
    # per-sentinel padding to full trigger groups) must force a
    # restage even when the source is unchanged
    sig = "v2|" + _source_signature(src) + "|" + repr(sentinel_files)
    return _stage_synced(d, sig, build), n_real


@register("t117_stateful_timeout_sessions", ORACLES["q18_sessionize"])
def t117_stateful_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionize with EVENT-TIME TIMEOUT expiry
    (``GroupStateTimeout.EventTimeTimeout``): sessions emit exactly
    once, when CLOSED — by the next event's gap in-stream, or by the
    watermark passing ``last_event + gap`` via the timeout branch
    (``hasTimedOut`` → finalize → ``state.remove()``). This is the
    state-lifecycle contract a NoTimeout operator never exercises:
    quiet keys finalize and their state is removed, so state tracks
    OPEN sessions only. Trailing no-data batches already fire timeouts
    up to the final data watermark (``max(ts) − delay``; pinned in
    tests/test_streaming.py), but sessions closing inside that last
    window would stay stuck; two sentinel files (+7d/+14d, one per
    micro-batch) advance the watermark in two steps — batch N+1 runs
    with batch N's watermark — so by the second sentinel batch every
    real session's timeout has fired, structurally. Because each
    session is emitted exactly once, the drained sink needs NO dedup:
    the raw memory-sink content equals batch Q18's session table
    (the DuckDB oracle), which grades the whole timeout lifecycle."""
    src, n_real = _stage_events_sentinels(
        spark,
        sf_dir,
        "timeout",
        [[(-1, -1, "sentinel", 7)], [(-2, -2, "sentinel", 14)]],
    )
    from datasheet_etl_spark.streaming.streams import sessionize_timeout

    with _few_state_partitions(spark, default=8):
        stream = events_stream(
            spark, src, max_files_per_trigger=max(1, n_real)
        ).withWatermark("ts", "1 hour")
        out = run_available_now(
            sessionize_timeout(stream),
            f"t117_{uuid.uuid4().hex[:8]}",
            "update",
        )
    return out.filter(F.col("user_id") >= 0).orderBy("user_id", "session_id")


@register(
    "t119_stream_join_then_agg",
    """
    WITH j AS (
        SELECT p.ts AS pts,
               CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 6 HOUR
    )
    SELECT CAST(epoch_us(date_trunc('hour', pts)) AS BIGINT) AS ws_us,
           count(*) AS n_pairs,
           CAST(sum(lag_us) AS BIGINT) AS sum_lag_us
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def t119_stream_join_then_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER multi-stateful combination (chained agg→agg aside):
    a stream-stream interval JOIN feeding a windowed AGGREGATE in one
    streaming query — enrich-then-rollup, the shape that otherwise
    forces a land-and-relaunch pipeline. The inner join emits matched
    pairs as they meet (no watermark wait), the downstream tumbling
    aggregate holds them in window state until the shared watermark
    closes each hour — two stateful operators, one checkpoint, one
    exactly-once contract. Each sentinel file carries a self-matching
    purchase+click pair so the JOIN ITSELF emits a far-future row that
    carries event time into the aggregate (a sentinel that only one
    side sees would advance the watermark but put no row through the
    join); two sentinel batches give the two levels one watermark step
    each. Drained result filtered to real windows equals the batch
    join+rollup (DuckDB oracle), with the BIGINT lag sum exact by
    construction."""
    src, n_real = _stage_events_sentinels(
        spark,
        sf_dir,
        "joinagg",
        [
            [(-1, -1, "purchase", 7), (-2, -1, "click", 7)],
            [(-3, -2, "purchase", 14), (-4, -2, "click", 14)],
        ],
    )
    from datasheet_etl_spark.io import load_table

    max_ts = (
        load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    )
    with _few_state_partitions(spark):
        purchases = events_stream(
            spark, src, max_files_per_trigger=max(1, n_real)
        ).filter(F.col("event_type") == "purchase")
        clicks = events_stream(
            spark, src, max_files_per_trigger=max(1, n_real)
        ).filter(F.col("event_type") == "click")
        joined = stream_interval_join(
            purchases, clicks, key="user_id", lookback="6 hours",
            watermark="1 hour",
        )
        agg = joined.groupBy(F.window("ts", "1 hour").alias("w")).agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.unix_micros("ts") - F.unix_micros("r_ts")).alias(
                "sum_lag_us"
            ),
        )
        out = run_available_now(agg, f"t119_{uuid.uuid4().hex[:8]}", "append")
    return (
        out.filter(F.col("w.start") <= F.lit(max_ts))
        .select(
            F.unix_micros("w.start").alias("ws_us"),
            "n_pairs",
            F.col("sum_lag_us").cast("long").alias("sum_lag_us"),
        )
        .orderBy("ws_us")
    )


_SCD2_ORACLE = """
    WITH c AS (
        SELECT user_id, event_id, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        FROM events
    ), iv AS (
        SELECT user_id, value, event_id AS valid_from, op,
               lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
                   AS valid_to
        FROM c
    )
    SELECT user_id, value, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM iv WHERE op <> 'D'
    ORDER BY user_id, valid_from
"""


def _scd2_changes(spark: SparkSession, src) -> DataFrame:
    """events-as-changelog: key user_id, seq event_id, payload value;
    'error' events are deletes (closing the open interval), everything
    else upserts."""
    df = (
        spark.read.parquet(src) if isinstance(src, str) else src
    )
    return df.select(
        "user_id",
        F.col("event_id"),
        "value",
        F.when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )


def _stage_events_seq_split(spark: SparkSession, sf_dir: str) -> str:
    """Events as a 2-file changelog staging, split at the median
    event_id with mtimes ordered — so maxFilesPerTrigger=1 delivers
    the changes in two micro-batches that respect per-key sequence
    order (every seq in batch 1 < every seq in batch 2), the ordered
    -feed contract SCD2 maintenance assumes across batches."""
    import hashlib
    import os

    src = f"{sf_dir.rstrip('/')}/events.parquet"
    d = os.path.join(
        tempfile.gettempdir(),
        f"events_seqsplit_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}",
    )

    def build(dst_dir):
        ev = spark.read.parquet(src)
        mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
        for i, part in enumerate(
            (
                ev.filter(F.col("event_id") <= mid),
                ev.filter(F.col("event_id") > mid),
            )
        ):
            tmp = os.path.join(dst_dir, "_build")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            pf = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(dst_dir, f"part{i}.parquet")
            shutil.move(os.path.join(tmp, pf), dst)
            shutil.rmtree(tmp)
            os.utime(dst, (1_700_000_000 + 60 * i,) * 2)

    return _stage_synced(d, "v1|" + _source_signature(src), build)


@register("t121b_streaming_scd2_bucketed", _SCD2_ORACLE)
def t121b_streaming_scd2_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Type-2 SCD over 8 buckets:
    ``scd2_upsert_sink(num_buckets=8)`` puts the history on the cdc
    sink's partition-scoped layout — per micro-batch, only the buckets
    the batch's keys hash into are read and rewritten (O(touched
    buckets), not O(history); untouched buckets' dirs are re-pointed by
    the manifest, never re-written — pinned in tests/test_streaming.py).
    The SAME DuckDB lead-window oracle grades this entry (incremental,
    bucketed) and, in pytest, the batch history derivation: one
    contract, two execution shapes — the bucket count must be
    invisible in the result."""
    import hashlib
    import os

    from datasheet_etl_spark.streaming.streams import (
        read_scd2_snapshot,
        scd2_upsert_sink,
    )

    src = _stage_events_seq_split(spark, sf_dir)
    work = os.path.join(
        tempfile.gettempdir(),
        f"scd2b_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}",
    )
    shutil.rmtree(work, ignore_errors=True)
    target, ckpt = os.path.join(work, "target"), os.path.join(work, "ckpt")
    with _few_state_partitions(spark):
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).option("maxFilesPerTrigger", "1").format("parquet").load(src)
        changes = _scd2_changes(spark, stream)
        scd2_upsert_sink(
            changes,
            target,
            ckpt,
            ["user_id"],
            "event_id",
            ["value"],
            num_buckets=8,
        )
    out = read_scd2_snapshot(spark, target)
    return out.select(
        "user_id", "value", "valid_from", "valid_to", "is_current"
    ).orderBy("user_id", "valid_from")


@register(
    "t122_streaming_full_outer_join",
    """
    SELECT p.event_id AS purchase_id,
           COALESCE(p.user_id, c.user_id) AS user_id,
           c.event_id AS click_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 6 HOUR
    ORDER BY purchase_id, click_id
    """,
)
def t122_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join, completing the join
    family beyond inner and left outer: BOTH
    sides' unmatched rows emit exactly once with NULL columns from the
    other side — purchases with no preceding click AND clicks that
    preceded no purchase. The user key must be COALESCED across sides
    (a right-only row carries NULLs in every left column, including
    the left's copy of the join key — the full-outer projection trap).
    One sentinel pair advances both streams' watermarks (it passes
    both event-type filters), closing every real row's interval; the
    drained result equals the batch FULL JOIN (DuckDB oracle), both
    NULL populations included.

    Staging: one sentinel file with a purchase+click pair for
    ``user_id = -1`` at +7 days (clears the 6h lookback + 1h watermark;
    the pair self-matches and is filtered out after the drain)."""
    src, n_real = _stage_events_sentinels(
        spark,
        sf_dir,
        "outer",
        [[(-1, -1, "purchase", 7), (-2, -1, "click", 7)]],
    )
    with _few_state_partitions(spark):
        purchases = events_stream(
            spark, src, max_files_per_trigger=max(1, n_real)
        ).filter(F.col("event_type") == "purchase")
        clicks = events_stream(
            spark, src, max_files_per_trigger=max(1, n_real)
        ).filter(F.col("event_type") == "click")
        joined = stream_interval_join(
            purchases,
            clicks,
            key="user_id",
            lookback="6 hours",
            watermark="1 hour",
            how="full_outer",
        )
        out = run_available_now(
            joined.select(
                F.col("event_id").alias("purchase_id"),
                F.coalesce("user_id", "r_user_id").alias("user_id"),
                F.col("r_event_id").alias("click_id"),
                (F.unix_micros("ts") - F.unix_micros("r_ts")).alias("lag_us"),
            ),
            f"t122_{uuid.uuid4().hex[:8]}",
            "append",
        )
    return out.filter(F.col("user_id") >= 0).orderBy("purchase_id", "click_id")


@register(
    "t128_join_state_read",
    """
    WITH c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ), wm AS (
        SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
               - INTERVAL 1 HOUR AS w
    )
    SELECT c.user_id,
           CAST(epoch_us(c.ts) AS BIGINT) AS ts_us,
           EXISTS(SELECT 1 FROM p
                  WHERE p.user_id = c.user_id
                    AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 6 HOUR)
               AS matched
    FROM c, wm
    WHERE c.ts + INTERVAL 6 HOUR >= wm.w
    ORDER BY user_id, ts_us
    """,
)
def t128_join_state_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN state read back from the checkpoint
    (the second operator class on the ``statestore`` surface after
    aggregates: what a symmetric hash join is STILL HOLDING): clicks
    join purchases within a 6-hour forward window, the bounded drain
    finishes, and the entry reads the join's
    ``left-keyWithIndexToValue`` store — the buffered left rows a join
    debug session wants ("which rows is the join retaining for this key,
    and did they ever match").

    The oracle models the PHYSICAL retention contract, probed (the
    t127 discipline), not assumed: after the drain's final no-data
    batch, the global watermark is min over both sides of
    (side max ts − 1 h delay), and a left row survives eviction iff
    ``l.ts + 6 h >= wm`` — the boundary is kept on EQUALITY (probed
    with an exact-boundary row) because a right row at exactly
    ``l.ts + 6 h`` could still match. Each surviving row's ``matched``
    flag (the join's outer-emission bookkeeping) must equal the batch
    EXISTS over the full input — the whole store, key decode,
    value-struct decode, eviction frontier, and match bookkeeping are
    hash-graded against DuckDB. All data feeds batch 0 (the file
    source's no-cap default), so match bookkeeping is complete before
    the eviction batch runs. Scale shape: the reader opens state
    files partition-parallel and scans ONLY retained state — bounded
    by the interval and watermark by the join's own design — never
    the corpus; the drain itself is one interval join, t119/t122's
    machinery. Beyond-reference surface (the reference pipeline is
    batch-only, src/pipeline.py); this is the ops tooling a
    long-running streaming deployment of the same operators needs."""
    import hashlib
    import os

    from datasheet_etl_spark.streaming.monitor import read_state_store

    src = _stage_events(sf_dir)
    work = os.path.join(
        tempfile.gettempdir(),
        f"t128_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}",
    )
    shutil.rmtree(work, ignore_errors=True)
    ckpt = os.path.join(work, "ckpt")
    with _few_state_partitions(spark):
        left = (
            events_stream(spark, src)
            .filter(F.col("event_type") == "click")
            .select("user_id", "ts")
            .withWatermark("ts", "1 hour")
            .alias("l")
        )
        right = (
            events_stream(spark, src)
            .filter(F.col("event_type") == "purchase")
            .select("user_id", "ts")
            .withWatermark("ts", "1 hour")
            .alias("r")
        )
        joined = left.join(
            right,
            F.expr(
                "l.user_id = r.user_id "
                "AND r.ts BETWEEN l.ts AND l.ts + INTERVAL 6 HOURS"
            ),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName(f"t128_{uuid.uuid4().hex[:8]}")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    state = read_state_store(
        spark, ckpt, operator_id=0, store_name="left-keyWithIndexToValue"
    )
    return state.select(
        F.col("value.user_id").alias("user_id"),
        F.unix_micros(F.col("value.ts")).alias("ts_us"),
        F.col("value.matched").alias("matched"),
    ).orderBy("user_id", "ts_us")


@register("t24_streaming_minhash")  # stateful bucket matcher → rows-only
def t24_streaming_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash near-dup detection: per-row signatures →
    stateless band explode → stateful capped-bucket matcher
    (applyInPandasWithState). Documents stream through a file source
    with planted cross-batch duplicates (first 25 docs re-arrive with
    offset ids), so matches must cross micro-batch state. Cross-batch
    recall and signature parity with the batch pipeline are pinned in
    tests/test_streaming.py.

    Oracle impossibility note (the t02/t03 pattern): the usual route
    — grading the drained result with a batch entry's own SQL — needs
    the batch result to be DuckDB-derivable, and MinHash signatures
    are min() over affine permutations of ``xxhash64`` (dedup.
    minhash_signatures), a Spark-engine hash DuckDB cannot reproduce;
    est_jaccard (signature agreement) inherits that. What IS
    cross-engine-checkable is already pinned where it belongs:
    streaming-vs-batch signature parity and cross-batch recall against
    the EXACT-Jaccard truth in tests/test_streaming.py (the same
    exact-verify contract t02 carries). Rows-only deliberately."""
    import os

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.streaming.streams import streaming_minhash_pairs

    # bounded slice: the entry demonstrates cross-batch
    # stateful matching, not corpus throughput — the per-row signature
    # expression is the interpreted path by design (incremental arrivals)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 500)
    )
    # deterministic staged dir: originals + planted copies as 2 files
    import hashlib

    tag = hashlib.md5(f"docs:{sf_dir}".encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"docs_stream_{tag}")
    if not os.path.exists(os.path.join(d, "_SUCCESS2")):
        docs.coalesce(1).write.parquet(d, mode="overwrite")
        docs.filter(F.col("doc_id") < 25).select(
            (F.col("doc_id") + 100_000).alias("doc_id"), "text"
        ).coalesce(1).write.parquet(d, mode="append")
        open(os.path.join(d, "_SUCCESS2"), "w").close()

    with _few_state_partitions(spark, default=8):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        name = f"t24_{uuid.uuid4().hex[:8]}"
        out = run_available_now(
            streaming_minhash_pairs(stream), name, "append"
        )
    return out.dropDuplicates(["id_a", "id_b"]).orderBy("id_a", "id_b")


@register(
    "t99_streaming_gram_index",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS toks
      FROM documents
    ), p AS (
      SELECT doc_id, doc_id % 3 AS third,
             unnest(range(1, len(toks) - 6)) AS pos, toks
      FROM t WHERE len(toks) >= 8
    ), g0raw AS (
      SELECT doc_id, pos, md5(array_to_string(toks[pos:pos+7], ' ')) AS gkey
      FROM p WHERE third = 0
    ), g0 AS (
      SELECT * FROM g0raw QUALIFY count(*) OVER (PARTITION BY gkey) <= 64
    ), g1raw AS (
      SELECT doc_id, pos, md5(array_to_string(toks[pos:pos+7], ' ')) AS gkey
      FROM p WHERE third = 1
    ), g1 AS (
      SELECT * FROM g1raw QUALIFY count(*) OVER (PARTITION BY gkey) <= 64
    ), g2raw AS (
      SELECT doc_id, pos, md5(array_to_string(toks[pos:pos+7], ' ')) AS gkey
      FROM p WHERE third = 2
    ), g2 AS (
      SELECT * FROM g2raw QUALIFY count(*) OVER (PARTITION BY gkey) <= 64
    ), pr AS (
      SELECT a.doc_id AS sa, b.doc_id AS sb, a.pos AS pa, b.pos AS pb,
             a.gkey AS gkey
      FROM g0 a JOIN g1 b ON a.gkey = b.gkey
      UNION ALL
      SELECT a.doc_id, b.doc_id, a.pos, b.pos, a.gkey
      FROM g0 a JOIN g2 b ON a.gkey = b.gkey
      UNION ALL
      SELECT a.doc_id, b.doc_id, a.pos, b.pos, a.gkey
      FROM g1 a JOIN g2 b ON a.gkey = b.gkey
    ), runs AS (
      SELECT sa, sb, pa - pb AS diag,
             pa - row_number() OVER (PARTITION BY sa, sb, pa - pb
                                     ORDER BY pa) AS island
      FROM pr
    ), spans AS (
      SELECT sa, sb, count(*) + 7 AS span
      FROM runs GROUP BY sa, sb, diag, island
    ), best AS (
      SELECT sa, sb, max(span) AS max_span_tokens FROM spans GROUP BY 1, 2
    ), agg AS (
      SELECT sa, sb, count(DISTINCT gkey) AS n_shared_grams
      FROM pr GROUP BY 1, 2
    )
    SELECT least(sa, sb) AS id_lo, greatest(sa, sb) AS id_hi,
           CAST(n_shared_grams AS BIGINT) AS n_shared_grams,
           CAST(max_span_tokens AS BIGINT) AS max_span_tokens
    FROM agg JOIN best USING (sa, sb)
    ORDER BY id_lo, id_hi
    """,
)
def t99_streaming_gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE substring-index maintenance under Structured Streaming
    (``streams.streaming_gram_index_maintain``): the doc_id%3==0 third
    is the initial at-rest index; the other two thirds arrive as two
    separate micro-batches (maxFilesPerTrigger=1). Each batch probes
    the stored postings for verbatim-span overlaps, then appends its
    own postings — so the SECOND batch must match against the FIRST
    batch's documents through the index, proving the maintenance loop,
    not just the probe. Output pairs are normalized to (least,
    greatest), which makes the result invariant to the two files'
    arrival order (either order finds the same unordered pair set —
    the later batch always meets the earlier one's postings). The
    DuckDB oracle re-derives all three capped posting sets and their
    three pairwise meets, islands and spans included — a fully
    hash-graded STREAMING entry, like t117/t122."""
    import atexit
    import hashlib
    import os
    import shutil as _shutil
    import tempfile
    import uuid as _uuid

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.dedup import write_gram_index
    from datasheet_etl_spark.streaming.streams import (
        streaming_gram_index_maintain,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5(f"gramstream:{sf_dir}".encode()).hexdigest()[:10]
    src_sig = _source_signature(f"{sf_dir.rstrip('/')}/documents.parquet")

    def _build_stream(dst: str) -> None:
        docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.parquet(
            dst, mode="overwrite"
        )
        docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.parquet(
            dst, mode="append"
        )

    # signature-synced like every other staged source here: a sentinel
    # alone would keep serving STALE batches after the source parquet
    # is regenerated, while the pristine index below (and the oracle)
    # read the new data
    d = _stage_synced(
        os.path.join(tempfile.gettempdir(), f"gram_stream_{tag}"),
        src_sig,
        _build_stream,
    )

    run = _uuid.uuid4().hex[:8]
    base = os.path.join(tempfile.gettempdir(), f"gram_live_{tag}_{run}")
    atexit.register(_shutil.rmtree, base, ignore_errors=True)
    index_path = os.path.join(base, "index")
    matches_path = os.path.join(base, "matches")
    ckpt = os.path.join(base, "ckpt")
    # the PRISTINE initial index is a pure function of (sf_dir,
    # recipe): stage it once per sf (signature-synced like the staged
    # streams) and file-copy it into this invocation's path — the
    # drain APPENDS the arriving batches' postings into its copy, so
    # the pristine staging must never be the live index
    pristine = os.path.join(tempfile.gettempdir(), f"gram_idx0_{tag}")
    # "|gidx2": the signature carries the index format version — a
    # layout change (the _docs ledger) must rebuild staged indexes
    _stage_synced(
        pristine,
        src_sig + "|gidx2",
        lambda dst: write_gram_index(
            docs.filter(F.col("doc_id") % 3 == 0), dst
        ),
    )
    os.makedirs(base, exist_ok=True)
    _shutil.copytree(pristine, index_path)

    with _few_state_partitions(spark):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        streaming_gram_index_maintain(
            spark, stream, index_path, matches_path, ckpt
        )
    out = spark.read.parquet(matches_path).distinct()
    return out.select(
        F.least("id_a", "id_b").alias("id_lo"),
        F.greatest("id_a", "id_b").alias("id_hi"),
        "n_shared_grams",
        "max_span_tokens",
    ).orderBy("id_lo", "id_hi")


@register(
    "t143_python_stream_sink",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def t143_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING write arm of the Python DataSource seam — the
    last corner of that surface (batch read t114, stream read t113,
    the batch writer): the events stream drains
    through ``writeStream.format("jsonl_manifest")`` into the custom
    per-micro-batch transactional sink (``JsonLinesStreamWriter``:
    per-task uuid stagings → an atomic ``_MANIFEST_b{batchId}`` per
    batch; a retried batch REPLACES its own manifest, so exactly-once
    at rest is batch-id idempotence, not luck), is read back through
    the manifest-resolving reader, and aggregated — the oracle
    hash-grades that every source row crossed the Python sink exactly
    once (a lost task file, a double-committed retry, or a read of an
    aborted staging each break id_sum). Two genuine micro-batches
    (maxFilesPerTrigger), so the per-batch manifest discipline is
    actually exercised; the retried-batch replacement and
    planted-failure abort paths are pinned in tests/test_pyds.py.
    Scale shape: the sink is partition-parallel (one staged file per
    task), the driver touches only commit messages, and the at-rest
    layout is O(batches) manifests — the compaction story is the
    CDC bucketed-manifest family (``streams.cdc_upsert_sink``)."""
    import hashlib
    import os

    from datasheet_etl_spark.sources.pyds import (
        read_jsonl_manifests_stream,
        register_jsonl_manifest,
    )
    from datasheet_etl_spark.streaming import events_stream

    register_jsonl_manifest(spark)
    # two genuine micro-batches, so the per-batch manifest discipline
    # is actually exercised
    src = _stage_events_2file(spark, sf_dir)
    work = os.path.join(
        tempfile.gettempdir(),
        f"t143_{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}",
    )
    shutil.rmtree(work, ignore_errors=True)
    sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
    with _few_state_partitions(spark):
        stream = events_stream(
            spark, src, max_files_per_trigger=1
        ).select("event_type", "event_id")
        q = (
            stream.writeStream.format("jsonl_manifest")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    back = read_jsonl_manifests_stream(spark, sink)
    if back is None:  # documented no-batch-committed contract
        raise RuntimeError(
            f"t143: the streaming drain committed no batch manifest "
            f"under {sink} — empty events staging or a failed drain "
            "(ADVICE r14 #3: fail loudly, not with AttributeError)"
        )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("id_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "t145_streaming_native_topk",
    """
    WITH d AS (
      SELECT event_type,
             CASE WHEN event_id % 3 <> 0 THEN user_id % 4
                  ELSE user_id END AS item
      FROM events
    ), c AS (
      SELECT event_type, item, count(*) AS cnt
      FROM d GROUP BY event_type, item
    ), r AS (
      SELECT event_type, item, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, item) AS rk
      FROM c
    )
    SELECT event_type, CAST(item AS BIGINT) AS item,
           CAST(cnt AS BIGINT) AS cnt
    FROM r WHERE rk <= 4 ORDER BY event_type, item
    """,
)
def t145_streaming_native_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type heavy hitters through a NATIVE streaming sketch
    aggregate: a frequent-items sketch below map capacity never
    evicts, so its counts are EXACT regardless of arrival order or
    batch boundaries — which makes the STREAMING
    drain's final state fully value-oracled against the batch truth
    (t139's oracle verbatim; same below-capacity + selection-margin
    argument). What this entry grades that t139 cannot: the sketch
    STATE lives in the streaming state store and must merge correctly
    ACROSS micro-batches (two genuine batches via maxFilesPerTrigger
    over the t143 two-file staging) — the incremental
    top-k-at-midnight pipeline where tonight's batch updates the
    stored sketch instead of rescanning history. Complete output mode:
    the memory sink holds the final per-key sketch states; the batch
    tail estimates top-4 and explodes. Scale shape: state is one
    bounded sketch per key (kilobytes), input streams through
    map-side partial sketch updates — corpus size never enters
    state."""
    from datasheet_etl_spark.streaming import events_stream

    src = _stage_events_2file(spark, sf_dir)
    with _few_state_partitions(spark):
        stream = events_stream(spark, src, max_files_per_trigger=1).select(
            "event_type",
            F.when(
                F.col("event_id") % 3 != 0, F.col("user_id") % 4
            )
            .otherwise(F.col("user_id"))
            .alias("item"),
        )
        agg = stream.groupBy("event_type").agg(
            F.expr("approx_top_k_accumulate(item, 8192)").alias("_st")
        )
        name = f"t145_{uuid.uuid4().hex[:8]}"
        final = run_available_now(agg, name, "complete")
    return (
        final.select(
            "event_type",
            F.explode(F.expr("approx_top_k_estimate(_st, 4)")).alias("t"),
        )
        .select(
            "event_type",
            F.col("t.item").cast("long").alias("item"),
            F.col("t.count").cast("long").alias("cnt"),
        )
        .orderBy("event_type", "item")
    )
