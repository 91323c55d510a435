"""Streaming operations surface: what an operator WATCHES.

Two complementary views, both read-only:

- :func:`checkpoint_progress` inspects a checkpoint AT REST — works on
  a stopped (or crashed, or live) query from nothing but its
  checkpoint directory, using the same offsets-vs-commits distinction
  every lifecycle guard in this package keys on (``gc_cdc_checkpoint``
  refuses an in-flight batch; ``quarantine_ingest`` treats
  offsets-without-commit as resumable, not fresh).
- :func:`progress_summary` folds a query's ``recentProgress`` into the
  few numbers a dashboard row carries — rows, batches, durations —
  without the caller touching the JSON blobs Spark emits.

Design rule: NO listener machinery. ``StreamingQueryListener`` events
arrive asynchronously, which makes every consumer a race; both
functions here read settled state (files on disk / the driver-side
progress ring buffer), so they are deterministic under availableNow
drains and safe to call from tests, cron audits, and CLIs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from datasheet_etl_spark.streaming.streams import _hadoop_fs


def checkpoint_progress(spark: SparkSession, checkpoint_dir: str) -> dict:
    """Operational view of a streaming checkpoint at rest.

    Returns ``{n_offsets, n_commits, latest_offset, latest_commit,
    in_flight}`` where ``in_flight`` means the newest recorded batch
    has no matching commit — a batch mid-run on a live query, or the
    crash window a restart will replay (latest_* are -1 when nothing
    is recorded). Spark writes ``offsets/<n>`` BEFORE a batch runs and
    ``commits/<n>`` after, so these files are the ground truth the
    engine itself restarts from — no query handle required.

    Scale shape: two directory listings; never reads file contents,
    so it is O(retained log files) regardless of corpus size (pair
    with ``gc_cdc_checkpoint`` to bound that)."""
    fs, _, jvm = _hadoop_fs(spark, checkpoint_dir)

    def batch_ids(sub: str) -> list[int]:
        statuses = fs.globStatus(
            jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/{sub}/*")
        )
        return sorted(
            int(st.getPath().getName())
            for st in (statuses or [])
            if st.getPath().getName().isdigit()
        )

    offsets, commits = batch_ids("offsets"), batch_ids("commits")
    latest_offset = offsets[-1] if offsets else -1
    latest_commit = commits[-1] if commits else -1
    return {
        "n_offsets": len(offsets),
        "n_commits": len(commits),
        "latest_offset": latest_offset,
        "latest_commit": latest_commit,
        "in_flight": latest_offset > latest_commit,
    }


def progress_summary(query) -> dict:
    """Fold a (finished or live) query's ``recentProgress`` into
    dashboard numbers: ``{n_batches, input_rows, processed_rows_per_sec,
    max_batch_duration_ms, state_rows}``. Empty-progress queries (never
    triggered) return zeros. ``recentProgress`` is the driver-side ring
    buffer Spark maintains per query — reading it costs nothing and
    races nothing, unlike listener callbacks."""
    progress = list(query.recentProgress or [])
    n_rows = 0
    rates = []
    max_dur = 0
    state_rows = 0
    for p in progress:
        n_rows += int(p.get("numInputRows") or 0)
        rate = p.get("processedRowsPerSecond")
        # 0.0 is a legitimate rate (empty micro-batch) and must count
        # toward the average; only a missing field is skipped.
        if rate is not None:
            rates.append(float(rate))
        dur = (p.get("durationMs") or {}).get("triggerExecution")
        if dur is not None:
            max_dur = max(max_dur, int(dur))
        for op in p.get("stateOperators") or []:
            state_rows = max(state_rows, int(op.get("numRowsTotal") or 0))
    return {
        "n_batches": len(progress),
        "input_rows": n_rows,
        "processed_rows_per_sec": round(sum(rates) / len(rates), 2)
        if rates
        else 0.0,
        "max_batch_duration_ms": max_dur,
        "state_rows": state_rows,
    }


def state_operator_metadata(spark: SparkSession, checkpoint_dir: str):
    """The checkpoint's stateful-operator inventory via Spark's
    ``state-metadata`` data source: one row per stateful operator —
    operatorId/operatorName/stateStoreName/numPartitions and the
    batch-id range whose state snapshots exist. The discovery step
    before :func:`read_state_store` (multi-stateful queries — agg→agg
    chains, t119's join→agg — have several operator ids; the join
    keeps FOUR stores). Read-only over checkpoint metadata files."""
    return spark.read.format("state-metadata").load(checkpoint_dir)


def read_state_store(
    spark: SparkSession,
    checkpoint_dir: str,
    operator_id: int = 0,
    store_name: str | None = None,
    batch_id: int | None = None,
):
    """Streaming state AT REST, as a DataFrame — Spark's
    ``statestore`` data source over a checkpoint: one row per state
    entry with ``key``/``value`` structs (schemas come from the state
    schema files, so columns are real, not blobs) and the
    ``partition_id`` that owns the entry.

    This is the debugging/audit read every long-running stateful
    pipeline eventually needs — "what does the dedup/session/agg state
    ACTUALLY hold" — answered without replaying the stream or touching
    the live query: the reader opens the checkpoint's state store
    files directly, partition-parallel, so at 100 TB it scans only
    state (bounded by watermarks/caps by the operators' own design),
    never the corpus. ``batch_id`` pins a historical snapshot (state
    time travel, bounded by the checkpoint's retained versions —
    ``minBatchId``/``maxBatchId`` in :func:`state_operator_metadata`);
    default is the latest committed batch. ``store_name`` selects
    among an operator's stores (stream-stream joins keep
    keyToNumValues/keyWithIndexToValue pairs per side)."""
    r = spark.read.format("statestore").option("operatorId", operator_id)
    if store_name is not None:
        r = r.option("storeName", store_name)
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    return r.load(checkpoint_dir)


def read_state_changes(
    spark: SparkSession,
    checkpoint_dir: str,
    operator_id: int = 0,
    start_batch: int = 0,
    end_batch: int | None = None,
    store_name: str | None = None,
):
    """The state CHANGE FEED: every state-store write (update/delete)
    between two batch ids, as rows — ``readChangeFeed`` on the
    ``statestore`` source. Where :func:`read_state_store` answers
    "what does the state hold", this answers "what did batch N DO to
    it" — the streaming-state analogue of :func:`streams.
    cdc_version_diff`, read from checkpoint files with no replay.
    A key's count progressing 1→2 shows as two ``update`` rows with
    their ``batch_id``; watermark eviction shows as ``delete`` rows.
    Bounded by the checkpoint's retained state versions, like
    ``batch_id`` pinning."""
    r = (
        spark.read.format("statestore")
        .option("operatorId", operator_id)
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", start_batch)
    )
    if end_batch is not None:
        r = r.option("changeEndBatchId", end_batch)
    if store_name is not None:
        r = r.option("storeName", store_name)
    return r.load(checkpoint_dir)


def observed_totals(query, name: str) -> dict:
    """Fold a named ``observe()`` aggregation across every micro-batch
    in a query's ``recentProgress``: per-metric SUMS over batches, plus
    ``n_batches_observed``. The streaming half of the t134 telemetry
    story — per-stage rows/bytes ride the micro-batches that already
    ran, no second pass over the stream.

    ADDITIVE metrics only (count, sum): a micro-batch observation sees
    its batch's rows, so only batch-additive aggregates fold into
    stream totals — an avg/min/max across batches would need weighted
    re-derivation the raw observations don't carry. Reads the settled
    driver-side progress ring (the module's no-listener rule), so it
    is deterministic after an availableNow drain.

    The ring is BOUNDED (``spark.sql.streaming.numRecentProgressUpdates``,
    default 100 entries): a drain longer than the retention folds only
    the retained tail, so the result carries ``complete`` — True iff
    the ring still reaches batch 0 of this run. A False ``complete``
    means the totals are a tail sum, not stream ground truth; raise the
    retention conf (or fold incrementally per batch) for long drains.
    Batches where the observation is absent (no rows reached the
    observe point) are skipped, matching batch observe()'s empty-action
    behavior. ``n_batches_observed``/``complete`` are reserved output
    keys — a user metric with either name raises rather than being
    silently overwritten."""
    totals: dict[str, float] = {}
    n_seen = 0
    batch_ids = []
    for p in query.recentProgress or []:
        batch_ids.append(p.get("batchId"))
        m = (p.get("observedMetrics") or {}).get(name)
        if m is None:
            continue
        n_seen += 1
        row = m.asDict() if hasattr(m, "asDict") else dict(m)
        for k, v in row.items():
            if k in ("n_batches_observed", "complete"):
                raise ValueError(
                    f"observed_totals: metric name {k!r} collides with a "
                    "reserved output key — alias the observe() column"
                )
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                totals[k] = totals.get(k, 0) + v
    known = [b for b in batch_ids if b is not None]
    totals["complete"] = (min(known) == 0) if known else True
    totals["n_batches_observed"] = n_seen
    return totals
