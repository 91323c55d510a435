"""Structured Streaming smoke tests: batch is the oracle — every
streaming operator drained with availableNow must reproduce its batch
equivalent, and the checkpointed file pipeline must be exactly-once per
input file across reruns."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datasheet_etl_spark.functions.aggregates import dsum
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """The single events.parquet staged into a directory (FileStreamSource
    needs a directory basePath)."""
    d = tmp_path_factory.mktemp("events_src")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "events.parquet")
    return str(d)


@pytest.fixture()
def staged_events(spark, tmp_path):
    """Events split into two parquet files in a stream-source dir."""
    src = str(tmp_path / "src")
    from datasheet_etl_spark.io import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src, mode="append")
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src, mode="append")
    return src


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_importing_streams_loads_no_registry():
    """The streaming library sits below the registry: importing it
    loads no ``datasheet_etl_spark.plans`` module (and so registers no
    entry)."""
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import datasheet_etl_spark.streaming.streams\n"
        "print('\\n'.join(m for m in sys.modules"
        " if m.startswith('datasheet_etl_spark.plans')))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    )
    assert out.stdout.split() == []


def test_tumbling_stream_matches_batch(spark, events_dir):
    from datasheet_etl_spark.plans.queries import q31_tumbling_window
    from datasheet_etl_spark.streaming import events_stream, run_available_now, tumbling_counts

    batch = q31_tumbling_window(spark, SF_SMOKE)
    stream = tumbling_counts(events_stream(spark, events_dir), watermark=None)
    got = run_available_now(stream, "t_tumbling", "complete")
    cols = ["window_start_sec", "event_type", "n", "total_value"]
    assert _rows(got, *cols) == _rows(batch, *cols)


def test_sliding_stream_matches_batch(spark, events_dir):
    from datasheet_etl_spark.plans.queries import q31b_sliding_window
    from datasheet_etl_spark.streaming import events_stream, run_available_now, sliding_counts

    batch = q31b_sliding_window(spark, SF_SMOKE)
    stream = sliding_counts(events_stream(spark, events_dir), watermark=None)
    got = run_available_now(stream, "t_sliding", "complete")
    cols = ["window_start_sec", "n", "total_value"]
    assert _rows(got, *cols) == _rows(batch, *cols)


@pytest.fixture()
def staged_events_by_time(spark, tmp_path):
    """Events split chronologically (first half / second half) so the
    second micro-batch is NOT late relative to the watermark the first
    batch establishes."""
    src = str(tmp_path / "src_time")
    from datasheet_etl_spark.io import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    mid = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    ev.filter(F.col("ts") <= mid).coalesce(1).write.parquet(src, mode="append")
    ev.filter(F.col("ts") > mid).coalesce(1).write.parquet(src, mode="append")
    return src


def test_watermarked_append_emits_only_complete_windows(spark, staged_events_by_time):
    """With maxFilesPerTrigger=1 the watermark advances between batches;
    append mode emits only finalized windows — every window it emits must
    carry the full batch-mode counts (no partial rows)."""
    from datasheet_etl_spark.plans.queries import q31_tumbling_window
    from datasheet_etl_spark.streaming import events_stream, run_available_now, tumbling_counts

    stream = tumbling_counts(
        events_stream(spark, staged_events_by_time, max_files_per_trigger=1),
        watermark="10 minutes",
    )
    got = run_available_now(stream, "t_wm_append", "append")
    batch = {
        (r["window_start_sec"], r["event_type"]): (r["n"], r["total_value"])
        for r in q31_tumbling_window(spark, SF_SMOKE).collect()
    }
    emitted = got.collect()
    assert emitted, "append-mode run emitted no finalized windows"
    for r in emitted:
        assert batch[(r["window_start_sec"], r["event_type"])] == (
            r["n"],
            r["total_value"],
        )


def test_streaming_dedup_matches_distinct(spark, staged_events):
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.streaming import events_stream, run_available_now, streaming_dedup

    dup_dir = staged_events + "_dup"
    shutil.copytree(staged_events, dup_dir)
    # re-append one of the files → duplicated event_ids in the source
    ev = load_table(spark, SF_SMOKE, "events").filter(F.col("event_id") % 2 == 0)
    ev.coalesce(1).write.parquet(dup_dir, mode="append")

    stream = streaming_dedup(events_stream(spark, dup_dir), watermark="100 days")
    got = run_available_now(
        stream.groupBy("event_id").count(), "t_dedup", "complete"
    )
    n_total = load_table(spark, SF_SMOKE, "events").count()
    assert got.count() == n_total
    assert got.filter(F.col("count") > 1).count() == 0


def test_dedup_within_watermark(spark, staged_events):
    """dropDuplicatesWithinWatermark: duplicates landing within the
    watermark of each other collapse to one row."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.streaming import (
        events_stream,
        run_available_now,
        streaming_dedup_within_watermark,
    )

    dup_dir = staged_events + "_wm_dup"
    shutil.copytree(staged_events, dup_dir)
    ev = load_table(spark, SF_SMOKE, "events").filter(F.col("event_id") % 2 == 1)
    ev.coalesce(1).write.parquet(dup_dir, mode="append")

    stream = streaming_dedup_within_watermark(
        events_stream(spark, dup_dir), watermark="100 days"
    )
    got = run_available_now(
        stream.groupBy("event_id").count(), "t_wm_dedup", "complete"
    )
    assert got.count() == load_table(spark, SF_SMOKE, "events").count()
    assert got.filter(F.col("count") > 1).count() == 0


def test_session_window_matches_batch_sessionize(spark, events_dir):
    """Built-in session_window sessions == batch lag/run-length sessions
    (same gap): compare per-session (user, first_event, n, value)."""
    from datasheet_etl_spark.plans.queries import q18_sessionize
    from datasheet_etl_spark.streaming import events_stream, run_available_now, session_counts

    batch = q18_sessionize(spark, SF_SMOKE)
    stream = session_counts(events_stream(spark, events_dir), gap="30 minutes", watermark=None)
    got = run_available_now(stream, "t_sessions", "complete")
    cols = ["user_id", "first_event", "last_event", "n_events", "session_value"]
    assert _rows(got, *cols) == _rows(batch, *cols)


def test_stateful_sessionize_matches_batch(spark, staged_events_by_time):
    """applyInPandasWithState sessionizer across TWO micro-batches (state
    must carry open sessions over the batch boundary) == batch Q18.

    The chronological split preserves per-user event order across batches
    (ts is monotone in event_id in the testdata); sessions spanning the
    split get re-emitted with refreshed aggregates in update mode — the
    test keeps the final (max-n) emission per (user, session)."""
    from datasheet_etl_spark.plans.queries import q18_sessionize
    from datasheet_etl_spark.streaming import events_stream, run_available_now, sessionize_stateful

    stream = sessionize_stateful(
        events_stream(spark, staged_events_by_time, max_files_per_trigger=1)
    )
    got = run_available_now(stream, "t_stateful_sessions", "update").collect()
    final = {}
    for r in got:  # sessions only grow → the max-n emission is the final one
        key = (r["user_id"], r["session_id"])
        if key not in final or r["n_events"] > final[key][0]:
            final[key] = (
                r["n_events"],
                r["first_event"],
                r["last_event"],
                r["session_value"],
            )
    batch = {
        (r["user_id"], r["session_id"]): (
            r["n_events"],
            r["first_event"],
            r["last_event"],
            r["session_value"],
        )
        for r in q18_sessionize(spark, SF_SMOKE).collect()
    }
    assert final.keys() == batch.keys()
    for key, (n, first, last, val) in final.items():
        bn, bfirst, blast, bval = batch[key]
        assert (n, first, last) == (bn, bfirst, blast), key
        # batch dsum rounds each element to decimal(18,2); the stateful
        # op sums raw floats — allow the element-rounding drift
        assert abs(val - bval) <= 0.005 * n + 1e-6, (key, val, bval)


def test_curation_scalars_run_under_streaming(spark, tmp_path):
    """The whole text-curation scalar layer (quality, langid, tokens,
    fingerprint) is stateless projection — it must run unchanged on a
    streaming DataFrame and produce exactly the batch answer."""
    import shutil as sh

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.text import (
        detect_language,
        fingerprint,
        quality_score,
        whitespace_token_count,
    )
    from datasheet_etl_spark.functions import tokens
    from datasheet_etl_spark.streaming import run_available_now

    src = str(tmp_path / "docs_src")
    docs = load_table(spark, SF_SMOKE, "documents")
    docs.coalesce(1).write.parquet(src)

    def curate(df):
        return df.select(
            "doc_id",
            quality_score(F.col("text")).alias("quality"),
            detect_language(tokens(F.col("text"))).alias("lang_pred"),
            whitespace_token_count(F.col("text")).alias("ws_tokens"),
            fingerprint(F.col("text")).alias("fp"),
        )

    stream_src = (
        spark.readStream.schema(docs.schema).format("parquet").load(src)
    )
    got = run_available_now(curate(stream_src), "t_curation", "append")
    batch = curate(docs)
    key = lambda df: sorted(tuple(r) for r in df.collect())
    assert key(got) == key(batch)


def test_incremental_file_pipeline_exactly_once(spark, staged_events, tmp_path):
    from datasheet_etl_spark.streaming import incremental_file_pipeline

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    incremental_file_pipeline(spark, staged_events, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == 1000

    # rerun with no new input → nothing reprocessed
    incremental_file_pipeline(spark, staged_events, out, ckpt)
    assert spark.read.parquet(out).count() == n1

    # add a new file → exactly its rows appended
    extra = (
        spark.read.parquet(out).limit(7).withColumn("event_id", F.col("event_id") + 10_000)
    )
    extra.coalesce(1).write.parquet(staged_events, mode="append")
    incremental_file_pipeline(spark, staged_events, out, ckpt)
    assert spark.read.parquet(out).count() == n1 + 7


def test_streaming_minhash_finds_cross_batch_near_dups(spark, tmp_path):
    """Near-dup pairs whose members arrive in DIFFERENT micro-batches are
    found via bucket state; signatures are bit-identical to batch."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.dedup import (
        minhash_signature_col,
        minhash_signatures,
        word_shingles,
    )
    from datasheet_etl_spark.functions import tokens
    from datasheet_etl_spark.streaming.streams import (
        run_available_now,
        streaming_minhash_pairs,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text"
    )

    src = str(tmp_path / "docs_src")
    # originals in file 1, identical copies in file 2 → with
    # maxFilesPerTrigger=1 each pair spans two micro-batches
    docs.coalesce(1).write.parquet(src, mode="append")
    planted.coalesce(1).write.parquet(src, mode="append")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pairs = run_available_now(
        streaming_minhash_pairs(stream), "minhash_stream", output_mode="append"
    )
    got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
    for i in range(5):
        assert got.get((i, i + 10_000)) == 1.0, f"missed planted pair {i}"

    # per-row streaming signatures == batch explode/groupBy signatures
    sh = docs.select(
        "doc_id", word_shingles(tokens(F.col("text")), 2).alias("sh")
    ).filter(F.size("sh") > 0)
    batch_sig = {r.doc_id: r.sig for r in minhash_signatures(sh, "doc_id", "sh").collect()}
    from datasheet_etl_spark.operators.dedup import shingle_hashes_col

    row_sig = {
        r.doc_id: r.sig
        for r in sh.select("doc_id", shingle_hashes_col("sh").alias("_h"))
        .select("doc_id", minhash_signature_col("_h").alias("sig"))
        .collect()
    }
    assert batch_sig == row_sig


def test_stateful_sessionize_provider_independent(spark, staged_events_by_time):
    """Identical session output under the default (HDFS-backed, on-heap)
    and RocksDB (disk-backed, large-state) state store providers."""
    import uuid

    from datasheet_etl_spark.streaming.streams import (
        events_stream,
        rocksdb_state_store,
        run_available_now,
        sessionize_stateful,
    )

    def drain():
        name = f"prov_{uuid.uuid4().hex[:8]}"
        out = run_available_now(
            sessionize_stateful(events_stream(spark, staged_events_by_time)),
            name,
            "update",
        )
        return sorted(map(tuple, out.collect()))

    default_rows = drain()
    with rocksdb_state_store(spark):
        rocks_rows = drain()
    assert default_rows == rocks_rows and len(default_rows) > 0


def test_incremental_curation_pipeline(spark, tmp_path):
    """Streaming corpus curation: exactly-once across reruns, hash-sample
    determinism across replays, and batch-parity of the selection."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.sampling import weighted_sample
    from datasheet_etl_spark.operators.text import fingerprint, quality_score
    from datasheet_etl_spark.streaming.streams import incremental_curation_pipeline

    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "curated_out")
    ckpt = str(tmp_path / "curated_ckpt")
    docs = load_table(spark, SF_SMOKE, "documents")
    docs.filter(F.col("doc_id") < 400).coalesce(1).write.parquet(src)

    incremental_curation_pipeline(
        spark, src, out, ckpt, min_quality=0.5, sample_rate=0.5
    )
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 > 0

    # batch parity of the same composition (dedup keeps one per fp)
    batch = (
        docs.filter(F.col("doc_id") < 400)
        .withColumn("quality", quality_score(F.col("text")))
        .filter(F.col("quality") >= 0.5)
        .withColumn("fp", fingerprint(F.col("text")))
    )
    batch = weighted_sample(batch, "doc_id", "doc_id", {}, default_rate=0.5)
    assert n1 == batch.dropDuplicates(["fp"]).count()
    assert set(r["fp"] for r in first.select("fp").collect()) == set(
        r["fp"] for r in batch.select("fp").distinct().collect()
    )

    # rerun with no new files → nothing reprocessed
    incremental_curation_pipeline(
        spark, src, out, ckpt, min_quality=0.5, sample_rate=0.5
    )
    assert spark.read.parquet(out).count() == n1

    # backfill: only new docs process; already-seen fingerprints stay deduped
    docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 500)).coalesce(
        1
    ).write.parquet(src, mode="append")
    incremental_curation_pipeline(
        spark, src, out, ckpt, min_quality=0.5, sample_rate=0.5
    )
    final = spark.read.parquet(out)
    assert final.count() >= n1
    # dedup invariant holds across the whole incremental run
    assert final.select("fp").distinct().count() == final.count()


def test_idempotent_keyed_sink_tolerates_dataless_target_dir(spark, tmp_path):
    """A pre-existing target dir with no data files (pre-created empty,
    or only _temporary/ left by a crashed first attempt) must behave as
    'no target yet': the first drain writes, instead of wedging every
    batch on parquet schema inference over zero files."""
    import os

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.streaming.streams import (
        events_stream,
        idempotent_keyed_sink,
    )

    src = str(tmp_path / "ev_src")
    target = str(tmp_path / "ev_target")
    ckpt = str(tmp_path / "ev_ckpt")
    os.makedirs(os.path.join(target, "_temporary", "0"))  # crash residue
    ev = load_table(spark, SF_SMOKE, "events")
    ev.filter(F.col("event_id") < 100).coalesce(1).write.parquet(src)

    idempotent_keyed_sink(
        events_stream(spark, src), target, ckpt, key_cols=("event_id",)
    )
    got = spark.read.parquet(target)
    assert got.count() == ev.filter(F.col("event_id") < 100).count()


def test_idempotent_keyed_sink_survives_replay(spark, tmp_path):
    """The sink's idempotency must come from the key anti-join, not the
    checkpoint: wiping the checkpoint (the worst-case full replay) and
    re-draining adds zero duplicate keys, while genuinely new input
    still lands."""
    import shutil

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.streaming.streams import (
        events_stream,
        idempotent_keyed_sink,
    )

    src = str(tmp_path / "ev_src")
    target = str(tmp_path / "ev_target")
    ckpt = str(tmp_path / "ev_ckpt")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.filter(F.col("event_id") < 300).coalesce(1).write.parquet(src)

    def drain():
        idempotent_keyed_sink(
            events_stream(spark, src), target, ckpt, key_cols=("event_id",)
        )
        return spark.read.parquet(target)

    n1 = drain().count()
    assert n1 == ev.filter(F.col("event_id") < 300).count()
    # checkpointed rerun: no new files -> nothing processed
    assert drain().count() == n1
    # checkpoint lost -> FULL replay of every input file; the anti-join
    # must swallow it
    shutil.rmtree(ckpt)
    out = drain()
    assert out.count() == n1
    assert out.select("event_id").distinct().count() == n1
    # new data still lands (and only once)
    ev.filter((F.col("event_id") >= 300) & (F.col("event_id") < 400)).coalesce(
        1
    ).write.parquet(src, mode="append")
    n2 = drain().count()
    assert n2 == ev.filter(F.col("event_id") < 400).count()


def test_materialized_agg_sink_incremental_maintenance(spark, tmp_path):
    """The materialized daily rollup must equal the batch aggregate
    after every drain, and a second drain must rewrite ONLY the
    partitions whose groups the new data touched (unchanged partition
    files keep their mtimes — the maintenance-cost-tracks-changes
    property)."""
    import os

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.streaming.streams import (
        events_stream,
        materialized_agg_sink,
    )

    src = str(tmp_path / "mv_src")
    target = str(tmp_path / "mv_target")
    ckpt = str(tmp_path / "mv_ckpt")
    ev = load_table(spark, SF_SMOKE, "events")
    first = ev.filter(F.col("event_id") < 500)
    first.coalesce(1).write.parquet(src)

    def agg(df):
        return df.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        ).agg(
            F.count("*").alias("n"),
            dsum(F.col("value")).alias("total"),  # exact decimal sum: the
            # streaming accumulation order must not perturb the compare
        )

    def drain():
        materialized_agg_sink(
            agg(events_stream(spark, src)), target, ckpt, ["day", "event_type"]
        )
        return spark.read.parquet(target)

    got = {(str(r["day"]), r["event_type"]): (r["n"], r["total"]) for r in drain().collect()}
    want = {
        (r["day"], r["event_type"]): (r["n"], r["total"])
        for r in agg(first).collect()
    }
    assert got == want

    # second increment: one new day's events only → other days untouched
    second = ev.filter((F.col("event_id") >= 500) & (F.col("event_id") < 700))
    touched_days = {
        r["day"] for r in second.select(
            F.date_format("ts", "yyyy-MM-dd").alias("day")
        ).distinct().collect()
    }
    untouched = [
        d for d in os.listdir(target)
        if d.startswith("day=") and d.split("=", 1)[1] not in touched_days
    ]
    mtimes_before = {
        d: max(
            os.path.getmtime(os.path.join(target, d, sub))
            for sub in os.listdir(os.path.join(target, d))
        )
        for d in untouched
    }
    second.coalesce(1).write.parquet(src, mode="append")
    got2 = {(str(r["day"]), r["event_type"]): (r["n"], r["total"]) for r in drain().collect()}
    want2 = {
        (r["day"], r["event_type"]): (r["n"], r["total"])
        for r in agg(ev.filter(F.col("event_id") < 700)).collect()
    }
    assert got2 == want2
    for d, m in mtimes_before.items():
        now = max(
            os.path.getmtime(os.path.join(target, d, sub))
            for sub in os.listdir(os.path.join(target, d))
        )
        assert now == m, f"untouched partition {d} was rewritten"


def test_curation_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dedup_within_watermark switches the pipeline to watermark-bounded
    state: a duplicate arriving beyond the watermark is re-emitted —
    the observable proof its fingerprint state was evicted — while the
    default unbounded mode suppresses it forever. Exactly-once reruns
    hold in both modes."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from datasheet_etl_spark.streaming.streams import incremental_curation_pipeline

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def write_file(d, name, rows, mtime):
        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
            }
        )
        p = os.path.join(d, name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))  # file source orders by mtime

    dup_text = "the same duplicated document body repeated verbatim"
    h3 = datetime.timedelta(hours=3)
    files = [
        ("f1.parquet", [(1, dup_text, t0)], 1_000),
        # filler 3h later advances the watermark past f1's 1h expiry;
        # two filler batches because the watermark computed from f2's
        # data only evicts state at the END of the batch after it (f3) —
        # the dup must arrive in the batch after the eviction
        ("f2.parquet", [(2, "some entirely different filler body", t0 + h3)], 2_000),
        ("f3.parquet", [(4, "another unrelated filler document here", t0 + h3)], 3_000),
        ("f4.parquet", [(3, dup_text, t0 + h3 + datetime.timedelta(seconds=2))], 4_000),
    ]

    results = {}
    for mode, wm in (("bounded", "1 hour"), ("unbounded", None)):
        src = str(tmp_path / f"src_{mode}")
        out = str(tmp_path / f"out_{mode}")
        ckpt = str(tmp_path / f"ckpt_{mode}")
        os.makedirs(src)
        for name, rows, mtime in files:
            write_file(src, name, rows, mtime)
        kw = dict(
            min_quality=0.0,
            sample_rate=1.0,
            dedup_within_watermark=wm,
            max_files_per_trigger=1,  # one file per micro-batch → 4 batches
        )
        incremental_curation_pipeline(spark, src, out, ckpt, **kw)
        got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        # exactly-once: rerun with no new files adds nothing in either mode
        incremental_curation_pipeline(spark, src, out, ckpt, **kw)
        assert spark.read.parquet(out).count() == len(got), mode
        results[mode] = got

    # unbounded state remembers f1's fingerprint forever → dup suppressed
    assert results["unbounded"] == {1, 2, 4}
    # bounded state evicted it after the watermark passed → dup re-emitted
    assert results["bounded"] == {1, 2, 3, 4}


def test_cdc_upsert_sink_matches_batch_apply_and_survives_replay(spark, tmp_path):
    """Streaming MERGE: draining a changelog in two batches produces
    exactly the batch apply_changes result; a stale (lower-seq) change
    arriving in a LATER batch cannot overwrite; wiping the checkpoint
    and replaying the whole changelog leaves the snapshot unchanged and
    commits no new manifest (every replayed change is stale)."""
    import shutil

    from datasheet_etl_spark.operators.relational import apply_changes
    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        cdc_upsert_sink,
        read_cdc_snapshot,
    )

    src = str(tmp_path / "changes_src")
    target = str(tmp_path / "cdc_target")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "k long, seq long, op string, v string"
    batch1 = spark.createDataFrame(
        [(1, 1, "I", "a1"), (2, 1, "I", "b1"), (3, 1, "I", "c1"),
         (2, 2, "U", "b2"), (5, 1, "I", "e1"), (5, 3, "D", None)],
        schema,
    )
    batch1.coalesce(1).write.parquet(src)

    def drain():
        stream = (
            spark.readStream.schema(batch1.schema).format("parquet").load(src)
        )
        cdc_upsert_sink(stream, target, ckpt, keys=["k"], seq_col="seq")
        return {r["k"]: (r["seq"], r["v"]) for r in read_cdc_snapshot(spark, target).collect()}

    got1 = drain()
    assert got1 == {1: (1, "a1"), 2: (2, "b2"), 3: (1, "c1")}

    # batch 2: delete k=3, update k=1, a STALE change for k=2, and a
    # stale update for the DELETED k=5 — the tombstone must block the
    # resurrection (its seq watermark survives the delete)
    batch2 = spark.createDataFrame(
        [(3, 3, "D", None), (1, 4, "U", "a2"), (2, 1, "U", "SHOULD_NOT_WIN"),
         (5, 2, "U", "ZOMBIE")],
        schema,
    )
    batch2.coalesce(1).write.parquet(src, mode="append")
    got2 = drain()
    assert got2 == {1: (4, "a2"), 2: (2, "b2")}

    # equals the one-shot batch apply over the full changelog
    full = batch1.unionByName(batch2)
    base0 = full.drop("op").limit(0)
    expect = {
        r["k"]: (r["seq"], r["v"])
        for r in apply_changes(base0, full, ["k"], "seq").collect()
    }
    assert got2 == expect
    assert 5 not in got2  # deleted key not resurrected by the stale update

    # checkpoint lost -> full replay must be a no-op on the snapshot
    committed = _committed_manifest_versions(spark, target)
    shutil.rmtree(ckpt)
    got3 = drain()
    assert got3 == got2
    assert _committed_manifest_versions(spark, target) == committed


def test_cdc_snapshot_survives_pointer_loss(spark, tmp_path):
    """A lost/stale _LATEST pointer must NOT read as 'empty table':
    readers fall back to the newest COMMITTED manifest, and the next
    batch merges onto it — pointer loss can never silently discard the
    accumulated snapshot."""
    import os

    from datasheet_etl_spark.streaming.streams import (
        cdc_upsert_sink,
        read_cdc_snapshot,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, seq long, op string, v string"
    spark.createDataFrame(
        [(1, 1, "I", "a"), (2, 1, "I", "b")], schema
    ).coalesce(1).write.parquet(src)

    def drain():
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        cdc_upsert_sink(stream, target, ckpt, keys=["k"], seq_col="seq")

    drain()
    os.remove(os.path.join(target, "_LATEST"))
    got = read_cdc_snapshot(spark, target)
    assert got is not None and got.count() == 2  # recovered from manifests

    # next batch merges onto the recovered base, not an empty one
    spark.createDataFrame([(3, 2, "I", "c")], schema).coalesce(1).write.parquet(
        src, mode="append"
    )
    drain()
    rows = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}


def test_cdc_bucketed_sink_rewrites_only_touched_partitions(spark, tmp_path):
    """Partition-scoped CDC merge: with num_buckets set, a micro-batch
    rewrites ONLY the buckets its changed keys hash to. Pinned three
    ways: (a) the committed manifest re-points untouched buckets at the
    PREVIOUS version's dirs, (b) those dirs' data files are byte-for-
    byte identical after the second batch, (c) the final snapshot
    matches the one-bucket (whole-table rewrite) result exactly. A
    checkpoint-lost replay (all changes stale) commits NO new version."""
    import glob
    import hashlib
    import json
    import os
    import shutil

    from datasheet_etl_spark.streaming.streams import (
        _cdc_bucket,
        _resolve_manifest,
        cdc_upsert_sink,
        read_cdc_snapshot,
    )

    N_BUCKETS = 4
    schema = "k long, seq long, op string, v string"
    batch1 = spark.createDataFrame(
        [(k, 1, "I", f"v{k}") for k in range(12)], schema
    )
    # keys 1 and 5: update + delete; everything else untouched
    batch2 = spark.createDataFrame(
        [(1, 2, "U", "v1-new"), (5, 2, "D", None)], schema
    )
    touched_buckets = {
        r["_b"]
        for r in batch2.select(
            _cdc_bucket(["k"], N_BUCKETS).alias("_b")
        ).distinct().collect()
    }
    assert len(touched_buckets) < N_BUCKETS  # the test must leave some untouched

    def drain(src, target, ckpt, bucketed=True):
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        cdc_upsert_sink(
            stream, target, ckpt, keys=["k"], seq_col="seq",
            num_buckets=N_BUCKETS if bucketed else 1,
        )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    batch1.coalesce(1).write.parquet(src)
    drain(src, target, ckpt)
    m1 = _resolve_manifest(spark, target)
    v1 = m1["version"]

    def file_hashes(rel_dirs):
        out = {}
        for rel in rel_dirs:
            for f in sorted(glob.glob(os.path.join(target, rel, "*.parquet"))):
                out[f] = hashlib.md5(open(f, "rb").read()).hexdigest()
        return out

    untouched_dirs = [
        m1["buckets"][str(b)] for b in range(N_BUCKETS)
        if b not in touched_buckets and str(b) in m1["buckets"]
    ]
    before = file_hashes(untouched_dirs)
    assert before  # some untouched bucket has data

    batch2.coalesce(1).write.parquet(src, mode="append")
    drain(src, target, ckpt)
    m2 = _resolve_manifest(spark, target)
    assert m2["version"] != v1
    for b in range(N_BUCKETS):
        if str(b) not in m2["buckets"]:
            continue
        if b in touched_buckets:
            assert m2["buckets"][str(b)].startswith(m2["version"]), (
                b, m2["buckets"][str(b)])
        else:
            # untouched bucket: SAME dir as version 1 — not rewritten
            assert m2["buckets"][str(b)] == m1["buckets"][str(b)]
    assert file_hashes(untouched_dirs) == before  # byte-identical

    got = {r["k"]: (r["seq"], r["v"])
           for r in read_cdc_snapshot(spark, target).collect()}
    # one bucket (whole-table rewrite) over the same changelog as the oracle
    target_f, ckpt_f = str(tmp_path / "tf"), str(tmp_path / "cf")
    drain(src, target_f, ckpt_f, bucketed=False)
    want = {r["k"]: (r["seq"], r["v"])
            for r in read_cdc_snapshot(spark, target_f).collect()}
    assert got == want
    assert got[1] == (2, "v1-new") and 5 not in got

    # tombstone survives with the delete's seq (guards resurrection)
    tombs = {r["k"]: r["seq"] for r in read_cdc_snapshot(
        spark, target, include_tombstones=True
    ).filter("_deleted").collect()}
    assert tombs == {5: 2}

    # checkpoint lost → full replay: every change is stale → the sink
    # must commit NOTHING (no new version, pointer unchanged)
    shutil.rmtree(ckpt)
    drain(src, target, ckpt)
    m3 = _resolve_manifest(spark, target)
    assert m3["version"] == m2["version"]
    assert m3["buckets"] == m2["buckets"]


def test_compact_cdc_target_drops_only_expired_tombstones(spark, tmp_path):
    """Tombstone compaction (one bucket): tombstones below the
    replay horizon are dropped, tombstones at/above it survive — and
    the surviving tombstone still rejects an in-horizon stale change
    after compaction. Live rows are untouched."""
    from datasheet_etl_spark.streaming.streams import (
        cdc_upsert_sink,
        compact_cdc_target,
        read_cdc_snapshot,
    )

    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    spark.createDataFrame(
        [(1, 1, "I", "a"), (2, 1, "I", "b"), (3, 1, "I", "c"),
         (2, 2, "D", None), (3, 5, "D", None)],
        schema,
    ).coalesce(1).write.parquet(src)

    def drain(ckpt):
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        cdc_upsert_sink(stream, target, ckpt, keys=["k"], seq_col="seq")

    drain(str(tmp_path / "c1"))
    # horizon 4: k=2's tombstone (seq 2) expires, k=3's (seq 5) survives
    assert compact_cdc_target(spark, target, min_seq=4) == 1
    snap = read_cdc_snapshot(spark, target, include_tombstones=True)
    tombs = {r["k"]: r["seq"] for r in snap.filter("_deleted").collect()}
    assert tombs == {3: 5}
    live = {r["k"]: r["v"] for r in snap.filter("NOT _deleted").collect()}
    assert live == {1: "a"}
    # re-compacting is a no-op (no expired tombstones left)
    assert compact_cdc_target(spark, target, min_seq=4) == 0

    # in-horizon stale change for the SURVIVING tombstone: still rejected
    spark.createDataFrame([(3, 4, "U", "ZOMBIE")], schema).coalesce(1).write.parquet(
        src, mode="append"
    )
    drain(str(tmp_path / "c1"))
    got = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}
    assert 3 not in got and got[1] == "a"


def test_compact_cdc_target_bucketed_rewrites_only_expired_buckets(spark, tmp_path):
    """Bucketed compaction: only buckets holding expired tombstones are
    rewritten; every other bucket keeps its existing dir (manifest
    entry unchanged)."""
    from datasheet_etl_spark.streaming.streams import (
        _cdc_bucket,
        _resolve_manifest,
        cdc_upsert_sink,
        compact_cdc_target,
        read_cdc_snapshot,
    )

    N_BUCKETS = 4
    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    rows = [(k, 1, "I", f"v{k}") for k in range(12)] + [(1, 2, "D", None)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    cdc_upsert_sink(
        stream, target, str(tmp_path / "ck"), keys=["k"], seq_col="seq",
        num_buckets=N_BUCKETS,
    )
    m1 = _resolve_manifest(spark, target)
    tomb_bucket = spark.createDataFrame([(1,)], "k long").select(
        _cdc_bucket(["k"], N_BUCKETS).alias("b")
    ).collect()[0]["b"]

    assert compact_cdc_target(spark, target, min_seq=10) == 1
    m2 = _resolve_manifest(spark, target)
    for b_str, rel in m2["buckets"].items():
        if int(b_str) == tomb_bucket:
            assert rel.startswith(m2["version"])
        else:
            assert rel == m1["buckets"][b_str]  # untouched dir reused
    snap = read_cdc_snapshot(spark, target, include_tombstones=True)
    assert snap.filter("_deleted").count() == 0
    assert snap.count() == 11


def test_drop_duplicates_within_watermark_state_bounds(spark, tmp_path):
    """The t81 contract, both directions: a duplicate arriving in a
    later micro-batch WITHIN the watermark window is suppressed; a
    re-delivery whose timestamp lands AFTER the original's state was
    evicted (watermark advanced past ts + delay) is emitted again —
    the bounded-state tradeoff dropDuplicatesWithinWatermark makes
    that plain streaming dropDuplicates (O(stream) state) does not."""
    import os

    schema = "k long, ts timestamp"
    t0 = "2024-01-01 00:00:00"

    def write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(str(tmp_path), "src", name)
        )

    import datetime as dt

    base = dt.datetime(2024, 1, 1)

    def ts(hours):
        return base + dt.timedelta(hours=hours)

    # batch 1: key 1 at t0, filler key 99 at t0+5h (advances the
    # watermark to t0+4h under a 1h delay, past key 1's t0+1h expiry)
    write("f1", [(1, ts(0)), (99, ts(5))])
    # batch 2: filler only — state eviction is applied while processing
    # a batch AFTER the watermark advanced, so this batch is where
    # key 1's entry is actually dropped
    write("f2", [(50, ts(6))])
    # batch 3: key 1 redelivered — in-window twin dedupes against the
    # re-emit, the late (ts t0) copy is dropped by the watermark filter
    write("f3", [(1, ts(6)), (1, ts(6)), (1, ts(0))])

    from datasheet_etl_spark.streaming.streams import run_available_now

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(str(tmp_path), "src", "*"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["k"])
    )
    out = run_available_now(stream, "t81_bounds", "append").collect()
    per_key = {}
    for r in out:
        per_key.setdefault(r["k"], []).append(r["ts"])
    assert len(per_key[99]) == 1
    assert len(per_key[50]) == 1
    # key 1: original emit + ONE post-eviction re-emit; the in-batch
    # twin and the late copy are both suppressed
    assert len(per_key[1]) == 2, per_key


def test_cdc_sink_layout_mode_mismatch_raises(spark, tmp_path):
    """A target the sink cannot extend must raise, not silently lose
    data: (a) a directory in the retired full-snapshot layout (a
    ``v<n>/`` parquet dir with ``_SUCCESS`` and a ``_LATEST`` pointer,
    no manifests) would otherwise be merged onto as an empty table,
    orphaning every row — the reader finds no committed manifest and
    returns None, and the sink refuses and commits nothing; (b) a
    4-bucket target driven with 8 buckets would move keys between
    buckets. Both are refused before the stream starts (a plain
    ValueError, not a failed query), so no new input is needed."""
    import pytest as _pytest

    from datasheet_etl_spark.streaming.streams import (
        cdc_upsert_sink,
        read_cdc_snapshot,
    )

    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, 1, "I", "a")], schema).coalesce(1).write.parquet(src)

    def drain(target, ckpt, **kw):
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        cdc_upsert_sink(stream, target, ckpt, keys=["k"], seq_col="seq", **kw)

    flat = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, 1, "a", False)], "k long, seq long, v string, _deleted boolean"
    ).coalesce(1).write.parquet(os.path.join(flat, "v0000000000"))
    with open(os.path.join(flat, "_LATEST"), "w") as f:
        f.write("v0000000000")
    assert os.path.exists(os.path.join(flat, "v0000000000", "_SUCCESS"))
    assert read_cdc_snapshot(spark, flat) is None
    with _pytest.raises(ValueError, match="full-snapshot CDC versions"):
        drain(flat, str(tmp_path / "c1"))
    assert not os.path.exists(os.path.join(flat, "manifests"))

    bucketed = str(tmp_path / "bucketed")
    drain(bucketed, str(tmp_path / "c3"), num_buckets=4)
    with _pytest.raises(ValueError, match="num_buckets=4, sink configured with 8"):
        drain(bucketed, str(tmp_path / "c3"), num_buckets=8)


@pytest.mark.parametrize("num_buckets", [0, -1, None])
@pytest.mark.parametrize("sink", ["cdc", "scd2"])
def test_upsert_sinks_refuse_bad_num_buckets_before_start(
    spark, tmp_path, sink, num_buckets
):
    """A bucket count below 1 (or None) is refused with a ValueError
    naming the value before the stream starts: no _SINK_INIT marker,
    no checkpoint."""
    from datasheet_etl_spark.streaming.streams import (
        cdc_upsert_sink,
        scd2_upsert_sink,
    )

    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, 1, "I", "a")], schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    target, ckpt = str(tmp_path / "target"), str(tmp_path / "ckpt")
    with pytest.raises(ValueError, match=f"got {num_buckets!r}"):
        if sink == "cdc":
            cdc_upsert_sink(
                stream, target, ckpt, ["k"], "seq", num_buckets=num_buckets
            )
        else:
            scd2_upsert_sink(
                stream, target, ckpt, ["k"], "seq", ["v"],
                num_buckets=num_buckets,
            )
    assert not os.path.exists(os.path.join(target, "_SINK_INIT"))
    assert not os.path.exists(ckpt)


def test_cdc_bucketed_full_compaction_reads_empty_not_none(spark, tmp_path):
    """Compacting away EVERY row of a bucketed target (all keys deleted,
    all tombstones expired) must leave a readable EMPTY table with its
    schema — not None ('table never created')."""
    from datasheet_etl_spark.streaming.streams import (
        cdc_upsert_sink,
        compact_cdc_target,
        read_cdc_snapshot,
    )

    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 1, "I", "a"), (2, 1, "I", "b"), (1, 2, "D", None), (2, 2, "D", None)],
        schema,
    ).coalesce(1).write.parquet(src)
    target = str(tmp_path / "target")
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    cdc_upsert_sink(
        stream, target, str(tmp_path / "ck"), keys=["k"], seq_col="seq",
        num_buckets=4,
    )
    assert compact_cdc_target(spark, target, min_seq=10) == 2
    snap = read_cdc_snapshot(spark, target, include_tombstones=True)
    assert snap is not None
    assert snap.count() == 0
    assert set(snap.columns) == {"k", "seq", "v", "_deleted"}


def test_gc_cdc_target_plain_keeps_snapshot(spark, tmp_path):
    """GC on a one-bucket target: superseded manifests and version dirs
    are deleted, the kept version still reads identically."""
    import glob
    import os

    from datasheet_etl_spark.streaming.streams import (
        cdc_upsert_sink,
        gc_cdc_target,
        read_cdc_snapshot,
    )

    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(src)
        )
        cdc_upsert_sink(stream, target, ckpt, keys=["k"], seq_col="seq")

    spark.createDataFrame([(1, 1, "I", "a")], schema).coalesce(1).write.parquet(src)
    spark.createDataFrame([(2, 2, "I", "b")], schema).coalesce(1).write.parquet(
        src, mode="append"
    )
    spark.createDataFrame([(1, 3, "U", "a2")], schema).coalesce(1).write.parquet(
        src, mode="append"
    )
    drain(str(tmp_path / "ck"))
    assert len(glob.glob(os.path.join(target, "v*"))) == 3
    before = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}

    # 4 = the two dropped manifests + their two data dirs: with one
    # bucket every batch rewrote the whole table, so the kept manifest
    # references no older dir
    assert gc_cdc_target(spark, target, keep_versions=1) == 4
    assert len(glob.glob(os.path.join(target, "v*"))) == 1
    after = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}
    assert after == before == {1: "a2", 2: "b"}
    assert gc_cdc_target(spark, target, keep_versions=1) == 0  # idempotent


def test_gc_cdc_target_bucketed_respects_manifest_reachability(spark, tmp_path):
    """Bucketed GC is REACHABILITY-based, not age-based: the kept
    manifest references never-touched buckets' dirs from the OLDEST
    version — those must survive keep_versions=1; the middle version's
    superseded dir (its only bucket re-rewritten later) is swept along
    with the dropped manifests. Snapshot identical before/after."""
    import glob
    import os

    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        _resolve_manifest,
        cdc_upsert_sink,
        gc_cdc_target,
        read_cdc_snapshot,
    )

    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(src)
        )
        cdc_upsert_sink(
            stream, target, ckpt, keys=["k"], seq_col="seq", num_buckets=4
        )

    spark.createDataFrame(
        [(k, 1, "I", f"v{k}") for k in range(12)], schema
    ).coalesce(1).write.parquet(src)
    # two successive updates of the SAME key → the middle version's
    # bucket dir is superseded by the last one
    spark.createDataFrame([(1, 2, "U", "b2")], schema).coalesce(1).write.parquet(
        src, mode="append"
    )
    spark.createDataFrame([(1, 3, "U", "b3")], schema).coalesce(1).write.parquet(
        src, mode="append"
    )
    drain(str(tmp_path / "ck"))
    versions = _committed_manifest_versions(spark, target)
    assert len(versions) == 3
    v1, v2, v3 = versions
    before = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}

    n = gc_cdc_target(spark, target, keep_versions=1)
    assert n == 3  # manifests v1+v2, data dir v2
    assert _committed_manifest_versions(spark, target) == [v3]
    dirs = {os.path.basename(p) for p in glob.glob(os.path.join(target, "v*"))}
    assert v1 in dirs and v2 not in dirs and v3 in dirs
    # the kept manifest still resolves and references v1 dirs
    m = _resolve_manifest(spark, target)
    assert any(rel.startswith(v1) for rel in m["buckets"].values())
    after = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}
    assert after == before and after[1] == "b3"


def test_cdc_time_travel_read(spark, tmp_path):
    """Version-pinned reads: a committed version stays readable (and
    identical) after later commits, with one bucket and with four; a
    GC'd or never-committed version raises rather than returning None."""
    import pytest as _pytest

    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        cdc_upsert_sink,
        gc_cdc_target,
        read_cdc_snapshot,
    )

    schema = "k long, seq long, op string, v string"
    for mode, buckets in (("one", 1), ("bucketed", 4)):
        src = str(tmp_path / f"src_{mode}")
        target = str(tmp_path / f"target_{mode}")
        spark.createDataFrame([(1, 1, "I", "old")], schema).coalesce(
            1
        ).write.parquet(src)
        spark.createDataFrame([(1, 2, "U", "new")], schema).coalesce(
            1
        ).write.parquet(src, mode="append")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(src)
        )
        cdc_upsert_sink(
            stream, target, str(tmp_path / f"ck_{mode}"), keys=["k"],
            seq_col="seq", num_buckets=buckets,
        )
        committed = _committed_manifest_versions(spark, target)
        v_old, v_new = committed[0], committed[-1]
        assert read_cdc_snapshot(spark, target, version=v_old).first()["v"] == "old"
        assert read_cdc_snapshot(spark, target, version=v_new).first()["v"] == "new"
        assert read_cdc_snapshot(spark, target).first()["v"] == "new"
        with _pytest.raises(ValueError, match="not committed"):
            read_cdc_snapshot(spark, target, version="v9999999999")
        gc_cdc_target(spark, target, keep_versions=1)
        with _pytest.raises(ValueError, match="not committed"):
            read_cdc_snapshot(spark, target, version=v_old)
        assert read_cdc_snapshot(spark, target).first()["v"] == "new"


def test_cdc_sink_refuses_orphaned_checkpoint(spark, tmp_path):
    """A checkpoint that outlives its target (target deleted,
    checkpoint kept) must fail LOUDLY at the next sink run — the
    restarted stream would otherwise skip every committed batch and
    leave the rebuilt target empty forever with no error. Clearing the
    checkpoint too is the documented rebuild path, and must work."""
    import shutil

    import pytest

    from datasheet_etl_spark.streaming.streams import (
        cdc_upsert_sink,
        read_cdc_snapshot,
    )

    src = str(tmp_path / "changes_src")
    target = str(tmp_path / "cdc_target")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "k long, seq long, op string, v string"
    changes = spark.createDataFrame(
        [(1, 1, "I", "a1"), (2, 1, "I", "b1")], schema
    )
    changes.coalesce(1).write.parquet(src)

    def drain():
        stream = (
            spark.readStream.schema(changes.schema).format("parquet").load(src)
        )
        cdc_upsert_sink(stream, target, ckpt, keys=["k"], seq_col="seq")

    drain()
    assert read_cdc_snapshot(spark, target).count() == 2

    # target vanishes, checkpoint survives → refuse
    shutil.rmtree(target)
    with pytest.raises(ValueError, match="no committed state"):
        drain()

    # documented recovery: drop the checkpoint too → full changelog
    # replays into the fresh target
    shutil.rmtree(ckpt)
    drain()
    got = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}
    assert got == {1: "a1", 2: "b1"}

    # and the guard does not fire on a healthy restart (both present)
    drain()
    assert read_cdc_snapshot(spark, target).count() == 2


def test_materialized_agg_sink_refuses_orphaned_checkpoint(spark, tmp_path):
    """The checkpoint/target binding is a property of EVERY
    checkpointed sink, not just CDC: update-mode materialization only
    emits groups changed by new data, so a target deleted out from
    under its checkpoint loses all previously-materialized groups
    silently — unless refused at startup. An empty-bootstrap restart
    (commits exist, target legitimately has no data yet) must NOT be
    refused — the _SINK_INIT marker distinguishes the two."""
    import shutil

    import pytest

    from datasheet_etl_spark.streaming.streams import materialized_agg_sink

    src = str(tmp_path / "agg_src")
    target = str(tmp_path / "agg_target")
    ckpt = str(tmp_path / "agg_ckpt")
    schema = "k string, v long"
    spark.createDataFrame([("a", 1), ("b", 2)], schema).coalesce(
        1
    ).write.parquet(src)

    def drain():
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        agg = stream.groupBy("k").count()
        materialized_agg_sink(agg, target, ckpt, partition_cols=["k"])

    drain()
    assert spark.read.parquet(target).count() == 2

    shutil.rmtree(target)
    with pytest.raises(ValueError, match="no committed state"):
        drain()

    shutil.rmtree(ckpt)
    drain()  # documented rebuild: clear both → full input replays
    assert spark.read.parquet(target).count() == 2


def test_cdc_sink_empty_bootstrap_restart_not_refused(spark, tmp_path):
    """Commits-without-target-state is HEALTHY when it's this sink's
    own bootstrap (first run drained an empty source): the marker
    written at first startup lets the restart proceed."""
    from datasheet_etl_spark.streaming.streams import (
        cdc_upsert_sink,
        read_cdc_snapshot,
    )

    src = str(tmp_path / "changes_src")
    target = str(tmp_path / "cdc_target")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "k long, seq long, op string, v string"
    # an empty source directory: batch 0 commits with no data
    spark.createDataFrame([], schema).coalesce(1).write.parquet(src)

    def drain():
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        cdc_upsert_sink(stream, target, ckpt, keys=["k"], seq_col="seq")

    drain()
    assert read_cdc_snapshot(spark, target) is None  # nothing committed
    drain()  # restart over the bootstrapped pair: must not raise

    # data finally arrives → applied normally
    spark.createDataFrame([(1, 1, "I", "a1")], schema).coalesce(
        1
    ).write.parquet(src, mode="append")
    drain()
    assert {r["k"] for r in read_cdc_snapshot(spark, target).collect()} == {1}


def test_streaming_maintained_histogram_matches_batch(spark, tmp_path):
    """Composition: an equi-width histogram maintains INCREMENTALLY
    from a stream — the frame is fixed up front (what makes bin counts
    additive), the streaming agg counts (key, bin) in update mode over
    two partition columns, and materialized_agg_sink keeps the partial
    table at rest. After draining, the materialized bin counts equal
    the batch (key, bin) counts of the same data exactly."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.streaming.streams import materialized_agg_sink

    src = str(tmp_path / "hist_src")
    target = str(tmp_path / "hist_target")
    ckpt = str(tmp_path / "hist_ckpt")

    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "value"
    )
    lo, hi = e.agg(F.min("value"), F.max("value")).first()
    bins = 64

    def binned(df):
        # the top edge (value == hi) folds into the last bin
        b = F.floor((F.col("value") - F.lit(lo)) / F.lit((hi - lo) / bins))
        return (
            df.filter(F.col("value").isNotNull())
            .groupBy("event_type", F.least(b, F.lit(bins - 1)).alias("bin"))
            .agg(F.count("*").cast("long").alias("n"))
        )

    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src)
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        src, mode="append"
    )

    stream = spark.readStream.schema(e.schema).format("parquet").load(src)
    materialized_agg_sink(
        binned(stream), target, ckpt, partition_cols=["event_type", "bin"]
    )

    got = {
        (r["event_type"], r["bin"]): r["n"]
        for r in spark.read.parquet(target).collect()
    }
    want = {(r["event_type"], r["bin"]): r["n"] for r in binned(e).collect()}
    assert got == want
    assert len(want) > len({k for k, _ in want}), "expected several bins per key"


def test_cdc_bucketed_first_batch_crash_recovers(spark, tmp_path):
    """The sink's first-batch crash window: the partitioned parquet
    write drops ``v*/_SUCCESS`` BEFORE the manifest commit, so a crash
    in between leaves committed-LOOKING version dirs full of
    ``_bucket=*`` partial merge state and no manifests dir. Pinned:
    (a) restarting the sink recovers — the orphaned dirs are discarded
    and the checkpoint replays the batch to a correct snapshot; (b) the
    reader finds no committed manifest and reads no table, never the
    partial state."""
    import glob
    import os
    import shutil

    from datasheet_etl_spark.streaming.streams import (
        cdc_upsert_sink,
        read_cdc_snapshot,
    )

    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(k, 1, "I", f"v{k}") for k in range(8)], schema
    ).coalesce(1).write.parquet(src)
    target, ckpt = str(tmp_path / "target"), str(tmp_path / "ckpt")

    def drain(ckpt_dir, num_buckets):
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        cdc_upsert_sink(
            stream, target, ckpt_dir, keys=["k"], seq_col="seq",
            num_buckets=num_buckets,
        )

    drain(ckpt, 4)
    # simulate the crash window: manifest commit (and pointer) undone,
    # the micro-batch not yet acknowledged in the checkpoint — exactly
    # what a kill between the parquet write and the manifest leaves
    shutil.rmtree(os.path.join(target, "manifests"))
    os.remove(os.path.join(target, "_LATEST"))
    for c in os.listdir(os.path.join(ckpt, "commits")):
        # includes Hadoop's hidden .N.crc twins — a stale checksum would
        # make the replayed commit write fail as a phantom concurrency
        os.remove(os.path.join(ckpt, "commits", c))
    orphan_dirs = glob.glob(os.path.join(target, "v*"))
    assert orphan_dirs and all(
        glob.glob(os.path.join(d, "_bucket=*")) for d in orphan_dirs
    )

    # (b) the reader never surfaces the partial state
    assert read_cdc_snapshot(spark, target) is None

    # (a) restart: orphan discarded, batch replayed, correct
    drain(ckpt, 4)
    got = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}
    assert got == {k: f"v{k}" for k in range(8)}
    assert "_bucket" not in read_cdc_snapshot(spark, target).columns
    # and the sink keeps working incrementally after recovery
    spark.createDataFrame([(1, 2, "U", "v1-new")], schema).coalesce(
        1
    ).write.parquet(src, mode="append")
    drain(ckpt, 4)
    got = {r["k"]: r["v"] for r in read_cdc_snapshot(spark, target).collect()}
    assert got[1] == "v1-new" and len(got) == 8


def test_cdc_checkpoint_target_co_gc(spark, tmp_path):
    """VERDICT r7 #3: the checkpoint must be boundable ALONGSIDE the
    target. Pinned: (a) after N batches, co-GC shrinks the batch logs
    to keep_batches pairs and prunes file-source log entries folded
    into the newest .compact; (b) the sink keeps working incrementally
    after co-GC (replay state intact); (c) co-GC refuses a dead target
    (it must never manufacture the orphan _SINK_INIT refuses); (d) the
    orphan-refusal itself still holds after co-GC."""
    import os
    import shutil

    import pytest as _pytest

    from datasheet_etl_spark.streaming.streams import (
        cdc_upsert_sink,
        gc_cdc,
        read_cdc_snapshot,
    )

    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "src")
    target, ckpt = str(tmp_path / "target"), str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        cdc_upsert_sink(stream, target, ckpt, keys=["k"], seq_col="seq")

    spark.conf.set("spark.sql.streaming.fileSource.log.compactInterval", "2")
    try:
        for seq in range(1, 6):  # five micro-batches across five runs
            spark.createDataFrame(
                [(k, seq, "I" if seq == 1 else "U", f"v{k}s{seq}")
                 for k in range(4)],
                schema,
            ).coalesce(1).write.parquet(src, mode="append")
            drain()

        def nfiles(sub):
            d = os.path.join(ckpt, sub)
            return sorted(
                f for f in os.listdir(d) if not f.startswith(".")
            ) if os.path.isdir(d) else []

        assert len(nfiles("offsets")) == 5 and len(nfiles("commits")) == 5
        src_log = os.path.join("sources", "0")
        assert any(f.endswith(".compact") for f in nfiles(src_log))

        res = gc_cdc(spark, target, ckpt, keep_versions=2, keep_batches=2)
        assert res["target_paths_deleted"] > 0
        assert res["checkpoint_files_deleted"] > 0
        assert nfiles("offsets") == ["3", "4"]
        assert nfiles("commits") == ["3", "4"]
        # everything below the newest compact is folded into it
        kept = nfiles(src_log)
        compacts = [int(f.split(".")[0]) for f in kept if f.endswith(".compact")]
        assert compacts and all(
            int(f.split(".")[0]) >= max(compacts) for f in kept
        )
        # idempotent
        again = gc_cdc(spark, target, ckpt, keep_versions=2, keep_batches=2)
        assert again == {
            "target_paths_deleted": 0, "checkpoint_files_deleted": 0,
        }

        # (b) the sink keeps working incrementally after co-GC
        spark.createDataFrame(
            [(1, 6, "U", "v1s6")], schema
        ).coalesce(1).write.parquet(src, mode="append")
        drain()
        got = {r["k"]: r["v"]
               for r in read_cdc_snapshot(spark, target).collect()}
        assert got[1] == "v1s6" and got[2] == "v2s5"

        # (c) co-GC refuses a dead target
        dead_t = str(tmp_path / "dead_target")
        with _pytest.raises(Exception, match="no committed state"):
            gc_cdc(spark, dead_t, ckpt)

        # (d) the _SINK_INIT orphan-refusal still holds after co-GC
        shutil.rmtree(target)
        with _pytest.raises(Exception, match="records committed batches"):
            drain()
    finally:
        spark.conf.unset("spark.sql.streaming.fileSource.log.compactInterval")


def test_gc_cdc_checkpoint_refuses_in_flight_batch(spark, tmp_path):
    """VERDICT r8 #5 / ADVICE r8: the live-query precondition is now a
    guard, not a docstring. A checkpoint whose newest offsets/<n> has
    no commits/<n> is mid-batch (query live, or crashed between offset
    write and commit) — gc_cdc_checkpoint must refuse it; once the
    commit lands the same checkpoint GCs normally."""
    import os

    import pytest as _pytest

    from datasheet_etl_spark.streaming.streams import gc_cdc_checkpoint

    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "commits").mkdir(parents=True)
    for n in (0, 1, 2):
        (ckpt / "offsets" / str(n)).write_text("{}")
    for n in (0, 1):
        (ckpt / "commits" / str(n)).write_text("{}")

    with _pytest.raises(Exception, match="in-flight batch 2"):
        gc_cdc_checkpoint(spark, str(ckpt), keep_batches=2)
    # nothing was deleted by the refused call
    assert sorted(os.listdir(ckpt / "offsets")) == ["0", "1", "2"]
    assert sorted(os.listdir(ckpt / "commits")) == ["0", "1"]

    # batch 2 commits → the identical call now GCs the old pairs
    (ckpt / "commits" / "2").write_text("{}")
    deleted = gc_cdc_checkpoint(spark, str(ckpt), keep_batches=2)
    assert deleted == 2  # offsets/0 + commits/0
    assert sorted(os.listdir(ckpt / "offsets")) == ["1", "2"]
    assert sorted(os.listdir(ckpt / "commits")) == ["1", "2"]


def test_streaming_gram_index_maintenance(spark, tmp_path):
    """t99's lifecycle: batch 2's doc must match batch 1's doc THROUGH
    the index (the maintenance loop, not just the probe); a re-drain
    with the same checkpoint processes nothing new (no extra matches,
    no duplicate postings); and new files after the re-drain are
    picked up incrementally."""
    import os

    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.dedup import write_gram_index
    from datasheet_etl_spark.streaming.streams import (
        streaming_gram_index_maintain,
    )

    span = " ".join(f"live{c}{d}" for c in "abcde" for d in "abcde")  # 25
    fill = lambda tag: " ".join(f"{tag}{c}" for c in "abcdefghij")
    schema = "doc_id long, text string"
    idx_docs = spark.createDataFrame([(1, fill("seed") + " " + span)], schema)
    b1 = spark.createDataFrame([(11, span + " " + fill("one"))], schema)
    b2 = spark.createDataFrame(
        [(21, fill("two") + " " + span), (22, fill("solo"))], schema
    )

    src = str(tmp_path / "stream")
    b1.coalesce(1).write.parquet(src, mode="overwrite")
    b2.coalesce(1).write.parquet(src, mode="append")
    index, matches = str(tmp_path / "idx"), str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    write_gram_index(idx_docs, index)

    def drain():
        stream = (
            spark.readStream.schema(b1.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        streaming_gram_index_maintain(spark, stream, index, matches, ckpt)

    drain()
    # order-normalized pairs: the file source breaks mtime ties by
    # path, so b2 CAN drain first — the unordered pair set and the
    # span values are arrival-order-invariant (the t99 entry
    # normalizes the same way)
    got = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])): r[
            "max_span_tokens"
        ]
        for r in spark.read.parquet(matches).distinct().collect()
    }
    # batch1 vs index; batch2 vs index AND vs batch1 (through the
    # index the stream itself maintained); solo doc matches nothing
    assert got == {(1, 11): 25, (1, 21): 25, (11, 21): 25}, got

    # exactly-once: re-draining the same checkpoint changes nothing
    n_match_rows = spark.read.parquet(matches).count()
    n_postings = spark.read.parquet(index).count()
    drain()
    assert spark.read.parquet(matches).count() == n_match_rows
    assert spark.read.parquet(index).count() == n_postings

    # incremental: a NEW file after the re-drain is processed alone
    b3 = spark.createDataFrame([(31, span + " " + fill("three"))], schema)
    b3.coalesce(1).write.parquet(src, mode="append")
    drain()
    got3 = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
        for r in spark.read.parquet(matches).distinct().collect()
    }
    assert got3 == {(1, 11), (1, 21), (11, 21), (1, 31), (11, 31), (21, 31)}


def test_streaming_gram_index_crash_replay_no_self_pairs(spark, tmp_path):
    """ADVICE-found (r9, high): a crash BETWEEN the postings append and
    the _docs ledger append replays the batch with its own postings
    already in the index — without the id_a anti-join the probe would
    emit self-pairs (id_a == id_b) and intra-batch pairs the original
    run never wrote, permanently corrupting matches_path (distinct()
    cannot collapse rows that differ). Plant exactly that window and
    assert the replay writes only the pre-crash-index pairs."""
    from datasheet_etl_spark.operators.dedup import (
        _positioned_gram_postings,
        write_gram_index,
    )
    from datasheet_etl_spark.streaming.streams import (
        streaming_gram_index_maintain,
    )

    span = " ".join(f"crash{c}{d}" for c in "abcde" for d in "abcde")  # 25
    fill = lambda tag: " ".join(f"{tag}{c}" for c in "abcdefghij")
    schema = "doc_id long, text string"
    idx_docs = spark.createDataFrame([(1, fill("seed") + " " + span)], schema)
    # two batch docs sharing the span with the index AND each other —
    # the worst case: the planted crash exposes both self-pairs and
    # intra-batch pairs
    batch = spark.createDataFrame(
        [(11, span + " " + fill("one")), (12, fill("two") + " " + span)],
        schema,
    )
    index, matches = str(tmp_path / "idx"), str(tmp_path / "matches")
    write_gram_index(idx_docs, index)
    # plant the crash: postings fully appended, ledger NOT yet written
    _, g = _positioned_gram_postings(
        batch, "doc_id", "text", 8, 64, persist_postings=False
    )
    g.write.mode("append").parquet(index)

    src = str(tmp_path / "stream")
    batch.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    streaming_gram_index_maintain(
        spark, stream, index, matches, str(tmp_path / "ckpt")
    )

    got = {
        (r["id_a"], r["id_b"]): r["max_span_tokens"]
        for r in spark.read.parquet(matches).distinct().collect()
    }
    # ONLY pre-batch-index → batch pairs; never id_a ∈ {11, 12}
    assert got == {(1, 11): 25, (1, 12): 25}, got

    # and the replayed (double-appended) postings don't corrupt later
    # probes: a new batch still matches everything at exact span 25
    b2 = spark.createDataFrame([(21, fill("next") + " " + span)], schema)
    b2.coalesce(1).write.parquet(src, mode="append")
    stream = spark.readStream.schema(batch.schema).parquet(src)
    streaming_gram_index_maintain(
        spark, stream, index, matches, str(tmp_path / "ckpt")
    )
    got2 = {
        (r["id_a"], r["id_b"]): r["max_span_tokens"]
        for r in spark.read.parquet(matches).distinct().collect()
    }
    assert got2 == {(1, 11): 25, (1, 12): 25, (1, 21): 25, (11, 21): 25, (12, 21): 25}, got2


def test_streaming_quarantine_ingest_exactly_once(spark, tmp_path):
    """t105's operator contract: clean rows and verbatim-quarantined
    lines route to their sinks; re-draining the same checkpoint adds
    nothing (crash replays rewrite the same batch=<id> partitions);
    a FRESH checkpoint over a non-empty sink is REFUSED — an
    availableNow restart renumbers batches, so silent re-ingest would
    duplicate rows next to stale partitions (review-found r10); new
    files process incrementally."""
    import pytest as _pytest

    from datasheet_etl_spark.streaming.streams import quarantine_ingest

    src = tmp_path / "in"
    src.mkdir()
    (src / "f0.json").write_text(
        '{"doc_id":1,"source":"a","n_chars":10}\n'
        '{"doc_id":2,"source":"b","n_chars":20}\n'
        '{"doc_id":3,"source":"a","n_chars":30\n'  # truncated object
    )
    clean_p, quar_p = str(tmp_path / "clean"), str(tmp_path / "quar")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id bigint, source string, n_chars bigint"

    quarantine_ingest(spark, str(src), clean_p, quar_p, ckpt, schema)
    clean = spark.read.parquet(clean_p)
    assert {(r["doc_id"], r["source"]) for r in clean.collect()} == {
        (1, "a"),
        (2, "b"),
    }
    quar = spark.read.parquet(quar_p).collect()
    assert len(quar) == 1
    assert quar[0]["_corrupt_record"].startswith('{"doc_id":3')
    # the batch id surfaces as a partition column — ingest provenance
    assert "batch" in clean.columns

    # same checkpoint: pure no-op
    quarantine_ingest(spark, str(src), clean_p, quar_p, ckpt, schema)
    assert spark.read.parquet(clean_p).count() == 2

    # a FRESH checkpoint against the populated sinks is refused — with
    # more than one batch at rest, renumbering would leave stale
    # batch=N partitions duplicating the re-routed rows
    with _pytest.raises(ValueError, match="not empty"):
        quarantine_ingest(
            spark, str(src), clean_p, quar_p, str(tmp_path / "ckpt2"), schema
        )
    # the refused call wrote nothing
    assert spark.read.parquet(clean_p).count() == 2
    assert spark.read.parquet(quar_p).count() == 1

    # incremental: a new file lands alone in the next batch
    (src / "f1.json").write_text('{"doc_id":4,"source":"b","n_chars":40}\n')
    quarantine_ingest(spark, str(src), clean_p, quar_p, ckpt, schema)
    got = spark.read.parquet(clean_p)
    assert got.count() == 3
    assert {r["doc_id"] for r in got.collect()} == {1, 2, 4}


def test_quarantine_ingest_processing_time_trigger(spark, tmp_path):
    """t105 under a LIVE processingTime trigger (VERDICT r10 #7): two
    micro-batches arrive while one long-lived query runs; batch-id
    keying holds (distinct batch=<id> partitions, no duplicates), the
    same checkpoint then resumes under availableNow with the NEXT ids
    (the guard sees offsets → resumable, not fresh), and a fresh
    checkpoint over the now-populated sinks is still refused."""
    import time

    import pytest as _pytest

    from datasheet_etl_spark.streaming.monitor import checkpoint_progress
    from datasheet_etl_spark.streaming.streams import quarantine_ingest

    src = tmp_path / "in"
    src.mkdir()
    clean_p, quar_p = str(tmp_path / "clean"), str(tmp_path / "quar")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id bigint, source string, n_chars bigint"

    def wait_commits(n, timeout=60.0):
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if checkpoint_progress(spark, ckpt)["n_commits"] >= n:
                return
            time.sleep(0.3)
        raise AssertionError(f"never reached {n} commits")

    (src / "f0.json").write_text(
        '{"doc_id":1,"source":"a","n_chars":10}\n'
        'not json at all\n'
    )
    q = quarantine_ingest(
        spark, str(src), clean_p, quar_p, ckpt, schema,
        processing_time="1 seconds",
    )
    try:
        wait_commits(1)
        (src / "f1.json").write_text(
            '{"doc_id":2,"source":"b","n_chars":20}\n'
        )
        wait_commits(2)
    finally:
        q.stop()
        q.awaitTermination()
    clean = spark.read.parquet(clean_p)
    # each file landed in its own micro-batch partition, no duplicates
    assert {(r["doc_id"], r["batch"]) for r in clean.collect()} == {
        (1, 0),
        (2, 1),
    }
    assert spark.read.parquet(quar_p).count() == 1

    # the long-lived checkpoint resumes under availableNow: new file
    # gets the NEXT batch id — keying is checkpoint-owned, not
    # trigger-owned
    (src / "f2.json").write_text('{"doc_id":3,"source":"a","n_chars":30}\n')
    quarantine_ingest(spark, str(src), clean_p, quar_p, ckpt, schema)
    got = spark.read.parquet(clean_p)
    assert {(r["doc_id"], r["batch"]) for r in got.collect()} == {
        (1, 0),
        (2, 1),
        (3, 2),
    }
    # fresh checkpoint over populated sinks: refused for processingTime
    # exactly as for availableNow
    with _pytest.raises(ValueError, match="not empty"):
        quarantine_ingest(
            spark, str(src), clean_p, quar_p, str(tmp_path / "ckpt2"),
            schema, processing_time="1 seconds",
        )


def test_quarantine_ingest_guard_lifecycle(spark, tmp_path):
    """Review-found (r10, pass 3): the two lifecycle refusals of the
    batch-id-keyed quarantine sinks, on hand-planted states. (a) fresh
    checkpoint (no offsets) + populated sink → refused; (b) offsets
    WITHOUT a commit — a first-batch crash — is resumable, NOT fresh:
    no refusal; (c) a checkpoint with commits facing a deleted sink
    (marker gone) → refused, the _bind_checkpoint_target contract;
    (d) marker-only sinks don't count as populated."""
    import pytest as _pytest

    from datasheet_etl_spark.streaming.streams import (
        _quarantine_ingest_guard,
    )

    def mk(tag, offsets=(), commits=(), plant_batch=False):
        root = tmp_path / tag
        ckpt, clean, quar = root / "ckpt", root / "clean", root / "quar"
        (ckpt / "offsets").mkdir(parents=True)
        (ckpt / "commits").mkdir(parents=True)
        for n in offsets:
            (ckpt / "offsets" / str(n)).write_text("{}")
        for n in commits:
            (ckpt / "commits" / str(n)).write_text("{}")
        if plant_batch:
            (clean / "batch=0").mkdir(parents=True)
            (clean / "batch=0" / "part-0.parquet").write_text("x")
            (quar / "batch=0").mkdir(parents=True)
        return str(ckpt), str(clean), str(quar)

    # (a) fresh checkpoint over a populated sink: refused
    ckpt, clean, quar = mk("a", plant_batch=True)
    with _pytest.raises(ValueError, match="not empty"):
        _quarantine_ingest_guard(spark, ckpt, clean, quar)

    # (b) first-batch crash (offsets/0, no commit) + populated sink:
    # resumable — no refusal, markers dropped
    ckpt, clean, quar = mk("b", offsets=(0,), plant_batch=True)
    _quarantine_ingest_guard(spark, ckpt, clean, quar)
    import os

    assert os.path.exists(f"{clean}/_SINK_INIT")

    # (c) checkpoint with commits, sink deleted out from under it
    # (no data, no marker): refused with the rebuild directions
    ckpt, clean, quar = mk("c", offsets=(0,), commits=(0,))
    with _pytest.raises(ValueError, match="no committed state"):
        _quarantine_ingest_guard(spark, ckpt, clean, quar)

    # (d) fresh checkpoint + marker-only sinks (no visible data):
    # not populated — proceeds
    ckpt, clean, quar = mk("d")
    for p in (clean, quar):
        os.makedirs(p)
        open(f"{p}/_SINK_INIT", "w").write("bound\n")
    _quarantine_ingest_guard(spark, ckpt, clean, quar)


def test_monitor_checkpoint_and_progress(spark, tmp_path):
    """The streaming ops surface: checkpoint_progress reads settled
    offsets/commits state from disk (latest ids, in-flight detection —
    the same distinction the lifecycle guards key on), and
    progress_summary folds recentProgress into dashboard numbers."""
    from datasheet_etl_spark.streaming.monitor import (
        checkpoint_progress,
        progress_summary,
    )
    from datasheet_etl_spark.streaming.streams import quarantine_ingest

    src = tmp_path / "in"
    src.mkdir()
    (src / "f0.json").write_text(
        '{"doc_id":1,"source":"a","n_chars":10}\n'
        '{"doc_id":2,"source":"b","n_chars":20}\n'
    )
    ckpt = str(tmp_path / "ckpt")
    q = quarantine_ingest(
        spark,
        str(src),
        str(tmp_path / "clean"),
        str(tmp_path / "quar"),
        ckpt,
        "doc_id bigint, source string, n_chars bigint",
    )

    cp = checkpoint_progress(spark, ckpt)
    assert cp["n_offsets"] == cp["n_commits"] == 1
    assert cp["latest_offset"] == cp["latest_commit"] == 0
    assert cp["in_flight"] is False

    ps = progress_summary(q)
    assert ps["n_batches"] >= 1
    assert ps["input_rows"] == 2
    assert ps["max_batch_duration_ms"] > 0

    # hand-plant the in-flight window: offsets/1 with no commits/1 —
    # a live mid-batch query or the crash a restart replays
    (tmp_path / "ckpt" / "offsets" / "1").write_text("{}")
    cp = checkpoint_progress(spark, ckpt)
    assert cp["latest_offset"] == 1 and cp["latest_commit"] == 0
    assert cp["in_flight"] is True

    # an empty/fresh checkpoint reports zeros, not an error
    empty = checkpoint_progress(spark, str(tmp_path / "nope"))
    assert empty == {
        "n_offsets": 0,
        "n_commits": 0,
        "latest_offset": -1,
        "latest_commit": -1,
        "in_flight": False,
    }


def test_session_window_exact_gap_boundary(spark):
    """t108's oracle encodes Spark's merge rule, which this test
    ESTABLISHED empirically: the gap boundary is INCLUSIVE — an event
    exactly 30min after the previous one MERGES into its session
    (despite the [start, end) window notation suggesting otherwise),
    and only a strictly larger gap splits. Hence the strict `>` in
    the oracle's is_start. µs event data never lands exactly on the
    boundary, so only this planted frame guards the convention — a
    silent semantics change in session_window would shift every t108
    session edge."""
    from pyspark.sql import functions as F

    base = 1_700_000_000_000_000  # µs
    gap_us = 1800 * 1_000_000
    rows = [
        (1, base),
        (1, base + gap_us),          # EXACTLY gap after prev: merges
        (1, base + 2 * gap_us + 1),  # gap+1µs after prev: NEW session
        (2, base),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long").select(
        "user_id", F.timestamp_micros(F.col("us")).alias("ts")
    )
    got = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("s"),
            F.unix_micros(F.col("session_window.end")).alias("e"),
            "n",
        )
        .orderBy("user_id", "s")
        .collect()
    )
    assert [(r["user_id"], r["s"], r["e"], r["n"]) for r in got] == [
        (1, base, base + 2 * gap_us, 2),
        (1, base + 2 * gap_us + 1, base + 3 * gap_us + 1, 1),
        (2, base, base + gap_us, 1),
    ]


def test_cdc_version_diff(spark, tmp_path):
    """Time-travel diff between two committed CDC versions: upserts
    classify as changed, inserts as added, deletes as removed (the
    snapshot excludes tombstones), untouched keys as unchanged —
    and diffing a version against the live snapshot (None) works."""
    import pytest as _pytest

    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        cdc_upsert_sink,
        cdc_version_diff,
    )

    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    spark.createDataFrame(
        [(1, 1, "I", "keep"), (2, 1, "I", "old"), (3, 1, "I", "gone")],
        schema,
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(2, 2, "U", "new"), (3, 2, "D", None), (4, 2, "I", "fresh")],
        schema,
    ).coalesce(1).write.parquet(src, mode="append")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
    )
    cdc_upsert_sink(stream, target, str(tmp_path / "ck"), keys=["k"],
                    seq_col="seq")
    committed = _committed_manifest_versions(spark, target)
    assert len(committed) >= 2
    v_old = committed[0]
    got = {
        r["_key"]: r["status"]
        for r in cdc_version_diff(
            spark, target, v_old, committed[-1], ["k"]
        ).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    # None = live snapshot; identical here to the last version
    live = {
        r["_key"]: r["status"]
        for r in cdc_version_diff(spark, target, v_old, None, ["k"]).collect()
    }
    assert live == got
    with _pytest.raises(ValueError, match="not committed"):
        cdc_version_diff(spark, target, "v9999999999", None, ["k"])

    # touch-update (same value, new seq): the persisted watermark
    # column alone moves; ignore_cols=['seq'] must report unchanged,
    # while the raw fingerprint (review-found r11) reports changed
    v_mid = _committed_manifest_versions(spark, target)[-1]
    spark.createDataFrame([(1, 3, "U", "keep")], schema).coalesce(
        1
    ).write.parquet(src, mode="append")
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
    )
    cdc_upsert_sink(stream2, target, str(tmp_path / "ck"), keys=["k"],
                    seq_col="seq")
    raw = {
        r["_key"]: r["status"]
        for r in cdc_version_diff(spark, target, v_mid, None, ["k"]).collect()
    }
    assert raw[1] == "changed"
    clean = {
        r["_key"]: r["status"]
        for r in cdc_version_diff(
            spark, target, v_mid, None, ["k"], ignore_cols=["seq"]
        ).collect()
    }
    assert clean[1] == "unchanged"


def test_cdc_version_diff_null_and_map_fingerprints(spark, tmp_path):
    """ADVICE r11: the diff fingerprint must (a) distinguish a NULL
    payload field from an absent one (to_json drops nulls by default —
    {a:null,b:1} would collide with {b:1} under column renames/drift)
    and (b) canonicalize map-typed payloads, whose entry order is
    undefined, so a physically-reordered but equal map never reports
    'changed'. Exercised through cdc_version_diff's own fingerprinted()
    by building two committed versions that differ ONLY in null-ness,
    and a map payload rewritten in reversed entry order."""
    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        cdc_upsert_sink,
        cdc_version_diff,
    )

    schema = "k long, seq long, op string, a string, b string"
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    # v1: k=1 has a='x', b=NULL; v2 flips to a=NULL, b='x'. A
    # null-dropping fingerprint serializes both as {"a":"x"}/{"b":"x"}
    # with DIFFERENT hashes — fine — but k=2 (a=NULL,b='1') vs a
    # hypothetical {b:'1'} row must not collide; the direct observable
    # here: flipping WHICH field is null must classify as changed, and
    # an identical null layout as unchanged.
    spark.createDataFrame(
        [(1, 1, "I", "x", None), (2, 1, "I", None, "1")], schema
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(1, 2, "U", None, "x"), (2, 2, "U", None, "1")], schema
    ).coalesce(1).write.parquet(src, mode="append")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
    )
    cdc_upsert_sink(stream, target, str(tmp_path / "ck"), keys=["k"],
                    seq_col="seq")
    committed = _committed_manifest_versions(spark, target)
    got = {
        r["_key"]: r["status"]
        for r in cdc_version_diff(
            spark, target, committed[0], None, ["k"], ignore_cols=["seq", "op"]
        ).collect()
    }
    assert got == {1: "changed", 2: "unchanged"}

    # (b) map payload: same logical map written in reversed entry
    # order between versions — canonicalized fingerprints agree
    m_src = str(tmp_path / "m_src")
    m_target = str(tmp_path / "m_target")
    m_schema = "k long, seq long, op string, payload map<string,string>"
    spark.createDataFrame(
        [(1, 1, "I", {"x": "1", "y": "2"})], m_schema
    ).coalesce(1).write.parquet(m_src)
    # rewrite with entries produced in the opposite order (map_concat
    # of singletons fixes physical order deterministically)
    spark.range(1).selectExpr(
        "1L as k", "2L as seq", "'U' as op",
        "map_concat(map('y','2'), map('x','1')) as payload",
    ).coalesce(1).write.parquet(m_src, mode="append")
    m_stream = (
        spark.readStream.schema(m_schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(m_src)
    )
    cdc_upsert_sink(m_stream, m_target, str(tmp_path / "m_ck"),
                    keys=["k"], seq_col="seq")
    m_committed = _committed_manifest_versions(spark, m_target)
    m_got = {
        r["_key"]: r["status"]
        for r in cdc_version_diff(
            spark, m_target, m_committed[0], None, ["k"],
            ignore_cols=["seq", "op"],
        ).collect()
    }
    assert m_got == {1: "unchanged"}


def test_outer_interval_join_flushes_unmatched_only_with_sentinel(
    spark, tmp_path
):
    """t116/t122's load-bearing mechanics, on a planted frame.

    Outer stream-stream interval join: (a) WITHOUT a
    watermark-advancing final batch, trailing unmatched left rows stay
    in state and a bounded availableNow drain never emits them — the
    documented outer-mode caveat; (b) WITH a far-future sentinel pair
    staged alone into the final micro-batch, every unmatched purchase
    emits exactly once with NULL right columns and the drained frame
    equals the batch LEFT JOIN row-for-row; (c) FULL OUTER (t122) also
    emits the right-unmatched population — the click that followed its
    purchase, which no left-outer drain can surface — with the join
    key coalesced across sides (right-only rows carry NULL left
    columns, including the left's copy of the key)."""
    import uuid as _uuid

    from datasheet_etl_spark.streaming.streams import (
        run_available_now,
        stream_interval_join,
    )

    schema = "event_id bigint, ts string, user_id bigint, event_type string"
    base = "2024-01-01 12:{:02d}:00"
    rows = [
        # user 1: purchase with one click 5 min earlier -> matched
        (10, base.format(5), 1, "click"),
        (11, base.format(10), 1, "purchase"),
        # user 2: purchase with NO click -> must emit a NULL row
        (20, base.format(10), 2, "purchase"),
        # user 3: click AFTER the purchase -> outside interval, NULL row
        (30, base.format(10), 3, "purchase"),
        (31, base.format(20), 3, "click"),
    ]
    sentinel = [
        (-1, "2024-03-01 00:00:00", -1, "purchase"),
        (-2, "2024-03-01 00:00:00", -1, "click"),
    ]

    def drain(with_sentinel, how="left_outer"):
        src = str(tmp_path / f"src_{with_sentinel}_{how}")
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        df.coalesce(1).write.mode("overwrite").parquet(src)
        part_mtimes = [
            os.path.getmtime(os.path.join(src, f))
            for f in os.listdir(src)
            if f.endswith(".parquet")
        ]
        if with_sentinel:
            sent = spark.createDataFrame(sentinel, schema).withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
            tmp = str(tmp_path / "sent_build")
            sent.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            )
            dst = os.path.join(src, "zz_sentinel.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            os.utime(dst, (max(part_mtimes) + 60, max(part_mtimes) + 60))
        n_real = sum(
            1
            for f in os.listdir(src)
            if f.endswith(".parquet") and not f.startswith("zz_")
        )
        purchases = (
            spark.readStream.schema(
                spark.read.parquet(src).schema
            )
            .option("maxFilesPerTrigger", str(n_real))
            .format("parquet")
            .load(src)
            .filter(F.col("event_type") == "purchase")
        )
        clicks = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", str(n_real))
            .format("parquet")
            .load(src)
            .filter(F.col("event_type") == "click")
        )
        joined = stream_interval_join(
            purchases,
            clicks,
            key="user_id",
            lookback="6 hours",
            watermark="1 hour",
            how=how,
        )
        out = run_available_now(
            joined.select(
                F.col("event_id").alias("purchase_id"),
                F.coalesce("user_id", "r_user_id").alias("user_id"),
                F.col("r_event_id").alias("click_id"),
            ),
            f"t116pin_{_uuid.uuid4().hex[:8]}",
            "append",
        )
        return {
            (r["purchase_id"], r["click_id"])
            for r in out.filter(F.col("user_id") >= 0).collect()
        }

    # (a) no sentinel: the matched pair emits, the unmatched purchases
    # are stuck in state when the drain ends
    got = drain(with_sentinel=False)
    assert got == {(11, 10)}

    # (b) sentinel: unmatched purchases flush as NULL rows exactly once
    got = drain(with_sentinel=True)
    assert got == {(11, 10), (20, None), (30, None)}

    # (c) full outer: click 31 (after its purchase, matching nothing)
    # also flushes, keyed by the coalesced user id
    got = drain(with_sentinel=True, how="full_outer")
    assert got == {(11, 10), (20, None), (30, None), (None, 31)}


def test_timeout_sessionize_emits_once_on_close(spark, tmp_path):
    """t117's lifecycle mechanics, on a planted frame.

    (a) WITHOUT a watermark-advancing final batch, only sessions closed
    by an in-stream gap emit; the open tail per key is withheld in
    state. (b) WITH two staged sentinel batches, every session emits —
    via the EventTimeTimeout branch for the tails — and each session
    appears in the RAW sink output exactly once (close-only emission:
    no update-mode re-emissions to dedup)."""
    import uuid as _uuid

    from datasheet_etl_spark.streaming.streams import (
        run_available_now,
        sessionize_timeout,
    )

    schema = "event_id bigint, ts string, user_id bigint, value double"
    rows = [
        # user 1: two sessions (gap 2h > 30min); second session is the
        # open tail -> only flushes via timeout
        (1, "2024-01-01 10:00:00", 1, 1.0),
        (2, "2024-01-01 10:10:00", 1, 2.0),
        (3, "2024-01-01 12:30:00", 1, 4.0),
        # user 2: one never-gapped session -> pure timeout flush
        (4, "2024-01-01 10:00:00", 2, 8.0),
    ]
    sentinels = [
        [(-1, "2024-02-01 00:00:00", -1, 0.0)],
        [(-2, "2024-03-01 00:00:00", -2, 0.0)],
    ]

    def drain(n_sentinel_files):
        src = str(tmp_path / f"src_{n_sentinel_files}")
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        df.coalesce(1).write.mode("overwrite").parquet(src)
        mt = max(
            os.path.getmtime(os.path.join(src, f))
            for f in os.listdir(src)
            if f.endswith(".parquet")
        )
        for i in range(n_sentinel_files):
            sdf = spark.createDataFrame(sentinels[i], schema).withColumn(
                "ts", F.col("ts").cast("timestamp")
            )
            tmp = str(tmp_path / "sb")
            sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(src, f"zz{i}_sentinel.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            os.utime(dst, (mt + 60 * (i + 1), mt + 60 * (i + 1)))
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(src)
            .withWatermark("ts", "1 hour")
        )
        out = run_available_now(
            sessionize_timeout(stream),
            f"t117pin_{_uuid.uuid4().hex[:8]}",
            "update",
        )
        return [
            (r["user_id"], r["session_id"], r["n_events"], r["session_value"])
            for r in out.filter(F.col("user_id") >= 0).collect()
        ]

    # (a) no sentinels: user 1's first session closes via the
    # in-stream gap; user 2's session times out anyway — the trailing
    # no-data batch fires timeouts up to the FINAL watermark
    # (max ts 12:30 − 1h = 11:30 > its 10:30 close). What a bounded
    # drain can never flush on its own is the LAST watermark window:
    # user 1's tail (close 13:00 > 11:30) stays stuck in state —
    # exactly the gap the sentinels exist to cover.
    got = drain(0)
    assert sorted(got) == [(1, 1, 2, 3.0), (2, 1, 1, 8.0)]

    # (b) both sentinels: tails flushed via the timeout branch, every
    # session exactly once in the raw sink (list, not set: duplicate
    # emissions would show)
    got = drain(2)
    assert sorted(got) == [(1, 1, 2, 3.0), (1, 2, 1, 4.0), (2, 1, 1, 8.0)]


def test_timeout_sessionize_amortizes_across_batches(spark, tmp_path):
    """VERDICT r11 #7 (amortization pin): t117's drain-tail is O(open
    sessions) ONLY because a bounded drain pays every timeout at the
    end — on a production-shaped stream where data keeps arriving,
    each batch's watermark advance fires the PREVIOUS window's
    timeouts, so session emissions spread across batches and the final
    flush holds only the last window's sessions. Three day-files +
    two sentinels, per-batch emissions captured via foreachBatch:
    every session emits exactly once, emissions land in >= 3 distinct
    batches, and the terminal sentinel batches flush ONLY the last
    day's sessions (a strict minority)."""
    import os as _os
    import shutil as _shutil

    from datasheet_etl_spark.streaming.streams import sessionize_timeout

    schema = "event_id bigint, ts string, user_id bigint, value double"
    days = [
        [(1, "2024-01-01 10:00:00", 1, 1.0), (2, "2024-01-01 10:10:00", 2, 2.0)],
        [(3, "2024-01-02 10:00:00", 11, 3.0), (4, "2024-01-02 10:10:00", 12, 4.0)],
        [(5, "2024-01-03 10:00:00", 21, 5.0), (6, "2024-01-03 10:10:00", 22, 6.0)],
    ]
    sentinels = [
        [(-1, "2024-02-01 00:00:00", -1, 0.0)],
        [(-2, "2024-03-01 00:00:00", -2, 0.0)],
    ]
    src = str(tmp_path / "src")
    _os.makedirs(src)
    tmp = str(tmp_path / "build")
    for i, rows in enumerate(days + sentinels):
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in _os.listdir(tmp) if f.endswith(".parquet"))
        dst = _os.path.join(src, f"f{i}.parquet")
        _shutil.move(_os.path.join(tmp, part), dst)
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
        .withWatermark("ts", "1 hour")
    )
    emitted: list[tuple[int, int, int]] = []  # (batch_id, user_id, session_id)

    def capture(batch_df, batch_id):
        for r in batch_df.collect():
            emitted.append((batch_id, r["user_id"], r["session_id"]))

    q = (
        sessionize_timeout(stream)
        .writeStream.foreachBatch(capture)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    real = [(b, u, s) for (b, u, s) in emitted if u >= 0]
    # exactly once per session, all six sessions
    assert sorted((u, s) for _, u, s in real) == [
        (1, 1), (2, 1), (11, 1), (12, 1), (21, 1), (22, 1),
    ]
    by_batch: dict[int, set] = {}
    for b, u, s in real:
        by_batch.setdefault(b, set()).add(u)
    # amortization: emissions spread over >= 3 distinct batches...
    assert len(by_batch) >= 3, by_batch
    # ...and the terminal flush (the two sentinel batches) holds only
    # the LAST day's sessions — a strict minority of the total
    last_two = sorted(by_batch)[-1:] if len(by_batch) == 3 else sorted(by_batch)[-2:]
    tail_users = set().union(*(by_batch[b] for b in last_two if b in by_batch))
    assert tail_users <= {21, 22}, by_batch
    # earlier batches carried the majority: day-1 and day-2 sessions
    # fired while data was still flowing, not in the drain tail
    head_users = set().union(
        *(v for b, v in by_batch.items() if b not in last_two)
    )
    assert {1, 2, 11, 12} <= head_users, by_batch


def test_chained_streaming_aggs_two_state_operators(spark, tmp_path):
    """t118's mechanics: (a) the executed streaming query really runs
    TWO stateful aggregation operators (progress.stateOperators), and
    (b) the prototype-found trap is real — filtering the input on a
    non-time column BEFORE the first aggregate gets pushed below the
    EventTimeWatermark node, so sentinel rows never advance the
    watermark and the trailing windows never flush. t118 therefore
    filters the DRAINED output, never the stream."""
    import json
    import uuid as _uuid

    schema = "event_id bigint, ts string, user_id bigint"
    rows = [
        (1, "2024-01-01 10:05:00", 1),
        (2, "2024-01-01 10:15:00", 2),
        (3, "2024-01-01 11:05:00", 1),
    ]
    sentinels = [
        [(-1, "2024-02-01 00:00:00", -1)],
        [(-2, "2024-03-01 00:00:00", -2)],
    ]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)
    mt = max(
        os.path.getmtime(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    for i, srows in enumerate(sentinels):
        sdf = spark.createDataFrame(srows, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        tmp = str(tmp_path / "sb")
        sdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(src, f"zz{i}_sentinel.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (mt + 60 * (i + 1), mt + 60 * (i + 1)))

    def chain(stream):
        lvl1 = stream.groupBy(
            F.window("ts", "1 hour").alias("w"), "user_id"
        ).agg(F.count("*").alias("n_events"))
        return lvl1.groupBy("w").agg(F.count("*").alias("n_users"))

    def drain(pre_filter):
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(src)
            .withWatermark("ts", "1 hour")
        )
        if pre_filter:
            stream = stream.filter(F.col("user_id") >= 0)
        name = f"t118pin_{_uuid.uuid4().hex[:8]}"
        q = (
            chain(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_state_ops = len((q.lastProgress or {}).get("stateOperators", []))
        got = {
            (str(r["w"]["start"]), r["n_users"])
            for r in spark.sql(f"SELECT * FROM {name}")
            .filter(F.col("w.start") < "2024-01-15")
            .collect()
        }
        return got, n_state_ops

    # (a) sentinels in-stream: both real windows flush through both
    # levels; the query ran exactly two stateful operators
    got, n_ops = drain(pre_filter=False)
    assert n_ops == 2, f"expected 2 state operators, got {n_ops}"
    assert got == {("2024-01-01 10:00:00", 2), ("2024-01-01 11:00:00", 1)}

    # (b) the trap: a pre-aggregate user filter starves the watermark
    # (sentinels filtered below the EventTimeWatermark node) — nothing
    # ever flushes
    got, _ = drain(pre_filter=True)
    assert got == set()


def test_sentinel_staging_isolates_batches_for_multipart_sources(
    spark, tmp_path
):
    """Review-found regression: with a multi-part events source,
    maxFilesPerTrigger = n_real used to batch BOTH sentinel files into
    one trigger, collapsing the two watermark steps the chained-agg
    flush needs. The staging now pads each sentinel to a full trigger
    group of n_real files (empties, same mtime), so each sentinel gets
    its own micro-batch. Drive the REAL helper over a 3-part source
    and assert the two-level chain flushes every window."""
    from datasheet_etl_spark.plans.streaming_entries import (
        _stage_events_sentinels,
    )
    from datasheet_etl_spark.streaming.streams import run_available_now

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    rows = [
        (1, "2024-01-01 10:05:00", 1, "click", 1.0, None),
        (2, "2024-01-01 10:15:00", 2, "click", 1.0, None),
        (3, "2024-01-01 11:05:00", 1, "click", 1.0, None),
        (4, "2024-01-01 12:40:00", 3, "click", 1.0, None),
    ]
    schema = (
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string"
    )
    df = spark.createDataFrame(rows, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    df.repartition(3).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )

    src, n_real = _stage_events_sentinels(
        spark,
        sf_dir,
        "multipart_pin",
        [[(-1, -1, "sentinel", 7)], [(-2, -2, "sentinel", 14)]],
    )
    assert n_real == 3
    # each sentinel group is exactly n_real files (1 sentinel + pads)
    names = sorted(os.listdir(src))
    assert sum(1 for f in names if f.startswith("b0")) == 3
    assert sum(1 for f in names if f.startswith("b1")) == 3

    stream = (
        spark.readStream.schema(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
        )
        .option("maxFilesPerTrigger", str(n_real))
        .format("parquet")
        .load(src)
        .withWatermark("ts", "1 hour")
    )
    lvl1 = stream.groupBy(F.window("ts", "1 hour").alias("w"), "user_id").agg(
        F.count("*").alias("n_events")
    )
    lvl2 = lvl1.groupBy("w").agg(F.count("*").alias("n_users"))
    import uuid as _uuid

    out = run_available_now(lvl2, f"mp_{_uuid.uuid4().hex[:8]}", "append")
    got = {
        (str(r["w"]["start"]), r["n_users"])
        for r in out.filter(F.col("w.start") < "2024-01-02").collect()
    }
    # every real window flushed through BOTH levels — including 12:00,
    # the trailing window a collapsed sentinel pair would strand
    assert got == {
        ("2024-01-01 10:00:00", 2),
        ("2024-01-01 11:00:00", 1),
        ("2024-01-01 12:00:00", 1),
    }


@pytest.mark.parametrize(
    "sink_kw", [{}, {"num_buckets": 4}], ids=["flat", "bucketed"]
)
def test_scd2_sink_history_lifecycle(spark, tmp_path, sink_kw):
    """scd2_upsert_sink mechanics on a planted frame, with the default
    one bucket (the whole history rewritten per batch) and with four
    (the lifecycle contract does not depend on the bucket count):
    (a) upserts open intervals and close predecessors, deletes close
    WITHOUT opening; (b) a later batch extends history incrementally
    and the stale guard rejects changes at/below a key's high-water
    mark — including a change that would interleave into delete-closed
    history; (c) replaying the whole changelog against the populated
    target is idempotent and commits NOTHING (an all-stale batch
    cannot change any bucket)."""
    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        read_scd2_snapshot,
        scd2_upsert_sink,
    )

    schema = "user_id bigint, event_id bigint, value double, op string"
    target = str(tmp_path / "target")

    def versions():
        return _committed_manifest_versions(spark, target)

    def drain(rows, ckpt):
        src = str(tmp_path / f"src_{ckpt}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .format("parquet")
            .load(src)
        )
        scd2_upsert_sink(
            stream,
            target,
            str(tmp_path / f"ck_{ckpt}"),
            ["user_id"],
            "event_id",
            ["value"],
            **sink_kw,
        )

    def snapshot(tombstones=False):
        snap = read_scd2_snapshot(
            spark, target, include_tombstones=tombstones
        )
        cols = ["user_id", "value", "valid_from", "valid_to", "is_current"]
        if tombstones:
            cols.append("_tombstone")
        return sorted(
            (tuple(r[c] for c in cols) for r in snap.collect()),
            key=lambda t: (t[0], t[2], t[3] is None, t[3]),
        )

    # (a) key 1: two upserts then a delete; key 2: one open upsert
    batch1 = [
        (1, 1, 10.0, "U"),
        (1, 3, 11.0, "U"),
        (1, 5, None, "D"),
        (2, 2, 20.0, "U"),
    ]
    drain(batch1, "b1")
    assert snapshot() == [
        (1, 10.0, 1, 3, False),
        (1, 11.0, 3, 5, False),  # closed by the delete, never reopened
        (2, 20.0, 2, None, True),
    ]

    # (b) stale change (seq 4 <= key 1's mark 5, would interleave into
    # delete-closed history) rejected; fresh change opens a new interval
    drain([(1, 4, 99.0, "U"), (1, 7, 12.0, "U")], "b2")
    assert snapshot() == [
        (1, 10.0, 1, 3, False),
        (1, 11.0, 3, 5, False),
        (1, 12.0, 7, None, True),
        (2, 20.0, 2, None, True),
    ]
    before = snapshot()

    # (c) full-changelog replay: all stale, snapshot unchanged — the
    # crash-replay contract — and no version committed
    n_versions = len(versions())
    drain(batch1 + [(1, 7, 12.0, "U")], "replay")
    assert snapshot() == before
    assert len(versions()) == n_versions

    # (d) review-found hole, now closed: a delete that closes NO
    # interval (key 2's open interval closed by D@9, then D@11 is a
    # double delete) must still advance the watermark — via a
    # zero-width _tombstone row — so the late U@10 cannot interleave
    # into delete-closed history
    drain([(2, 9, None, "D"), (2, 11, None, "D")], "d1")
    drain([(2, 10, 99.0, "U")], "late")  # 10 <= tombstone mark 11
    assert snapshot() == [
        (1, 10.0, 1, 3, False),
        (1, 11.0, 3, 5, False),
        (1, 12.0, 7, None, True),
        (2, 20.0, 2, 9, False),  # closed by D@9; no 99.0 row appeared
    ]
    # the raw snapshot carries exactly one watermark tombstone for key 2
    tombs = [t for t in snapshot(tombstones=True) if t[-1]]
    assert [(t[0], t[2], t[3]) for t in tombs] == [(2, 11, 11)]

    # (e) a fresh change ABOVE the tombstone mark reopens cleanly and
    # supersedes the tombstone (watermark moves to the open row)
    drain([(2, 12, 21.0, "U")], "reopen")
    assert (2, 21.0, 12, None, True) in snapshot()
    assert not [t for t in snapshot(tombstones=True) if t[-1]]


def test_scd2_bucketed_rewrites_only_touched_buckets(spark, tmp_path):
    """VERDICT r11 #4's scale pin: with num_buckets set, a micro-batch
    whose keys all hash into ONE bucket must rewrite only that bucket —
    the other buckets' manifest entries keep pointing at the PREVIOUS
    version's dirs (no data rewritten, verified on the manifest AND on
    the new version dir's contents), while the committed read still
    sees every key."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        _read_manifest,
        read_scd2_snapshot,
        scd2_upsert_sink,
    )

    nb = 4
    # pick two keys in DIFFERENT buckets by probing the sink's own
    # assignment (xxhash64 pmod nb)
    probe = {
        r["k"]: r["b"]
        for r in spark.range(1, 20)
        .select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("int").alias("b"),
        )
        .collect()
    }
    k_a = 1
    k_b = next(k for k, b in probe.items() if b != probe[k_a])

    schema = "user_id bigint, event_id bigint, value double, op string"
    target = str(tmp_path / "target")

    def drain(rows, ckpt):
        src = str(tmp_path / f"src_{ckpt}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .format("parquet")
            .load(src)
        )
        scd2_upsert_sink(
            stream,
            target,
            str(tmp_path / f"ck_{ckpt}"),
            ["user_id"],
            "event_id",
            ["value"],
            num_buckets=nb,
        )

    drain([(k_a, 1, 10.0, "U"), (k_b, 1, 20.0, "U")], "b1")
    v1 = _committed_manifest_versions(spark, target)[-1]
    m1 = _read_manifest(spark, target, v1)
    assert m1["buckets"][str(probe[k_a])].startswith(v1)
    assert m1["buckets"][str(probe[k_b])].startswith(v1)

    # batch 2 touches ONLY k_a's bucket
    drain([(k_a, 5, 11.0, "U")], "b2")
    v2 = _committed_manifest_versions(spark, target)[-1]
    m2 = _read_manifest(spark, target, v2)
    # touched bucket re-pointed at v2; untouched bucket STILL points at
    # v1's dir — its data was never rewritten
    assert m2["buckets"][str(probe[k_a])].startswith(v2)
    assert m2["buckets"][str(probe[k_b])] == m1["buckets"][str(probe[k_b])]
    # the v2 version dir holds ONLY the touched bucket's subdir
    import os

    sub = [
        d
        for d in os.listdir(os.path.join(target, v2))
        if d.startswith("_bucket=")
    ]
    assert sub == [f"_bucket={probe[k_a]}"]

    # committed read is storage-complete: both keys, full history
    got = {
        (r["user_id"], r["value"], r["valid_from"], r["valid_to"])
        for r in read_scd2_snapshot(spark, target).collect()
    }
    assert got == {
        (k_a, 10.0, 1, 5),
        (k_a, 11.0, 5, None),
        (k_b, 20.0, 1, None),
    }


def test_scd2_history_matches_lead_window_sql(spark):
    """Batch ``scd2_history`` over the events changelog equals the
    lead-window SQL the streaming SCD2 sink is graded against."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.relational import scd2_history
    from datasheet_etl_spark.plans.streaming_entries import _SCD2_ORACLE, _scd2_changes

    from tests.conftest import SF_ORACLE
    from tests.oracle_harness import compare

    changes = _scd2_changes(spark, load_table(spark, SF_ORACLE, "events"))
    out = scd2_history(changes, ["user_id"], "event_id", ["value"]).select(
        "user_id", "value", "valid_from", "valid_to", "is_current"
    )
    ok, msg = compare(out, _SCD2_ORACLE, SF_ORACLE)
    assert ok, msg


def test_scd2_as_of_rewinds_to_each_moment(spark, tmp_path):
    """scd2_as_of over a sink-built history equals the latest-rows
    table rewound to each sequence: before a key's first change it is
    absent, between changes it shows the then-current payload, at and
    after a delete it is absent again."""
    from datasheet_etl_spark.streaming.streams import (
        read_scd2_snapshot,
        scd2_as_of,
        scd2_upsert_sink,
    )

    schema = "user_id bigint, event_id bigint, value double, op string"
    target = str(tmp_path / "t")
    rows = [
        (1, 1, 10.0, "U"),
        (1, 3, 11.0, "U"),
        (1, 5, None, "D"),
        (2, 2, 20.0, "U"),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet")
        .load(src)
    )
    scd2_upsert_sink(
        stream, target, str(tmp_path / "ck"), ["user_id"], "event_id",
        ["value"],
    )
    hist = read_scd2_snapshot(spark, target)

    def at(seq):
        return {
            (r["user_id"], r["value"])
            for r in scd2_as_of(hist, seq).collect()
        }

    assert at(0) == set()
    assert at(1) == {(1, 10.0)}
    assert at(2) == {(1, 10.0), (2, 20.0)}
    assert at(4) == {(1, 11.0), (2, 20.0)}
    assert at(5) == {(2, 20.0)}  # delete at 5 is effective AT 5
    assert at(99) == {(2, 20.0)}


def test_state_store_reader_time_travel_and_metadata(spark, tmp_path):
    """t123's machinery on a planted frame: (a) read_state_store
    exposes the aggregate's physical state (buffer field names, one
    row per key) and batchId pins a HISTORICAL snapshot — state after
    batch 0 shows only batch 0's keys/counts, the default shows the
    final state; (b) state_operator_metadata inventories stateful
    operators — a two-level windowed aggregate query (t118's shape)
    reports TWO operator ids, each with its own store and batch range
    (the discovery step before reading a multi-stateful checkpoint)."""
    import os as _os
    import shutil as _shutil

    from datasheet_etl_spark.streaming.monitor import (
        read_state_store,
        state_operator_metadata,
    )

    schema = "k bigint, g bigint"
    src = str(tmp_path / "src")
    _os.makedirs(src)
    tmp = str(tmp_path / "build")
    batches = [
        [(1, 0), (1, 0), (2, 1)],   # batch 0: k=1 x2, k=2 x1
        [(1, 0), (3, 1)],           # batch 1: k=1 +1, k=3 new
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in _os.listdir(tmp) if f.endswith(".parquet"))
        dst = _os.path.join(src, f"f{i}.parquet")
        _shutil.move(_os.path.join(tmp, part), dst)
        _os.utime(dst, (1_700_000_000 + 60 * i,) * 2)

    ck = str(tmp_path / "ck")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
    )
    q = (
        stream.groupBy("k", "g").count()
        .writeStream.format("memory").queryName("t123pin")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()

    # (a) physical state + batchId time travel
    final = {
        (r["key"]["k"], r["key"]["g"]): r["value"]["count"]
        for r in read_state_store(spark, ck).collect()
    }
    assert final == {(1, 0): 3, (2, 1): 1, (3, 1): 1}
    b0 = {
        (r["key"]["k"], r["key"]["g"]): r["value"]["count"]
        for r in read_state_store(spark, ck, batch_id=0).collect()
    }
    # after batch 0: only batch 0's keys, with batch-0 counts — k=1
    # still at 2, k=3 absent
    assert b0 == {(1, 0): 2, (2, 1): 1}
    md = {
        (r["operatorId"], r["operatorName"]): (r["minBatchId"], r["maxBatchId"])
        for r in state_operator_metadata(spark, ck).collect()
    }
    assert len(md) == 1 and list(md.values())[0] == (0, 1), md

    # (b) multi-stateful inventory: two chained WINDOWED aggregates
    # (unwindowed chaining trips Spark's global-watermark correctness
    # check — the windowed form is t118's graded shape)
    ts_schema = "ts timestamp, g bigint"
    src2 = str(tmp_path / "src2")
    spark.sql(
        "SELECT timestamp'2024-01-01 10:05:00' AS ts, 1L AS g"
        " UNION ALL SELECT timestamp'2024-01-01 11:05:00', 2L"
    ).coalesce(1).write.parquet(src2)
    stream2 = (
        spark.readStream.schema(ts_schema).format("parquet").load(src2)
        .withWatermark("ts", "1 hour")
    )
    lvl1 = stream2.groupBy(F.window("ts", "1 hour"), "g").count()
    lvl2 = lvl1.groupBy("window").count()
    ck2 = str(tmp_path / "ck2")
    q2 = (
        lvl2.writeStream.format("memory").queryName("t123pin2")
        .outputMode("append")
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    ops2 = {r["operatorId"] for r in state_operator_metadata(spark, ck2).collect()}
    assert len(ops2) == 2, ops2

    # (c) the change feed: what each batch DID to the first query's
    # state — k=1 progresses 1→2 across the two batches, k=2/k=3 write
    # once; every row carries its batch_id and change_type
    from datasheet_etl_spark.streaming.monitor import read_state_changes

    changes = sorted(
        (r["batch_id"], r["key"]["k"], r["key"]["g"],
         r["change_type"], r["value"]["count"])
        for r in read_state_changes(spark, ck).collect()
    )
    assert changes == [
        (0, 1, 0, "update", 2),
        (0, 2, 1, "update", 1),
        (1, 1, 0, "update", 3),
        (1, 3, 1, "update", 1),
    ], changes


def test_scd2_sink_accepts_map_payloads(spark, tmp_path):
    """Review-found (r12): the SCD2 sink's same-seq collapse duplicated
    apply_changes' tiebreak WITHOUT the map canonicalization, so map
    payload columns crashed at analysis. Now shared
    (relational.payload_tiebreak): a map-payload changelog drains and
    the history intervals carry the maps."""
    from datasheet_etl_spark.streaming.streams import (
        read_scd2_snapshot,
        scd2_upsert_sink,
    )

    schema = (
        "user_id bigint, event_id bigint, attrs map<string,string>, "
        "op string"
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [
            (1, 1, {"a": "1"}, "U"),
            (1, 1, {"a": "1"}, "U"),  # same-seq duplicate delivery
            (1, 3, {"a": "2", "b": "9"}, "U"),
        ],
        schema,
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .format("parquet").load(src)
    )
    target = str(tmp_path / "target")
    scd2_upsert_sink(
        stream, target, str(tmp_path / "ck"),
        ["user_id"], "event_id", ["attrs"],
    )
    got = sorted(
        (
            (r["user_id"], dict(r["attrs"]), r["valid_from"], r["valid_to"])
            for r in read_scd2_snapshot(spark, target).collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    assert got == [
        (1, {"a": "1"}, 1, 3),
        (1, {"a": "2", "b": "9"}, 3, None),
    ]


def test_cdc_version_diff_nested_map_canonicalized(spark, tmp_path):
    """Review-found (r12): maps nested inside structs fingerprinted in
    physical entry order — a reordered-but-equal nested map reported
    'changed'. The canonicalization now recurses."""
    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        cdc_upsert_sink,
        cdc_version_diff,
    )

    src = str(tmp_path / "src")
    spark.range(1).selectExpr(
        "1L as k", "1L as seq", "'I' as op",
        "named_struct('tags', map('x','1','y','2'), 'n', 5L) as payload",
    ).coalesce(1).write.parquet(src)
    # same logical payload, nested map entries in the opposite order
    spark.range(1).selectExpr(
        "1L as k", "2L as seq", "'U' as op",
        "named_struct('tags', map_concat(map('y','2'), map('x','1')),"
        " 'n', 5L) as payload",
    ).coalesce(1).write.parquet(src, mode="append")
    target = str(tmp_path / "target")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").format("parquet").load(src)
    )
    cdc_upsert_sink(stream, target, str(tmp_path / "ck"), keys=["k"],
                    seq_col="seq")
    v0 = _committed_manifest_versions(spark, target)[0]
    got = {
        r["_key"]: r["status"]
        for r in cdc_version_diff(
            spark, target, v0, None, ["k"], ignore_cols=["seq", "op"]
        ).collect()
    }
    assert got == {1: "unchanged"}


def test_state_store_reader_join_stores(spark, tmp_path):
    """A stream-stream join keeps FOUR named stores per side-pair
    (keyToNumValues / keyWithIndexToValue, left and right);
    state_operator_metadata must inventory the join operator and
    read_state_store(store_name=...) must open a named store and
    surface the buffered rows — the state a join debug session
    actually wants ('which rows is the join holding for this key')."""
    from datasheet_etl_spark.streaming.monitor import (
        read_state_store,
        state_operator_metadata,
    )

    schema = "k bigint, ts timestamp"
    src_l, src_r = str(tmp_path / "l"), str(tmp_path / "r")
    spark.sql(
        "SELECT 1L AS k, timestamp'2024-01-01 10:00:00' AS ts"
    ).coalesce(1).write.parquet(src_l)
    spark.sql(
        "SELECT 1L AS k, timestamp'2024-01-01 10:10:00' AS ts"
    ).coalesce(1).write.parquet(src_r)
    left = (
        spark.readStream.schema(schema).parquet(src_l)
        .withWatermark("ts", "1 hour").alias("l")
    )
    right = (
        spark.readStream.schema(schema).parquet(src_r)
        .withWatermark("ts", "1 hour").alias("r")
    )
    joined = left.join(
        right,
        F.expr(
            "l.k = r.k AND r.ts BETWEEN l.ts AND l.ts + INTERVAL 1 HOUR"
        ),
    )
    ck = str(tmp_path / "ck")
    q = (
        joined.writeStream.format("memory").queryName("joinstores")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()

    md = state_operator_metadata(spark, ck).collect()
    join_ops = [r for r in md if "join" in r["operatorName"].lower()]
    assert join_ops, md
    stores = {r["stateStoreName"] for r in md}
    assert {
        "left-keyToNumValues", "left-keyWithIndexToValue",
        "right-keyToNumValues", "right-keyWithIndexToValue",
    } <= stores, stores

    # read one named store: the left side buffered its single row
    st = read_state_store(
        spark, ck, operator_id=join_ops[0]["operatorId"],
        store_name="left-keyWithIndexToValue",
    )
    rows = st.collect()
    assert len(rows) == 1
    # join-store key schema is (field0=join key, index); the VALUE
    # carries the buffered row plus the matched flag
    assert rows[0]["key"]["field0"] == 1
    assert rows[0]["value"]["k"] == 1
    assert rows[0]["value"]["matched"] is True


def test_scd2_bucketed_gc_reachability(spark, tmp_path):
    """gc_cdc_target is LAYOUT-level, so it must work verbatim on a
    bucketed SCD2 target: superseded manifest versions are swept,
    but any old version's bucket DIRECTORY a kept manifest still
    references survives (reachability, not age — untouched buckets
    legitimately point into much older versions), and the committed
    read is unchanged after GC."""
    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        _read_manifest,
        gc_cdc_target,
        read_scd2_snapshot,
        scd2_upsert_sink,
    )

    nb = 4
    # two keys in different buckets (probe the sink's own assignment)
    from pyspark.sql import functions as F

    probe = {
        r["k"]: r["b"]
        for r in spark.range(1, 20).select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("int").alias("b"),
        ).collect()
    }
    k_a, k_b = 1, next(k for k, b in probe.items() if b != probe[1])
    schema = "user_id bigint, event_id bigint, value double, op string"
    target = str(tmp_path / "target")

    def drain(rows, ckpt):
        src = str(tmp_path / f"src_{ckpt}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .format("parquet").load(src)
        )
        scd2_upsert_sink(
            stream, target, str(tmp_path / f"ck_{ckpt}"),
            ["user_id"], "event_id", ["value"], num_buckets=nb,
        )

    # v1 writes BOTH buckets; v2..v4 touch only k_a's bucket — k_b's
    # data stays physically in v1's dir, referenced by every manifest
    drain([(k_a, 1, 10.0, "U"), (k_b, 1, 20.0, "U")], "b1")
    for i, seq in enumerate((3, 5, 7)):
        drain([(k_a, seq, 10.0 + seq, "U")], f"b{i+2}")
    committed = _committed_manifest_versions(spark, target)
    assert len(committed) == 4
    v1 = committed[0]
    before = sorted(
        (r["user_id"], r["value"], r["valid_from"], r["valid_to"])
        for r in read_scd2_snapshot(spark, target).collect()
    )

    deleted = gc_cdc_target(spark, target, keep_versions=2)
    assert deleted > 0
    kept = _committed_manifest_versions(spark, target)
    assert kept == committed[-2:]
    # reachability: the CURRENT manifest still points k_b's bucket at
    # v1's dir, so that dir must have survived the sweep
    m = _read_manifest(spark, target, kept[-1])
    assert m["buckets"][str(probe[k_b])].startswith(v1)
    import os

    assert os.path.exists(
        os.path.join(target, m["buckets"][str(probe[k_b])])
    )
    after = sorted(
        (r["user_id"], r["value"], r["valid_from"], r["valid_to"])
        for r in read_scd2_snapshot(spark, target).collect()
    )
    assert after == before


def test_canonicalize_maps_preserves_null_structs(spark):
    """Review-found (r12, second pass): the struct rebuild must keep a
    NULL struct NULL — F.struct() alone manufactures a non-null struct
    of NULL fields, collapsing two genuinely different payloads into
    one fingerprint/sort key. Map-free columns pass through untouched
    (no rebuild at all)."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.relational import canonicalize_maps

    df = spark.sql(
        "SELECT CAST(NULL AS struct<tags: map<string,string>, n: bigint>)"
        " AS a,"
        " named_struct('tags', CAST(NULL AS map<string,string>),"
        "              'n', CAST(NULL AS bigint)) AS b"
    )
    dt = df.schema["a"].dataType
    got = df.select(
        F.to_json(
            F.struct(canonicalize_maps(F.col("a"), dt).alias("a")),
            {"ignoreNullFields": "false"},
        ).alias("ja"),
        F.to_json(
            F.struct(canonicalize_maps(F.col("b"), dt).alias("a")),
            {"ignoreNullFields": "false"},
        ).alias("jb"),
    ).collect()[0]
    assert got["ja"] != got["jb"], got
    # map-free struct: passthrough, column object unchanged
    plain = spark.sql("SELECT named_struct('x', 1L) AS s")
    sdt = plain.schema["s"].dataType
    expr = canonicalize_maps(F.col("s"), sdt)
    assert str(expr) == str(F.col("s"))


def test_session_window_dynamic_gap_semantics(spark):
    """t127's probed-not-assumed semantics, pinned on planted frames:
    (a) an event landing EXACTLY at a session's end MERGES (the
    boundary rule is strictly-greater); (b) an early event's large gap
    out-extends later members — the session end is the running MAX of
    merged interval ends, not the last event's end."""
    from pyspark.sql import functions as F

    def sessions(rows):
        df = spark.createDataFrame(
            rows, "gap_min int, ts string, user_id bigint"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        gap = F.expr("make_interval(0,0,0,0,0, gap_min, 0)")
        return sorted(
            (str(r["w"]["start"]), str(r["w"]["end"]), r["n"])
            for r in df.groupBy(
                F.session_window("ts", gap).alias("w"), "user_id"
            ).agg(F.count("*").alias("n")).collect()
        )

    # (a) equality merges: 11:00 == 10:00 + 60min
    assert sessions(
        [(60, "2024-01-01 10:00:00", 1), (60, "2024-01-01 11:00:00", 1)]
    ) == [("2024-01-01 10:00:00", "2024-01-01 12:00:00", 2)]
    # one microsecond later: two sessions
    assert len(sessions(
        [(60, "2024-01-01 10:00:00", 1),
         (60, "2024-01-01 11:00:00.000001", 1)]
    )) == 2
    # (b) running-max end: e1's 120min gap absorbs e3 at 11:30 even
    # though e2's own interval ended at 11:00
    assert sessions(
        [(120, "2024-01-01 10:00:00", 1),
         (30, "2024-01-01 10:30:00", 1),
         (30, "2024-01-01 11:30:00", 1)]
    ) == [("2024-01-01 10:00:00", "2024-01-01 12:00:00", 3)]


def test_migrate_cdc_target_preserves_history_and_stale_guard(spark, tmp_path):
    """migrate_cdc_target re-buckets a CDC target built by the default
    one-bucket sink over three drains into 4 buckets: (a) the copy's
    snapshot equals the source's row-for-row; (b) EVERY source version
    id time-travels to identical rows in the copy (1:1 version parity,
    including tombstone watermarks); (c) unchanged buckets re-point at
    existing immutable dirs across copied versions (delta storage, not
    re-copies); (d) stale-guard continuity — a 4-bucket sink resumed on
    the copy drops a stale change and applies a fresh one; (e) the
    4-bucket copy re-buckets again to 8 with the same parity, and a
    non-empty destination is refused; (f) preserve_history=False
    truncates explicitly."""
    import pytest as _pytest

    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        _read_manifest,
        cdc_upsert_sink,
        migrate_cdc_target,
        read_cdc_snapshot,
    )

    schema = "k long, seq long, op string, v string"
    src = str(tmp_path / "changes_src")
    source = str(tmp_path / "source_target")
    ckpt = str(tmp_path / "source_ckpt")

    def drain(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            mode
        ).parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .format("parquet")
            .load(src)
        )
        cdc_upsert_sink(stream, source, ckpt, keys=["k"], seq_col="seq")

    # three drains -> three committed versions; keys 1..8 spread over
    # 4 buckets in the copy; k=5 ends deleted (tombstone watermark seq 9)
    drain([(k, 1, "I", f"a{k}") for k in range(1, 9)], "overwrite")
    drain([(1, 2, "U", "b1"), (2, 3, "U", "b2")], "append")
    drain([(5, 9, "D", None), (3, 4, "U", "b3")], "append")
    src_versions = _committed_manifest_versions(spark, source)
    assert len(src_versions) == 3

    def rows(df):
        return sorted(
            (r["k"], r["seq"], r["v"]) for r in df.collect()
        )

    def assert_parity(a, b, versions):
        for tomb in (False, True):
            assert rows(
                read_cdc_snapshot(spark, a, include_tombstones=tomb)
            ) == rows(read_cdc_snapshot(spark, b, include_tombstones=tomb))
        assert _committed_manifest_versions(spark, a) == versions
        for v in versions:
            assert rows(
                read_cdc_snapshot(spark, a, include_tombstones=True, version=v)
            ) == rows(
                read_cdc_snapshot(spark, b, include_tombstones=True, version=v)
            )

    dest = str(tmp_path / "bucketed_target")
    summary = migrate_cdc_target(
        spark, source, dest, num_buckets=4, keys=["k"]
    )
    assert summary["migrated_versions"] == src_versions
    assert summary["truncated_versions"] == []

    # (a) + (b) current snapshot and every version identical
    assert_parity(dest, source, src_versions)
    # (c) delta storage: v2 only touched the buckets of k=1 and k=2 —
    # every other bucket's manifest entry still points at a v1 dir
    m1 = _read_manifest(spark, dest, src_versions[0])["buckets"]
    m2 = _read_manifest(spark, dest, src_versions[1])["buckets"]
    changed = {
        b for b in m1 if m2.get(b) != m1[b]
    } | (set(m2) - set(m1))
    assert 0 < len(changed) < 4  # some but not all buckets rewritten
    assert any(m2[b] == m1[b] for b in m1)  # re-pointed, not copied

    # (d) stale-guard continuity on the copy: k=2's stored seq is 3 — a
    # seq-2 change must lose; k=5 is tombstoned at 9 — a seq-8 update
    # must not resurrect it; a fresh seq-10 insert lands
    src2 = str(tmp_path / "changes_src2")
    spark.createDataFrame(
        [(2, 2, "U", "STALE"), (5, 8, "U", "ZOMBIE"), (9, 10, "I", "new9")],
        schema,
    ).coalesce(1).write.parquet(src2)
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src2).schema)
        .format("parquet")
        .load(src2)
    )
    cdc_upsert_sink(
        stream2,
        dest,
        str(tmp_path / "bucketed_ckpt"),
        keys=["k"],
        seq_col="seq",
        num_buckets=4,
    )
    got = {r["k"]: (r["seq"], r["v"]) for r in read_cdc_snapshot(spark, dest).collect()}
    assert got[2] == (3, "b2")  # stale change lost
    assert 5 not in got  # tombstone watermark survived migration
    assert got[9] == (10, "new9")  # fresh change applied

    # (e) 4 -> 8 buckets: same parity over the copy's whole history
    dest8 = str(tmp_path / "target8")
    dest_versions = _committed_manifest_versions(spark, dest)
    summary8 = migrate_cdc_target(spark, dest, dest8, num_buckets=8, keys=["k"])
    assert summary8["migrated_versions"] == dest_versions
    assert _read_manifest(spark, dest8, dest_versions[-1])["num_buckets"] == 8
    assert_parity(dest8, dest, dest_versions)
    with _pytest.raises(ValueError, match="not empty"):
        migrate_cdc_target(spark, source, dest, num_buckets=4, keys=["k"])

    # (f) explicit truncation: only the latest version carries over
    dest2 = str(tmp_path / "truncated_target")
    summary2 = migrate_cdc_target(
        spark, source, dest2, num_buckets=4, keys=["k"],
        preserve_history=False,
    )
    assert summary2["migrated_versions"] == [src_versions[-1]]
    assert summary2["truncated_versions"] == src_versions[:-1]
    assert rows(read_cdc_snapshot(spark, dest2)) == rows(
        read_cdc_snapshot(spark, source)
    )
    with _pytest.raises(ValueError, match="not committed"):
        read_cdc_snapshot(spark, dest2, version=src_versions[0])


def test_migrate_scd2_target_history_and_as_of(spark, tmp_path):
    """migrate_cdc_target works VERBATIM on an SCD2 target built by the
    default one-bucket sink (both sinks share one layout; SCD2's
    multi-row-per-key history is exactly why the migration diffs
    per-BUCKET fingerprints, not per-key): the 4-bucket copy's history
    equals the source's, scd2_as_of rewinds identically, and a 4-bucket
    SCD2 sink extends the copied history incrementally with the stale
    guard intact."""
    from datasheet_etl_spark.streaming.streams import (
        migrate_cdc_target,
        read_scd2_snapshot,
        scd2_as_of,
        scd2_upsert_sink,
    )

    schema = "user_id bigint, event_id bigint, value double, op string"
    source = str(tmp_path / "scd2_source")

    def drain(rows, tag, target, num_buckets=1):
        src = str(tmp_path / f"src_{tag}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .format("parquet")
            .load(src)
        )
        scd2_upsert_sink(
            stream,
            target,
            str(tmp_path / f"ck_{tag}"),
            ["user_id"],
            "event_id",
            ["value"],
            num_buckets=num_buckets,
        )

    drain(
        [(1, 1, 10.0, "U"), (1, 3, 11.0, "U"), (2, 2, 20.0, "U"),
         (3, 1, 30.0, "U"), (4, 1, 40.0, "U")],
        "b1",
        source,
    )
    drain([(1, 5, None, "D"), (2, 6, 21.0, "U")], "b2", source)

    def hist(target, seq=None):
        snap = read_scd2_snapshot(spark, target)
        if seq is not None:
            snap = scd2_as_of(snap, seq)
        return sorted(
            (r["user_id"], r["value"], r["valid_from"], r["valid_to"],
             r["is_current"])
            for r in snap.collect()
        )

    dest = str(tmp_path / "scd2_bucketed")
    migrate_cdc_target(spark, source, dest, num_buckets=4, keys=["user_id"])
    assert hist(dest) == hist(source)
    for seq in (1, 2, 4, 6):
        assert hist(dest, seq) == hist(source, seq)

    # incremental extension on the migrated target: stale event_id 4
    # for user 1 (delete-closed at 5) must be rejected; fresh 7 lands
    drain(
        [(1, 4, 99.0, "U"), (3, 7, 31.0, "U")],
        "b3",
        dest,
        num_buckets=4,
    )
    h = hist(dest)
    assert (1, 99.0) not in {(u, v) for u, v, *_ in h}
    assert (3, 31.0, 7, None, True) in h
    assert (3, 30.0, 1, 7, False) in h


def test_join_state_eviction_boundary_keeps_equality(spark, tmp_path):
    """The t128 oracle's load-bearing probe, pinned: after a bounded
    drain's final no-data batch, a left row survives join-state
    eviction iff l.ts + <upper interval bound> >= watermark, with the
    EQUALITY case KEPT (a right row at exactly the bound could still
    match). Planted frame puts one row exactly ON the boundary, one
    just below, one above."""
    from datasheet_etl_spark.streaming.monitor import read_state_store

    schema = "k bigint, ts timestamp"
    src_l, src_r = str(tmp_path / "l"), str(tmp_path / "r")
    # right max 13:10, left max 12:40 -> wm = min(12:40, 13:10) - 1h
    # = 11:40; bound 1h -> keep left iff ts + 1h >= 11:40, i.e. ts >=
    # 10:40. 10:20 evicted, 10:40 boundary KEPT, 11:00 kept.
    spark.sql(
        "SELECT * FROM VALUES (1L, timestamp'2024-01-01 10:20:00'),"
        " (2L, timestamp'2024-01-01 10:40:00'),"
        " (3L, timestamp'2024-01-01 11:00:00'),"
        " (9L, timestamp'2024-01-01 12:40:00') AS t(k, ts)"
    ).coalesce(1).write.parquet(src_l)
    spark.sql(
        "SELECT * FROM VALUES (2L, timestamp'2024-01-01 11:10:00'),"
        " (9L, timestamp'2024-01-01 13:10:00') AS t(k, ts)"
    ).coalesce(1).write.parquet(src_r)
    left = (
        spark.readStream.schema(schema).parquet(src_l)
        .withWatermark("ts", "1 hour").alias("l")
    )
    right = (
        spark.readStream.schema(schema).parquet(src_r)
        .withWatermark("ts", "1 hour").alias("r")
    )
    joined = left.join(
        right,
        F.expr("l.k = r.k AND r.ts BETWEEN l.ts AND l.ts + INTERVAL 1 HOUR"),
    )
    ck = str(tmp_path / "ck")
    q = (
        joined.writeStream.format("memory").queryName("evbound")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    st = read_state_store(
        spark, ck, operator_id=0, store_name="left-keyWithIndexToValue"
    )
    got = sorted(
        (r["value"]["k"], r["value"]["matched"]) for r in st.collect()
    )
    # k=1 evicted (below boundary); k=2 ON the boundary, kept, matched;
    # k=3 kept, unmatched; k=9 kept (defines left max), matched
    assert got == [(2, True), (3, False), (9, True)]


def test_streaming_observed_totals_fold_across_batches(spark, tmp_path):
    """observe() on a STREAMING frame: named observations land in each
    micro-batch's progress event, and observed_totals folds the
    additive metrics into stream totals equal to batch ground truth —
    per-stage telemetry riding the drain, no second pass (t134's
    batch-side contract, completed on the streaming side)."""
    import os

    from pyspark.sql import Observation, functions as F

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.streaming.monitor import observed_totals
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "value"
    )
    src = str(tmp_path / "obs_src")
    for i in range(3):  # three files → three micro-batches
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            src, mode="append"
        )
    stream = (
        spark.readStream.schema("event_id long, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .observe(
            "obs_ingest",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = observed_totals(q, "obs_ingest")
    assert got["n_batches_observed"] == 3
    assert got["n_rows"] == ev.count()
    want = ev.agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
    ).first()[0]
    assert abs(got["total_value"] - want) < 1e-6
    assert got["complete"] is True
    assert observed_totals(q, "no_such_name") == {
        "complete": True,
        "n_batches_observed": 0,
    }
    # reserved-key guard: a user metric named like an output key raises
    import pytest as _pytest

    class _FakeQ:
        recentProgress = [
            {"batchId": 0, "observedMetrics": {"m": {"complete": 1}}}
        ]

    with _pytest.raises(ValueError, match="reserved"):
        observed_totals(_FakeQ(), "m")


def test_t145_cross_batch_merge_equals_direct_sketch(spark):
    """t145's machinery certificate: the two-micro-batch drained
    sketch states must decode to exactly the same (item, count) set a
    DIRECT single-pass batch sketch produces — the cross-batch
    state-store merge is what the entry adds over t139, so pin it
    against the one-shot form explicitly (the value oracle already
    pins both against exact counts)."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.plans import registry

    streamed = {
        (r["event_type"], r["item"]): r["cnt"]
        for r in registry()["t145_streaming_native_topk"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    from datasheet_etl_spark.io import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    direct = (
        e.select(
            "event_type",
            F.when(F.col("event_id") % 3 != 0, F.col("user_id") % 4)
            .otherwise(F.col("user_id"))
            .alias("item"),
        )
        .groupBy("event_type")
        .agg(F.expr("approx_top_k_accumulate(item, 8192)").alias("_st"))
        .select(
            "event_type",
            F.explode(F.expr("approx_top_k_estimate(_st, 4)")).alias("t"),
        )
        .select(
            "event_type",
            F.col("t.item").cast("long").alias("item"),
            F.col("t.count").cast("long").alias("cnt"),
        )
    )
    want = {(r["event_type"], r["item"]): r["cnt"] for r in direct.collect()}
    assert streamed == want


# ---------------------------------------------------------------------------
# non-monotone-ts property test for the session folds (r15 verdict watch
# item #5): the carried last_ts must be the LAST event's ts in event_id
# order — the batch sessionize computes every gap against lag(ts) ordered
# by event_id, so a segment-max carry would mis-split across micro-batch
# boundaries whenever ts is non-monotone in event_id. Pure-Python: drives
# the fold bodies directly with a fake GroupState, no Spark session.
# ---------------------------------------------------------------------------


class _FakeGroupState:
    def __init__(self):
        self._val = None
        self.hasTimedOut = False
        self.timeout_ts = None

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val = v

    def remove(self):
        self._val = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ts = ms


def _reference_sessions(events, gap_seconds):
    """The batch Q18 fold: lag(ts) in event_id order, new session when
    ts - prev_ts > gap. Returns {session_id: (n, first, last, value)}."""
    out = {}
    sid, prev_ts = 0, None
    for eid, ts, val in sorted(events):
        if prev_ts is None or ts - prev_ts > gap_seconds:
            sid += 1
            out[sid] = [0, eid, eid, 0.0]
        out[sid][0] += 1
        out[sid][2] = eid
        out[sid][3] += val
        prev_ts = ts
    return {k: (v[0], v[1], v[2], round(v[3], 6)) for k, v in out.items()}


def _fold_batches(fn, batches, gap_seconds, finalize_timeout=False):
    """Feed event batches through a stateful fold body; keep the LAST
    emission per session_id (update semantics)."""
    import pandas as pd

    state = _FakeGroupState()
    emitted = {}

    def _drain(frames):
        for f in frames:
            for r in f.itertuples(index=False):
                emitted[int(r.session_id)] = (
                    int(r.n_events),
                    int(r.first_event),
                    int(r.last_event),
                    round(float(r.session_value), 6),
                )

    for batch in batches:
        pdf = pd.DataFrame(
            {
                "event_id": [e[0] for e in batch],
                "ts": pd.to_datetime([e[1] for e in batch], unit="s"),
                "value": [e[2] for e in batch],
                "user_id": [7] * len(batch),
            }
        )
        _drain(fn((7,), [pdf], state, gap_seconds))
    if finalize_timeout and state.exists:
        state.hasTimedOut = True
        _drain(fn((7,), [], state, gap_seconds))
    return emitted


def test_session_fold_carries_last_row_ts_not_segment_max():
    """Deterministic adversarial case separating the two carry
    semantics: batch 1's session has max ts 1090 on its MIDDLE row but
    ends (in event_id order) at ts 1020; batch 2's first event at 1130
    is 110s past the last row (> gap=100 → new session, the batch
    lag-fold answer) but only 40s past the max (a segment-max carry
    would wrongly continue the session)."""
    from datasheet_etl_spark.streaming.streams import (
        _session_fn,
        _session_timeout_fn,
    )

    gap = 100.0
    events = [
        (1, 1000.0, 1.0),
        (2, 1090.0, 2.0),  # max ts, NOT the last row in event_id order
        (3, 1020.0, 3.0),  # last row: carry must be 1020, not 1090
        (4, 1130.0, 4.0),  # 1130-1020=110 > gap → new session
    ]
    want = _reference_sessions(events, gap)
    assert len(want) == 2  # the reference itself splits here
    batches = [events[:3], events[3:]]
    assert _fold_batches(_session_fn, batches, gap) == want
    assert (
        _fold_batches(_session_timeout_fn, batches, gap, finalize_timeout=True)
        == want
    )


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_session_fold_non_monotone_ts_matches_batch_fold(seed):
    """Randomized non-monotone ts: events whose ts jitters against
    event_id order, split across micro-batches at arbitrary points
    (respecting the ordered-feed contract: all ids in batch k < batch
    k+1). Both stateful folds must reproduce the batch lag-fold exactly
    — in particular the cross-batch gap decision, which is where a
    segment-max last_ts carry diverges from last-row ts."""
    import random

    from datasheet_etl_spark.streaming.streams import (
        _session_fn,
        _session_timeout_fn,
    )

    rng = random.Random(seed)
    gap = 100.0
    # ts mostly advances but jitters NON-monotonically vs event_id, and
    # occasionally jumps a gap; the jitter regularly makes the last row
    # of a batch NOT the max-ts row — the case the carry semantics is
    # about
    events = []
    ts = 1_000_000.0
    for eid in range(1, 41):
        ts += rng.choice([5.0, 10.0, 150.0]) if eid > 1 else 0.0
        jitter = rng.uniform(-40.0, 40.0)
        events.append((eid, ts + jitter, round(rng.uniform(0, 5), 2)))

    want = _reference_sessions(events, gap)

    # several batch splits, including one per event and one big batch
    splits = [
        [events],
        [events[:13], events[13:]],
        [events[i : i + 7] for i in range(0, len(events), 7)],
        [[e] for e in events],
    ]
    for batches in splits:
        got_update = _fold_batches(_session_fn, batches, gap)
        assert got_update == want, f"_session_fn diverged on split sizes {[len(b) for b in batches]}"
        got_once = _fold_batches(
            _session_timeout_fn, batches, gap, finalize_timeout=True
        )
        assert got_once == want, f"_session_timeout_fn diverged on split sizes {[len(b) for b in batches]}"
