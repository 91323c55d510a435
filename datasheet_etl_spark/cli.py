"""Command-line interface — the reference's primary UX
(``cli.py:182-239`` dispatch; ``:32-179`` command handlers) over the
Spark pipeline.

    python -m datasheet_etl_spark extract <doc> [--output DIR] [--tier T]
    python -m datasheet_etl_spark batch <input_dir> <output_dir> [--csv]
    python -m datasheet_etl_spark verify <json_path>
    python -m datasheet_etl_spark export <json_path> --format csv|review
    python -m datasheet_etl_spark stats [--tier T]

Spark-first notes:

- ``batch`` is ONE job over every document (mock vision/rule frames
  union into a single ``run_pipeline`` call), not the reference's
  per-file Python loop — per-doc JSONs are then split from the one
  result DataFrame. At cluster scale the same code handles a million
  documents; only the per-doc driver-side file writes (a CLI
  convenience mirroring the reference's one-file-per-PDF contract)
  would move to the partitioned ``write_result_json`` sink.
- result JSONs round-trip through an explicit schema (``run_pipeline``'s
  own output schema), never schema inference, so empty arrays and
  nested nulls read back exactly.
- accuracy tiers (Gold/Silver/Bronze — architecture_v04.md:17-23) map
  to the verification confidence threshold; the stats block reports the
  tier plus the vision cost estimate (pipeline.py:380-388).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections.abc import Sequence

# Gold is the reference default ("Default: Gold tier (99%+)")
ACCURACY_TIERS = {"gold": 0.99, "silver": 0.95, "bronze": 0.85}
COST_PER_TABLE_USD = 0.002  # demo per-table vision price


def _get_spark(spark=None):
    if spark is not None:
        return spark
    from datasheet_etl_spark.session import get_session

    return get_session(app_name="datasheet_etl_spark_cli")


def _result_schema(spark):
    """The canonical result schema (for schema-pinned JSON read-back)."""
    from datasheet_etl_spark.pipeline import run_pipeline

    result, _ = run_pipeline(spark)
    return result.schema


def _read_result(spark, json_path: str):
    """Result JSON (single pretty-printed file or Spark output dir) →
    DataFrame with the pinned result schema (never inference: empty
    arrays and nested nulls must read back exactly)."""
    return (
        spark.read.option("multiLine", True).json(
            json_path, schema=_result_schema(spark)
        )
    )


def _write_single_json(row_json: str, path: str) -> None:
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(json.loads(row_json), f, indent=2, ensure_ascii=False)


def _write_single_csv(frame, path: str) -> None:
    """Driver-side one-file CSV (reference CLI contract); the
    partitioned sink for cluster-scale output is
    ``exporters.export_import_script_csv``."""
    import csv

    rows = frame.collect()
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(frame.columns)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])


def _mock_frames(spark, doc_keys: Sequence[str]):
    """Union one mock vision/rule frame per document key — the
    environment's stand-in for PDF ingestion (no PDF libs; see
    operators.pdf_bridge for the import-guarded real path)."""
    from functools import reduce

    from datasheet_etl_spark.pipeline import mock_rule_tables, mock_vision_tables

    vision = reduce(
        lambda a, b: a.unionByName(b), [mock_vision_tables(spark, k) for k in doc_keys]
    )
    rule = reduce(
        lambda a, b: a.unionByName(b), [mock_rule_tables(spark, k) for k in doc_keys]
    )
    return vision, rule


def _run(spark, doc_keys: Sequence[str], tier: str):
    from datasheet_etl_spark.pipeline import run_pipeline

    vision, rule = _mock_frames(spark, doc_keys)
    # tier → confidence threshold for needs_review routing
    return run_pipeline(
        spark, vision, rule, confidence_threshold=ACCURACY_TIERS[tier]
    )


def cmd_extract(args, spark=None) -> int:
    spark = _get_spark(spark)
    stem = os.path.splitext(os.path.basename(args.doc))[0]
    out_dir = args.output or "output"
    out_path = os.path.join(out_dir, f"{stem}_v04.json")

    result, _ = _run(spark, [os.path.basename(args.doc)], args.tier)
    rows = result.toJSON().collect()
    _write_single_json(rows[0], out_path)

    first = json.loads(rows[0])
    print(f"Extracting: {args.doc}")
    print(f"Output: {out_path}")
    print("EXTRACTION COMPLETE")
    print(f"Status: {first['verification']['status']}")
    print(f"Confidence: {first['verification']['confidence']:.0%}")
    params = json.loads(first.get("parameters_json") or "{}")
    print(f"Parameters: {len(params)}")
    if args.verbose:
        for k, v in params.items():
            print(f"  {k}: {v}")
    return 0


def cmd_batch(args, spark=None) -> int:
    spark = _get_spark(spark)
    names = sorted(
        f for f in os.listdir(args.input_dir)
        if os.path.isfile(os.path.join(args.input_dir, f))
    )
    if not names:
        print(f"No input files in {args.input_dir}")
        return 1

    from datasheet_etl_spark.exporters import (
        batch_report_markdown,
        batch_stats,
        import_script_frame,
    )

    result, _ = _run(spark, names, args.tier)
    os.makedirs(args.output_dir, exist_ok=True)
    # per-doc JSONs from the ONE batch result (reference: one file per PDF);
    # task-level progress stands in for the reference's per-file callback
    from datasheet_etl_spark.progress import ProgressReporter, progress_printer

    with ProgressReporter(spark, progress_printer()):
        rows = result.toJSON().collect()
    for row in rows:
        doc = json.loads(row)
        stem = os.path.splitext(doc["metadata"]["source_file"])[0]
        _write_single_json(row, os.path.join(args.output_dir, f"{stem}_v04.json"))

    report_path = os.path.join(args.output_dir, "batch_report.md")
    with open(report_path, "w", encoding="utf-8") as f:
        f.write(batch_report_markdown(result))

    if args.csv:
        csv_path = os.path.join(args.output_dir, "extracted_components.csv")
        _write_single_csv(import_script_frame(result), csv_path)
        print(f"CSV Export: {csv_path}")

    stats = batch_stats(result).collect()[0]
    print("BATCH COMPLETE")
    print(f"Total: {stats['total']}")
    print(f"Success: {stats['success']}")
    print(f"Needs review: {stats['needs_review']}")
    print(f"Report: {report_path}")
    return 0


def cmd_verify(args, spark=None) -> int:
    with open(args.json_path, encoding="utf-8") as f:
        data = json.load(f)
    verification = data.get("verification", {})
    print(f"Verifying: {args.json_path}")
    print(f"Status: {verification.get('status', 'unknown')}")
    print(f"Confidence: {verification.get('confidence', 0):.0%}")
    print(f"Resolution: {verification.get('resolution_method', 'unknown')}")
    print(f"Conflicts: {verification.get('conflict_count', 0)}")
    for c in data.get("conflicts", []):
        print(
            f"  - {c['field']}: '{c['vision_value']}' vs '{c['rule_value']}'"
            f" -> {c['resolution']}"
        )
    return 0


def convert_review_file(spark, input_path: str, output_path: str | None = None) -> str:
    """The review-adapter file driver (ref: review_adapter.py:207-231):
    result JSON in → Review-UI JSON out."""
    from datasheet_etl_spark.exporters import to_review_format

    result = _read_result(spark, input_path)
    rows = [json.loads(r) for r in to_review_format(result).toJSON().collect()]
    if output_path is None:
        stem, _ = os.path.splitext(input_path)
        output_path = f"{stem}_review.json"
    payload = rows[0] if len(rows) == 1 else rows
    with open(output_path, "w", encoding="utf-8") as f:
        json.dump(payload, f, indent=2, ensure_ascii=False)
    return output_path


def cmd_export(args, spark=None) -> int:
    spark = _get_spark(spark)
    if args.format == "csv":
        from datasheet_etl_spark.exporters import import_script_frame

        result = _read_result(spark, args.json_path)
        out = args.output or args.json_path.replace(".json", ".csv")
        _write_single_csv(import_script_frame(result), out)
        print(f"Exported to: {out}")
    elif args.format == "review":
        out = convert_review_file(spark, args.json_path, args.output)
        print(f"Exported Review UI format to: {out}")
    else:
        print(f"Unknown format: {args.format}")
        return 1
    return 0


def cmd_stats(args, spark=None) -> int:
    spark = _get_spark(spark)
    from pyspark.sql import functions as F

    from datasheet_etl_spark.verify import review_queue, verifier_stats

    result, vr = _run(spark, [args.doc or "lmr51430.pdf"], args.tier)
    n_docs = result.count()
    n_tables = result.select(F.explode("tables")).count()
    queue = review_queue(vr.verdicts).count()
    vstats = verifier_stats(vr.verdicts, vr.conflicts).collect()[0]

    print("Pipeline Statistics")
    print(f"Processed: {n_docs}")
    print(f"Review Queue: {queue}")
    print(f"Accuracy tier: {args.tier} (confidence >= {ACCURACY_TIERS[args.tier]:.0%})")
    print("Vision Stats:")
    print(f"  Calls: {n_tables}")
    print(f"  Est. Cost: ${n_tables * COST_PER_TABLE_USD:.4f}")
    print("Verifier Stats:")
    for k in vstats.asDict():
        print(f"  {k}: {vstats[k]}")
    return 0


def cmd_curate(args, spark=None) -> int:
    """Training-corpus preparation over a documents parquet: length
    filter → fingerprint exact-dedup → deterministic hash downsample →
    fixed-budget sequence packing; writes doc→bin assignments as parquet
    and prints per-stage counts (each stage's count is an action on the
    same lazily-composed plan — Spark reuses nothing across them unless
    asked, so the counts are for audit, not the hot path)."""
    span = getattr(args, "substring_span", 0)
    err = _span_flag_error("--substring-span", span)
    if err:
        print(err, file=sys.stderr)
        return 2
    if getattr(args, "budget", 1) <= 0:
        print(
            f"error: --budget must be > 0, got {args.budget}",
            file=sys.stderr,
        )
        return 2
    spark = _get_spark(spark)
    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.dedup import exact_dedup
    from datasheet_etl_spark.operators.sampling import pack_sequences, weighted_sample
    from datasheet_etl_spark.operators.text import fingerprint

    docs = spark.read.parquet(args.input)
    filtered = docs.filter(F.length("text") >= args.min_chars)
    n_after_min_chars = None
    n_substring_dropped = 0
    if getattr(args, "substring_span", 0):
        from datasheet_etl_spark.operators.dedup import substring_dedup_corpus

        decided = substring_dedup_corpus(
            filtered, min_span_tokens=args.substring_span
        )
        keep = decided.filter(F.col("kept")).select("doc_id")
        n_after_min_chars = filtered.count()
        filtered = filtered.join(keep, "doc_id", "semi")
        n_substring_dropped = n_after_min_chars - filtered.count()
    with_fp = filtered.select(
        "doc_id", F.length("text").alias("n_chars"), fingerprint(F.col("text")).alias("fp")
    )
    deduped = exact_dedup(with_fp, ["fp"], "doc_id", keep="min").select(
        "doc_id", "n_chars"
    )
    sampled = weighted_sample(
        deduped, "doc_id", "doc_id", {}, default_rate=args.sample_rate
    )
    packed = pack_sequences(sampled, "doc_id", "n_chars", budget=args.budget)
    packed.write.mode("overwrite").parquet(args.output)

    out = spark.read.parquet(args.output)
    n_bins = out.select("shard", "bin_id").distinct().count()
    print("Corpus curation")
    print(f"  Input docs:     {docs.count()}")
    n_filter = (
        n_after_min_chars if n_after_min_chars is not None else filtered.count()
    )
    print(f"  After filter:   {n_filter} (min_chars={args.min_chars})")
    if getattr(args, "substring_span", 0):
        print(
            f"  Substring dedup dropped: {n_substring_dropped} "
            f"(span >= {args.substring_span} tokens)"
        )
    print(f"  After dedup:    {deduped.count()}")
    print(f"  After sample:   {out.count()} (rate={args.sample_rate})")
    print(f"  Packed bins:    {n_bins} (budget={args.budget} chars)")
    print(f"  Output:         {args.output}")
    return 0


def cmd_diff(args, spark=None) -> int:
    """Corpus snapshot diff: fingerprint two documents parquets map-side
    (md5 of the text column) and classify every key added / removed /
    changed / unchanged across them; prints the status counts and
    optionally writes the row-level diff as parquet. The audit run
    between successive corpus builds."""
    spark = _get_spark(spark)
    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.relational import snapshot_diff

    def fp(path):
        return spark.read.parquet(path).select(
            F.col(args.key), F.md5(F.col(args.text).cast("string")).alias("fp")
        )

    diff = snapshot_diff(fp(args.old), fp(args.new), key_col=args.key)
    if args.output:
        diff.write.mode("overwrite").parquet(args.output)
        diff = spark.read.parquet(args.output)
    counts = {r["status"]: r["n"] for r in diff.groupBy("status").agg(
        F.count("*").alias("n")
    ).collect()}
    print("Snapshot diff")
    for s in ("added", "removed", "changed", "unchanged"):
        print(f"  {s:10s} {counts.get(s, 0)}")
    if args.output:
        print(f"  Output:    {args.output}")
    return 0


def _span_flag_error(flag: str, span: int) -> str | None:
    """CLI-worded guard for ``dedup._span_floor``'s k=8 floor, shared
    by every command that takes a span flag (the message lives here
    ONCE; the invariant lives in dedup)."""
    if span and span < 8:
        return (
            f"error: {flag} must be 0 (off) or >= 8, got {span} — "
            "substring detection uses word 8-grams and cannot see "
            "shorter spans"
        )
    return None


def _path_signature(spark, path: str) -> tuple[str, str]:
    """Identity of a dataset at rest, as ``(sig, legacy_sig)`` — both
    sorted ``component:size:mtime`` over every file under ``path``,
    listed on the path's OWN FileSystem (the r10 wrong-FS lesson); the
    audit CLI's same-input-retry detector. The current component is
    the path RELATIVE to the input root — basenames collide across
    subdirectories (part-00000 everywhere), so distinct inputs could
    falsely refuse and a renamed file could defeat the double-count
    guard. ``legacy_sig`` keeps the pre-r12 basename format so a state
    dir whose stored signature predates the change still refuses its
    own input (one listing computes both)."""
    from datasheet_etl_spark.streaming.streams import _hadoop_fs

    fs, hpath, _ = _hadoop_fs(spark, path)
    root = fs.makeQualified(hpath).toString().rstrip("/")
    it = fs.listFiles(hpath, True)
    parts, legacy = [], []
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        rel = (
            full[len(root) + 1 :]
            if full.startswith(root + "/")
            else st.getPath().getName()
        )
        tail = f"{st.getLen()}:{st.getModificationTime()}"
        parts.append(f"{rel}:{tail}")
        legacy.append(f"{st.getPath().getName()}:{tail}")
    return ";".join(sorted(parts)), ";".join(sorted(legacy))


def cmd_audit(args, spark=None) -> int:
    """Corpus hygiene audit over a documents parquet — the pre-training
    report a corpus owner reads before committing a build: most-
    duplicated verbatim n-grams (memorization/template risk, t107),
    zlib compressibility distribution (template soup vs entropy
    garbage, t102), and optionally the substring-excision impact
    (t101). Each section runs one of the registry's graded operators;
    ``--output`` persists the full artifacts as parquet (written FIRST
    and read back, so nothing expensive computes twice)."""
    span = getattr(args, "excision_span", 0)
    err = _span_flag_error("--excision-span", span)
    if err:
        print(err, file=sys.stderr)
        return 2
    if args.ngram_n < 1 or args.top_ngrams < 1:
        print(
            "error: --ngram-n and --top-ngrams must be >= 1",
            file=sys.stderr,
        )
        return 2
    spark = _get_spark(spark)
    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.text import (
        compression_signal,
        frequent_ngrams,
    )

    docs = spark.read.parquet(args.input)
    print("Corpus audit")
    print(f"  Docs:        {docs.count()}")
    if getattr(args, "ngram_partials", None):
        # Incremental nightly path (text.merge_partial_counts): tonight's input is
        # tokenized ONCE into an unpruned partial, summed with the
        # stored partial from prior runs, and the merged UNPRUNED
        # partial is persisted for run N+1 — history is never
        # re-tokenized. The swap is write-next → delete-stored →
        # rename; `partial` is the ONLY committed state, and a
        # `_AUDIT_META` file (n + last-merged-input signature) rides
        # INSIDE the parquet dir so it commits atomically with the
        # counts it describes — that is what makes a mismatched
        # --ngram-n or a same-night retry refusable instead of a
        # silent double-count (merge_partial_counts' doc-disjointness
        # precondition, enforced here the way quarantine_ingest
        # enforces its checkpoint lifetime).
        import json as _json

        from datasheet_etl_spark.operators.text import (
            frequent_ngram_partials,
            merge_ngram_partials,
            merge_partial_counts,
        )
        from datasheet_etl_spark.streaming.streams import (
            _hadoop_fs,
            _read_text,
            _write_text_atomic,
        )

        stored = f"{args.ngram_partials}/partial"
        nxt = f"{args.ngram_partials}/partial.next"
        fs, stored_hpath, jvm = _hadoop_fs(spark, stored)
        P = jvm.org.apache.hadoop.fs.Path
        recovered = False
        if fs.exists(P(nxt)):
            if not fs.exists(stored_hpath) and fs.exists(
                P(f"{nxt}/_SUCCESS")
            ):
                # crash landed between delete-stored and rename:
                # partial.next was FULLY written before the delete
                # began, so it IS the committed merge — finish the swap
                if not fs.rename(P(nxt), stored_hpath):
                    print(
                        "error: could not recover interrupted partial "
                        f"swap ({nxt} -> {stored})",
                        file=sys.stderr,
                    )
                    return 2
                print("  (recovered interrupted partial swap)")
                recovered = True
            else:
                # leftover from a crash BEFORE the swap: stored is
                # still the committed state and that night's input
                # never merged — discard the orphan, operator re-runs
                # the failed night
                fs.delete(P(nxt), True)
                print(
                    "  (discarded uncommitted partial.next from a "
                    "failed run — re-run that night's input)"
                )
        sig, legacy_sig = _path_signature(spark, args.input)
        meta_txt = _read_text(spark, f"{stored}/_AUDIT_META")
        already_merged = False
        if meta_txt is not None:
            meta = _json.loads(meta_txt)
            if meta["n"] != args.ngram_n:
                print(
                    f"error: stored partial holds {meta['n']}-grams; "
                    f"--ngram-n {args.ngram_n} would merge mixed gram "
                    "lengths — use a separate state dir",
                    file=sys.stderr,
                )
                return 2
            # legacy_sig: a partial committed before the r12 relpath
            # format still refuses its own input (silent double-count
            # otherwise — review-found r12)
            if meta.get("last_input_sig") in (sig, legacy_sig):
                if recovered:
                    # the crashed run DID merge tonight's input —
                    # the recovered swap carries its signature, so the
                    # promised recovery re-run must report, not refuse
                    # (refusing here made 're-running will recover it'
                    # a lie: the re-run always exited 2)
                    print(
                        "  (input already merged by the recovered "
                        "swap — skipping merge)"
                    )
                    already_merged = True
                else:
                    print(
                        "error: this exact input is already merged "
                        "into the stored partial (same file "
                        "signature) — re-merging would double-count; "
                        "pass tonight's new input",
                        file=sys.stderr,
                    )
                    return 2
        if not already_merged:
            fresh = frequent_ngram_partials(docs, n=args.ngram_n)
            if fs.exists(stored_hpath):
                merged = merge_partial_counts(
                    [spark.read.parquet(stored), fresh]
                )
            else:
                merged = fresh
            merged.write.mode("overwrite").parquet(nxt)
            _write_text_atomic(
                spark,
                f"{nxt}/_AUDIT_META",
                _json.dumps({"n": args.ngram_n, "last_input_sig": sig}),
            )
            if fs.exists(stored_hpath):
                fs.delete(stored_hpath, True)
            if not fs.rename(P(nxt), stored_hpath):
                print(
                    f"error: partial swap rename failed ({nxt} -> "
                    f"{stored}) — state preserved in partial.next; "
                    "re-running will recover it",
                    file=sys.stderr,
                )
                return 2
        # top-k from the materialized partial (single-element merge is
        # the public floor/top-k/rank tail over already-summed counts)
        ng = merge_ngram_partials(
            [spark.read.parquet(stored)], top_k=args.top_ngrams
        )
    else:
        ng = frequent_ngrams(docs, n=args.ngram_n, top_k=args.top_ngrams)
    if args.output:
        # write-then-read-back (the cmd_diff discipline): the printed
        # summary reuses the materialized parquet instead of running
        # the two-level gram aggregate a second time
        ng.write.mode("overwrite").parquet(f"{args.output}/ngrams")
        ng = spark.read.parquet(f"{args.output}/ngrams")
    top = sorted(ng.collect(), key=lambda r: r["rank"])
    print(f"  Top duplicated {args.ngram_n}-grams (min_count=2):")
    for r in top:
        print(
            f"    #{r['rank']:<3d} x{r['n_occurrences']:<6d} "
            f"in {r['n_docs']:<5d} docs  {r['gram'][:60]}"
        )
    if not top:
        print("    (none above min_count)")
    comp = compression_signal(docs)
    if args.output:
        comp.write.mode("overwrite").parquet(f"{args.output}/compression")
        comp = spark.read.parquet(f"{args.output}/compression")
    stats = comp.agg(
        F.round(F.avg("ratio"), 4).alias("avg_ratio"),
        F.sum(F.col("too_repetitive").cast("long")).alias("flagged"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    print(
        f"  Compression: avg ratio={stats['avg_ratio']} "
        f"flagged-repetitive={stats['flagged']}/{stats['n']}"
    )
    if span:
        # the SAME rollup the hash-graded t101 entry runs — one
        # definition, so the CLI report can never drift from it
        from datasheet_etl_spark.operators.dedup import excision_impact

        imp = excision_impact(docs, min_span_tokens=span)
        if args.output:
            # same write-then-read-back discipline as ngrams/compression
            # — this is the most expensive section (full tokenize + gram
            # self-join), so the artifact MUST persist, not just print
            imp.write.mode("overwrite").parquet(f"{args.output}/excision")
            imp = spark.read.parquet(f"{args.output}/excision")
        rows = imp.orderBy("source").collect()
        print(f"  Excision impact (span >= {span} tokens):")
        for r in rows:
            pct = 100.0 * (r["pct_removed"] or 0.0)
            print(
                f"    {r['source']:<12s} docs={r['n_docs']:<6d} "
                f"touched={r['n_docs_excised']:<6d} "
                f"tokens_removed={r['tokens_removed']} ({pct:.2f}%)"
            )
    if args.output:
        print(f"  Output:      {args.output}")
    return 0


def cmd_stream_status(args, spark=None) -> int:
    """Inspect a streaming checkpoint at rest: recorded vs committed
    batches and the in-flight window — the numbers an operator checks
    before GC'ing a checkpoint (``gc_cdc``) or diagnosing a stuck
    drain. Reads only directory listings; safe against a live query."""
    spark = _get_spark(spark)
    from datasheet_etl_spark.streaming.monitor import checkpoint_progress

    cp = checkpoint_progress(spark, args.checkpoint)
    print(f"Checkpoint {args.checkpoint}")
    print(f"  Batches recorded:  {cp['n_offsets']} (latest {cp['latest_offset']})")
    print(f"  Batches committed: {cp['n_commits']} (latest {cp['latest_commit']})")
    if cp["in_flight"]:
        print(
            f"  IN-FLIGHT: batch {cp['latest_offset']} has no commit — "
            "a live mid-batch query, or the crash window a restart "
            "will replay"
        )
    else:
        print("  In-flight:         none (restart replays nothing)")
    return 0


def cmd_state(args, spark=None) -> int:
    """Inspect streaming STATE at rest (t128 machinery): with no
    ``--operator``, print the checkpoint's stateful-operator inventory
    (state-metadata source); with ``--operator``, read that operator's
    state store — row count plus a bounded key/value sample, and the
    full state as parquet under ``--output``. ``--batch`` pins a
    historical snapshot (state time travel, within the retained batch
    range the inventory prints). Reads checkpoint files only — safe
    against a live query, and never replays the stream."""
    spark = _get_spark(spark)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import (
        AnalysisException,
        IllegalArgumentException,
        PySparkException,
    )
    from pyspark.sql import functions as F

    from datasheet_etl_spark.streaming.monitor import (
        read_state_store,
        state_operator_metadata,
    )

    from datasheet_etl_spark.streaming.streams import _hadoop_fs

    fs, hpath, _ = _hadoop_fs(spark, args.checkpoint)
    if not fs.exists(hpath):
        # the metadata source returns an EMPTY inventory for a missing
        # path — indistinguishable from a stateless checkpoint, so
        # refuse explicitly
        print(f"error: no such checkpoint: {args.checkpoint}", file=sys.stderr)
        return 2
    try:
        if args.operator is None:
            md = state_operator_metadata(spark, args.checkpoint).collect()
            print(f"Stateful operators in {args.checkpoint}")
            for r in sorted(md, key=lambda r: r["operatorId"]):
                print(
                    f"  [{r['operatorId']}] {r['operatorName']:24s} "
                    f"store={r['stateStoreName']} "
                    f"partitions={r['numPartitions']} "
                    f"batches={r['minBatchId']}..{r['maxBatchId']}"
                )
            if not md:
                print("  (none — not a stateful query's checkpoint)")
            return 0
        st = read_state_store(
            spark,
            args.checkpoint,
            operator_id=args.operator,
            store_name=args.store,
            batch_id=args.batch,
        )
        if args.output:
            # write-then-read-back (the cmd_diff discipline): the
            # printed summary reuses the persisted parquet
            st.write.mode("overwrite").parquet(args.output)
            st = spark.read.parquet(args.output)
        n = st.count()
        when = "latest batch" if args.batch is None else f"batch {args.batch}"
        print(
            f"Operator {args.operator} state at {when}: {n} entries"
        )
        for r in st.orderBy(F.col("partition_id")).limit(args.sample).collect():
            print(f"  key={tuple(r['key'])} value={tuple(r['value'])}")
        if n > args.sample:
            print(f"  ... ({n - args.sample} more; --output for all)")
        if args.output:
            print(f"  Output: {args.output}")
        return 0
    except (
        ValueError,
        AnalysisException,
        IllegalArgumentException,
        PySparkException,
        Py4JJavaError,
    ) as exc:
        # several state-source failures (bad operator id, batch id
        # outside the retained range, non-checkpoint dirs) surface only
        # at scan time as Py4J/Spark exceptions — exit-2 contract, not
        # a JVM stack trace (review-found r12)
        msg = str(exc).splitlines()[0] if str(exc) else type(exc).__name__
        print(f"error: {msg}", file=sys.stderr)
        return 2


def cmd_cdc_diff(args, spark=None) -> int:
    """What changed between two committed versions of a CDC target
    (time-travel audit): per-status key counts, optionally the
    row-level diff as parquet. One full-outer join on map-side
    fingerprints — payloads never shuffle."""
    spark = _get_spark(spark)
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from datasheet_etl_spark.streaming.streams import cdc_version_diff

    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    if not keys:
        print("error: --keys must name at least one column", file=sys.stderr)
        return 2
    ignore = [c.strip() for c in (args.ignore_cols or "").split(",") if c.strip()]
    try:
        # a bad key/column name raises AnalysisException from the
        # eager select inside cdc_version_diff — same exit-2 contract
        # as unknown versions
        diff = cdc_version_diff(
            spark, args.target, args.from_version, args.to_version,
            keys, ignore_cols=ignore,
        )
    except (ValueError, AnalysisException) as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    if args.output:
        diff.write.mode("overwrite").parquet(args.output)
        diff = spark.read.parquet(args.output)
    counts = {
        r["status"]: r["n"]
        for r in diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    print(
        f"CDC diff {args.target} {args.from_version} -> "
        f"{args.to_version or '<live>'}"
    )
    for s in ("added", "removed", "changed", "unchanged"):
        print(f"  {s:10s} {counts.get(s, 0)}")
    if args.output:
        print(f"  Row-level diff: {args.output}")
    return 0


def cmd_cdc_migrate(args, spark=None) -> int:
    """Re-bucket a CDC/SCD2 target: copy it into a fresh target with
    another bucket count (a target's own count is fixed, and the sink
    refuses any other). Source is read-only; history is preserved
    under original version ids unless --truncate-history."""
    spark = _get_spark(spark)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from datasheet_etl_spark.streaming.streams import migrate_cdc_target

    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    if not keys:
        print("error: --keys must name at least one column", file=sys.stderr)
        return 2
    if args.num_buckets < 1:
        print("error: --num-buckets must be >= 1", file=sys.stderr)
        return 2
    try:
        summary = migrate_cdc_target(
            spark,
            args.source,
            args.dest,
            num_buckets=args.num_buckets,
            keys=keys,
            preserve_history=not args.truncate_history,
        )
    except (ValueError, AnalysisException, Py4JJavaError) as exc:
        msg = str(exc).splitlines()[0] if str(exc) else type(exc).__name__
        print(f"error: {msg}", file=sys.stderr)
        return 2
    print(
        f"Migrated {args.source} -> {summary['dest']} "
        f"(num_buckets={summary['num_buckets']})"
    )
    print(f"  versions migrated: {len(summary['migrated_versions'])}")
    if summary["truncated_versions"]:
        print(
            "  versions TRUNCATED (still readable in the source): "
            f"{len(summary['truncated_versions'])}"
        )
    print(
        "  source left untouched — verify the new target, then retire "
        "the old one"
    )
    return 0


def cmd_trend(args, spark=None) -> int:
    """Per-entity series monitoring report over an events-like parquet
    — the monitoring square (t151/t155/t157/t158) as one command: for
    each entity, the OLS and Theil-Sen slopes (disagreement flags a
    spike-driven trend), the Hampel outlier count, and the CUSUM
    most-likely changepoint; printed for the --top entities by CUSUM
    magnitude, optionally persisted in full with --output."""
    if args.top < 1:
        print("error: --top must be >= 1", file=sys.stderr)
        return 2
    spark = _get_spark(spark)
    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.profile import (
        cusum_changepoint,
        grouped_trend,
        hampel_filter,
        theil_sen_trend,
    )

    df = spark.read.parquet(args.input)
    for c in (args.group, args.time, args.value):
        if c not in df.columns:
            print(f"error: column {c!r} not in {df.columns}", file=sys.stderr)
            return 2
    base = df.select(
        F.col(args.group).alias("g"),
        F.col(args.time).cast("long").alias("x"),
        F.col(args.value).cast("double").alias("y"),
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    # rebase x to integer offsets from the corpus min: epoch-second
    # magnitudes overflow exact-decimal operands, and fractional-unit
    # x rounds engine-dependently (the t155 lessons); slopes are
    # shift-invariant so the report is unchanged
    x0 = base.agg(F.min("x")).collect()[0][0]
    base = base.withColumn("x", F.col("x") - F.lit(int(x0)))
    # monotonically_increasing_id is NOT a stable tiebreak across runs;
    # require (x) ties to be rare and break them by value for
    # determinism of the report
    order = [F.col("x").asc(), F.col("y").asc()]
    ols = grouped_trend(
        base, ["g"], "x", "y",
        slope_scale=args.slope_scale,
        x_dec="decimal(14,0)",
    )
    ts_ = theil_sen_trend(
        base, ["g"], "x", "y", slope_scale=args.slope_scale
    ).select("g", F.col("slope").alias("ts_slope"))
    ham = (
        hampel_filter(base, ["g"], order, value_col="y")
        .where(F.col("is_outlier"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n_outliers"))
    )
    cp = cusum_changepoint(base, ["g"], order, "y").select(
        "g", "cp_k", "cp_magnitude", F.col("x").alias("cp_x")
    )
    rep = (
        ols.join(ts_, "g", "left")
        .join(ham, "g", "left")
        .join(cp, "g", "left")
        .withColumn("n_outliers", F.coalesce("n_outliers", F.lit(0)))
        .orderBy(F.col("cp_magnitude").desc_nulls_last(), F.col("g").asc())
    )
    if args.output:
        rep.write.mode("overwrite").parquet(args.output)
        rep = spark.read.parquet(args.output).orderBy(
            F.col("cp_magnitude").desc_nulls_last(), F.col("g").asc()
        )
    rows = rep.limit(args.top).collect()
    print(f"Trend report ({args.group} x {args.value}, top {args.top} by CUSUM)")
    for r in rows:
        slope = "None" if r["slope"] is None else f"{r['slope']:.6f}"
        tslope = "None" if r["ts_slope"] is None else f"{r['ts_slope']:.6f}"
        flag = ""
        if r["slope"] is not None and r["ts_slope"] is not None:
            if abs(r["slope"] - r["ts_slope"]) > args.disagree:
                flag = "  [SPIKE-DRIVEN?]"
        print(
            f"  {r['g']}: n={r['n']} ols={slope} theil_sen={tslope} "
            f"outliers={r['n_outliers']} changepoint@k={r['cp_k']} "
            f"(x={r['cp_x']}, mag={r['cp_magnitude']}){flag}"
        )
    return 0


def cmd_index(args, spark=None) -> int:
    """ANN index lifecycle over an embeddings parquet: ``build`` trains
    the spherical-kmeans quantizer and writes the cell-partitioned
    corpus (optionally int8-quantized), ``append`` adds vectors with the
    frozen quantizer, ``search`` runs partition-pruned top-k for a probe
    id set and prints the hits."""
    spark = _get_spark(spark)
    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_search_indexed,
        write_ivf_index,
    )

    if args.action == "build":
        emb = spark.read.parquet(args.vectors).select("vec_id", "embedding")
        write_ivf_index(
            emb,
            args.index,
            k_clusters=args.clusters,
            iters=args.iters,
            quantize_bits=8 if args.int8 else None,
        )
        n = spark.read.parquet(f"{args.index}/corpus").count()
        print(f"Index built: {args.index}")
        print(f"  vectors={n} clusters={args.clusters} int8={args.int8}")
    elif args.action == "append":
        emb = spark.read.parquet(args.vectors).select("vec_id", "embedding")
        append_to_ivf_index(spark, args.index, emb)
        n = spark.read.parquet(f"{args.index}/corpus").count()
        print(f"Appended {emb.count()} vectors; corpus now {n}")
    else:  # search
        emb = spark.read.parquet(args.vectors).select("vec_id", "embedding")
        probe_ids = [int(x) for x in args.probes.split(",")]
        probes = emb.filter(F.col("vec_id").isin(probe_ids))
        hits = ivf_search_indexed(
            spark, args.index, probes, k=args.k, nprobe=args.nprobe
        ).collect()
        for r in hits:
            print(
                f"probe={r['probe_id']} rank={r['rank']} "
                f"vec={r['vec_id']} cos={r['cos_sim']:.6f}"
            )
    return 0


def cmd_explain(args, spark=None) -> int:
    """Print the physical plan of any registry entry — the explain-first
    audit loop as a command: check PushedFilters / ReadSchema /
    broadcast choices / exchange counts for a query without writing a
    script. ``--all`` sweeps every entry and prints one summary line
    each (scans, exchanges, broadcast joins, whether a sort appears) —
    the quick regression scan for plan-shape drift."""
    spark = _get_spark(spark)
    from datasheet_etl_spark.plans import registry

    reg = registry()
    if args.entry != "all" and args.entry not in reg:
        print(f"unknown entry {args.entry!r}; choices: {', '.join(sorted(reg))}")
        return 1

    def plan_of(name):
        return reg[name](spark, args.sf_dir)._jdf.queryExecution()

    if args.entry == "all":
        for name in reg:
            try:
                plan = plan_of(name).executedPlan().toString()
            except Exception as exc:  # noqa: BLE001
                print(f"{name:34s} ERROR {type(exc).__name__}")
                continue
            print(
                f"{name:34s} scans={plan.count('FileScan'):2d} "
                f"exchanges={plan.count('Exchange hashpartitioning'):2d} "
                f"bcast={plan.count('BroadcastHashJoin'):2d} "
                f"smj={plan.count('SortMergeJoin'):2d}"
            )
        return 0
    if args.mode == "formatted":
        # DataFrame.explain routes through PySpark's ExplainMode plumbing
        # (the raw Java QueryExecution has no String overload)
        reg[args.entry](spark, args.sf_dir).explain("formatted")
    else:
        print(plan_of(args.entry).executedPlan().toString())
    return 0


def main(argv: Sequence[str] | None = None, spark=None) -> int:
    parser = argparse.ArgumentParser(
        prog="datasheet_etl_spark",
        description="Datasheet ETL (Spark) — extract structured data from datasheets",
    )
    sub = parser.add_subparsers(dest="command")

    p = sub.add_parser("extract", help="Extract from a single document")
    p.add_argument("doc")
    p.add_argument("--output", "-o")
    p.add_argument("--tier", choices=ACCURACY_TIERS, default="gold")
    p.add_argument("--verbose", "-v", action="store_true")

    p = sub.add_parser("batch", help="Batch process a directory (one Spark job)")
    p.add_argument("input_dir")
    p.add_argument("output_dir")
    p.add_argument("--csv", action="store_true")
    p.add_argument("--tier", choices=ACCURACY_TIERS, default="gold")

    p = sub.add_parser("verify", help="Inspect an extraction result")
    p.add_argument("json_path")

    p = sub.add_parser("export", help="Export a result to csv/review format")
    p.add_argument("json_path")
    p.add_argument("--format", "-f", default="csv", choices=["csv", "review"])
    p.add_argument("--output", "-o")

    p = sub.add_parser("stats", help="Pipeline statistics")
    p.add_argument("--doc", default=None)
    p.add_argument("--tier", choices=ACCURACY_TIERS, default="gold")

    p = sub.add_parser(
        "curate", help="Prepare a training corpus (filter/dedup/sample/pack)"
    )
    p.add_argument("input", help="documents parquet path")
    p.add_argument("output", help="output parquet path for doc→bin assignments")
    p.add_argument("--min-chars", type=int, default=100)
    p.add_argument("--sample-rate", type=float, default=1.0)
    p.add_argument("--budget", type=int, default=4096)
    p.add_argument(
        "--substring-span",
        type=int,
        default=0,
        help="also drop docs whose only content duplicates a lower-id "
        "doc's verbatim span of >= N tokens (0 = off, else N >= 8 — "
        "detection uses word 8-grams and cannot see shorter spans; "
        "the Lee et al. substring modality, one representative kept "
        "per overlap cluster)",
    )

    p = sub.add_parser(
        "diff", help="Diff two corpus snapshots (added/removed/changed)"
    )
    p.add_argument("old", help="old documents parquet path")
    p.add_argument("new", help="new documents parquet path")
    p.add_argument("--key", default="doc_id")
    p.add_argument("--text", default="text")
    p.add_argument("--output", default=None, help="write row-level diff parquet")

    p = sub.add_parser(
        "index", help="ANN index lifecycle (build/append/search an IVF index)"
    )
    p.add_argument("action", choices=["build", "append", "search"])
    p.add_argument("index", help="index root path")
    p.add_argument("vectors", help="embeddings parquet (vec_id, embedding)")
    p.add_argument("--clusters", type=int, default=16)
    p.add_argument("--iters", type=int, default=5)
    p.add_argument("--int8", action="store_true", help="quantize stored vectors")
    p.add_argument("--probes", default="0", help="comma-separated probe vec_ids")
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--nprobe", type=int, default=4)

    p = sub.add_parser(
        "explain", help="Print the physical plan of a registry entry"
    )
    p.add_argument("entry", help="registry entry name, or 'all' for a sweep")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--mode", choices=["plan", "formatted"], default="plan")

    p = sub.add_parser(
        "audit",
        help="Corpus hygiene audit (duplicated n-grams / compressibility "
        "/ excision impact)",
    )
    p.add_argument("input", help="documents parquet path")
    p.add_argument("--ngram-n", type=int, default=5)
    p.add_argument("--top-ngrams", type=int, default=20)
    p.add_argument(
        "--excision-span",
        type=int,
        default=0,
        help="also report per-source substring-excision impact for "
        "verbatim spans of >= N tokens (0 = off, else N >= 8 — detection "
        "uses word 8-grams and cannot see shorter spans)",
    )
    p.add_argument(
        "--output", default=None, help="write the full audit artifacts "
        "(ngrams/ + compression/ + excision/ parquet) under this "
        "directory"
    )
    p.add_argument(
        "--ngram-partials",
        default=None,
        help="incremental n-gram audit state dir: tonight's input is "
        "tokenized once into an unpruned partial, merged with the "
        "stored partial under this dir, and persisted back — history "
        "is never re-tokenized",
    )

    p = sub.add_parser(
        "trend",
        help="Per-entity series monitoring (OLS + Theil-Sen slopes, "
        "Hampel outliers, CUSUM changepoint)",
    )
    p.add_argument("input", help="events-like parquet path")
    p.add_argument("--group", default="user_id")
    p.add_argument("--time", default="ts")
    p.add_argument("--value", default="value")
    p.add_argument("--top", type=int, default=10)
    p.add_argument(
        "--slope-scale",
        type=float,
        default=86400.0,
        help="rescale slopes from per-time-unit to per-report-unit "
        "(default: seconds -> per day)",
    )
    p.add_argument(
        "--disagree",
        type=float,
        default=0.5,
        help="|ols - theil_sen| above this flags a spike-driven trend",
    )
    p.add_argument("--output", default=None, help="persist the full report parquet")

    p = sub.add_parser(
        "stream-status",
        help="Inspect a streaming checkpoint (recorded/committed "
        "batches, in-flight window)",
    )
    p.add_argument("checkpoint", help="checkpoint directory")

    p = sub.add_parser(
        "state",
        help="Inspect streaming state at rest (operator inventory, "
        "state entries, per-batch time travel)",
    )
    p.add_argument("checkpoint", help="checkpoint directory")
    p.add_argument(
        "--operator", type=int, default=None,
        help="operator id to read (default: print the inventory)",
    )
    p.add_argument(
        "--store", default=None,
        help="state store name (joins keep several per operator)",
    )
    p.add_argument(
        "--batch", type=int, default=None,
        help="pin a historical batch id (default: latest committed)",
    )
    p.add_argument(
        "--sample", type=int, default=20,
        help="rows to print (default 20)",
    )
    p.add_argument(
        "--output", default=None, help="write the full state as parquet"
    )

    p = sub.add_parser(
        "cdc-diff",
        help="Diff two committed versions of a CDC target "
        "(added/removed/changed/unchanged per key)",
    )
    p.add_argument("target", help="CDC target directory")
    p.add_argument("--from-version", required=True)
    p.add_argument(
        "--to-version", default=None,
        help="default: the live committed snapshot",
    )
    p.add_argument("--keys", default="k", help="comma-separated key columns")
    p.add_argument(
        "--ignore-cols",
        default=None,
        help="comma-separated bookkeeping columns to exclude from the "
        "value fingerprint (pass the sink's seq column so touch-updates "
        "that only advance the watermark don't report as changed)",
    )
    p.add_argument(
        "--output", default=None, help="write the row-level diff parquet"
    )

    p = sub.add_parser(
        "cdc-migrate",
        help="Re-bucket a CDC/SCD2 target: copy it into a fresh target "
        "with another bucket count (source read-only, history preserved "
        "under original version ids)",
    )
    p.add_argument("source", help="CDC/SCD2 target directory")
    p.add_argument("dest", help="fresh destination directory (must be empty)")
    p.add_argument("--num-buckets", type=int, required=True)
    p.add_argument("--keys", default="k", help="comma-separated key columns")
    p.add_argument(
        "--truncate-history",
        action="store_true",
        help="migrate only the current snapshot (prior versions stay "
        "readable in the source but are not carried over)",
    )

    args = parser.parse_args(argv)
    if not args.command:
        parser.print_help()
        return 1
    handlers = {
        "extract": cmd_extract,
        "batch": cmd_batch,
        "verify": cmd_verify,
        "export": cmd_export,
        "stats": cmd_stats,
        "curate": cmd_curate,
        "diff": cmd_diff,
        "index": cmd_index,
        "explain": cmd_explain,
        "audit": cmd_audit,
        "trend": cmd_trend,
        "stream-status": cmd_stream_status,
        "state": cmd_state,
        "cdc-diff": cmd_cdc_diff,
        "cdc-migrate": cmd_cdc_migrate,
    }
    return handlers[args.command](args, spark=spark)


if __name__ == "__main__":
    sys.exit(main())
