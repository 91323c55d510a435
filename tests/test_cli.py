"""End-to-end CLI coverage: extract/batch/verify/export/stats over the
mock pipeline (ref: cli.py:182-239 dispatch)."""

from __future__ import annotations

import json
import os


def test_extract_writes_result_json(spark, tmp_path, capsys):
    from datasheet_etl_spark.cli import main

    rc = main(
        ["extract", "lmr51430.pdf", "--output", str(tmp_path), "--verbose"],
        spark=spark,
    )
    assert rc == 0
    out_path = tmp_path / "lmr51430_v04.json"
    assert out_path.exists()
    doc = json.loads(out_path.read_text())
    assert doc["metadata"]["source_file"] == "lmr51430.pdf"
    assert doc["verification"]["status"] == "verified"
    assert doc["verification"]["confidence"] >= 0.99  # golden block
    assert len(json.loads(doc["parameters_json"])) == 14
    out = capsys.readouterr().out
    assert "EXTRACTION COMPLETE" in out and "Parameters: 14" in out


def test_batch_one_job_many_docs(spark, tmp_path, capsys):
    from datasheet_etl_spark.cli import main

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for name in ("a.pdf", "b.pdf", "c.pdf"):
        (in_dir / name).write_bytes(b"%PDF mock")
    out_dir = tmp_path / "out"

    rc = main(["batch", str(in_dir), str(out_dir), "--csv"], spark=spark)
    assert rc == 0
    for stem in ("a", "b", "c"):
        assert (out_dir / f"{stem}_v04.json").exists()
    report = (out_dir / "batch_report.md").read_text()
    assert "| Total Files | 3 |" in report
    csv_text = (out_dir / "extracted_components.csv").read_text()
    assert csv_text.count("\n") >= 4  # header + 3 docs
    assert "BATCH COMPLETE" in capsys.readouterr().out


def test_verify_and_export_roundtrip(spark, tmp_path, capsys):
    from datasheet_etl_spark.cli import main

    main(["extract", "lmr51430.pdf", "--output", str(tmp_path)], spark=spark)
    json_path = str(tmp_path / "lmr51430_v04.json")

    rc = main(["verify", json_path], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "Status: verified" in out and "Conflicts: 1" in out

    rc = main(["export", json_path, "--format", "review"], spark=spark)
    assert rc == 0
    review_path = json_path.replace(".json", "_review.json")
    assert os.path.exists(review_path)
    review = json.loads(open(review_path).read())
    assert review["mpn"] == "LMR51430"
    assert "v_in_min" in review["params"]

    rc = main(["export", json_path, "--format", "csv"], spark=spark)
    assert rc == 0
    csv_path = json_path.replace(".json", ".csv")
    assert os.path.exists(csv_path)


def test_stats_block(spark, capsys):
    from datasheet_etl_spark.cli import main

    rc = main(["stats", "--tier", "silver"], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out
    assert "Processed: 1" in out
    assert "Accuracy tier: silver (confidence >= 95%)" in out
    assert "Est. Cost: $0.0020" in out


def test_cli_curate(spark, tmp_path, capsys):
    from datasheet_etl_spark.cli import main

    out = str(tmp_path / "curated")
    rc = main(
        [
            "curate",
            "/root/testdata/sf0.001/documents.parquet",
            out,
            "--min-chars",
            "100",
            "--sample-rate",
            "0.5",
            "--budget",
            "2048",
        ],
        spark=spark,
    )
    assert rc == 0
    captured = capsys.readouterr().out
    assert "Packed bins:" in captured
    got = spark.read.parquet(out)
    assert {"doc_id", "shard", "bin_id", "bin_offset", "n_chars"} <= set(got.columns)
    assert got.count() > 0
    # deterministic: re-running lands the same docs in the same bins
    rerun = str(tmp_path / "curated2")
    main(
        ["curate", "/root/testdata/sf0.001/documents.parquet", rerun,
         "--min-chars", "100", "--sample-rate", "0.5", "--budget", "2048"],
        spark=spark,
    )
    a = sorted(map(tuple, got.select("doc_id", "shard", "bin_id").collect()))
    b = sorted(map(tuple, spark.read.parquet(rerun).select("doc_id", "shard", "bin_id").collect()))
    assert a == b


def test_cli_index_lifecycle(spark, tmp_path, capsys):
    from datasheet_etl_spark.cli import main

    vecs = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "ivf")
    rc = main(
        ["index", "build", idx, vecs, "--clusters", "8", "--iters", "2", "--int8"],
        spark=spark,
    )
    assert rc == 0
    assert "Index built" in capsys.readouterr().out

    rc = main(
        ["index", "search", idx, vecs, "--probes", "0,1", "-k", "3", "--nprobe", "2"],
        spark=spark,
    )
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("probe=")]
    assert len(lines) == 6  # 2 probes x k=3
    assert all("cos=" in l for l in lines)


def test_cli_diff(spark, tmp_path, capsys):
    from datasheet_etl_spark.cli import main

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c-edited"), (4, "d")], "doc_id long, text string"
    )
    p_old, p_new = str(tmp_path / "old"), str(tmp_path / "new")
    old.write.parquet(p_old)
    new.write.parquet(p_new)
    out = str(tmp_path / "diff")

    rc = main(["diff", p_old, p_new, "--output", out], spark=spark)
    assert rc == 0
    printed = capsys.readouterr().out
    assert "added      1" in printed and "removed    1" in printed
    assert "changed    1" in printed and "unchanged  1" in printed
    rows = {r["doc_id"]: r["status"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_cli_explain(spark, capsys):
    from datasheet_etl_spark.cli import main

    assert main(["explain", "t01_dedup_exact"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "FileScan" in out or "AdaptiveSparkPlan" in out
    assert main(["explain", "nope_not_an_entry"], spark=spark) == 1


def test_cli_curate_substring_gate(spark, tmp_path, capsys):
    """--substring-span adds the Lee et al. gate to the curate
    pipeline: docs whose content duplicates a lower-id doc's verbatim
    span are dropped before fingerprint dedup, and the stage count is
    reported."""
    from datasheet_etl_spark.cli import main

    span = " ".join(f"dupword{c}{d}" for c in "abcde" for d in "abcde")
    filler = lambda tag: " ".join(f"{tag}{c}{d}" for c in "abcdefghij" for d in "abcdefghij")
    docs = spark.createDataFrame(
        [
            (1, filler("one") + " " + span, "src1", 0),
            (2, span + " " + filler("two"), "src1", 0),
            (3, filler("three"), "src2", 0),
        ],
        "doc_id long, text string, source string, lang int",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "curated")
    rc = main(
        ["curate", src, out, "--min-chars", "10", "--substring-span", "20"],
        spark=spark,
    )
    assert rc == 0
    captured = capsys.readouterr().out
    assert "Substring dedup dropped: 1" in captured
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}  # doc 2 lost the overlap-cluster representative race


def test_cli_curate_flag_validation(spark, tmp_path, capsys):
    """ADVICE-found (r9): --substring-span 1..7 used to crash with
    _span_floor's internal ValueError; the CLI must refuse with its
    own wording before any Spark work. Same for --budget <= 0 (whose
    `div 0` would otherwise yield silently-NULL bin ids)."""
    from datasheet_etl_spark.cli import main

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "some text")], "doc_id long, text string"
    ).write.parquet(src)
    out = str(tmp_path / "curated")

    rc = main(["curate", src, out, "--substring-span", "3"], spark=spark)
    assert rc == 2
    err = capsys.readouterr().err
    assert "--substring-span" in err and ">= 8" in err

    rc = main(["curate", src, out, "--budget", "0"], spark=spark)
    assert rc == 2
    assert "--budget" in capsys.readouterr().err


def test_cli_audit(spark, tmp_path, capsys):
    """The corpus hygiene audit command: top duplicated n-grams,
    compression summary, and (opted-in) per-source excision impact —
    each section one of the graded operators run as a command."""
    from datasheet_etl_spark.cli import main

    span = " ".join(f"tmpl{c}{d}" for c in "abcde" for d in "abcde")  # 25
    fill = lambda tag: " ".join(f"{tag}{c}" for c in "abcdefghij")
    docs = spark.createDataFrame(
        [
            (1, fill("one") + " " + span, "srcA"),
            (2, span + " " + fill("two"), "srcA"),
            (3, "spam " * 300, "srcB"),  # flagged too_repetitive
            # natural diverse prose stays ABOVE the 0.4 ratio floor
            # (the synthetic tmpl/fill tokens above are themselves
            # compressible enough to flag — which is fine: the audit
            # section assertion below counts, it doesn't assume)
            (4, "the quick brown fox jumps over a lazy dog while many "
                "distinct unrelated words follow here without repeats",
             "srcB"),
        ],
        "doc_id long, text string, source string",
    )
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    out = str(tmp_path / "audit")

    rc = main(
        ["audit", src, "--top-ngrams", "5", "--excision-span", "20",
         "--output", out],
        spark=spark,
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "Top duplicated 5-grams" in printed
    assert "tmplaa tmplab tmplac tmplad tmplae" in printed  # the planted gram
    assert "flagged-repetitive=3/4" in printed
    assert "srcA" in printed and "tokens_removed=25" in printed
    got = spark.read.parquet(f"{out}/ngrams")
    assert {"rank", "gram", "n_occurrences", "n_docs"} <= set(got.columns)
    assert spark.read.parquet(f"{out}/compression").count() == 4
    # the excision rollup — the most expensive section — persists too,
    # and the printed figures are the read-back parquet's, not a rerun
    exc = spark.read.parquet(f"{out}/excision").orderBy("source").collect()
    assert [r["source"] for r in exc] == ["srcA", "srcB"]
    assert exc[0]["tokens_removed"] == 25

    # flag validation mirrors curate's 8-gram floor
    rc = main(["audit", src, "--excision-span", "5"], spark=spark)
    assert rc == 2
    assert ">= 8" in capsys.readouterr().err


def test_cli_audit_incremental_partials(spark, tmp_path, capsys):
    """--ngram-partials nightly e2e: run N persists an unpruned partial;
    run N+1 tokenizes ONLY its own input, merges with the stored
    partial, and the reported top-k equals the from-scratch table over
    the union corpus (t106's merge = scratch contract, CLI-shaped)."""
    from datasheet_etl_spark.cli import main
    from datasheet_etl_spark.operators.text import frequent_ngrams

    span = " ".join(f"ngp{c}" for c in "abcdefgh")  # shared 8 tokens
    night1 = spark.createDataFrame(
        [(1, span + " alpha beta gamma"), (2, "delta " + span)],
        "doc_id long, text string",
    )
    night2 = spark.createDataFrame(
        [(3, span + " epsilon zeta"), (4, "unrelated words only here")],
        "doc_id long, text string",
    )
    p1, p2 = str(tmp_path / "n1.parquet"), str(tmp_path / "n2.parquet")
    night1.write.parquet(p1)
    night2.write.parquet(p2)
    state = str(tmp_path / "ngram_state")

    assert main(["audit", p1, "--ngram-partials", state], spark=spark) == 0
    capsys.readouterr()
    assert main(["audit", p2, "--ngram-partials", state], spark=spark) == 0
    printed = capsys.readouterr().out

    scratch = frequent_ngrams(
        night1.unionByName(night2), n=5, top_k=20
    ).collect()
    want = {(r["gram"], r["n_occurrences"], r["n_docs"]) for r in scratch}
    assert want, "fixture must plant at least one repeated 5-gram"
    for gram, occ, ndocs in want:
        assert f"x{occ:<6d} in {ndocs:<5d} docs  {gram[:60]}" in printed
    # the persisted partial is UNPRUNED (singleton grams survive for
    # future merges) and covers both nights
    part = spark.read.parquet(f"{state}/partial")
    assert part.count() > len(want)

    # same-input retry refused (re-merging would double-count)
    assert main(["audit", p2, "--ngram-partials", state], spark=spark) == 2
    assert "already merged" in capsys.readouterr().err
    # mismatched gram length refused (mixed-n counts are nonsense)
    rc = main(
        ["audit", p2, "--ngram-partials", state, "--ngram-n", "3"],
        spark=spark,
    )
    assert rc == 2
    assert "5-grams" in capsys.readouterr().err

    # crash recovery, post-delete window: stored gone, partial.next
    # complete — the next run must finish the swap, SKIP the merge
    # (the crashed run already merged tonight's input — refusing here
    # would make 're-running will recover it' a lie) and fall through
    # to the report
    import shutil as _sh

    _sh.move(f"{state}/partial", f"{state}/partial.next")
    assert main(["audit", p2, "--ngram-partials", state], spark=spark) == 0
    out_err = capsys.readouterr()
    assert "recovered interrupted partial swap" in out_err.out
    assert "already merged by the recovered swap" in out_err.out
    assert "Top duplicated" in out_err.out  # the report actually prints
    assert spark.read.parquet(f"{state}/partial").count() == part.count()
    # a SECOND re-run (no recovery this time) still refuses: exit 2 is
    # kept exactly for the no-recovery-happened case
    assert main(["audit", p2, "--ngram-partials", state], spark=spark) == 2
    assert "already merged" in capsys.readouterr().err

    # crash leftover, pre-swap window: BOTH exist — the orphan is
    # uncommitted and must be discarded; stored stays authoritative
    # and a NEW night still merges
    import os as _os

    _os.makedirs(f"{state}/partial.next")
    night3 = spark.createDataFrame(
        [(5, "fresh third night words")], "doc_id long, text string"
    )
    p3 = str(tmp_path / "n3.parquet")
    night3.write.parquet(p3)
    assert main(["audit", p3, "--ngram-partials", state], spark=spark) == 0
    assert "discarded uncommitted" in capsys.readouterr().out
    assert not _os.path.exists(f"{state}/partial.next")


def test_cli_stream_status(spark, tmp_path, capsys):
    """stream-status reads a checkpoint's offsets/commits listings and
    flags the in-flight window."""
    from datasheet_etl_spark.cli import main

    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "commits").mkdir(parents=True)
    for n in (0, 1):
        (ckpt / "offsets" / str(n)).write_text("{}")
    (ckpt / "commits" / "0").write_text("{}")

    assert main(["stream-status", str(ckpt)], spark=spark) == 0
    out = capsys.readouterr().out
    assert "Batches recorded:  2 (latest 1)" in out
    assert "Batches committed: 1 (latest 0)" in out
    assert "IN-FLIGHT: batch 1" in out

    (ckpt / "commits" / "1").write_text("{}")
    assert main(["stream-status", str(ckpt)], spark=spark) == 0
    assert "In-flight:         none" in capsys.readouterr().out


def test_cli_cdc_diff(spark, tmp_path, capsys):
    """cdc-diff prints per-status counts between two committed CDC
    versions and persists the row-level diff under --output; unknown
    versions exit 2 with the read_cdc_snapshot wording."""
    from datasheet_etl_spark.cli import main
    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        cdc_upsert_sink,
    )

    schema = "k long, seq long, op string, v string"
    src, target = str(tmp_path / "src"), str(tmp_path / "target")
    spark.createDataFrame(
        [(1, 1, "I", "a"), (2, 1, "I", "b")], schema
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(2, 2, "U", "b2"), (3, 2, "I", "c")], schema
    ).coalesce(1).write.parquet(src, mode="append")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
    )
    cdc_upsert_sink(stream, target, str(tmp_path / "ck"), keys=["k"],
                    seq_col="seq")
    v0 = _committed_manifest_versions(spark, target)[0]
    out = str(tmp_path / "diff")
    rc = main(
        ["cdc-diff", target, "--from-version", v0, "--keys", "k",
         "--output", out],
        spark=spark,
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "added      1" in printed
    assert "changed    1" in printed
    assert "unchanged  1" in printed
    assert "removed    0" in printed
    assert spark.read.parquet(out).count() == 3

    rc = main(
        ["cdc-diff", target, "--from-version", "v9999999999"], spark=spark
    )
    assert rc == 2
    assert "not committed" in capsys.readouterr().err


def test_cli_state(spark, tmp_path, capsys):
    """`state` subcommand e2e: inventory with no --operator, entries +
    sample with --operator, --batch time travel, --output parquet
    persistence, and exit 2 on a non-checkpoint path."""
    import os
    import shutil

    from datasheet_etl_spark.cli import main
    from pyspark.sql import functions as F

    schema = "k bigint"
    src = str(tmp_path / "src")
    os.makedirs(src)
    tmp = str(tmp_path / "build")
    for i, rows in enumerate([[(1,), (2,)], [(1,)]]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + 60 * i,) * 2)
    ck = str(tmp_path / "ck")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").format("parquet").load(src)
        .groupBy("k").count()
        .writeStream.format("memory").queryName("clistate")
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()

    assert main(["state", ck], spark=spark) == 0
    out = capsys.readouterr().out
    assert "stateStoreSave" in out and "batches=0..1" in out

    outp = str(tmp_path / "state_out")
    assert main(
        ["state", ck, "--operator", "0", "--output", outp], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert "2 entries" in out  # keys 1 and 2
    got = {
        (r["key"]["k"], r["value"]["count"])
        for r in spark.read.parquet(outp).collect()
    }
    assert got == {(1, 2), (2, 1)}

    # time travel: after batch 0, k=1 has count 1 and k=2 count 1
    assert main(
        ["state", ck, "--operator", "0", "--batch", "0"], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert "state at batch 0: 2 entries" in out
    assert "key=(1,) value=(1,)" in out

    # not a checkpoint -> exit 2, message on stderr
    assert main(["state", str(tmp_path / "nope")], spark=spark) == 2
    assert "error:" in capsys.readouterr().err
    # scan-time JVM failures (bad operator id) -> the same exit-2
    # contract, one clean error line, no raw py4j stack dump
    assert main(["state", ck, "--operator", "7"], spark=spark) == 2
    err = capsys.readouterr().err
    assert err.startswith("error:") and "\n" not in err.rstrip("\n")


def test_cli_audit_legacy_signature_still_refuses(spark, tmp_path, capsys):
    """Review-found (r12): the r12 relpath signature format must not
    orphan state dirs committed under the old basename format — a
    stored legacy-format last_input_sig still refuses its own input
    (silent double-count otherwise)."""
    import json as _json

    from datasheet_etl_spark.cli import _path_signature, main
    from datasheet_etl_spark.streaming.streams import (
        _read_text,
        _write_text_atomic,
    )

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "legacy sig words here")], "doc_id long, text string"
    )
    # NESTED layout (partition subdir): the only case where the r12
    # relpath format and the legacy basename format actually differ
    p = str(tmp_path / "night.parquet")
    docs.withColumn("pt", F.lit(0)).write.partitionBy("pt").parquet(p)
    state = str(tmp_path / "state")
    assert main(["audit", p, "--ngram-partials", state], spark=spark) == 0
    capsys.readouterr()

    # rewrite the committed meta to the PRE-r12 basename format
    sig, legacy = _path_signature(spark, p)
    assert sig != legacy  # nested layout: relpath vs basename differ
    meta = _json.loads(_read_text(spark, f"{state}/partial/_AUDIT_META"))
    assert meta["last_input_sig"] == sig
    meta["last_input_sig"] = legacy
    _write_text_atomic(
        spark, f"{state}/partial/_AUDIT_META", _json.dumps(meta)
    )

    # same input still refused against the legacy-format signature
    assert main(["audit", p, "--ngram-partials", state], spark=spark) == 2
    assert "already merged" in capsys.readouterr().err


def test_cli_cdc_migrate(spark, tmp_path, capsys):
    """cdc-migrate e2e: re-buckets a target built by the default
    one-bucket sink into a fresh 4-bucket one (snapshot + version
    parity checked through the readers), reports truncation when
    asked, and exits 2 with the refusal wording on a non-empty
    destination."""
    from datasheet_etl_spark.cli import main
    from datasheet_etl_spark.streaming.streams import (
        _committed_manifest_versions,
        cdc_upsert_sink,
        read_cdc_snapshot,
    )

    schema = "k long, seq long, op string, v string"
    src, source = str(tmp_path / "src"), str(tmp_path / "source")
    spark.createDataFrame(
        [(1, 1, "I", "a"), (2, 1, "I", "b")], schema
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(2, 2, "U", "b2"), (3, 2, "I", "c")], schema
    ).coalesce(1).write.parquet(src, mode="append")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .format("parquet")
        .load(src)
    )
    cdc_upsert_sink(stream, source, str(tmp_path / "ck"), keys=["k"],
                    seq_col="seq")
    versions = _committed_manifest_versions(spark, source)
    assert len(versions) == 2

    dest = str(tmp_path / "bucketed")
    rc = main(
        ["cdc-migrate", source, dest, "--num-buckets", "4", "--keys", "k"],
        spark=spark,
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "versions migrated: 2" in printed
    assert "TRUNCATED" not in printed
    assert _committed_manifest_versions(spark, dest) == versions
    assert sorted(
        (r["k"], r["seq"], r["v"])
        for r in read_cdc_snapshot(spark, dest).collect()
    ) == sorted(
        (r["k"], r["seq"], r["v"])
        for r in read_cdc_snapshot(spark, source).collect()
    )

    # non-empty destination refused through the exit-2 contract
    rc = main(
        ["cdc-migrate", source, dest, "--num-buckets", "4", "--keys", "k"],
        spark=spark,
    )
    assert rc == 2
    assert "not empty" in capsys.readouterr().err

    # explicit truncation reported
    dest2 = str(tmp_path / "bucketed2")
    rc = main(
        ["cdc-migrate", source, dest2, "--num-buckets", "4", "--keys", "k",
         "--truncate-history"],
        spark=spark,
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "versions migrated: 1" in printed
    assert "TRUNCATED (still readable in the source): 1" in printed


def test_cli_trend_report(spark, tmp_path, capsys):
    """trend: slopes/outliers/changepoint per entity over an
    events-like parquet; a planted spiky-trend entity gets the
    disagreement flag; --output persists the full report; bad column
    names and --top refuse with rc=2."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.cli import main

    rows = (
        # clean riser: ols == theil-sen, no flag
        [("clean", 1_700_000_000 + i * 3600, 10.0 + 0.5 * i) for i in range(40)]
        # spiky: flat line + huge late spikes -> OLS dragged, TS flat
        + [
            (
                "spiky",
                1_700_000_000 + i * 3600,
                5.0 + (900.0 if i >= 38 else 0.0),
            )
            for i in range(40)
        ]
    )
    src = spark.createDataFrame(rows, "user_id string, ts long, value double")
    inp = str(tmp_path / "events")
    src.write.parquet(inp)
    outp = str(tmp_path / "report")
    rc = main(
        ["trend", inp, "--top", "2", "--slope-scale", "3600",
         "--output", outp],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "Trend report" in out
    lines = {l.strip().split(":")[0]: l for l in out.splitlines() if "=" in l}
    assert "[SPIKE-DRIVEN?]" in lines["spiky"]
    assert "[SPIKE-DRIVEN?]" not in lines["clean"]
    rep = {r["g"]: r for r in spark.read.parquet(outp).collect()}
    assert rep["clean"]["slope"] == 0.5  # per-hour via --slope-scale
    assert rep["clean"]["ts_slope"] == 0.5
    assert rep["spiky"]["n_outliers"] >= 1
    # spiky's changepoint sits at the last pre-spike index
    assert rep["spiky"]["cp_k"] == 38
    assert main(["trend", inp, "--group", "nope"], spark=spark) == 2
    assert main(["trend", inp, "--top", "0"], spark=spark) == 2
