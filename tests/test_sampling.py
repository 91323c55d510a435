"""Deterministic sampling / packing operator properties.

These pin the properties the oracle comparison can't see on its own:
retry-determinism (two evaluations of the same plan agree), the losslessness
of the stratified two-phase shape vs the naive one-phase rank, rate
quantization edges, packing invariants, and the plan shapes the 100 TB
story depends on (TakeOrdered for uniform, no corpus-wide single-partition
sort anywhere).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from datasheet_etl_spark.io import load_table
from datasheet_etl_spark.operators.sampling import (
    assign_split,
    doc_hash,
    pack_sequences,
    rate_to_hex_threshold,
    stratified_sample,
    uniform_sample,
    weighted_sample,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )


def test_uniform_sample_deterministic_and_sized(docs):
    a = sorted(r["doc_id"] for r in uniform_sample(docs, "doc_id", 100).collect())
    b = sorted(r["doc_id"] for r in uniform_sample(docs, "doc_id", 100).collect())
    assert len(a) == 100
    assert a == b
    # repartitioning must not change the selection (retry/partitioning safety)
    c = sorted(
        r["doc_id"]
        for r in uniform_sample(docs.repartition(13), "doc_id", 100).collect()
    )
    assert a == c


def test_uniform_sample_plan_is_take_ordered(docs):
    plan = uniform_sample(docs, "doc_id", 100)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_stratified_two_phase_matches_naive(docs):
    got = {
        (r["doc_id"], r["stratum_rank"])
        for r in stratified_sample(docs, "doc_id", ["lang"], k=7, salt_buckets=5).collect()
    }
    w = Window.partitionBy("lang").orderBy(doc_hash(F.col("doc_id")))
    naive = {
        (r["doc_id"], r["rn"])
        for r in docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 7)
        .collect()
    }
    assert got == naive


def test_stratified_sample_k_per_stratum(docs):
    out = stratified_sample(docs, "doc_id", ["lang"], k=7)
    sizes = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n_langs = docs.select("lang").distinct().count()
    assert len(sizes) == n_langs
    assert all(v == 7 for v in sizes.values())


def test_rate_to_hex_threshold_edges():
    assert rate_to_hex_threshold(0.0) == "0000"
    assert rate_to_hex_threshold(0.5) == "8000"
    assert rate_to_hex_threshold(0.25, hex_digits=2) == "40"
    assert rate_to_hex_threshold(1.0) == "g"  # sorts after every hex prefix
    with pytest.raises(ValueError):
        rate_to_hex_threshold(1.5)
    # a nonzero rate below one quantum must raise, not silently sample nothing
    with pytest.raises(ValueError, match="resolution"):
        rate_to_hex_threshold(1e-6)
    assert rate_to_hex_threshold(1e-6, hex_digits=8) == "000010c6"


def test_weighted_sample_rates_and_monotonicity(docs):
    # rate 1 keeps everything, rate 0 nothing; a higher rate keeps a superset
    total = docs.count()
    assert weighted_sample(docs, "doc_id", "lang", {}, default_rate=1.0).count() == total
    assert weighted_sample(docs, "doc_id", "lang", {}, default_rate=0.0).count() == 0
    lo = {r["doc_id"] for r in weighted_sample(docs, "doc_id", "lang", {}, default_rate=0.2).collect()}
    hi = {r["doc_id"] for r in weighted_sample(docs, "doc_id", "lang", {}, default_rate=0.6).collect()}
    assert lo <= hi
    # realized rate within a loose binomial band
    assert 0.1 * total < len(lo) < 0.3 * total


def test_pack_sequences_invariants(docs):
    budget = 2048
    out = pack_sequences(docs, "doc_id", "n_chars", budget=budget).collect()
    by_shard: dict[str, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["bin_offset"])
        # offsets are the exact running sum: contiguous concatenation
        run = 0
        for r in rows:
            assert r["bin_offset"] == run
            assert r["bin_id"] == run // budget
            run += r["n_chars"]
    # every doc packed exactly once
    assert sum(len(v) for v in by_shard.values()) == docs.count()


def test_pack_sequences_bins_dense(docs):
    # bin ids per shard are dense from 0 (no empty bins in the chunking)
    out = pack_sequences(docs, "doc_id", "n_chars", budget=4096)
    agg = (
        out.groupBy("shard")
        .agg(F.max("bin_id").alias("mx"), F.count_distinct("bin_id").alias("nd"))
        .collect()
    )
    for r in agg:
        assert r["nd"] == r["mx"] + 1


def test_stratified_by_counts_matches_single_phase(docs):
    """The salted two-phase pre-shrink must be lossless: the selection
    equals a direct single-window per-stratum top-k_s for every stratum
    (the k smallest of a union ⊇ property, checked end to end)."""
    from pyspark.sql import Window

    from datasheet_etl_spark.operators.sampling import (
        doc_hash,
        stratified_sample_by_counts,
        temperature_mixture_counts,
    )

    counts = temperature_mixture_counts(docs, ["source"], scale=3.0)
    fast = stratified_sample_by_counts(docs, "doc_id", ["source"], counts)
    w = Window.partitionBy("source").orderBy("_h")
    naive = (
        docs.withColumn("_h", doc_hash(F.col("doc_id")))
        .join(counts, "source")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("k_s"))
    )
    a = sorted((r["source"], r["doc_id"], r["stratum_rank"]) for r in fast.collect())
    b = sorted((r["source"], r["doc_id"], r["_rn"]) for r in naive.collect())
    assert a == b


def test_temperature_mixture_counts(docs):
    from datasheet_etl_spark.operators.sampling import (
        stratified_sample_by_counts,
        temperature_mixture_counts,
    )

    counts = temperature_mixture_counts(docs, ["source"], scale=2.0)
    rows = counts.collect()
    import math

    for r in rows:
        assert r["k_s"] == min(r["n_s"], math.ceil(2.0 * math.sqrt(r["n_s"])))
    # only the IEEE-exact exponent is allowed
    with pytest.raises(NotImplementedError):
        temperature_mixture_counts(docs, ["source"], exponent_num=2, exponent_den=3)
    # sampling honors the per-stratum k exactly
    out = stratified_sample_by_counts(docs, "doc_id", ["source"], counts)
    sizes = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == {r["source"]: r["k_s"] for r in rows}


def test_pack_nosplit_invariants(docs):
    from datasheet_etl_spark.operators.sampling import pack_sequences_nosplit

    budget = 2048
    out = pack_sequences_nosplit(docs, "doc_id", "n_chars", budget=budget).collect()
    by_bin: dict[tuple, list] = {}
    for r in out:
        by_bin.setdefault((r["shard"], r["bin_id"]), []).append(r)
    for (shard, bin_id), rows in by_bin.items():
        fill = sum(r["n_chars"] for r in rows)
        if any(r["oversize"] for r in rows):
            # an oversize doc owns its bin exclusively
            assert len(rows) == 1 and rows[0]["n_chars"] > budget
        else:
            # no bin overflows, and offsets tile the bin contiguously
            assert fill <= budget, (shard, bin_id, fill)
            rows.sort(key=lambda r: r["bin_offset"])
            run = 0
            for r in rows:
                assert r["bin_offset"] == run
                run += r["n_chars"]
    # dense bins per shard, every doc packed exactly once
    shards: dict[str, set] = {}
    for shard, bin_id in by_bin:
        shards.setdefault(shard, set()).add(bin_id)
    for shard, bins in shards.items():
        assert bins == set(range(len(bins))), shard
    assert len(out) == docs.count()


def test_pack_nosplit_deterministic_under_repartition(docs):
    from datasheet_etl_spark.operators.sampling import pack_sequences_nosplit

    a = pack_sequences_nosplit(docs, "doc_id", "n_chars", budget=1024)
    b = pack_sequences_nosplit(
        docs.repartition(13), "doc_id", "n_chars", budget=1024
    )
    ra = sorted((r["doc_id"], r["shard"], r["bin_id"], r["bin_offset"]) for r in a.collect())
    rb = sorted((r["doc_id"], r["shard"], r["bin_id"], r["bin_offset"]) for r in b.collect())
    assert ra == rb


def test_chunk_documents_coverage_and_overlap(spark, docs):
    from datasheet_etl_spark.operators.text import chunk_documents

    full = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text", "n_chars")
    out = chunk_documents(full, chunk_size=100, stride=60).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    texts = {r["doc_id"]: r["text"] for r in full.collect()}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_start"])
        text = texts[doc_id]
        # starts are exactly 0, 60, 120, ... and the reassembled prefix
        # windows reproduce the document (coverage: chunk i overlaps i+1)
        assert [r["chunk_start"] for r in rows] == list(range(0, max(len(text), 1), 60))
        for r in rows:
            assert r["chunk_text"] == text[r["chunk_start"] : r["chunk_start"] + 100]
        # every char covered: next start <= current end
        for a, b in zip(rows, rows[1:]):
            assert b["chunk_start"] <= a["chunk_start"] + 100
    assert set(by_doc) == set(texts)  # no doc dropped, even empty ones


def test_decontaminate_planted_overlap(spark):
    from datasheet_etl_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # contains eval phrase
            (2, "completely unrelated words nothing shared here"),
            (3, "quick brown fox appears again in this one"),
        ],
        "doc_id long, text string",
    )
    holdout = spark.createDataFrame(
        [(100, "benchmark question about the quick brown fox")],
        "doc_id long, text string",
    )
    hits = {r["doc_id"]: r["n_hit_grams"] for r in decontaminate(train, holdout).collect()}
    # doc 1 shares "the quick" + "quick brown" + "brown fox"; doc 3 shares
    # "quick brown" + "brown fox"; doc 2 shares nothing and must be absent
    assert hits[1] == 3
    assert hits[3] == 2
    assert 2 not in hits


def test_decontaminate_bloom_is_conservative_superset(spark):
    """The Bloom path may only OVER-count (false positives), never
    under-count: every exact hit is reported with an equal-or-higher
    gram count, and on sf0.01 with 1% fpp the spurious extras stay a
    small fraction of the corpus."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.dedup import (
        build_gram_bloom,
        decontaminate,
        decontaminate_bloom,
    )

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    holdout = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)

    bloom = build_gram_bloom(holdout, fpp=0.01)
    assert 0 < bloom.fp_rate() < 0.02
    exact = {r["doc_id"]: r["n_hit_grams"] for r in decontaminate(train, holdout).collect()}
    approx = {
        r["doc_id"]: r["n_hit_grams"]
        for r in decontaminate_bloom(train, bloom).collect()
    }
    # no false negatives: every exact hit present, count never lower
    for doc, n_hits in exact.items():
        assert approx.get(doc, 0) >= n_hits, doc
    # false positives bounded: docs flagged by the bloom but not exactly
    # contaminated are a small fraction of the training corpus
    spurious = set(approx) - set(exact)
    assert len(spurious) <= 0.05 * train.count(), len(spurious)


def test_decontaminate_shuffle_path_matches_broadcast(spark):
    """broadcast=False takes a shuffled join (for holdouts too big to
    replicate) and must produce identical hits to the broadcast path."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.dedup import decontaminate

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    holdout = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    fast = decontaminate(train, holdout, broadcast=True)
    slow = decontaminate(train, holdout, broadcast=False)
    assert "BroadcastHashJoin" not in slow._jdf.queryExecution().executedPlan().toString()
    a = {(r["doc_id"], r["n_hit_grams"]) for r in fast.collect()}
    b = {(r["doc_id"], r["n_hit_grams"]) for r in slow.collect()}
    assert a == b and a, "paths disagree or empty"


def test_quantize_embeddings_error_bound(spark):
    from datasheet_etl_spark.operators.similarity import dequantize, quantize_embeddings

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    q = quantize_embeddings(emb, "embedding", bits=8)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    err = F.array_max(F.zip_with(v, dequantize("qvec", "scale"), lambda a, b: F.abs(a - b)))
    rows = q.withColumn("err", err).select("scale", "err", "qvec").collect()
    assert rows
    for r in rows:
        # symmetric quantization guarantee: reconstruction off by ≤ scale/2
        assert r["err"] <= r["scale"] / 2 + 1e-12
        assert all(-127 <= x <= 127 for x in r["qvec"])


def test_check_expectations_null_is_violation(spark):
    """A rule that evaluates to NULL must count as a violation — an
    expectation you cannot prove held, didn't — and the whole audit must
    stay one scan."""
    from datasheet_etl_spark.operators.profile import check_expectations

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, -5)], "id long, v int"
    )
    out = {
        r["rule"]: (r["n_violations"], r["violation_rate"])
        for r in check_expectations(
            df, {"v_positive": F.col("v") > 0, "id_odd": F.col("id") % 2 == 1}
        ).collect()
    }
    # v_positive: NULL (id=2) and -5 (id=3) both violate
    assert out["v_positive"] == (2, round(2 / 3, 6))
    assert out["id_odd"] == (1, round(1 / 3, 6))
    plan = check_expectations(df, {"a": F.col("v") > 0})._jdf.queryExecution()
    assert plan.executedPlan().toString().count("Scan") <= 1


def test_quantile_gate_vs_exact_percentile(spark):
    """The broadcast-threshold gate must agree with the exact
    percent_rank gate up to boundary ties: everything strictly above the
    threshold kept, nothing below it, and per-stratum keep-fraction at
    least (1-q)."""
    from datasheet_etl_spark.operators.sampling import quantile_gate
    from datasheet_etl_spark.operators.text import quality_score

    docs = (
        load_table(spark, "/root/testdata/sf0.01", "documents")
        .select("doc_id", "source", quality_score(F.col("text")).alias("quality"))
    )
    kept = quantile_gate(
        docs, "source", "quality", q=0.75, keep_threshold_col="thr"
    )
    rows = kept.collect()
    assert rows
    thr_by_src = {r["source"]: r["thr"] for r in rows}
    for r in rows:
        assert r["quality"] >= thr_by_src[r["source"]]
    # nothing below threshold leaked through, per-stratum floor holds
    n_by_src = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    kept_by_src: dict[str, int] = {}
    for r in rows:
        kept_by_src[r["source"]] = kept_by_src.get(r["source"], 0) + 1
    for src, n in n_by_src.items():
        assert kept_by_src.get(src, 0) >= 0.25 * n, src
    dropped = docs.join(
        kept.select("doc_id"), "doc_id", "left_anti"
    ).collect()
    for r in dropped:
        assert r["quality"] < thr_by_src[r["source"]]


def test_percentile_gate_approx_matches_exact_off_boundary(spark):
    """The approx gate (t39's documented 100 TB path) agrees with the
    exact percent_rank gate everywhere off the threshold boundary:
    score > threshold → kept by both; score < threshold → kept by
    neither. Only rows AT the threshold may differ (rank tie-break)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.sampling import percentile_gate_approx
    from datasheet_etl_spark.operators.text import quality_score
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    q = docs.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    th = {
        r["source"]: r["_th"]
        for r in q.groupBy("source")
        .agg(F.percentile_approx("quality", 0.75, 10000).alias("_th"))
        .collect()
    }
    approx_kept = {
        r["doc_id"] for r in percentile_gate_approx(q, "quality", ["source"]).collect()
    }
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    exact = q.withColumn("pr", F.percent_rank().over(w))
    for r in exact.collect():
        t = th[r["source"]]
        if r["quality"] > t:
            assert r["doc_id"] in approx_kept
        elif r["quality"] < t:
            assert r["doc_id"] not in approx_kept


def test_split_thresholds_validation_and_remainder():
    """Fractions must sum to 1; last split's bound is 'g' so the
    quantization remainder is absorbed, never dropped."""
    import pytest as _pytest

    from datasheet_etl_spark.operators.sampling import split_thresholds

    with _pytest.raises(ValueError):
        split_thresholds({"train": 0.5, "val": 0.4})
    bounds = split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    assert bounds[0] == ("train", "cccc")
    assert bounds[1] == ("val", "e666")
    assert bounds[2] == ("test", "g")


def test_assign_split_deterministic_and_partition_independent(spark):
    """Every row gets exactly one split; the assignment is identical
    after a repartition (hash-derived, not rand()); fractions come out
    near the request on a uniform key."""
    from datasheet_etl_spark.operators.sampling import assign_split

    df = spark.range(2000).withColumnRenamed("id", "k")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["k"]: r["split"] for r in assign_split(df, "k", fr).collect()}
    b = {
        r["k"]: r["split"]
        for r in assign_split(df.repartition(13), "k", fr).collect()
    }
    assert a == b
    assert set(a.values()) == {"train", "val", "test"}
    n = len(a)
    train_frac = sum(1 for v in a.values() if v == "train") / n
    assert 0.75 < train_frac < 0.85


def test_leakage_safe_split_keeps_groups_together(spark):
    """Group-consistent split (``assign_split`` keyed on each
    fingerprint group's min doc_id): (a) every duplicate-content group
    lands entirely in ONE split; (b) the check is non-vacuous —
    multi-doc groups exist in the corpus AND at least one would
    straddle splits under t52's per-doc assignment; (c) split
    fractions still roughly hold over GROUPS (the assignment unit)."""
    from datasheet_etl_spark.operators.text import fingerprint

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    grouped = docs.select(
        "doc_id", F.min("doc_id").over(Window.partitionBy("fp")).alias("group_rep")
    )
    out = assign_split(grouped, "group_rep", {"train": 0.8, "val": 0.1, "test": 0.1})
    per_group = out.groupBy("group_rep").agg(
        F.countDistinct("split").alias("n_splits"), F.count("*").alias("n")
    )
    assert per_group.filter("n_splits > 1").count() == 0  # no straddling
    assert per_group.filter("n > 1").count() > 0  # multi-doc groups exist

    # naive per-doc assignment straddles at least one of those groups
    naive = assign_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    straddle = (
        naive.groupBy("fp")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter("n_splits > 1")
        .count()
    )
    assert straddle > 0, "corpus has no straddling dup groups; test is vacuous"

    # fractions over groups: train should dominate (loose bound — the
    # group count at smoke scale is small)
    splits = {
        r["split"]: r["n"]
        for r in per_group.join(
            out.select("group_rep", "split").distinct(), "group_rep"
        )
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert splits.get("train", 0) > splits.get("val", 0)
    assert splits.get("train", 0) > splits.get("test", 0)


def test_mixture_waterfill_invariants(spark):
    """The waterfill contract: allocations sum to min(budget, total);
    saturated sources give everything (rate 1.0); unsaturated sources
    receive tokens proportional to weight (common λ); degenerate
    budgets (≥ total, 0) behave."""
    from datasheet_etl_spark.operators.sampling import mixture_waterfill

    avail = spark.createDataFrame(
        [("wiki", 100, 4), ("books", 1000, 2), ("crawl", 10000, 1)],
        "source string, avail long, weight long",
    )
    # budget 2000 → λ = 900: wiki (ratio 25) and books (ratio 500)
    # both saturate, crawl absorbs the redistributed remainder (900·1)
    out = {r["source"]: r for r in mixture_waterfill(
        avail, ["source"], "avail", "weight", 2000.0
    ).collect()}
    assert out["wiki"]["saturated"] and out["wiki"]["rate"] == 1.0
    assert out["books"]["saturated"] and out["books"]["rate"] == 1.0
    assert not out["crawl"]["saturated"]
    assert abs(out["crawl"]["allocation"] - 900.0) < 1e-6
    total_alloc = sum(r["allocation"] for r in out.values())
    assert abs(total_alloc - 2000.0) < 1e-6
    # the naive proportional allocation would have given crawl only
    # 2000·(1/7) ≈ 286 tokens and silently under-filled the budget —
    # waterfilling is precisely this redistribution
    assert out["crawl"]["allocation"] > 2000 / 7

    # budget ≥ total: everything saturates
    out = mixture_waterfill(avail, ["source"], "avail", "weight", 1e9).collect()
    assert all(r["saturated"] and r["rate"] == 1.0 for r in out)

    # zero budget: zero allocations, nothing saturated
    out = mixture_waterfill(avail, ["source"], "avail", "weight", 0.0).collect()
    assert all(r["allocation"] == 0.0 for r in out)

    # degenerate sources must not crash (ANSI DIVIDE_BY_ZERO) and get 0:
    # weight 0 = excluded from the mixture, avail 0 has nothing to give
    avail2 = spark.createDataFrame(
        [("wiki", 100, 4), ("excluded", 500, 0), ("empty", 0, 3)],
        "source string, avail long, weight long",
    )
    out = {r["source"]: r for r in mixture_waterfill(
        avail2, ["source"], "avail", "weight", 50.0
    ).collect()}
    assert out["excluded"]["allocation"] == 0.0 and not out["excluded"]["saturated"]
    assert out["empty"]["allocation"] == 0.0 and out["empty"]["saturated"]
    assert abs(out["wiki"]["allocation"] - 50.0) < 1e-6  # solve unaffected


def test_waterfill_rate_feeds_weighted_sampler(spark, docs):
    """t82's docstring claim, executed: the waterfill ``rate`` plugs
    straight into weighted_sample's per-stratum hash thresholds, and
    the realized per-source sample sizes track the allocations within
    a binomial band (saturated sources keep EVERYTHING exactly)."""
    from datasheet_etl_spark.operators.sampling import (
        mixture_waterfill,
        weighted_sample,
    )

    avail = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("avail"),
        (1 + F.regexp_extract("source", r"([0-9]+)$", 1).cast("long") % 4).alias(
            "weight"
        ),
    )
    budget = avail.agg(F.sum("avail")).first()[0] * 0.5
    fill = mixture_waterfill(avail, ["source"], "avail", "weight", budget)
    rates = {r["source"]: r["rate"] for r in fill.collect()}
    sampled = weighted_sample(docs, "doc_id", "source", rates, default_rate=0.0)
    got = {
        r["source"]: r["n"]
        for r in sampled.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n_by_src = {r["source"]: r["avail"] for r in avail.collect()}
    for src, rate in rates.items():
        if rate == 1.0:  # saturated: exact
            assert got.get(src, 0) == n_by_src[src]
        else:  # Bernoulli at quantized rate: loose band
            expect = rate * n_by_src[src]
            assert abs(got.get(src, 0) - expect) <= max(5, 0.5 * expect), (
                src, rate, got.get(src), expect,
            )


def test_weighted_sample_tracks_weights(spark):
    """A-ES proportionality: across 400 strata each holding one
    weight-9 and one weight-1 item, k=1 picks the heavy item ~90% of
    the time (draws are md5-deterministic, so the empirical rate is a
    fixed number — assert it sits in a generous band around 0.9)."""
    from datasheet_etl_spark.operators.sampling import aes_weighted_sample

    rows = []
    for s in range(400):
        rows.append((s, s * 2, 9.0))      # heavy
        rows.append((s, s * 2 + 1, 1.0))  # light
    df = spark.createDataFrame(rows, "stratum int, id long, w double")
    picked = aes_weighted_sample(df, "id", "w", k=1, strata_cols=["stratum"])
    heavy = picked.filter(F.col("id") % 2 == 0).count()
    assert picked.count() == 400
    assert 0.82 <= heavy / 400 <= 0.97, heavy / 400


def test_weighted_sample_global_path_deterministic_and_excludes_nonpositive(spark):
    """Unstratified top-k: exactly k rows, ranks 1..k, identical
    selection on re-run (hash-derived), NULL/zero/negative weights
    never sampled."""
    from datasheet_etl_spark.operators.sampling import aes_weighted_sample

    df = spark.createDataFrame(
        [(i, float(i % 7) if i % 11 else None) for i in range(500)],
        "id long, w double",
    )  # w ∈ {None, 0..6}: None and 0 must be excluded
    got = aes_weighted_sample(df, "id", "w", k=25)
    rows = {r["id"]: r["rank"] for r in got.collect()}
    assert len(rows) == 25
    assert sorted(rows.values()) == list(range(1, 26))
    for i in rows:
        assert i % 11 != 0 and i % 7 != 0  # no NULL or zero weights
    again = {r["id"]: r["rank"] for r in aes_weighted_sample(df, "id", "w", k=25).collect()}
    assert again == rows


def test_epoch_shuffle_properties(spark, docs):
    """The three properties a 100 TB training loop needs from the epoch
    shuffle (t93): per-shard positions are contiguous 1..n, the order is
    partitioning-independent (retry-safe), and a different epoch draws a
    fresh permutation rather than a shifted copy of the old one."""
    from datasheet_etl_spark.operators.sampling import epoch_shuffle

    base = docs.select("doc_id").limit(500)
    e1 = epoch_shuffle(base, "doc_id", epoch=1)
    rows = {r["doc_id"]: (r["shard"], r["pos"]) for r in e1.collect()}
    assert len(rows) == 500
    # contiguous positions per shard
    by_shard: dict[str, list[int]] = {}
    for shard, pos in rows.values():
        by_shard.setdefault(shard, []).append(pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # repartition-invariant: same assignment regardless of layout
    again = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in epoch_shuffle(base.repartition(7), "doc_id", epoch=1).collect()
    }
    assert again == rows
    # a different epoch re-draws shard AND order (not a rotation)
    e2 = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in epoch_shuffle(base, "doc_id", epoch=2).collect()
    }
    moved = sum(1 for k in rows if rows[k] != e2[k])
    assert moved > 400  # md5 re-salt: essentially everything moves
    # NULL keys are excluded (they cannot draw a hash)
    with_null = base.unionByName(
        spark.createDataFrame([(None,)], "doc_id bigint")
    )
    assert epoch_shuffle(with_null, "doc_id", epoch=1).count() == 500


def test_pack_efficiency_arithmetic(spark):
    """t111's operator: bin counts are the concatenate-then-chunk
    occupancy ((total-1) div budget + 1), fill rate is total over
    bins*budget, one-row-per-shard; budget validated like the packers."""
    import pytest as _pytest

    from datasheet_etl_spark.operators.sampling import pack_efficiency

    plan = spark.createDataFrame(
        # shard a: 3 docs, 10 cost -> 3 bins of 4 -> fill 10/12
        [("a", 3), ("a", 4), ("a", 3), ("b", 4)],
        "shard string, cost int",
    )
    got = {
        r["shard"]: (r["n_docs"], r["total_cost"], r["n_bins"], r["fill_rate"])
        for r in pack_efficiency(plan, "cost", 4).collect()
    }
    assert got["a"] == (3, 10, 3, round(10 / 12, 6))
    # exact multiple: 4 cost / budget 4 -> exactly 1 full bin
    assert got["b"] == (1, 4, 1, 1.0)
    with _pytest.raises(ValueError, match="budget"):
        pack_efficiency(plan, "cost", 0)


def test_pack_efficiency_consistent_with_pack_in_order(spark):
    """Cross-operator invariant, for ANY shard/cost layout: the
    report's n_bins is the stream-OCCUPANCY count ((total-1) div
    budget + 1 — every bin the concatenated chars reach, which is
    what a trainer reading fixed-size bins provisions), and is >= the
    packer's max(bin_id)+1 (bins where some row STARTS — a row
    spanning several bins leaves spanned bins with no starts, so the
    two differ exactly when rows spill); totals and doc counts match
    and fill_rate is in (0, 1]."""
    import random

    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.sampling import (
        pack_efficiency,
        pack_in_order,
    )

    rng = random.Random(11)
    rows = [
        (s, p, rng.randrange(1, 900))
        for s in ("a", "b", "c")
        for p in range(rng.randrange(1, 40))
    ]
    df = spark.createDataFrame(rows, "shard string, pos int, cost int")
    plan = pack_in_order(df, "cost", 256)
    rep = {
        r["shard"]: r for r in pack_efficiency(plan, "cost", 256).collect()
    }
    truth = {
        r["shard"]: r
        for r in plan.groupBy("shard")
        .agg(
            (F.max("bin_id") + 1).alias("bins"),
            F.sum("cost").alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(rep) == set(truth)
    for s in truth:
        occupancy = (truth[s]["total"] - 1) // 256 + 1
        assert rep[s]["n_bins"] == occupancy, s
        assert rep[s]["n_bins"] >= truth[s]["bins"], s
        assert rep[s]["total_cost"] == truth[s]["total"]
        assert rep[s]["n_docs"] == truth[s]["n"]
        assert 0 < rep[s]["fill_rate"] <= 1


def test_temperature_mixture_flattens_and_caps(spark):
    """alpha=0.5 up-samples the small stratum (its rate exceeds the big
    stratum's), alpha=1 recovers proportional sampling (equal rates =
    budget_frac), and a tiny stratum whose computed rate exceeds 1 caps
    at k = 65536 (every row kept)."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.sampling import temperature_mixture_stats

    df = spark.range(1400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, "big").otherwise("small").alias("s"),
    )
    half = {
        r["s"]: r
        for r in temperature_mixture_stats(df, "doc_id", "s", alpha=0.5).collect()
    }
    assert half["small"]["k"] > half["big"]["k"]
    # expected-count identity (holds when no stratum caps at 1 — a
    # capped stratum does NOT redistribute its shortfall, by design):
    # sum over strata of n_s * k_s/65536 ~ budget_frac * N
    assert all(r["k"] < 65536 for r in half.values())
    exp = sum(r["n_docs"] * r["k"] / 65536 for r in half.values())
    assert exp == pytest.approx(700, rel=0.01)
    prop = {
        r["s"]: r["k"]
        for r in temperature_mixture_stats(df, "doc_id", "s", alpha=1.0).collect()
    }
    assert prop["big"] == prop["small"] == 32768
    # 2 docs in a stratum vs 10k: sqrt weighting pushes its rate past 1
    df2 = spark.range(10002).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 10000, "big").otherwise("tiny").alias("s"),
    )
    capped = {
        r["s"]: r
        for r in temperature_mixture_stats(df2, "doc_id", "s", alpha=0.5).collect()
    }
    assert capped["tiny"]["k"] == 65536
    assert capped["tiny"]["n_sampled"] == 2
