"""Training-data operator tests: hash families must agree with the exact
operators they approximate, and the multimodal plumbing must move real
Arrow batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    from datasheet_etl_spark.io import load_table

    return load_table(spark, SF_ORACLE, "documents").cache()


def _exact_pairs(spark):
    """Exact bigram-Jaccard >= 0.5 pairs among the first 200 documents."""
    from datasheet_etl_spark.functions import tokens
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.dedup import exact_jaccard_pairs, word_shingles

    docs = load_table(spark, SF_ORACLE, "documents").filter(F.col("doc_id") < 200)
    sh = docs.select("doc_id", word_shingles(tokens(F.col("text")), 2).alias("sh"))
    return {(r["id_a"], r["id_b"]) for r in exact_jaccard_pairs(sh, 0.5).collect()}


def _brute_top10(spark):
    """Exact top-10 cosine neighbours of the first ten vectors."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, SF_ORACLE, "embeddings")
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=10)
    return out.select("probe_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim")).collect()


def test_minhash_finds_exact_near_dups(spark):
    """LSH candidates must cover the exact bigram-Jaccard ≥0.5 pairs
    (recall check on the planted near-dups)."""
    from datasheet_etl_spark.plans.training import t02_dedup_minhash_lsh

    exact = _exact_pairs(spark)
    assert exact, "test data should contain planted near-dup pairs"
    got = {
        (r["id_a"], r["id_b"])
        for r in t02_dedup_minhash_lsh(spark, SF_ORACLE).collect()
    }
    missed = exact - got
    assert not missed, f"minhash-LSH missed exact near-dups: {missed}"
    # and every reported pair really passes the exact threshold (the
    # verify stage guarantees precision=1 by construction)
    for r in t02_dedup_minhash_lsh(spark, SF_ORACLE).collect():
        assert r["jaccard"] >= 0.5


def test_minhash_md5_family_finds_exact_near_dups(spark):
    """t02b (the md5-replayable base hash) runs t02's own pipeline, so
    it must meet the SAME recall contract: cover every exact
    bigram-Jaccard ≥0.5 pair, and report only pairs the exact verify
    passes (precision 1 by construction, family-independent)."""
    from datasheet_etl_spark.plans.training import t02b_minhash_lsh_md5_oracle

    exact = _exact_pairs(spark)
    rows = t02b_minhash_lsh_md5_oracle(spark, SF_ORACLE).collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    missed = exact - got
    assert not missed, f"md5-minhash-LSH missed exact near-dups: {missed}"
    for r in rows:
        assert r["jaccard"] >= 0.5


def test_hyperplane_md5_family_finds_planted_pairs(spark):
    """t07c (md5-derived planes) runs t07b's own pipeline, so it must
    meet the same behavioral contract: every planted (v, v+1e6) pair
    verified above threshold, and nothing below threshold reported."""
    from datasheet_etl_spark.plans.training import t07c_hyperplane_md5_oracle

    rows = t07c_hyperplane_md5_oracle(spark, SF_ORACLE).collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    planted = {(v, v + 1_000_000) for v in range(50)}
    missed = planted - got
    assert not missed, f"md5-plane LSH missed planted near-dups: {missed}"
    for r in rows:
        assert r["cos_sim"] >= 0.9


def test_simhash_finds_exact_near_dups(spark):
    from datasheet_etl_spark.plans.training import t03_dedup_simhash

    exact = _exact_pairs(spark)
    got = {
        (r["id_a"], r["id_b"]) for r in t03_dedup_simhash(spark, SF_ORACLE).collect()
    }
    missed = exact - got
    assert not missed, f"simhash missed exact near-dups: {missed}"


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=2 of 10 cells: recall@10 must beat the ~2/10
    random-cell floor by a wide margin on rank-1 neighbors."""
    from datasheet_etl_spark.plans.training import t07_ann_ivf

    brute = _brute_top10(spark)
    ivf = t07_ann_ivf(spark, SF_ORACLE).collect()
    brute_top = {(r["probe_id"], r["vec_id"]) for r in brute}
    ivf_top = {(r["probe_id"], r["vec_id"]) for r in ivf}
    recall = len(brute_top & ivf_top) / len(brute_top)
    assert recall >= 0.15, f"IVF recall@10 collapsed: {recall}"
    # every IVF hit must carry the exact cosine the brute force computed
    brute_sims = {(r["probe_id"], r["vec_id"]): r["cos_sim"] for r in brute}
    for r in ivf:
        key = (r["probe_id"], r["vec_id"])
        if key in brute_sims:
            assert abs(r["cos_sim"] - brute_sims[key]) < 1e-9


def test_ivf_kmeans_recall_and_exactness(spark):
    """Trained-quantizer IVF: recall@10 must beat the nprobe/k_clusters
    random floor decisively, and every returned similarity must equal
    the brute-force cosine bit-for-bit (search is exact within cells)."""
    from datasheet_etl_spark.plans.training import t20_ann_ivf_kmeans

    brute = _brute_top10(spark)
    ivf = t20_ann_ivf_kmeans(spark, SF_ORACLE).collect()
    brute_top = {(r["probe_id"], r["vec_id"]) for r in brute}
    ivf_top = {(r["probe_id"], r["vec_id"]) for r in ivf}
    recall = len(brute_top & ivf_top) / len(brute_top)
    assert recall >= 0.5, f"kmeans-IVF recall@10 too low: {recall}"
    brute_sims = {(r["probe_id"], r["vec_id"]): r["cos_sim"] for r in brute}
    for r in ivf:
        key = (r["probe_id"], r["vec_id"])
        if key in brute_sims:
            assert abs(r["cos_sim"] - brute_sims[key]) < 1e-9


def test_quantized_ivf_recall_vs_float_index(spark, tmp_path):
    """An int8 IVF index must return (nearly) the float index's top-10:
    both indexes share the identical quantizer and cell assignment (cells
    are assigned before quantization), so the candidate sets are equal
    and only the ≤ scale/2 per-component rounding error can reorder the
    ranking. recall@10 ≥ 0.9, and the stored corpus must actually be
    tinyint + scale (the 4× storage claim), decoded without a scan of
    any float column."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.similarity import (
        ivf_search_indexed,
        write_ivf_index,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") < 10)
    fpath, qpath = str(tmp_path / "ivf_f"), str(tmp_path / "ivf_q8")
    write_ivf_index(emb, fpath, k_clusters=8, iters=2)
    write_ivf_index(emb, qpath, k_clusters=8, iters=2, quantize_bits=8)

    stored = spark.read.parquet(f"{qpath}/corpus")
    assert dict(stored.dtypes)["qvec"] == "array<tinyint>"
    assert "embedding" not in stored.columns

    flt = ivf_search_indexed(spark, fpath, probes, k=10, nprobe=2).collect()
    qnt = ivf_search_indexed(spark, qpath, probes, k=10, nprobe=2).collect()
    f_top = {(r["probe_id"], r["vec_id"]) for r in flt}
    q_top = {(r["probe_id"], r["vec_id"]) for r in qnt}
    recall = len(f_top & q_top) / len(f_top)
    assert recall >= 0.9, f"quantized-index recall@10 too low: {recall}"
    # quantized scores must sit within the dequantization error envelope
    f_sims = {(r["probe_id"], r["vec_id"]): r["cos_sim"] for r in flt}
    for r in qnt:
        key = (r["probe_id"], r["vec_id"])
        if key in f_sims:
            assert abs(r["cos_sim"] - f_sims[key]) < 0.02


def test_append_to_ivf_index_found_by_search(spark, tmp_path):
    """Incremental append: vectors added after the build are assigned by
    the frozen quantizer and must be findable — a probe searching for
    ITSELF (cos=1.0 top hit) proves the appended shard participates, in
    both the float and the quantized layout."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_search_indexed,
        write_ivf_index,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") >= 100)
    late = emb.filter(F.col("vec_id") < 100)
    for tag, bits in (("f", None), ("q8", 8)):
        path = str(tmp_path / f"ivf_{tag}")
        write_ivf_index(base, path, k_clusters=8, iters=2, quantize_bits=bits)
        n0 = spark.read.parquet(f"{path}/corpus").count()
        append_to_ivf_index(spark, path, late)
        corpus = spark.read.parquet(f"{path}/corpus")
        assert corpus.count() == n0 + late.count()
        if bits:  # appended shard matches the stored integer layout
            assert dict(corpus.dtypes)["qvec"] == "array<tinyint>"
        # self-search: each appended vector's own cell is its nearest
        # centroid by construction, so nprobe>=1 must find it at cos~1
        probes = emb.filter(F.col("vec_id") < 5)
        got = ivf_search_indexed(spark, path, probes, k=3, nprobe=2)
        # note: search excludes probe_id == vec_id self-matches; instead
        # assert every probe gets k hits from a corpus including appends
        per_probe = {r["probe_id"]: r["rank"] for r in got.collect()}
        assert set(per_probe) == {0, 1, 2, 3, 4}
        hits = {(r["probe_id"], r["vec_id"]) for r in got.collect()}
        appended_hits = [v for _, v in hits if v < 100]
        assert appended_hits, "no appended vector ever surfaced in top-k"


def test_hyperplane_lsh_recall(spark):
    """Multi-table LSH must recover nearly all truly-close pairs
    (cos ≥ 0.95 → per-table hit ~28%, 16 tables ~99.5%) and report only
    pairs passing the exact-cosine verify. The driver testdata contains
    no natural near-dups (max pair cosine ≈ 0.48), so near-identical
    vectors are planted deterministically here."""
    import numpy as np

    from datasheet_etl_spark.operators.similarity import (
        cosine_pairs_vectorized,
        hyperplane_lsh_pairs,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal((200, 64))
    jitter = base[:50] + 0.05 * rng.standard_normal((50, 64))
    vecs = np.vstack([base, jitter])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_vectorized(emb, emb, threshold=0.95)
        .filter(F.col("id_a") < F.col("id_b"))
        .collect()
    }
    assert len(exact) >= 40  # the planted jittered copies
    got = {
        (r["id_a"], r["id_b"])
        for r in hyperplane_lsh_pairs(emb, threshold=0.95).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"LSH recall collapsed: {recall} ({len(exact)} exact)"
    assert got <= exact  # verify stage guarantees precision 1.0


def test_multimodal_plumbing(spark, docs):
    """mapInPandas stage: schema, batch shape, binary hygiene, and the
    clearly-marked stub decode."""
    from datasheet_etl_spark.operators.multimodal import (
        decode_media,
        extract_features,
        frame_sample,
        resize_plan,
        synth_media,
    )

    from datasheet_etl_spark.operators.multimodal import _HAS_PIL

    media = synth_media(docs.limit(50))
    feats = extract_features(media)
    assert "content" not in feats.columns  # binary dropped after the stage
    rows = feats.collect()
    assert len(rows) == 50
    r0 = sorted(rows, key=lambda r: r["media_id"])[0]
    # the real path is taken IFF PIL imports: synth payloads are text
    # bytes, so with PIL they FAIL the real decode (explicit error
    # status, fake geometry fallback); without it they are 'stubbed'
    assert r0["decode_status"] == ("decode_error" if _HAS_PIL else "stubbed")
    assert r0["n_bytes"] > 0 and r0["width"] >= 64 and r0["height"] >= 64

    if _HAS_PIL:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (12, 7)).save(buf, format="PNG")
        assert decode_media(buf.getvalue()) == (12, 7)  # real decode
    else:
        with pytest.raises(NotImplementedError):
            decode_media(b"\x89PNG")

    samples = frame_sample(media.limit(5))
    assert samples.count() >= 5
    rp = resize_plan(media.limit(5)).collect()
    for r in rp:
        assert max(r["out_w"], r["out_h"]) <= 224


def test_langid_accuracy_on_en(docs):
    """The heuristic must at least nail documents whose text carries
    English markers — sanity that scoring isn't inverted."""
    from datasheet_etl_spark.functions import tokens
    from datasheet_etl_spark.operators.text import detect_language

    rows = docs.select(detect_language(tokens(F.col("text"))).alias("lang_pred")).collect()
    preds = {r["lang_pred"] for r in rows}
    assert preds <= {"en", "de", "es", "fr", "zh", "und"}


def test_quality_features_match_sql(docs):
    """Every ``quality_features`` ratio and the composite
    ``quality_score`` equal the same features recomputed in DuckDB
    (weights are multiples of 0.25, so the score is fp-stable)."""
    from datasheet_etl_spark.operators.text import quality_features, quality_score

    from tests.oracle_harness import compare

    f = quality_features(F.col("text"))
    df = docs.select(
        "doc_id",
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        F.round(f["punct_ratio"], 6).alias("punct_ratio"),
        f["stopword_hits"].alias("stop_hits"),
        F.round(f["avg_token_len"], 6).alias("avg_token_len"),
        quality_score(F.col("text")).alias("quality"),
    )
    sql = """
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
      FROM documents
    ), f AS (
      SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
             len(list_intersect(list_distinct(toks),
                 ['the','and','of','to','in','is','that','for'])) AS stop_hits,
             CASE WHEN len(toks) > 0
                  THEN length(array_to_string(toks, '')) / len(toks)
                  ELSE 0.0 END AS avg_token_len
      FROM t
    ), r AS (
      SELECT *, CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS pr FROM f
    )
    SELECT doc_id, n_chars, n_tokens, round(pr, 6) AS punct_ratio, stop_hits,
           round(avg_token_len, 6) AS avg_token_len,
           CAST(CASE WHEN n_tokens >= 20 THEN 0.25 ELSE 0.0 END
            + CASE WHEN avg_token_len >= 3 AND avg_token_len <= 10 THEN 0.25 ELSE 0.0 END
            + CASE WHEN stop_hits >= 1 THEN 0.25 ELSE 0.0 END
            + CASE WHEN pr <= 0.1 THEN 0.25 ELSE 0.0 END AS DOUBLE) AS quality
    FROM r
    """
    ok, msg = compare(df, sql, SF_ORACLE)
    assert ok, msg


def test_token_counts_match_sql(docs):
    """Whitespace and BPE-ish subword counts equal DuckDB's split /
    regexp_extract_all over the same texts."""
    from datasheet_etl_spark.operators.text import (
        bpe_ish_token_count,
        whitespace_token_count,
    )

    from tests.oracle_harness import compare

    df = docs.select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )
    sql = r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))
             AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]|[^A-Za-z0-9\s]'))
             AS bpe_ish_tokens
    FROM documents
    """
    ok, msg = compare(df, sql, SF_ORACLE)
    assert ok, msg


def test_asof_join_semantics(spark):
    """Backward matches latest right ≤ left (ties inclusive), unmatched
    lefts get NULLs, forward matches earliest right ≥ left."""
    from datasheet_etl_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 2, "c"), (2, 7, "d")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 3, 30), (1, 5, 50), (1, 9, 90), (2, 8, 80)],
        "k long, ts long, v long",
    )
    back = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(left, right, ["k"], "ts", "ts", ["v"]).collect()
    }
    assert back == {(1, 5): 50, (1, 10): 90, (1, 2): None, (2, 7): None}
    fwd = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(
            left, right, ["k"], "ts", "ts", ["v"], direction="forward"
        ).collect()
    }
    assert fwd == {(1, 5): 50, (1, 10): None, (1, 2): 30, (2, 7): 80}


def test_asof_null_keys_follow_sql_join_semantics(spark):
    """Review-found r13: NULL partition keys must follow SQL JOIN
    semantics, not PARTITION BY semantics. asof_join's window grouped
    NULL keys together (PARTITION BY groups NULLs) and
    cogroup_merge_asof's pandas merge_asof matched NaN by-keys to each
    other — either way a NULL-keyed left row silently "matched" a
    NULL-keyed right row, which no SQL join (including the DuckDB ASOF
    JOIN oracle shape) would produce. Contract now pinned for BOTH
    operators: NULL-keyed right rows never match; NULL-keyed left rows
    are kept with NULL payload (left-join semantics)."""
    from datasheet_etl_spark.operators.relational import (
        asof_join,
        cogroup_merge_asof,
    )

    left = spark.createDataFrame(
        [(1, 5), (None, 10), (2, 7)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 3, 30, "a"), (None, 8, 80, "b"), (2, 6, 60, "c")],
        "k long, rts long, v long, s string",
    )
    expect = {(1, 5): (30, "a"), (2, 7): (60, "c"), (None, 10): (None, None)}
    got_a = {
        (r["k"], r["ts"]): (r["v"], r["s"])
        for r in asof_join(left, right, ["k"], "ts", "rts", ["v", "s"]).collect()
    }
    assert got_a == expect
    got_c = {
        (r["k"], r["ts"]): (r["v"], r["s"])
        for r in cogroup_merge_asof(left, right, ["k"], "ts", "rts").collect()
    }
    assert got_c == expect
    # a bucket holding ONLY null-keyed left rows still emits them
    lone = spark.createDataFrame([(None, 4)], "k long, ts long")
    rows = cogroup_merge_asof(lone, right, ["k"], "ts", "rts").collect()
    assert [(r["k"], r["ts"], r["v"], r["s"]) for r in rows] == [
        (None, 4, None, None)
    ]


def test_cogroup_merge_asof_matches_asof_join(spark):
    """The cogrouped-pandas seam must reproduce asof_join's contract on
    the same inputs — backward/forward match sets, NULLs for unmatched
    lefts — plus the seam-specific edges: string right columns read
    back as SQL NULL when unmatched, integer dtypes survive NaN fill,
    tolerance voids distant matches, and name collisions are refused."""
    import pytest as _pytest

    from datasheet_etl_spark.operators.relational import cogroup_merge_asof

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 2, "c"), (2, 7, "d")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 3, 30, "x3"), (1, 5, 50, "x5"), (1, 9, 90, "x9"), (2, 8, 80, "x8")],
        "k long, rts long, v long, label string",
    )
    back = {
        (r["k"], r["ts"]): (r["v"], r["label"])
        for r in cogroup_merge_asof(left, right, ["k"], "ts", "rts").collect()
    }
    assert back == {
        (1, 5): (50, "x5"),
        (1, 10): (90, "x9"),
        (1, 2): (None, None),
        (2, 7): (None, None),
    }
    fwd = {
        (r["k"], r["ts"]): r["v"]
        for r in cogroup_merge_asof(
            left, right, ["k"], "ts", "rts", direction="forward"
        ).collect()
    }
    assert fwd == {(1, 5): 50, (1, 10): None, (1, 2): 30, (2, 7): 80}
    tol = {
        (r["k"], r["ts"]): r["v"]
        for r in cogroup_merge_asof(
            left, right, ["k"], "ts", "rts", tolerance=1
        ).collect()
    }
    # (1,10)'s nearest earlier right is at 9 (within 1); (1,2) has none
    assert tol == {(1, 5): 50, (1, 10): 90, (1, 2): None, (2, 7): None}
    with _pytest.raises(ValueError, match="collide"):
        cogroup_merge_asof(
            left, right.withColumnRenamed("v", "tag"), ["k"], "ts", "rts"
        )


def test_salted_join_equivalence(spark):
    """Salting must not change join results — only the key distribution.
    90% of the left rows share one hot key."""
    from datasheet_etl_spark.operators.relational import salted_join

    left = spark.range(0, 1000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, "hot").otherwise(F.concat(F.lit("k"), F.col("id"))).alias("k"),
        (F.col("id") * 2).alias("lv"),
    )
    right = left.select("k").distinct().withColumn("rv", F.length("k"))
    plain = {(r["row_id"], r["rv"]) for r in left.join(right, "k").collect()}
    salted = {
        (r["row_id"], r["rv"])
        for r in salted_join(left, right, ["k"], salt_from="row_id", buckets=8).collect()
    }
    assert salted == plain and len(plain) == 1000


def test_rolling_hash_deterministic(spark):
    from datasheet_etl_spark.operators.text import rolling_hash

    df = spark.createDataFrame([("abc",), ("abc",), ("abd",)], "t string")
    vals = [r["h"] for r in df.select(rolling_hash(F.col("t")).alias("h")).collect()]
    assert vals[0] == vals[1] != vals[2]
    # matches the direct polynomial computation
    expect = 0
    for ch in "abc":
        expect = (expect * 31 + ord(ch)) % ((1 << 31) - 1)
    assert vals[0] == expect


def test_asof_join_tolerance(spark):
    """merge_asof-style tolerance: matches farther than the bound come
    back NULL, nearer ones are unchanged; forward direction symmetric."""
    from datasheet_etl_spark.operators.relational import asof_join

    trades = spark.createDataFrame(
        [("A", 100.0, "t1"), ("A", 205.0, "t2"), ("A", 500.0, "t3")],
        "sym string, t double, trade string",
    )
    quotes = spark.createDataFrame(
        [("A", 95.0, 1.0), ("A", 200.0, 2.0)], "sym string, t double, px double"
    )
    no_tol = asof_join(trades, quotes, ["sym"], "t", "t", ["px"]).orderBy("t")
    assert [r.px for r in no_tol.collect()] == [1.0, 2.0, 2.0]

    tol = asof_join(trades, quotes, ["sym"], "t", "t", ["px"], tolerance=10.0).orderBy("t")
    # t=100 matches 95 (gap 5 ≤ 10); t=205 matches 200 (gap 5); t=500 gap 300 → NULL
    assert [r.px for r in tol.collect()] == [1.0, 2.0, None]

    fwd = asof_join(
        trades, quotes, ["sym"], "t", "t", ["px"], direction="forward", tolerance=10.0
    ).orderBy("t")
    # forward: t=100 → next quote 200 (gap 100) → NULL; t=205 → none ahead → NULL
    assert [r.px for r in fwd.collect()] == [None, None, None]


def test_asof_join_tolerance_is_per_column(spark):
    """A newer right row with a NULL in one payload column must not
    re-validate a stale value of that column carried from an older,
    out-of-tolerance row — each column gates on the timestamp of the
    row that actually supplied it."""
    from datasheet_etl_spark.operators.relational import asof_join

    trades = spark.createDataFrame(
        [("A", 300.0, "t1")], "sym string, t double, trade string"
    )
    # px last supplied at t=100 (gap 200, outside tol); qty supplied at
    # t=295 (gap 5, inside tol) but that row has px=NULL
    quotes = spark.createDataFrame(
        [("A", 100.0, 1.0, None), ("A", 295.0, None, 7.0)],
        "sym string, t double, px double, qty double",
    )
    got = asof_join(
        trades, quotes, ["sym"], "t", "t", ["px", "qty"], tolerance=10.0
    ).collect()
    assert len(got) == 1
    assert got[0].px is None  # stale px NOT re-validated by the t=295 row
    assert got[0].qty == 7.0  # fresh qty within tolerance survives


def test_pagerank_matches_power_iteration(spark):
    """Spark PageRank vs a dense numpy power-iteration reference on a
    small digraph WITH a dangling node: per-node agreement to 1e-9 and
    total mass 1."""
    import numpy as np

    from datasheet_etl_spark.operators.graph import pagerank

    #      0 -> 1 -> 2 -> 0   and 1 -> 3 (3 is dangling)
    edge_list = [(0, 1), (1, 2), (2, 0), (1, 3)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(edges, iters=20).collect()}

    n, d = 4, 0.85
    M = np.zeros((n, n))
    outd = {0: 1, 1: 2, 2: 1}
    for s, t in edge_list:
        M[t, s] = 1.0 / outd[s]
    r = np.full(n, 1.0 / n)
    for _ in range(20):
        dangling = r[3]  # node 3 has no out-edges
        r = (1 - d) / n + d * (M @ r + dangling / n)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    # node 0 (fed by the cycle) outranks the dangling leaf; node 2 TIES
    # the leaf exactly (both are fed only by node 1) — a property the
    # numpy agreement above already witnesses
    assert got[0] > got[3]


def test_semantic_dedup_prunes_planted_pair(spark):
    """A planted near-identical pair in the same cell loses its larger
    id; vectors in different cells never prune each other even if
    identical; the min-id member of every cell is always kept."""
    from datasheet_etl_spark.operators.similarity import semantic_dedup

    rows = [
        # cell 0: ids 1,2 near-identical -> 2 dropped; id 9 orthogonal kept
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0, 0.0], 0),
        (9, [0.0, 1.0, 0.0, 0.0], 0),
        # cell 1: identical to id 1 but in another cell -> kept
        (5, [1.0, 0.0, 0.0, 0.0], 1),
        # cell 1 chain: 6~5 dropped
        (6, [0.998, 0.02, 0.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(emb, threshold=0.9).collect()
    }
    assert out == {1: True, 2: False, 9: True, 5: True, 6: False}


def test_snapshot_diff_statuses(spark):
    from datasheet_etl_spark.operators.relational import snapshot_diff
    from pyspark.sql import functions as F

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, fp string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C2"), (4, "d")], "doc_id long, fp string"
    )
    got = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(old, new).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    # join stays a key-equijoin: no cartesian in the plan
    plan = snapshot_diff(old, new)._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan


def test_packing_histogram_buckets_and_utilization(spark):
    from datasheet_etl_spark.operators.sampling import packing_histogram

    df = spark.createDataFrame(
        [(0,), (10,), (32,), (33,), (5000,)], "n long"
    )
    rows = {r["bucket"]: r for r in packing_histogram(df, "n").collect()}
    assert rows[0]["n_docs"] == 1 and rows[0]["padded_tokens"] == 0
    b32 = rows[32]
    assert b32["n_docs"] == 2 and b32["sum_tokens"] == 42
    assert b32["padded_tokens"] == 64 and abs(b32["utilization"] - 0.65625) < 1e-9
    assert rows[64]["n_docs"] == 1 and rows[64]["padded_tokens"] == 64
    # overflow: padded == real (chunked, not padded)
    assert rows[-1]["sum_tokens"] == rows[-1]["padded_tokens"] == 5000
    assert rows[-1]["utilization"] == 1.0


def test_fuzzy_dedup_corpus_partitions_docs(spark):
    """t49 invariants at smoke scale: kept set = reps + singletons;
    sum(cluster_size) over kept == total docs in scope (every doc is
    accounted to exactly one kept representative)."""
    from datasheet_etl_spark.plans.training import t49_fuzzy_dedup_corpus
    from tests.conftest import SF_SMOKE

    from pyspark.sql import functions as F

    out = t49_fuzzy_dedup_corpus(spark, SF_SMOKE)
    total = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .count()
    )
    agg = out.agg(F.sum("cluster_size").alias("s")).collect()[0]["s"]
    assert agg == total
    assert out.count() <= total


def test_skew_report_flags_hot_key(spark):
    from datasheet_etl_spark.operators.profile import skew_report

    rows = [(1,)] * 90 + [(2,)] * 5 + [(3,)] * 5
    df = spark.createDataFrame(rows, "k long")
    out = {r["k"]: r for r in skew_report(df, ["k"], top_n=2).collect()}
    hot = out[1]
    assert hot["rank"] == 1 and hot["n"] == 90
    assert abs(hot["share"] - 0.9) < 1e-9
    assert abs(hot["skew_x"] - 2.7) < 1e-9  # 90 / (100/3 keys)
    assert abs(out[2]["cum_share"] - 0.95) < 1e-9
    assert 3 not in out  # top_n respected


def test_boilerplate_scores_planted_template(spark):
    """A bigram shared by >10% of docs scores as boilerplate; a unique
    doc scores 0; an empty doc reports 0/0/0.0."""
    from datasheet_etl_spark.operators.text import boilerplate_scores

    docs = [(i, "copyright header real content " + f"unique{i} body{i}") for i in range(9)]
    docs.append((100, "totally different words entirely"))
    docs.append((101, ""))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in boilerplate_scores(df).collect()}
    # 'copyright header' appears in 9/11 docs -> boilerplate for those 9
    assert out[0]["n_boiler"] >= 1 and out[0]["boiler_frac"] > 0
    assert out[100]["n_boiler"] == 0 and out[100]["boiler_frac"] == 0.0
    assert out[101]["n_grams"] == 0 and out[101]["boiler_frac"] == 0.0
    assert len(out) == 11  # every doc present, including the empty one


def test_mad_outliers_resists_masking(spark):
    """The robust gate flags a GROUP of extreme rows that a mean/stddev
    z-score masks: several large outliers inflate the stddev (and drag
    the mean) enough that none of them reaches 3 sigma — the classic
    masking effect — while median/MAD ignore them entirely."""
    import pyspark.sql.functions as F

    from datasheet_etl_spark.operators.profile import mad_outliers

    rows = [(i, "s", 100 + (i % 7)) for i in range(20)] + [
        (90 + j, "s", 100000 + j) for j in range(5)
    ]
    df = spark.createDataFrame(rows, "id long, src string, v long")
    flagged = {r["id"] for r in mad_outliers(df, "v", ["src"], k=3.0).collect()}
    assert flagged == {90, 91, 92, 93, 94}
    # mean/stddev z on the same data flags NOTHING at 3 sigma: the five
    # outliers own the variance, capping every |z| near sqrt(n/n_out)=2.2
    stats = df.agg(F.avg("v").alias("m"), F.stddev_pop("v").alias("s")).first()
    z_max = max(abs(v - stats["m"]) / stats["s"] for _, _, v in rows)
    assert z_max < 3.0, z_max


def test_mad_outliers_null_stratum_not_dropped(spark):
    """Rows with a NULL stratum key form their own stratum (null-safe
    joins) — an extreme row can't dodge the gate by missing its tag."""
    from datasheet_etl_spark.operators.profile import mad_outliers

    rows = [(i, None, 100 + (i % 5)) for i in range(20)] + [(99, None, 50000)]
    df = spark.createDataFrame(rows, "id long, src string, v long")
    flagged = {r["id"] for r in mad_outliers(df, "v", ["src"], k=3.0).collect()}
    assert flagged == {99}


def test_mad_outliers_zero_mad_flags_nothing(spark):
    from datasheet_etl_spark.operators.profile import mad_outliers

    df = spark.createDataFrame(
        [(i, "s", 5) for i in range(10)] + [(10, "s", 9)],
        "id long, src string, v long",
    )
    # >half the stratum shares v=5 so MAD=0 -> NULL z -> nothing flagged
    assert mad_outliers(df, "v", ["src"], k=3.0).count() == 0


def test_resample_locf_grid_and_carry(spark):
    """Grid starts at floor(min, step); values carry forward between
    observations; grid points before the first observation are NULL
    only when the floor precedes it."""
    from datasheet_etl_spark.operators.relational import resample_locf

    df = spark.createDataFrame(
        [(1, 130, 10.0), (1, 250, 20.0), (2, 70, 5.0)],
        "k int, ts long, v double",
    )
    out = {
        (r["k"], r["grid_sec"]): r["last_value"]
        for r in resample_locf(df, ["k"], "ts", "v", 100).collect()
    }
    assert out == {
        (1, 100): None,  # floor(130,100)=100 precedes the first obs
        (1, 200): 10.0,  # carried from ts=130
        (2, 0): None,  # grid is sequence(0, 70, 100) = [0], before ts=70
    }


def test_correlation_matrix_matches_numpy(spark):
    """One-scan decimal-moment correlations equal numpy.corrcoef to 6dp
    (values are ≤3-dp so the decimal moments are exact)."""
    import numpy as np

    from datasheet_etl_spark.operators.profile import correlation_matrix

    rows = [
        (float(i), round(2.5 * i + (i % 7) * 0.125 * 8, 3) / 1.0, float((i * 37) % 11))
        for i in range(200)
    ]
    # keep everything representable at 3 decimal places
    rows = [(a, round(b, 3), c) for a, b, c in rows]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in correlation_matrix(df, ["x", "y", "z"]).collect()
    }
    m = np.corrcoef(np.array(rows).T)
    assert abs(got[("x", "y")] - m[0, 1]) < 1e-6
    assert abs(got[("x", "z")] - m[0, 2]) < 1e-6
    assert abs(got[("y", "z")] - m[1, 2]) < 1e-6


def test_psi_drift_detects_planted_shift(spark):
    """Identical halves give PSI ~ 0; a planted mean shift pushes the
    index past the 0.25 'distribution shifted' line."""
    from datasheet_etl_spark.operators.profile import psi_drift

    same = spark.createDataFrame(
        [(i, 100 + (i % 300)) for i in range(600)], "id long, v long"
    )
    psi_same = (
        psi_drift(same, same, "v", bucket_width=100)
        .agg(F.sum("psi").alias("s"))
        .first()["s"]
    )
    assert abs(psi_same) < 1e-9

    shifted = spark.createDataFrame(
        [(i, 500 + (i % 300)) for i in range(600)], "id long, v long"
    )
    psi_shift = (
        psi_drift(same, shifted, "v", bucket_width=100)
        .agg(F.sum("psi").alias("s"))
        .first()["s"]
    )
    assert psi_shift > 0.25, psi_shift


def test_psi_drift_ignores_nulls(spark):
    """NULL measurements must not count as bucket 0: a side with many
    NULLs but the same non-NULL distribution shows zero drift (greatest()
    skips NULL operands, so unfiltered NULLs would bucket to 0)."""
    from datasheet_etl_spark.operators.profile import psi_drift

    base = spark.createDataFrame(
        [(i, 100 + (i % 300)) for i in range(600)], "id long, v long"
    )
    with_nulls = base.unionByName(
        spark.createDataFrame([(10_000 + i, None) for i in range(400)], base.schema)
    )
    out = psi_drift(base, with_nulls, "v", bucket_width=100)
    psi = out.agg(F.sum("psi").alias("s")).first()["s"]
    assert abs(psi) < 1e-9, psi
    # and bucket 0 counts match exactly (no NULL inflation)
    b0 = out.filter(F.col("bucket") == 0).first()
    assert b0["n_old"] == b0["n_new"]


def test_mad_outliers_hostile_column_name(spark):
    """Column references must never re-parse as SQL text: a value column
    whose name contains spaces/quotes still resolves (the r5 f-string
    percentile would raise ParseException)."""
    from datasheet_etl_spark.operators.profile import mad_outliers

    rows = [(i, "a", float(i % 7)) for i in range(40)] + [(99, "a", 1e6)]
    for name in ("weird name's", "chars.total", "back`tick"):
        df = spark.createDataFrame(rows, ["id", "src", name])
        flagged = {r["id"] for r in mad_outliers(df, name, ["src"], k=3.0).collect()}
        assert flagged == {99}, name


def test_bm25_ranking_sanity(spark):
    """More matched terms and rarer terms score higher; non-matching
    docs are absent."""
    from datasheet_etl_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),          # all three terms
            (2, "alpha beta filler filler"),  # two terms
            (3, "alpha filler filler"),       # one common term
            (4, "filler filler filler"),      # no terms
            (5, "alpha alpha filler"),        # common term, repeated
            (6, "gamma filler filler"),       # one RARE term
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, ["alpha", "beta", "gamma"]).collect()
    }
    assert 4 not in got
    assert got[1] > got[2] > got[3]
    # gamma appears in 1 doc, alpha in 4: the rare term outweighs the
    # common one at equal tf and length
    assert got[6] > got[3]


def test_mmr_select_diversifies(spark):
    """MMR must break up a cluster of near-copies: with lam=0.5, picks
    after the first avoid the chosen item's clones even when clones
    out-rank the diverse alternative on pure relevance."""
    import math

    from datasheet_etl_spark.operators.similarity import brute_force_topk, mmr_select

    # probe at angle 0; best hit at +0.14 rad; a clone of it at +0.15;
    # a REFLECTED item at -0.15 — same relevance as the clone but far
    # from the chosen hit. Pure relevance keeps the clone pair; MMR's
    # diversity term must swap the clone for the reflection.
    def v(theta):
        return [math.cos(theta), math.sin(theta)]

    corpus = spark.createDataFrame(
        [(1, v(0.14)), (2, v(0.15)), (3, v(-0.15))],
        "vec_id long, embedding array<float>",
    )
    probes = spark.createDataFrame([(100, v(0.0))], "vec_id long, embedding array<float>")
    plain = [r["vec_id"] for r in brute_force_topk(corpus, probes, k=2).orderBy("rank").collect()]
    assert plain == [1, 2]  # pure relevance: hit + its clone (id tiebreak over 3)
    mmr = [
        r["vec_id"]
        for r in mmr_select(corpus, probes, k=2, lam=0.5, pool=3)
        .orderBy("mmr_rank")
        .collect()
    ]
    assert mmr == [1, 3], mmr  # second pick is the reflected, diverse item


def test_unigram_log_ppl_orders_quality(spark):
    """A document drawn from the reference vocabulary scores lower
    (more likely) than OOV gibberish; per-token OOV penalty is the
    smoothed floor."""
    import math

    from datasheet_etl_spark.operators.text import unigram_log_ppl

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(100, "the quick fox"), (101, "zxqv wvbn qqqq")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in unigram_log_ppl(ref, cand).collect()}
    assert got[100]["log_ppl"] < got[101]["log_ppl"]
    # gibberish: every token OOV -> exactly the smoothed floor
    total, v = 90, 8  # 10 copies x 9 tokens; 8 distinct
    floor = -math.log(1.0 / (total + v + 1.0))
    assert abs(got[101]["log_ppl"] - round(floor, 6)) < 1e-6


def test_two_stage_refined_search_recall_and_exact_scores(spark, tmp_path):
    """Quantized scan + exact re-rank, with the quantization loss
    ISOLATED: probing every cell (nprobe = k_clusters) removes IVF
    pruning from the equation, and an int4 index makes the rounding
    error coarse enough to reorder rankings — so single-stage recall@10
    measurably drops (< 0.95 observed ~0.91 here) while the refined
    search, re-scoring the top-4k candidates on the full-precision
    vectors, must restore recall@10 >= 0.95 vs brute force AND return
    scores bit-equal to brute force (the refine stage's contract)."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_search_indexed,
        ivf_search_refined,
        write_ivf_index,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") < 10)
    qpath = str(tmp_path / "ivf_q4")
    write_ivf_index(emb, qpath, k_clusters=8, iters=2, quantize_bits=4)

    b_rows = brute_force_topk(emb, probes, k=10).collect()
    r_rows = ivf_search_refined(spark, qpath, probes, emb, k=10, nprobe=8).collect()
    one_rows = ivf_search_indexed(spark, qpath, probes, k=10, nprobe=8).collect()

    b_top = {(r["probe_id"], r["vec_id"]) for r in b_rows}
    r_top = {(r["probe_id"], r["vec_id"]) for r in r_rows}
    one_top = {(r["probe_id"], r["vec_id"]) for r in one_rows}
    recall_one = len(b_top & one_top) / len(b_top)
    recall_ref = len(b_top & r_top) / len(b_top)
    assert recall_ref >= 0.95, f"two-stage recall@10 too low: {recall_ref}"
    assert recall_ref > recall_one, (recall_ref, recall_one)

    b_sims = {(r["probe_id"], r["vec_id"]): r["cos_sim"] for r in b_rows}
    for r in r_rows:
        key = (r["probe_id"], r["vec_id"])
        if key in b_sims:
            assert abs(r["cos_sim"] - b_sims[key]) < 1e-9, key


def test_resample_interp_brackets_and_boundaries(spark):
    """Linear interpolation: exact value at observations, correct
    weights between them, NULL before the first observation."""
    from datasheet_etl_spark.operators.relational import resample_interp

    obs = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 3.0), (1, 40, 7.0)],
        "k long, ts long, v double",
    )
    got = {
        r["grid_sec"]: r["interp_value"]
        for r in resample_interp(obs, ["k"], "ts", "v", 5).collect()
    }
    # grid spans floor(10,5)=10 .. 40
    assert got[10] == 1.0 and got[20] == 3.0 and got[40] == 7.0  # exact obs
    assert abs(got[15] - 2.0) < 1e-12          # midpoint of (1.0, 3.0)
    assert abs(got[25] - 4.0) < 1e-12          # 20→40 slope 0.2/sec
    assert abs(got[35] - 6.0) < 1e-12
    # pre-first-observation grid point: needs a key whose min ts is not
    # already grid-aligned
    obs2 = spark.createDataFrame([(2, 13, 5.0), (2, 27, 12.0)], "k long, ts long, v double")
    got2 = {
        r["grid_sec"]: r["interp_value"]
        for r in resample_interp(obs2, ["k"], "ts", "v", 5).collect()
    }
    assert got2[10] is None                     # before first obs
    assert abs(got2[15] - (5.0 + 7.0 * 2 / 14)) < 1e-12


def test_merge_rollups_any_tree_equals_recompute(spark):
    """Partial-rollup merges are associative: shard-wise merge, a
    nested merge tree, and the from-scratch rollup all agree exactly
    (decimal sums make merge order irrelevant)."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.relational import (
        merge_rollups,
        partial_rollup,
    )

    docs = load_table(spark, SF_ORACLE, "documents")
    keys = ["source"]
    parts = [
        partial_rollup(docs.filter(F.col("doc_id") % 3 == i), keys, "n_chars")
        for i in range(3)
    ]
    flat = merge_rollups(parts, keys)
    nested = merge_rollups([merge_rollups(parts[:2], keys), parts[2]], keys)
    scratch = partial_rollup(docs, keys, "n_chars")

    def norm(df):
        return {
            r["source"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"])
            for r in df.collect()
        }

    assert norm(flat) == norm(nested) == norm(scratch)


def test_resample_interp_null_values_are_not_observations(spark):
    """A NULL-valued observation must not anchor a bracket: with
    (10, 1.0), (20, NULL), (30, 3.0), grid 20 interpolates between the
    REAL neighbors (value 2.0), never 'exactly 1.0 at t=20'."""
    from datasheet_etl_spark.operators.relational import resample_interp

    obs = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, None), (1, 30, 3.0)],
        "k long, ts long, v double",
    )
    got = {
        r["grid_sec"]: r["interp_value"]
        for r in resample_interp(obs, ["k"], "ts", "v", 10).collect()
    }
    assert got[10] == 1.0 and got[30] == 3.0
    assert abs(got[20] - 2.0) < 1e-12, got


def test_ivf_cell_report_flags_append_drift(spark, tmp_path):
    """The retrain monitor: after appending a skewed batch (every new
    vector lands in one cell), that cell's imbalance_x must dominate,
    and shares must sum to 1."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_cell_report,
        read_ivf_centroids,
        write_ivf_index,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, k_clusters=8, iters=2)
    base = ivf_cell_report(spark, path)
    assert abs(sum(r["share"] for r in base.collect()) - 1.0) < 1e-6

    # skewed append: clones of one existing vector -> one cell grows
    import numpy as np

    cent = read_ivf_centroids(spark, path)
    hot_vec = [float(x) for x in cent[0]]  # dead-center of cell 0
    n_new = emb.count()  # double the corpus into one cell
    skewed = spark.createDataFrame(
        [(10_000 + i, hot_vec) for i in range(n_new)],
        "vec_id long, embedding array<double>",
    )
    append_to_ivf_index(spark, path, skewed)
    after = ivf_cell_report(spark, path)
    top = after.first()
    assert top["imbalance_x"] > 3.0, after.collect()
    assert abs(sum(r["share"] for r in after.collect()) - 1.0) < 1e-6


def test_semantic_dedup_max_cell_bounds_work(spark):
    """The SemDeDup skew guard: a 30-clone hot cell with max_cell=10
    splits into 3 independent sub-cells (3 survivors — the documented
    recall tradeoff for a bounded matmul), while max_cell=None keeps
    exactly one; vectors in other cells are untouched either way."""
    from datasheet_etl_spark.operators.similarity import semantic_dedup

    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    rows = [(i, 0, v) for i in range(30)] + [(100, 1, w)]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")

    full = semantic_dedup(emb, threshold=0.9)
    kept_full = {r["vec_id"] for r in full.collect() if r["kept"]}
    assert kept_full == {0, 100}

    capped = semantic_dedup(emb, threshold=0.9, max_cell=10)
    rows_c = capped.collect()
    kept_c = {r["vec_id"] for r in rows_c if r["kept"]}
    assert 100 in kept_c
    hot_kept = kept_c - {100}
    assert len(hot_kept) == 3, kept_c  # one survivor per sub-cell
    assert len(rows_c) == 31  # every input row still reported


def test_semantic_dedup_max_cell_keeps_null_cells(spark):
    """NULL cell values must survive the max_cell split path (a count
    JOIN on the cell column would silently drop them)."""
    from datasheet_etl_spark.operators.similarity import semantic_dedup

    v = [1.0, 0.0]
    rows = [(1, None, v), (2, None, v), (3, 0, v)]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = semantic_dedup(emb, threshold=0.9, max_cell=10).collect()
    assert len(out) == 3
    kept = {r["vec_id"] for r in out if r["kept"]}
    assert kept == {1, 3}  # NULL cell prunes within itself, not vs cell 0


def test_scale_features_bounds_and_constant_dim(spark):
    """Every scaled dimension spans exactly [0, 1] over the corpus
    (min-max by construction), and a constant dimension maps to 0.5
    instead of dividing by its zero width."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.similarity import (
        feature_frame,
        scale_features,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 7.0, float(10 - i)]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    lo, hi = feature_frame(df, "embedding")
    assert lo == [0.0, 7.0, 6.0] and hi == [4.0, 7.0, 10.0]
    scaled = scale_features(df, "embedding", lo, hi)
    rows = (
        scaled.select(F.posexplode("scaled").alias("dim", "s"))
        .groupBy("dim")
        .agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
        .orderBy("dim")
        .collect()
    )
    assert [(r["mn"], r["mx"]) for r in rows] == [
        (0.0, 1.0),
        (0.5, 0.5),  # constant dim → 0.5, no zero-width division
        (0.0, 1.0),
    ]


def test_feature_frame_rejects_ragged_and_empty(spark):
    """Ragged embeddings fail loudly at the frame (dim 1 populated by
    only one of two rows → per-dim counts differ), an all-empty column
    fails loudly too, and an array that disagrees with the frame at
    scale time raises at row level instead of NULL-poisoning."""
    import pytest

    from datasheet_etl_spark.operators.similarity import (
        feature_frame,
        scale_features,
    )

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="ragged"):
        feature_frame(ragged, "embedding")

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no non-empty arrays"):
        feature_frame(empty, "embedding")

    # frame from a clean corpus, applied to a mismatched corpus → loud
    ok = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "vec_id long, embedding array<float>"
    )
    lo, hi = feature_frame(ok, "embedding")
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        scale_features(ragged, "embedding", lo, hi).collect()


def test_substring_overlap_planted_span(spark):
    """t92's operator contract on planted data: a 50-token verbatim span
    shared by two otherwise-disjoint docs is found with its EXACT length;
    token-identical-but-reordered docs (same multiset, no shared 8-gram)
    are NOT matched; and a pair whose only common gram is corpus-wide
    boilerplate is dropped by the cap (the documented recall tradeoff)."""
    from datasheet_etl_spark.operators.dedup import substring_overlap_pairs

    span = [f"shared{c}{d}" for c in "abcdefghij" for d in "abcde"]  # 50
    filler_a = [f"fillerx{c}{d}" for c in "abcdef" for d in "abcde"]  # 30
    filler_b = [f"fillery{c}{d}" for c in "abcdef" for d in "abcde"]  # 30
    doc1 = " ".join(filler_a + span)
    doc2 = " ".join(span + filler_b)
    doc3 = " ".join(reversed((filler_a + span)))  # same multiset as doc1
    rows = [(1, doc1), (2, doc2), (3, doc3)]
    # boilerplate family: 70 docs sharing one 8-token prefix (over the
    # 64-occurrence cap), each with a unique tail
    boiler = " ".join(f"boiler{c}" for c in "abcdefgh")
    rows += [  # letter-only tails: the tokenizer strips digits
        (100 + i, f"{boiler} tail{chr(97 + i // 26)}{chr(97 + i % 26)}")
        for i in range(70)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"]): (r["n_shared_grams"], r["max_span_tokens"])
        for r in substring_overlap_pairs(
            docs, "doc_id", "text", k=8, max_gram_rows=64
        ).collect()
    }
    # exactly one pair: the planted span, at its exact length
    assert set(got) == {(1, 2)}, got
    n_grams, span_len = got[(1, 2)]
    assert span_len == 50
    assert n_grams == 50 - 8 + 1  # every gram inside the span, no more

    # sanity: without the cap the boilerplate family would have matched
    uncapped = substring_overlap_pairs(
        docs, "doc_id", "text", k=8, max_gram_rows=None
    )
    assert uncapped.filter(F.col("id_a") >= 100).count() > 0


def test_substring_dedup_corpus_planted_clusters(spark):
    """t94's operator contract on planted data (VERDICT r8 #3: the
    dedup must remove the planted duplicates and NOTHING else). Docs
    1-2-3 chain through shared 30-token spans (1~2 and 2~3 share
    different spans, 1 and 3 share none) — transitivity must put all
    three in ONE cluster keeping only doc 1; doc 4 shares a span
    shorter than min_span_tokens (kept — below the gate); doc 5 is
    unrelated (kept, singleton)."""
    from datasheet_etl_spark.operators.dedup import substring_dedup_corpus

    span_ab = [f"alpha{c}{d}" for c in "abcdef" for d in "abcde"]  # 30
    span_bc = [f"bravo{c}{d}" for c in "abcdef" for d in "abcde"]  # 30
    short = [f"tiny{c}" for c in "abcdefghij"]  # 10 tokens: >= k, < 20
    fill = lambda tag, n: [f"{tag}{c}{d}" for c in "abcdefghij" for d in "abcde"][:n]
    rows = [
        (1, " ".join(fill("one", 20) + span_ab)),
        (2, " ".join(span_ab + fill("two", 20) + span_bc)),
        (3, " ".join(span_bc + fill("three", 20))),
        (4, " ".join(fill("four", 20) + short)),
        (5, " ".join(short + fill("five", 20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        r["doc_id"]: (r["cluster_rep"], r["cluster_size"], r["kept"])
        for r in substring_dedup_corpus(
            docs, "doc_id", "text", k=8, max_gram_rows=64, min_span_tokens=20
        ).collect()
    }
    assert len(got) == 5
    # the transitive chain collapses to one cluster, rep = min id
    assert got[1] == (1, 3, True)
    assert got[2] == (1, 3, False)
    assert got[3] == (1, 3, False)
    # the 10-token overlap (4~5) is below the 20-token gate: both kept,
    # singleton clusters — dedup removed the planted chain and NOTHING else
    assert got[4] == (4, 1, True)
    assert got[5] == (5, 1, True)

    # with the gate at the k floor the 4~5 pair becomes an edge too
    loose = {
        r["doc_id"]: r["kept"]
        for r in substring_dedup_corpus(
            docs, "doc_id", "text", k=8, max_gram_rows=64, min_span_tokens=None
        ).collect()
    }
    assert loose == {1: True, 2: False, 3: False, 4: True, 5: False}


def test_stdlib_png_gif_decode_runs_here(spark, docs):
    """VERDICT r8 #4: the ok/decode_error arms of the real decode path
    must execute in THIS environment (no PIL). PNG and GIF size via
    stdlib struct parse; a matching magic with a corrupt header is a
    deterministic decode_error (fake-geometry fallback), and the
    extract_features stage grades the same arms in-pipeline over
    synth_png_media's payloads."""
    import struct

    from datasheet_etl_spark.operators.multimodal import (
        _decode_meta,
        decode_media,
        extract_features,
        fake_decode_meta,
        synth_png_media,
    )

    png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\0" * 4
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\0"
    assert decode_media(png) == (640, 480)
    assert decode_media(gif) == (320, 200)
    assert _decode_meta(png) == (640, 480, 1, "ok")
    assert _decode_meta(gif) == (320, 200, 1, "ok")

    # magic matches, header truncated → decode_error with the
    # deterministic fake geometry, never an exception out of the batch
    bad = b"\x89PNG\r\n\x1a\n" + b"TRUNC"
    w, h, f = fake_decode_meta(bad)
    assert _decode_meta(bad) == (w, h, f, "decode_error")
    # zero-dimension PNG is malformed too
    zero = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 0, 480) + b"\x08\x02\x00\x00\x00" + b"\0" * 4
    )
    assert _decode_meta(zero)[3] == "decode_error"

    # in-pipeline: synth_png_media → extract_features grades both arms
    feats = extract_features(synth_png_media(docs.limit(30))).collect()
    by_status = {}
    for r in feats:
        by_status.setdefault(r["decode_status"], []).append(r)
    assert set(by_status) == {"ok", "decode_error"}
    for r in by_status["ok"]:
        assert r["width"] == 16 + r["media_id"] % 320
        assert r["height"] == 16 + (r["media_id"] * 7) % 200
        assert r["n_bytes"] == 33
    for r in by_status["decode_error"]:
        assert r["media_id"] % 7 == 0 and r["n_bytes"] == 13


def test_excise_overlap_spans_planted(spark):
    """t95's operator contract: the planted shared span is cut from the
    HIGHER-id doc only — exactly those tokens, nothing else — the
    lower-id doc keeps its copy verbatim, unrelated docs pass through
    untouched, and overlapping intervals from two different partners
    remove each double-covered token once."""
    from datasheet_etl_spark.operators.dedup import excise_overlap_spans

    span = [f"shared{c}{d}" for c in "abcde" for d in "abcde"]  # 25 tokens
    fill_a = [f"afill{c}" for c in "abcdefghij"]
    fill_b = [f"bfill{c}" for c in "abcdefghij"]
    # doc 3 shares span[:20] with doc 1/2 AND span[5:] with them too —
    # via docs 1 and 2 both carrying the full span, doc 3's intervals
    # from the two partners coincide; tokens must be removed once
    rows = [
        (1, " ".join(fill_a + span)),
        (2, " ".join(span + fill_b)),
        (3, " ".join(list(span) + [f"cfill{c}" for c in "abcdefghij"])),
        (9, " ".join(f"lonely{c}{d}" for c in "abcd" for d in "abcdefgh")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in excise_overlap_spans(
            docs, "doc_id", "text", k=8, max_gram_rows=64, min_span_tokens=20
        ).collect()
    }
    assert len(got) == 4
    # doc 1 (lowest id in every pair) keeps everything
    assert got[1]["n_removed"] == 0
    assert got[1]["text_excised"] == " ".join(fill_a + span)
    # doc 2: the 25 shared tokens cut, fillers intact in order
    assert got[2]["n_removed"] == 25
    assert got[2]["text_excised"] == " ".join(fill_b)
    # doc 3: span covered by BOTH partners (1 and 2) — removed once
    assert got[3]["n_removed"] == 25
    assert got[3]["text_excised"] == " ".join(f"cfill{c}" for c in "abcdefghij")
    # unrelated doc untouched
    assert got[9]["n_removed"] == 0 and got[9]["n_tokens"] == 32


def test_dsir_select_prefers_target_like_docs(spark):
    """t96's operator contract: pool docs built from target-domain
    vocabulary must outrank pool docs built from pool-generic
    vocabulary — and the selection is exactly the k requested, ranks
    dense 1..k on distinct ids."""
    from datasheet_etl_spark.operators.text import dsir_select

    tgt_words = [f"medical{c}" for c in "abcdefghij"]
    gen_words = [f"chatter{c}" for c in "abcdefghij"]
    target = spark.createDataFrame(
        [(100 + i, " ".join(tgt_words)) for i in range(5)],
        "doc_id long, text string",
    )
    raw_rows = [(i, " ".join(tgt_words * 3)) for i in range(3)]  # target-like
    raw_rows += [(10 + i, " ".join(gen_words * 3)) for i in range(6)]  # generic
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")

    got = {r["doc_id"]: r for r in dsir_select(target, raw, k=3).collect()}
    assert len(got) == 9
    selected = {d for d, r in got.items() if r["selected"]}
    assert selected == {0, 1, 2}, selected
    assert sorted(got[d]["rank"] for d in selected) == [1, 2, 3]
    assert all(got[d]["rank"] is None for d in got if d not in selected)
    # target-like docs carry strictly higher importance than generic
    assert min(got[d]["avg_log_w"] for d in selected) > max(
        got[d]["avg_log_w"] for d in got if d not in selected
    )


def test_training_shard_plan_properties(spark):
    """t97's composition contract: per-source selection counts equal
    the temperature formula; (shard, pos) is dense per shard; bins
    chunk the epoch stream contiguously (offsets cumulative in pos,
    bin = offset div budget); and the whole plan is partitioning-
    independent (same result after a repartition)."""
    import math

    from datasheet_etl_spark.plans.sql_extra import t97_training_shard_plan
    from tests.conftest import SF_ORACLE

    rows = t97_training_shard_plan(spark, SF_ORACLE).collect()
    from datasheet_etl_spark.io import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    n_by_source = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    got_by_source: dict = {}
    for r in rows:
        got_by_source[r["source"]] = got_by_source.get(r["source"], 0) + 1
    for s, n in n_by_source.items():
        assert got_by_source.get(s, 0) == min(n, math.ceil(2.0 * math.sqrt(n)))
    # dense pos per shard; offsets cumulative; bin arithmetic exact
    chars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, items in by_shard.items():
        items.sort(key=lambda r: r["pos"])
        assert [r["pos"] for r in items] == list(range(1, len(items) + 1))
        off = 0
        for r in items:
            assert r["bin_offset"] == off
            assert r["bin_id"] == off // 4096
            off += chars[r["doc_id"]]


def test_gram_index_probe_finds_cross_set_spans(spark, tmp_path):
    """t98's operator contract: a span shared between an INDEXED doc
    and a probe-batch doc is found from the stored postings with its
    exact length; probe docs with no indexed overlap are absent; and
    the probe result equals what a from-scratch cross-set run of the
    batch operator would say (index at rest loses nothing)."""
    from datasheet_etl_spark.operators.dedup import (
        probe_gram_index,
        substring_overlap_pairs,
        write_gram_index,
    )

    span = [f"common{c}{d}" for c in "abcd" for d in "abcde"]  # 20 tokens
    old = spark.createDataFrame(
        [(1, " ".join([f"oldfill{c}" for c in "abcdefghij"] + span)),
         (2, " ".join(f"oldsolo{c}{d}" for c in "abc" for d in "abcdefgh"))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(11, " ".join(span + [f"newfill{c}" for c in "abcdefghij"])),
         (12, " ".join(f"newsolo{c}{d}" for c in "abc" for d in "abcdefgh"))],
        "doc_id long, text string",
    )
    path = str(tmp_path / "gram_index")
    write_gram_index(old, path)
    got = {
        (r["id_a"], r["id_b"]): (r["n_shared_grams"], r["max_span_tokens"])
        for r in probe_gram_index(spark, path, new).collect()
    }
    assert got == {(1, 11): (20 - 8 + 1, 20)}

    # parity with the from-scratch batch run restricted to cross-set
    # pairs (ids were chosen so indexed < new)
    scratch = {
        (r["id_a"], r["id_b"]): (r["n_shared_grams"], r["max_span_tokens"])
        for r in substring_overlap_pairs(old.unionByName(new)).collect()
        if r["id_a"] <= 2 and r["id_b"] >= 11
    }
    assert got == scratch

    # review-found (r9): a probe with a different gram recipe builds
    # keys that can never match the stored ones — it must REFUSE via
    # the persisted _meta, not silently report 'no duplicates'
    with pytest.raises(ValueError, match="written with k=8"):
        probe_gram_index(spark, path, new, k=10)
    with pytest.raises(ValueError, match="max_gram_rows"):
        probe_gram_index(spark, path, new, max_gram_rows=None)

    # r15 optimization seam: a caller that precomputed the probe batch's
    # postings (the streaming maintainer, which reuses them for the
    # index append) must get the identical result through postings=
    from datasheet_etl_spark.operators.dedup import (
        _positioned_gram_postings,
    )

    _, g = _positioned_gram_postings(
        new, "doc_id", "text", 8, 64, persist_postings=False
    )
    g = g.persist()
    try:
        via_postings = {
            (r["id_a"], r["id_b"]): (r["n_shared_grams"], r["max_span_tokens"])
            for r in probe_gram_index(
                spark, path, new, dedupe_postings=True,
                persist_postings=False, postings=g,
            ).collect()
        }
    finally:
        g.unpersist()
    assert via_postings == got


def test_pack_in_order_handles_tied_order_keys(spark):
    """Review-found (r9): the packing window must use a ROWS frame —
    the default RANGE frame includes ORDER BY peers, so tied order
    keys would double-count each other's cost and corrupt offsets."""
    from datasheet_etl_spark.operators.sampling import pack_in_order

    # order by pos ALONE with a genuine tie (the two pos=2 rows are
    # RANGE-frame peers; equal costs make the offsets independent of
    # which peer the engine enumerates first)
    rows = [("s", 1, 10, 60), ("s", 2, 20, 60), ("s", 2, 30, 60), ("s", 3, 40, 60)]
    df = spark.createDataFrame(rows, "shard string, pos int, doc int, cost long")
    out = pack_in_order(df, "cost", 100, order_cols=("pos",)).collect()
    # ROWS frame: offsets strictly cumulative 0,60,120,180 (bins
    # 0,0,1,1); the default RANGE frame would give BOTH tied rows
    # offset 120 → [0,120,120,180] and a lost bin boundary
    assert sorted(r["bin_offset"] for r in out) == [0, 60, 120, 180]
    assert sorted(r["bin_id"] for r in out) == [0, 0, 1, 1]


def test_png_oversized_dimensions_are_decode_error(spark):
    """Review-found (r9): an unsigned IHDR width/height above the PNG
    spec's 2^31-1 cap must be decode_error, never 'ok' with geometry
    that overflows the int32 feature columns."""
    import struct

    from datasheet_etl_spark.operators.multimodal import _decode_meta

    huge = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 0xFFFFFFFF, 480)
        + b"\x08\x02\x00\x00\x00" + b"\0" * 4
    )
    assert _decode_meta(huge)[3] == "decode_error"
    ok = (
        b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", 0x7FFFFFFF, 480)
        + b"\x08\x02\x00\x00\x00" + b"\0" * 4
    )
    assert _decode_meta(ok) == (0x7FFFFFFF, 480, 1, "ok")


def test_substring_overlap_matches_bruteforce_lcs(spark):
    """Exactness of the whole islands pipeline against an independent
    reference: on seeded random docs over a tiny vocabulary (so shared
    grams are dense), every pair's max_span_tokens must equal the
    token-level longest-common-substring computed by O(n·m) dynamic
    programming, and pairs below k must be absent — uncapped, so the
    comparison is exact."""
    import random

    from datasheet_etl_spark.operators.dedup import substring_overlap_pairs

    rng = random.Random(42)
    # letter-only vocabulary: the tokenizer splits on [^a-z]+, so a
    # digit-bearing word like "w10" would collapse to "w" and alias
    # every word together
    vocab = [f"w{chr(97 + i)}{chr(97 + i)}" for i in range(12)]
    docs_py = {
        i: [rng.choice(vocab) for _ in range(rng.randint(10, 40))]
        for i in range(24)
    }
    # plant a couple of long verbatim spans so the >= k band is hit too
    span = [rng.choice(vocab) for _ in range(15)]
    docs_py[100] = docs_py[0][:5] + span
    docs_py[101] = span + docs_py[1][:5]

    def lcs_tokens(a, b):
        best, prev = 0, [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                if x == y:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    expected = {}
    ids = sorted(docs_py)
    for i_pos, i in enumerate(ids):
        for j in ids[i_pos + 1:]:
            L = lcs_tokens(docs_py[i], docs_py[j])
            if L >= 8:
                expected[(i, j)] = L

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs_py.items()],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["max_span_tokens"]
        for r in substring_overlap_pairs(
            df, "doc_id", "text", k=8, max_gram_rows=None
        ).collect()
    }
    assert got == expected, {
        "missing": {k: v for k, v in expected.items() if k not in got},
        "extra": {k: v for k, v in got.items() if k not in expected},
        "wrong": {
            k: (got[k], expected[k])
            for k in got.keys() & expected.keys()
            if got[k] != expected[k]
        },
    }


def test_r9_ops_partitioning_invariant(spark):
    """The r9 operators' determinism claims, actually exercised: the
    same input under a different physical layout (repartition) must
    produce IDENTICAL selections, orders, and offsets — every decision
    is md5/decimal-derived, never layout-dependent."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.sampling import epoch_shuffle, pack_in_order
    from datasheet_etl_spark.operators.text import dsir_select
    from tests.conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    tgt = F.col("source").isin("src1", "src2")

    def dsir(df):
        return sorted(
            map(
                tuple,
                dsir_select(df.filter(tgt), df.filter(~tgt), k=20).collect(),
            )
        )

    assert dsir(docs) == dsir(docs.repartition(13))

    def plan(df):
        shuf = epoch_shuffle(
            df.select("doc_id", "n_chars"), "doc_id", epoch=2, shard_hex_chars=1
        )
        return sorted(
            map(
                tuple,
                pack_in_order(shuf, "n_chars", 2048).select(
                    "doc_id", "shard", "pos", "bin_id", "bin_offset"
                ).collect(),
            )
        )

    assert plan(docs) == plan(docs.repartition(7))


def test_packers_reject_nonpositive_budget(spark):
    """ADVICE-found (r9): budget=0 made `off div 0` yield NULL bin ids
    silently; all three packers must refuse loudly instead."""
    import pytest as _pytest

    from datasheet_etl_spark.operators.sampling import (
        pack_in_order,
        pack_sequences,
        pack_sequences_nosplit,
    )

    df = spark.createDataFrame(
        [("s", 1, "a", 10)], "shard string, pos int, k string, cost long"
    )
    for bad in (0, -5):
        with _pytest.raises(ValueError, match="budget must be > 0"):
            pack_in_order(df, "cost", bad)
        with _pytest.raises(ValueError, match="budget must be > 0"):
            pack_sequences(df, "k", "cost", bad)
        with _pytest.raises(ValueError, match="budget must be > 0"):
            pack_sequences_nosplit(df, "k", "cost", bad)


def test_frequent_ngrams_planted(spark):
    """t100's audit table: a 5-gram planted in three docs (twice in one)
    must rank first with exact occurrence and doc-frequency counts;
    grams below min_count never appear; ranks follow the total order
    (occurrences desc, gram asc)."""
    from datasheet_etl_spark.operators.text import frequent_ngrams

    boiler = "alpha beta gamma delta epsilon"  # the planted 5-gram
    docs = spark.createDataFrame(
        [
            (1, boiler + " one filler words here " + boiler),  # twice
            (2, "lead in tokens " + boiler + " tail"),
            (3, boiler),
            (4, "completely different unshared text tokens"),
        ],
        "doc_id long, text string",
    )
    out = frequent_ngrams(docs, n=5, top_k=10, min_count=2).collect()
    assert out, "planted gram not found"
    top = out[0]
    assert top["rank"] == 1
    assert top["gram"] == boiler
    assert top["n_occurrences"] == 4  # 2 + 1 + 1
    assert top["n_docs"] == 3
    # every returned gram meets min_count; ranks are dense from 1 in
    # the (occurrences desc, gram asc) total order
    assert all(r["n_occurrences"] >= 2 for r in out)
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    ordered = sorted(out, key=lambda r: (-r["n_occurrences"], r["gram"]))
    assert [r["gram"] for r in out] == [r["gram"] for r in ordered]
    # doc 4's unshared grams (count 1) are below min_count
    assert not any("unshared" in r["gram"] for r in out)


def test_compression_signal_parity(spark):
    """t102's rows-only pin: raw/comp lengths and the flag must equal a
    direct python-zlib recomputation EXACTLY (same interpreter, same
    zlib build — the strongest check available given no SQL engine can
    re-derive compressed lengths; that impossibility is the entry's
    documented reason for having no DuckDB oracle)."""
    import zlib

    from datasheet_etl_spark.operators.text import compression_signal

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 3),
            (2, "spam " * 400),  # template soup → too_repetitive
            (3, ""),  # empty → null ratio, flag False
            (4, None),  # null text behaves as empty
            (5, "entropy zq xv jk wm pb fd gh rt yu io"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in compression_signal(docs).collect()}
    for doc_id, text in [
        (1, "the quick brown fox jumps over the lazy dog " * 3),
        (2, "spam " * 400),
        (3, ""),
        (4, ""),
        (5, "entropy zq xv jk wm pb fd gh rt yu io"),
    ]:
        b = text.encode("utf-8")
        r = got[doc_id]
        assert r["raw_len"] == len(b)
        assert r["comp_len"] == len(zlib.compress(b, 6))
        if len(b) == 0:
            assert r["ratio"] is None and r["too_repetitive"] is False
        else:
            expect = round(len(zlib.compress(b, 6)) / len(b), 6)
            assert abs(r["ratio"] - expect) < 1e-12
            assert r["too_repetitive"] == (r["ratio"] < 0.4)
    assert got[2]["too_repetitive"] is True
    assert got[1]["too_repetitive"] is False


def test_excision_impact_report_arithmetic(spark):
    """t101's rollup (``dedup.excision_impact`` — the one definition
    behind the oracle entry AND the audit CLI) over a planted overlap:
    the higher-id doc of the pair loses exactly the shared span's
    tokens; untouched sources report zero removal and a NULL-safe
    fraction; a sourceless corpus rolls into one 'all' bucket."""
    from datasheet_etl_spark.operators.dedup import excision_impact

    span = " ".join(f"sh{c}{d}" for c in "abcde" for d in "abcde")  # 25
    fill = lambda tag: " ".join(f"{tag}{c}" for c in "abcdefghij")  # 10
    docs = spark.createDataFrame(
        [
            (1, fill("one") + " " + span, "srcA"),
            (2, span + " " + fill("two"), "srcA"),
            (3, fill("solo"), "srcB"),
        ],
        "doc_id long, text string, source string",
    )
    rep = {
        r["source"]: r
        for r in excision_impact(docs, min_span_tokens=20).collect()
    }
    a, b = rep["srcA"], rep["srcB"]
    assert (a["n_docs"], a["n_docs_excised"]) == (2, 1)
    assert a["total_tokens"] == 70 and a["tokens_removed"] == 25
    assert abs(a["pct_removed"] - round(25 / 70, 6)) < 1e-12
    assert (b["n_docs"], b["n_docs_excised"]) == (1, 0)
    assert b["tokens_removed"] == 0 and b["pct_removed"] == 0.0
    # sourceless corpus → one "all" bucket
    allrep = excision_impact(
        docs.select("doc_id", "text"), min_span_tokens=20
    ).collect()
    assert len(allrep) == 1 and allrep[0]["source"] == "all"
    assert allrep[0]["tokens_removed"] == 25


def test_frequent_ngrams_hashed_equals_string_path(spark):
    """The hashed (100 TB-shape) audit must be row-identical to the
    string path — including ranks through a planted TIE at the top-k
    boundary, which the value-derived threshold must keep alive for
    the gram-asc tie-break rather than cutting arbitrarily on keys."""
    from datasheet_etl_spark.operators.text import (
        frequent_ngrams,
        frequent_ngrams_hashed,
    )

    a = "alpha beta gamma delta epsilon"
    b = "zulu yankee xray whiskey victor"
    c = "one two three four five"
    docs = spark.createDataFrame(
        [
            (1, a + " filler " + a),  # a: 2 occurrences
            (2, b + " pad tokens here then " + c),  # b:1, c:1
            (3, b),  # b: 2 total — TIES a at the k=2 boundary
            (4, c),  # c: 2 total — three grams tied at 2
            (5, "unique singleton words only appearing here once"),
        ],
        "doc_id long, text string",
    )
    # k=2 with three grams at n_occurrences=2: the boundary tie must
    # resolve by gram asc in BOTH paths
    for k in (2, 10):
        want = [
            tuple(r)
            for r in frequent_ngrams(docs, n=5, top_k=k, min_count=2).collect()
        ]
        got = [
            tuple(r)
            for r in frequent_ngrams_hashed(
                docs, n=5, top_k=k, min_count=2
            ).collect()
        ]
        assert got == want, f"top_k={k}: {got} != {want}"
        assert len(want) == min(k, 3)
    # empty-above-floor corpus: both paths return nothing
    empty = docs.filter("doc_id = 5")
    assert frequent_ngrams_hashed(empty, n=5, top_k=5).count() == 0


def test_ngram_partials_merge_equals_from_scratch(spark):
    """t106's contract pinned distribution-independently: doc-disjoint
    partials merged in ANY order equal the from-scratch audit exactly
    (both counts additive), and a gram below min_count in every shard
    but above it merged is KEPT — the reason partials must stay
    unpruned."""
    from datasheet_etl_spark.operators.text import (
        frequent_ngram_partials,
        frequent_ngrams,
        merge_ngram_partials,
    )

    boiler = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, boiler + " one filler words here"),
            (2, "lead in tokens " + boiler),
            (3, boiler + " tail words trail off"),
            (4, "completely different unshared text tokens"),
        ],
        "doc_id long, text string",
    )
    scratch = [tuple(r) for r in frequent_ngrams(docs, top_k=20).collect()]
    shards = [
        frequent_ngram_partials(docs.filter(f"doc_id % 3 = {i}"))
        for i in range(3)
    ]
    for order in (shards, shards[::-1]):
        merged = [
            tuple(r)
            for r in merge_ngram_partials(order, top_k=20).collect()
        ]
        assert merged == scratch
    # the planted gram appears ONCE per shard (docs 1/2/3 land in
    # different doc_id%3 shards) — below min_count=2 everywhere, kept
    # only because partials are unpruned
    assert any(r[1] == boiler and r[2] == 3 for r in scratch)


def test_keyword_extract_rational_score_and_ties(spark):
    """t109's operator: tf/df scoring is exact, per-doc top-k honors
    the (score desc, term asc) total order through ties, empty docs
    vanish, and top_k is validated."""
    import pytest as _pytest

    from datasheet_etl_spark.operators.text import keyword_extract

    docs = spark.createDataFrame(
        [
            # 'rare' appears twice here and nowhere else: tf/df = 2/1
            (1, "rare rare common common common"),
            (2, "common words only common"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = keyword_extract(docs, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_doc  # empty doc contributes nothing
    d1 = by_doc[1]
    assert (d1[0]["term"], d1[0]["tf"], d1[0]["df"], d1[0]["score"]) == (
        "rare", 2, 1, 2.0
    )
    # common: tf=3, df=2 -> 1.5 ranks second
    assert (d1[1]["term"], d1[1]["score"]) == ("common", 1.5)
    # doc 2: common tf=2/df=2=1.0, only/words tf=1/df=1=1.0 — a
    # three-way tie resolved by term asc
    d2 = by_doc[2]
    assert [r["term"] for r in d2] == ["common", "only"]
    with _pytest.raises(ValueError, match="top_k"):
        keyword_extract(docs, top_k=0)


def test_arrow_udf_null_text_matches_sql_null_semantics(spark):
    """An Arrow-batched scalar UDF must map NULL to NULL, not 0 — an all-NULL-text group grades sum=NULL in both
    engines; mapping NULL to 0 would grade 0 vs NULL."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.udf(returnType=LongType(), useArrow=True)
    def vowels(s):
        if s is None:
            return None
        return sum(1 for c in s.lower() if c in "aeiou")

    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", "hello")], "src string, t string"
    )
    got = {
        r["src"]: r["s"]
        for r in df.select("src", vowels("t").alias("nv"))
        .groupBy("src").agg(F.sum("nv").alias("s")).collect()
    }
    assert got == {"a": None, "b": 2}


def test_t148_rolling_hash_is_order_sensitive_where_canon_is_not(spark):
    """t148's reason to exist beside t11/t19's canon fingerprint: a
    permuted document changes the rolling hash but not the
    sorted-token-set md5 — the two ends of the fingerprinting trade.
    Also pin the Python-model parity of the fold itself."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.text import fingerprint, rolling_hash

    df = spark.createDataFrame(
        [("alpha beta",), ("beta alpha",)], "t string"
    )
    rows = df.select(
        rolling_hash(F.col("t")).alias("rh"),
        fingerprint(F.col("t")).alias("fp"),
    ).collect()
    assert rows[0]["rh"] != rows[1]["rh"]
    assert rows[0]["fp"] == rows[1]["fp"]

    def model(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % 2147483647
        return acc

    assert rows[0]["rh"] == model("alpha beta")
    assert rows[1]["rh"] == model("beta alpha")


def test_hard_negative_mining_semantics(spark):
    """mine_hard_negatives on a hand-computable corpus: the band rule
    (pos_sim - margin <= cos < pos_sim), the different-label constraint,
    the no-positive anchor (NULL pos_sim -> all flags false), the floor
    (same-label rows survive it; cold negatives don't), and the empty
    anchor set."""
    from datasheet_etl_spark.operators.similarity import mine_hard_negatives

    # axis-aligned-ish unit vectors with engineered cosines to anchor 0
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),   # anchor, label 0
        (1, [0.9, 0.1, 0.0, 0.0], 0),   # positive: cos ~0.9939
        (2, [0.95, 0.05, 0.0, 0.0], 1), # negative above pos -> not semi-hard
        (3, [0.9, 0.2, 0.0, 0.0], 1),   # cos ~0.9762, in (pos-0.2, pos) -> semi-hard
        (4, [0.0, 1.0, 0.0, 0.0], 1),   # cos 0.0, below band AND below floor
        (5, [0.0, 0.0, 1.0, 0.0], 2),   # lone-label anchor: no positive
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = mine_hard_negatives(
        emb,
        emb.filter(F.col("vec_id").isin(0, 5)),
        k=5,
        margin=0.2,
        round_scale=6,
        floor=0.5,
    )
    by_anchor = {}
    for r in out.collect():
        by_anchor.setdefault(r["probe_id"], {})[r["vec_id"]] = r
    a0 = by_anchor[0]
    # floor=0.5 drops vec 4 (cos 0.0) from anchor 0's negatives
    assert set(a0) == {2, 3}
    assert a0[2]["cos_sim"] > a0[3]["cos_sim"]
    assert a0[2]["semi_hard"] is False  # harder than the positive
    assert a0[3]["semi_hard"] is True   # inside the band
    pos = a0[2]["pos_sim"]
    assert pos == pytest.approx(0.993884, abs=1e-6)
    assert a0[3]["pos_sim"] == pos
    # anchor 5 (lone label, all candidates orthogonal): floor=0.5 leaves
    # it NO rows at all — absent from the result, not present-with-NULLs
    assert 5 not in by_anchor
    # rerun floorless: its negatives appear with NULL pos_sim (no
    # same-label peer exists) and every semi_hard coalesces to false
    full = mine_hard_negatives(
        emb, emb.filter(F.col("vec_id") == 5), k=5, margin=0.2, round_scale=6
    ).collect()
    assert len(full) == 5
    assert all(r["pos_sim"] is None for r in full)
    assert all(r["semi_hard"] is False for r in full)
    # empty anchor frame: empty result, contract schema
    empty = mine_hard_negatives(emb, emb.filter(F.col("vec_id") < 0), k=3)
    assert empty.columns == [
        "probe_id", "vec_id", "cos_sim", "pos_sim", "semi_hard", "rank"
    ]
    assert empty.count() == 0


def test_hampel_filter_semantics(spark):
    """Planted spike on a constant baseline: MAD collapses to 0, the
    spike (and only the spike) flags, repair substitutes the rolling
    median; even-sized edge frames interpolate the two middle values."""
    from datasheet_etl_spark.operators.profile import hampel_filter

    vals = [10.0] * 4 + [100.0] + [10.0] * 4
    df = spark.createDataFrame(
        [(i, "s", float(v)) for i, v in enumerate(vals)],
        "pos long, key string, value double",
    )
    out = hampel_filter(
        df, ["key"], [F.col("pos")], half_window=2
    ).orderBy("pos")
    rows = out.collect()
    flagged = [r["pos"] for r in rows if r["is_outlier"]]
    assert flagged == [4]
    spike = rows[4]
    assert spike["med"] == 10.0 and spike["mad"] == 0.0
    assert spike["repaired"] == 10.0
    assert all(r["repaired"] == r["value"] for r in rows if r["pos"] != 4)
    # edge frames: first row sees rows 0..2 (n=3); centered rows n=5
    assert rows[0]["n"] == 3 and rows[2]["n"] == 5
    # even-frame interpolation: n=4 -> mean of the two middle values
    df2 = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 4.0), (3, 8.0)], "pos long, value double"
    ).withColumn("key", F.lit("s"))
    r0 = (
        hampel_filter(df2, ["key"], [F.col("pos")], half_window=3)
        .filter("pos = 0")
        .collect()[0]
    )
    assert r0["n"] == 4 and r0["med"] == pytest.approx(3.0)


def test_ccnet_gate_bucket_invariants(spark):
    """Per language: ntile balances bucket sizes within 1, and the
    perplexity boundaries are monotone head <= middle <= tail."""
    from datasheet_etl_spark.plans.sql_extra import t153_ccnet_perplexity_gate

    rows = t153_ccnet_perplexity_gate(spark, SF_ORACLE).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    assert by_lang
    for lang, b in by_lang.items():
        assert set(b) == {1, 2, 3}, lang
        sizes = [b[i]["n_docs"] for i in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        assert b[1]["lp_max"] <= b[2]["lp_min"] or b[1]["lp_max"] <= b[2]["lp_max"]
        assert b[1]["lp_min"] <= b[2]["lp_min"] <= b[3]["lp_min"], lang


def test_global_rank_matches_single_partition_window(spark):
    """global_rank's two-pass offset form must equal the plain
    row_number() OVER (ORDER BY ...) on the same total order, and be
    invariant to the input's partitioning; sorted_neighborhood_pairs'
    pair set must be exactly the rank-distance-<=w pairs."""
    from pyspark.sql import Window as W

    from datasheet_etl_spark.operators.dedup import (
        global_rank,
        sorted_neighborhood_pairs,
    )

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("k"),
    )
    expected = {
        (r["doc_id"], r["rn"])
        for r in df.withColumn(
            "rn", F.row_number().over(W.orderBy("k", "doc_id"))
        ).collect()
    }
    for parts in (1, 7):
        got = {
            (r["doc_id"], r["rn"])
            for r in global_rank(
                df.repartition(parts), ["k", "doc_id"], num_partitions=5
            ).collect()
        }
        assert got == expected, f"input partitions={parts}"
    rank = {r[0]: r[1] for r in expected}
    pairs = sorted_neighborhood_pairs(df, "doc_id", "k", window=3).collect()
    got_pairs = {(r["id_a"], r["id_b"]) for r in pairs}
    want_pairs = {
        (a, b)
        for a in rank
        for b in rank
        if 0 < rank[b] - rank[a] <= 3
    }
    assert got_pairs == want_pairs
    # dist sanity: zero iff the keys are equal (md5 keys: never)
    keys = {r["doc_id"]: r["k"] for r in df.collect()}
    for r in pairs[:20]:
        same = keys[r["id_a"]] == keys[r["id_b"]]
        assert (r["dist"] == 0) == same


def test_grouped_trend_exact_and_degenerate(spark):
    """Perfect line recovers slope/intercept exactly with r2 = 1;
    slope_scale rescales only the slope; n=1 and zero-x-variance
    groups yield NULL statistics, not crashes."""
    from datasheet_etl_spark.operators.profile import grouped_trend

    rows = (
        [("a", float(x), 2.0 * x + 5.0) for x in range(10)]
        + [("b", 1.0, 7.0)]
        + [("c", 3.0, 1.0), ("c", 3.0, 9.0)]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in grouped_trend(df, ["g"], "x", "y").collect()}
    assert out["a"]["slope"] == 2.0 and out["a"]["intercept"] == 5.0
    assert out["a"]["r2"] == 1.0 and out["a"]["n"] == 10
    assert out["b"]["slope"] is None and out["b"]["r2"] is None
    assert out["c"]["slope"] is None  # zero x-variance
    scaled = {
        r["g"]: r
        for r in grouped_trend(df, ["g"], "x", "y", slope_scale=10.0).collect()
    }
    assert scaled["a"]["slope"] == 20.0 and scaled["a"]["intercept"] == 5.0


def test_token_drift_kl_nonnegative_and_directional(spark):
    """KL is non-negative for every group (Gibbs — the property the
    negative-KL alphabet-size bug violated, which the cross-engine
    oracle could NOT catch because both engines replayed it), a
    drifted group scores strictly higher than one matching the corpus
    mix, and a vocab cap below the distinct-token count routes tail
    mass through the OTHER bucket without breaking either property."""
    from datasheet_etl_spark.operators.text import token_drift_kl

    typical = "the quick brown fox jumps over the lazy dog and cat "
    drifted = "zebra quark boson lepton hadron gluon meson pion kaon "
    # typ is 90% of the corpus, so the corpus mix IS (nearly) typ's
    # distribution; drift is a small all-different minority — the
    # direction assertion needs this asymmetry (a 50/50 mixed-group
    # fixture is CLOSER to the corpus than a pure group is)
    rows = [(i, "typ", typical * 5) for i in range(36)] + [
        (i + 100, "drift", drifted * 5) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, g string, text string")
    for cap in (1000, 8):  # full vocab; cap far below distinct count
        out = {r["g"]: r for r in token_drift_kl(df, "g", vocab_top=cap).collect()}
        assert out["typ"]["kl"] >= 0.0 and out["drift"]["kl"] >= 0.0, cap
        assert out["drift"]["kl"] > out["typ"]["kl"], cap


def test_theil_sen_robust_vs_ols(spark):
    """On a clean line both agree exactly; inject one wild spike and
    OLS moves while Theil–Sen's slope stays (the 29%-contamination
    robustness the operator exists for); equal-x pairs are excluded;
    a single-point group yields n_pairs=0 and NULL slope."""
    from datasheet_etl_spark.operators.profile import (
        grouped_trend,
        theil_sen_trend,
    )

    clean = [("a", float(x), 3.0 * x + 1.0) for x in range(21)]
    # spike at the END of the x range — a spike at the x-mean has zero
    # leverage on the OLS slope (it only shifts the intercept)
    spiked = [
        ("b", float(x), 3.0 * x + 1.0 + (500.0 if x == 20 else 0.0))
        for x in range(21)
    ] + [("b", 10.0, 31.0)]  # equal-x duplicate: pair with x=10 excluded
    lone = [("c", 5.0, 2.0)]
    df = spark.createDataFrame(
        clean + spiked + lone, "g string, x double, y double"
    )
    ts = {r["g"]: r for r in theil_sen_trend(df, ["g"], "x", "y").collect()}
    ols = {r["g"]: r for r in grouped_trend(df, ["g"], "x", "y").collect()}
    assert ts["a"]["slope"] == 3.0 and ols["a"]["slope"] == 3.0
    assert ts["b"]["slope"] == 3.0          # median shrugs the spike off
    assert abs(ols["b"]["slope"] - 3.0) > 0.5  # OLS dragged
    assert ts["c"]["n_pairs"] == 0 and ts["c"]["slope"] is None
    # n_pairs for a: C(21,2); for b: C(22,2) minus the equal-x pairs
    assert ts["a"]["n_pairs"] == 210
    assert ts["b"]["n_pairs"] == 231 - 1


def test_cusum_changepoint_finds_planted_shift(spark):
    """A series with a mean shift at a known index puts cp_k at (or
    adjacent to) the shift boundary with the expected magnitude shape;
    a constant series has magnitude 0 with the earliest-k tiebreak;
    n=1 groups yield k=1, magnitude 0."""
    from datasheet_etl_spark.operators.profile import cusum_changepoint

    shifted = [("a", i, 10.0 if i <= 30 else 20.0) for i in range(1, 61)]
    flat = [("b", i, 7.5) for i in range(1, 11)]
    lone = [("c", 1, 3.0)]
    df = spark.createDataFrame(
        shifted + flat + lone, "g string, pos int, value double"
    )
    out = {
        r["g"]: r
        for r in cusum_changepoint(df, ["g"], [F.col("pos")], "value").collect()
    }
    # CUSUM of a step function peaks exactly at the last pre-shift index
    assert out["a"]["cp_k"] == 30
    # peak deviation = k*(1 - k/n)*step = 30*(1-0.5)*10 = 150
    assert out["a"]["cp_magnitude"] == 150.0
    assert out["b"]["cp_magnitude"] == 0.0 and out["b"]["cp_k"] == 1
    assert out["c"]["n"] == 1 and out["c"]["cp_magnitude"] == 0.0
