"""Text-analysis operators for corpus curation: language ID, quality
scoring, token counting, fingerprinting. All pure expressions (codegen),
all oracle-expressible, all shuffle-free per document."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datasheet_etl_spark.functions import tokens

# Tiny marker-word profiles for the n-gram/stopword language heuristic.
# (Real profiles would be larger dims loaded as a broadcast table; the
# mechanics — score per language, argmax with deterministic tiebreak —
# are the operator.)
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por"],
    "fr": ["le", "la", "les", "de", "et", "un", "est", "pour"],
    "zh": ["de", "shi", "bu", "le", "zai", "you", "wo", "ta"],
}

STOPWORDS = LANG_PROFILES["en"]


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language marker-overlap score: |tokens ∩ profile|."""
    return {
        lang: F.size(
            F.array_intersect(
                F.array_distinct(toks), F.array(*[F.lit(w) for w in profile])
            )
        )
        for lang, profile in LANG_PROFILES.items()
    }


def detect_language(toks: Column) -> Column:
    """Argmax language with deterministic tiebreak (lang code asc);
    'und' when nothing matches."""
    scores = lang_scores(toks)
    pairs = F.array(
        *[
            F.struct((-scores[lang]).alias("neg"), F.lit(lang).alias("lang"))
            for lang in sorted(scores)
        ]
    )
    best = F.array_min(pairs)
    return F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword / word-shape features."""
    t = F.coalesce(text, F.lit(""))
    toks = tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in STOPWORDS])))
    avg_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)) / n_tokens,
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)),
        "stopword_hits": n_stop,
        "avg_token_len": avg_tok_len,
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] heuristic: enough text, sane word lengths, some
    stopwords, not punctuation soup. Weights are multiples of 0.25 so
    the score is fp-stable for oracle hashing."""
    f = quality_features(text)
    long_enough = (f["n_tokens"] >= 20).cast("double") * 0.25
    sane_words = ((f["avg_token_len"] >= 3) & (f["avg_token_len"] <= 10)).cast("double") * 0.25
    has_stop = (f["stopword_hits"] >= 1).cast("double") * 0.25
    low_punct = (f["punct_ratio"] <= 0.1).cast("double") * 0.25
    return long_enough + sane_words + has_stop + low_punct


def whitespace_token_count(text: Column) -> Column:
    """Whitespace tokenizer count (split on \\s+ runs)."""
    t = F.trim(F.coalesce(text, F.lit("")))
    arr = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    return F.size(arr)


BPE_ISH_PATTERN = r"[a-z]+|[A-Z][a-z]*|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored subword proxy: letter runs, digits one-by-one,
    punctuation one-by-one — the standard pre-tokenizer regex shape.
    Counted via regexp_extract_all (JVM, no UDF)."""
    t = F.coalesce(text, F.lit(""))
    return F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_PATTERN), 0))


def fingerprint(text: Column) -> Column:
    """Document fingerprint (collision key): md5 over the sorted distinct
    token set — whitespace/punctuation/order insensitive."""
    canon = F.array_join(F.array_sort(F.array_distinct(tokens(text))), " ")
    return F.md5(canon)


def rolling_hash(text: Column, modulus: int = (1 << 31) - 1, base: int = 31) -> Column:
    """Polynomial rolling hash over characters (aggregate HOF) — the
    order-sensitive fingerprint variant."""
    chars = F.split(F.coalesce(text, F.lit("")), "")
    return F.aggregate(
        F.filter(chars, lambda c: c != ""),
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * base + F.ascii(c), F.lit(modulus)),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    len_col: str = "n_chars",
    chunk_size: int = 256,
    stride: int = 192,
) -> DataFrame:
    """Sliding-window chunking: split each document into fixed-size
    character chunks at ``stride`` offsets (stride < chunk_size →
    overlapping context windows, the standard shape for embedding /
    pretraining corpus prep).

    Pure map-side expansion — ``sequence`` + ``explode`` + ``substring``,
    all codegen'd, no shuffle; output rows per doc are bounded by
    ceil(len/stride). An empty document yields one empty chunk (start 0)
    so no document silently disappears from the chunked corpus.

    Appends: chunk_start (0-based), chunk_idx (= chunk_start / stride),
    chunk_text, chunk_len.
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError(f"chunk_size and stride must be > 0, got {chunk_size}, {stride}")
    starts = F.sequence(
        F.lit(0).cast("long"),
        F.greatest(F.col(len_col).cast("long") - 1, F.lit(0).cast("long")),
        F.lit(stride).cast("long"),
    )
    return (
        df.withColumn("chunk_start", F.explode(starts))
        .withColumn("chunk_idx", (F.col("chunk_start") / stride).cast("long"))
        .withColumn(
            "chunk_text",
            F.expr(f"substring({text_col}, chunk_start + 1, {int(chunk_size)})"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


def boilerplate_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    df_frac: float = 0.1,
) -> DataFrame:
    """Document-frequency boilerplate scoring (the C4/CCNet corpus-
    hygiene primitive): an n-gram that appears in more than ``df_frac``
    of all documents is boilerplate (navigation chrome, license
    headers, templated text); each document's score is the fraction of
    its distinct n-grams that are boilerplate. High-score docs are
    template shells worth dropping; the per-gram document-frequency
    table is the same artifact IDF weighting needs.

    Returns ``(id_col, n_grams, n_boiler, boiler_frac)`` for every doc
    (zero-gram docs report 0 / 0 / 0.0).

    Scale shape: explode per-doc DISTINCT grams (map-side), ONE
    groupBy(gram) for document frequency, the boilerplate cutoff
    compared against a lazy 1×1 corpus count (no driver action), then
    a gram-key join back and ONE groupBy(doc). The gram↔doc join reuses
    the gram hash partitioning from the frequency agg (no extra
    exchange). At 100 TB add a min-DF cutoff before the join-back (drop
    df=1 grams — the long tail is most of the postings) or probe a
    Bloom filter of boilerplate grams map-side (``dedup.GramBloom``);
    boilerplate grams themselves are few by definition (DF > f·N caps
    their count at 1/f · grams-per-doc).
    """
    from datasheet_etl_spark.operators.dedup import word_shingles

    grams = docs.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(word_shingles(tokens(F.col(text_col)), n))
        ).alias("_g"),
    )
    dfreq = (
        grams.filter(F.col("_g").isNotNull())
        .groupBy("_g")
        .agg(F.count("*").alias("_df"))
    )
    total = docs.agg(F.count("*").alias("_n_docs"))
    boiler = (
        dfreq.crossJoin(F.broadcast(total))
        .filter(F.col("_df") > F.lit(df_frac) * F.col("_n_docs"))
        .select("_g", F.lit(True).alias("_is_boiler"))
    )
    return (
        grams.join(boiler, "_g", "left")
        .groupBy(id_col)
        .agg(
            F.count("_g").alias("n_grams"),
            F.count(F.when(F.col("_is_boiler"), 1)).alias("n_boiler"),
        )
        .withColumn(
            "boiler_frac",
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("n_boiler").cast("double") / F.col("n_grams"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every matching document for a bag of query
    terms — ranked retrieval as a dataflow. Classic Robertson/Sparck
    Jones idf ``ln(1 + (N − df + 0.5)/(df + 0.5))`` with the standard
    (k1, b) saturation/length normalization.

    Scale shape: ONE tokenization pass — each document collapses
    map-side to (id, doc_length, query-term matches only), and THAT
    tiny frame (kilobytes per million docs for a normal query) is
    persisted and feeds the tf aggregate, the length join and the
    corpus stats, so the corpus text is read and tokenized exactly
    once. Shuffle volume is O(matches), not O(corpus tokens); per-term
    document frequencies and the (N, avgdl) stats broadcast back onto
    the match list. For a standing query workload, materialize the full
    postings list once (term-bucketed parquet) and reuse it — this
    operator is the ad-hoc/one-shot form. All inputs to the score are
    exact integers (tf, df, dl, N), so the double arithmetic is
    engine-reproducible.

    Returns (id, bm25) for documents matching ≥1 term, unordered —
    callers add their top-k.
    """
    from datasheet_etl_spark.caching import scoped_persist

    terms = [t.lower() for t in query_terms]
    base = scoped_persist(
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t")).select(
            id_col,
            F.size("_t").alias("_dl"),
            F.filter("_t", lambda t: t.isin(terms)).alias("_qt"),
        )
    )
    lens = base.select(id_col, "_dl")
    tf = (
        base.select(id_col, F.explode("_qt").alias("_term"))
        .groupBy(id_col, "_term")
        .agg(F.count("*").alias("_tf"))
    )
    dfc = tf.groupBy("_term").agg(F.count("*").alias("_df"))
    stats = lens.agg(
        F.count("*").alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    idf = F.log(
        1.0 + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    denom = F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
    contrib = idf * F.col("_tf") * (k1 + 1.0) / denom
    return (
        tf.join(F.broadcast(dfc), "_term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(contrib).alias("bm25"))
    )


def unigram_log_ppl(
    reference: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Language-model quality scoring, the CCNet/KenLM-style perplexity
    filter reduced to its distributable core: a unigram LM estimated on
    a REFERENCE corpus (Laplace-smoothed, so out-of-vocabulary tokens
    cost a finite, principled penalty), then every candidate document
    scored by its mean token negative log-likelihood — low = looks like
    the reference distribution, high = gibberish/boilerplate/wrong
    language. The standard corpus-curation gate between heuristic
    quality scores (``quality_score``) and a real neural LM.

    Scale shape: the vocabulary (distinct reference tokens + counts) is
    a broadcast dimension; candidate tokens explode map-side, join the
    broadcast vocab, and ONE per-doc aggregate produces the score.
    Per-token costs are cast to DECIMAL(18,9) before summing so the
    mean is independent of partitioning/aggregation order — float sums
    are not, and an order-dependent quality gate cannot be re-checked
    by any oracle.

    Returns (id, n_tokens, log_ppl) for docs with ≥1 token.
    """
    ref_toks = reference.select(
        F.explode(tokens(F.col(text_col))).alias("_t")
    )
    vocab = ref_toks.groupBy("_t").agg(F.count("*").alias("_c"))
    # totals derive from the (small) vocab aggregate — re-scanning
    # ref_toks would tokenize the reference corpus a second time
    totals = vocab.agg(
        F.sum("_c").alias("_total"),
        F.count("*").alias("_v"),
    )
    doc_toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    )
    joined = (
        doc_toks.join(F.broadcast(vocab), "_t", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "_nll",
            (
                -F.log(
                    (F.coalesce(F.col("_c"), F.lit(0)) + 1.0)
                    / (F.col("_total") + F.col("_v") + 1.0)
                )
            ).cast("decimal(18,9)"),
        )
    )
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(
            (F.sum("_nll") / F.count("*")).cast("double"), 6
        ).alias("log_ppl"),
    )


def dsir_select(
    target: DataFrame,
    raw: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, arXiv:2302.03169)
    reduced to its distributable unigram core: two Laplace-smoothed
    unigram LMs — one over the TARGET (the distribution you want more
    of) and one over the RAW candidate pool itself — and each raw doc
    scored by its mean per-token log importance weight
    ``ln p_target(t) − ln p_raw(t)``. High = looks like the target,
    low = looks like generic pool text; the top-``k`` by total weight
    are the selected continuation-pretraining slice (the paper's top-k
    heuristic; hashed-n-gram features reduce to unigrams here, the
    same reduction :func:`unigram_log_ppl` makes for the CCNet
    perplexity filter).

    Returns one row per raw doc with ≥1 token: (id, n_tokens,
    avg_log_w, rank, selected) — rank only on the k selected rows.

    Scale shape: both vocabularies are broadcast dims (distinct
    tokens + counts); raw tokens explode map-side, join the two
    broadcast vocabs, and ONE per-doc aggregate produces the score.
    Per-token log-ratios are cast to DECIMAL(18,9) before summing, so
    scores are exact and PARTITIONING-independent — the sum order can
    never change them (ties break on id). Across ENGINES the claim is
    one notch weaker: the cast rounds ``ln`` output, and libm ``ln``
    is not IEEE exactly-rounded, so a last-ulp JVM-vs-DuckDB
    difference landing exactly on a 9th-decimal rounding boundary
    could flip that digit — and, if the corpus happens to tie there,
    a top-k membership bit. No such boundary case exists in the test
    corpora; treat the oracle as exact-in-practice, not proven-exact.
    Selection
    is TakeOrdered top-k (never a global sort); ranks are assigned on
    the k collected-size rows and joined back."""
    from datasheet_etl_spark.caching import scoped_persist

    # both vocab frames feed TWO consumers each (the broadcast join and
    # their totals aggregate), and raw tokens feed rv AND the scoring
    # join — persist all three so the corpus tokenize/explode passes
    # execute ONCE (the _positioned_gram_postings discipline; tv/rv are
    # vocab-sized, raw_toks is (id, token) — a bounded multiple of the
    # corpus token count, never of the text bytes)
    tgt_toks = target.select(F.explode(tokens(F.col(text_col))).alias("_t"))
    tv = scoped_persist(tgt_toks.groupBy("_t").agg(F.count("*").alias("_tc")))
    tt = tv.agg(F.sum("_tc").alias("_ttotal"), F.count("*").alias("_tv"))
    raw_toks = scoped_persist(
        raw.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t"))
    )
    rv = scoped_persist(raw_toks.groupBy("_t").agg(F.count("*").alias("_rc")))
    rt = rv.agg(F.sum("_rc").alias("_rtotal"), F.count("*").alias("_rv"))
    lw = (
        F.log(
            (F.coalesce(F.col("_tc"), F.lit(0)) + 1.0)
            / (F.col("_ttotal") + F.col("_tv") + 1.0)
        )
        - F.log(
            (F.coalesce(F.col("_rc"), F.lit(0)) + 1.0)
            / (F.col("_rtotal") + F.col("_rv") + 1.0)
        )
    ).cast("decimal(18,9)")
    scored = (
        raw_toks.join(F.broadcast(tv), "_t", "left")
        .join(F.broadcast(rv), "_t", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .withColumn("_lw", lw)
    )
    # agg feeds BOTH the top-k selection and the final join — persist
    # it (one row per pool doc) or the entire scoring pipeline,
    # vocab joins included, executes twice
    agg = scoped_persist(
        scored.groupBy(id_col).agg(
            F.count("*").alias("n_tokens"), F.sum("_lw").alias("_s")
        )
    )
    topk = (
        agg.orderBy(F.col("_s").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            F.row_number()
            .over(
                Window.orderBy(F.col("_s").desc(), F.col(id_col))
            )
            .alias("rank"),
        )
    )
    return (
        agg.join(topk, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.round((F.col("_s") / F.col("n_tokens")).cast("double"), 6).alias(
                "avg_log_w"
            ),
            "rank",
            F.col("rank").isNotNull().alias("selected"),
        )
    )


def frequent_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    top_k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Memorization/boilerplate audit — the Lee et al. 2022 §5 "most
    duplicated n-grams" table: the corpus' most-repeated verbatim word
    n-grams with total occurrences and document frequency. Returns at
    most ``top_k`` rows (rank, gram, n_occurrences, n_docs) for grams
    with ``n_occurrences >= min_count``, ranked by occurrences desc
    then gram asc — a total order, so the cut is deterministic.

    Scale shape: grams explode map-side from ONE tokenize pass; counts
    are a two-level aggregate — (gram, doc) partials then gram — so
    both levels map-side combine and raw document text never shuffles.
    Readable gram STRINGS do shuffle (bounded: positions per doc ×
    n·avg-token bytes) — the price of an audit artifact humans read;
    hash the grams and this collapses to the substring-dedup postings
    shape.
    Selection is TakeOrdered top-k, never a global sort; ranks are
    assigned on the k collected-size rows."""
    if n < 1 or top_k < 1:
        raise ValueError(f"n and top_k must be >= 1, got n={n}, top_k={top_k}")
    return _ngram_top(
        frequent_ngram_partials(docs, id_col, text_col, n), top_k, min_count
    )


def frequent_ngram_partials(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """The MERGEABLE partial behind :func:`frequent_ngrams`: one shard's
    exact (gram, n_occurrences, n_docs) table. Occurrences are additive
    always; doc frequencies are additive when shards partition DOCS
    disjointly (the nightly-increment shape: yesterday's partial at
    rest + tonight's shard — never re-tokenize history). Merge with
    :func:`merge_ngram_partials`, which re-derives exactly the
    from-scratch audit (the ``merge_rollups`` / sketch partials
    discipline applied to the memorization audit).

    The partial is exact and UNPRUNED — a min_count floor cannot apply
    per-shard without losing cross-shard sums (a gram appearing once
    in each of 3 shards has merged count 3). Its size is O(distinct
    grams in the shard) — far below the shard's text bytes but not
    kilobytes; prune AFTER the merge, as merge_ngram_partials does."""
    grams = _doc_grams(docs, id_col, text_col, n)
    per_doc = grams.groupBy("gram", id_col).agg(F.count(F.lit(1)).alias("_c"))
    return per_doc.groupBy("gram").agg(
        F.sum("_c").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _doc_grams(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """One (id, gram) row per word-n-gram occurrence — the shared
    map-side explode behind the string and hashed audit paths: one
    tokenize pass, sequence/slice gram construction, no shuffle."""
    toked = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= n)
    return toked.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(_toks) - {n - 1}),"
                f" i -> array_join(slice(_toks, i, {n}), ' '))"
            )
        ).alias("gram"),
    )


def frequent_ngrams_hashed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    top_k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """The 100 TB shape of :func:`frequent_ngrams`, row-identical
    output: counts aggregate on 16-byte md5 gram KEYS (the substring-
    dedup postings discipline — readable gram strings never shuffle), then only the
    candidate top-k keys join back to one exemplar string.

    Three stages: (1) two-level count aggregate on ``gkey`` — both
    levels map-side combine, shuffle rows are (16B key, id)/(16B key,
    counts); (2) a value-derived cut: the k-th largest occurrence
    count is the threshold, and every key REACHING it survives, so
    boundary ties are not lost before the string tie-break; (3) a
    second map-side gram pass joined to the candidate keys (≤ top_k +
    boundary ties rows — AQE broadcasts it when small, and a
    pathological tie plateau degrades to a gkey shuffle join rather
    than a forced-broadcast failure) resolves each key to its gram,
    and the shared ``_ngram_top`` tail applies the same
    (occurrences desc, gram asc) total order — hence the same rows and
    ranks as the string path. An md5 collision would merge two grams'
    counts; at ~2^-64 per-pair odds this is the accepted risk every
    hashed postings pipeline here shares.
    """
    if n < 1 or top_k < 1:
        raise ValueError(f"n and top_k must be >= 1, got n={n}, top_k={top_k}")
    grams = _doc_grams(docs, id_col, text_col, n)
    keyed = grams.select(F.unhex(F.md5("gram")).alias("gkey"), F.col(id_col))
    per_doc = keyed.groupBy("gkey", id_col).agg(F.count(F.lit(1)).alias("_c"))
    agg = (
        per_doc.groupBy("gkey")
        .agg(
            F.sum("_c").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )
    # k-th largest count as a 1-row frame (broadcast, never collected):
    # TakeOrdered top_k then min. Empty corpus ⇒ NULL ⇒ empty result.
    kth = (
        agg.orderBy(F.col("n_occurrences").desc())
        .limit(top_k)
        .agg(F.min("n_occurrences").alias("_kth"))
    )
    cands = (
        agg.crossJoin(F.broadcast(kth))
        .filter(F.col("n_occurrences") >= F.col("_kth"))
        .drop("_kth")
    )
    # join-back: re-derive grams map-side, keep only candidate keys,
    # one exemplar per key (identical strings share a key, so min()
    # IS the gram). Join strategy deliberately left to the engine:
    # the candidate frame is top_k + boundary ties — usually tiny and
    # runtime-broadcast by AQE — but a pathological tie plateau (the
    # top_k-th count shared by millions of grams) must degrade to a
    # shuffle join on gkey, not die on a forced-broadcast size limit.
    exemplar = (
        _doc_grams(docs, id_col, text_col, n)
        .select(F.unhex(F.md5("gram")).alias("gkey"), "gram")
        .join(cands.select("gkey"), "gkey")
        .groupBy("gkey")
        .agg(F.min("gram").alias("gram"))
    )
    resolved = cands.join(exemplar, "gkey").select(
        "gram", "n_occurrences", "n_docs"
    )
    return _ngram_top(resolved, top_k, min_count)


def keyword_extract(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Per-document salient terms — the tf-idf shape with a RATIONAL
    score, ``tf / df`` (term count in the doc over document
    frequency), so cross-engine ranking is exact: both factors are
    integers and the score is one IEEE division, hence bit-identical
    in any engine, and any two terms whose rationals collapse to the
    same double tie identically everywhere and fall to the term-asc
    tie-break. (A log-idf weight ranks the same *within* a doc iff df
    ordering agrees, but its libm values are not exactly rounded —
    the t63/dsir lesson — so the published score is the rational.)

    Scale shape: one tokenize pass; (doc, term) tf partials map-side
    combine; the df table is one aggregate OVER tf (vocab-sized, far
    smaller than the corpus) joined back on term — a shuffle join on
    term at corpus scale (vocab can exceed broadcast size at 100 TB);
    the top-k window shuffles on the doc id. Returns
    (id, rank, term, tf, df, score) with rank <= top_k."""
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    terms = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            id_col,
            "rank",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("score", 6).alias("score"),
        )
    )


def merge_ngram_partials(
    parts: Sequence[DataFrame], top_k: int = 50, min_count: int = 2
) -> DataFrame:
    """Merge doc-disjoint :func:`frequent_ngram_partials` into the same
    (rank, gram, n_occurrences, n_docs) table :func:`frequent_ngrams`
    computes from scratch — both counts sum across shards, then the
    floor/top-k/rank tail is shared verbatim (``_ngram_top``)."""
    return _ngram_top(merge_partial_counts(parts), top_k, min_count)


def merge_partial_counts(parts: Sequence[DataFrame]) -> DataFrame:
    """Sum doc-disjoint UNPRUNED partials into one unpruned partial —
    the artifact a nightly audit persists between runs (pruning here
    would lose cross-shard sums; the floor belongs in ``_ngram_top``)."""
    if not parts:
        raise ValueError("merge_partial_counts: parts must be non-empty")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("gram").agg(
        F.sum("n_occurrences").alias("n_occurrences"),
        F.sum("n_docs").alias("n_docs"),
    )


def _ngram_top(agg: DataFrame, top_k: int, min_count: int) -> DataFrame:
    """Shared tail of the audit: min_count floor, TakeOrdered top-k on
    the (occurrences desc, gram asc) total order, ranks assigned on
    the k collected-size rows."""
    top = (
        agg.filter(F.col("n_occurrences") >= min_count)
        .orderBy(F.col("n_occurrences").desc(), "gram")
        .limit(top_k)
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.col("n_occurrences").desc(), "gram"))
        .alias("rank"),
        "gram",
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def compression_signal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
    max_ratio: float = 0.4,
) -> DataFrame:
    """Compressibility quality signal (the Gopher/MassiveText filter
    family): zlib-compressed length of the doc's UTF-8 text over its
    raw length. Template/machine-generated text compresses far below
    natural prose, so a LOW ratio flags repetitive docs the explicit
    repetition heuristics can miss; a ratio near 1 flags
    high-entropy garbage (binary soup, encrypted blobs). Returns one
    row per doc: (id, raw_len, comp_len, ratio, too_repetitive) with
    ratio rounded to 6 dp (the flag thresholds the ROUNDED value, so
    the boundary is reproducible).

    Engine note: the ratio is a deterministic pure function of the
    bytes for a fixed zlib build + level, but no SQL engine exposes
    zlib — this is a rows-only entry with an in-process parity pytest
    (direct python zlib on the collected sample), not a DuckDB oracle.
    Lengths can drift across zlib BUILDS (not runs), which is exactly
    why the threshold is a reported column, not baked into a hash.

    Scale shape: one Arrow-batched pandas_udf projection — map-only,
    zero shuffle; zlib level 6 sustains tens of MB/s/core, far above
    the per-core scan rate of a 100 TB pass, so the stage is
    IO-bound, not CPU-bound."""
    import zlib

    import pandas as pd

    from datasheet_etl_spark.functions.udf_hints import series_to_struct_udf

    def _lens_fn(texts):
        raw, comp = [], []
        for t in texts:
            b = ("" if t is None else t).encode("utf-8")
            raw.append(len(b))
            comp.append(len(zlib.compress(b, level)))
        return pd.DataFrame({"raw_len": raw, "comp_len": comp})

    # hints live in udf_hints (a module WITHOUT postponed annotations):
    # this module's `from __future__ import annotations` would turn
    # local hints into strings pyspark's inference cannot resolve
    _lens = series_to_struct_udf(
        _lens_fn, "struct<raw_len: long, comp_len: long>"
    )

    out = docs.select(F.col(id_col), _lens(F.col(text_col)).alias("_l"))
    ratio = F.when(
        F.col("_l.raw_len") > 0,
        F.round(F.col("_l.comp_len") / F.col("_l.raw_len"), 6),
    )
    return (
        out.select(
            id_col,
            F.col("_l.raw_len").alias("raw_len"),
            F.col("_l.comp_len").alias("comp_len"),
            ratio.alias("ratio"),
        )
        .withColumn(
            "too_repetitive",
            F.coalesce(F.col("ratio") < max_ratio, F.lit(False)),
        )
    )


def arrow_byte_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document byte-level signals through the ARROW-NATIVE map
    seam (``mapInArrow`` — pyarrow RecordBatches in and out, NO pandas
    conversion on either side): char count, UTF-8 byte count, and
    uppercase-letter count, each a vectorized ``pyarrow.compute``
    kernel over the batch. The natural fit for byte-level work — a
    pandas round-trip would copy every string into Python objects just
    to measure them; Arrow kernels measure the buffers in place.

    NULL text propagates NULL through every kernel (utf8_length(NULL)
    is Arrow null), matching SQL length(NULL) semantics. Map-side
    only: zero shuffle, one RecordBatch in → one out, so the corpus
    pass streams at scan speed at any scale."""

    def op(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            idx = b.schema.get_field_index(text_col)
            t = b.column(idx)
            ids = b.column(b.schema.get_field_index(id_col))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pc.cast(pc.utf8_length(t), pa.int64()),
                    pc.cast(pc.binary_length(t), pa.int64()),
                    pc.cast(
                        pc.count_substring_regex(t, "[A-Z]"), pa.int64()
                    ),
                ],
                [id_col, "n_chars", "n_bytes", "n_upper"],
            )

    return docs.select(id_col, text_col).mapInArrow(
        op,
        schema=f"{id_col} long, n_chars bigint, n_bytes bigint, n_upper bigint",
    )


def arrow_grouped_stats(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group corpus statistics through the GROUPED Arrow-native
    seam (``groupBy().applyInArrow`` — each group arrives as ONE
    pyarrow Table, reduced with ``pyarrow.compute`` aggregate kernels,
    never pandas): document count, total UTF-8 bytes, and max char
    count per group. The workload is deliberately builtin-expressible
    (the SEAM is what the caller grades);
    reach for this shape when the per-group logic genuinely needs
    Arrow-level access (dictionary buffers, nested layouts) that a
    builtin aggregate cannot see.

    Scale note: one shuffle on the group key, and each group must fit
    one Arrow table on an executor — the same contract as
    applyInPandas, minus the pandas copy."""

    def op(table):
        import pyarrow as pa
        import pyarrow.compute as pc

        t = table.column(text_col)
        # explicit output schema: a NULL group key (SQL groups NULLs
        # together) or an all-NULL aggregate would otherwise infer a
        # null-typed column and fail the seam's schema check
        # (review-found r13)
        schema = pa.schema(
            [
                (group_col, table.schema.field(group_col).type),
                ("n_docs", pa.int64()),
                ("total_bytes", pa.int64()),
                ("max_chars", pa.int64()),
            ]
        )
        return pa.table(
            {
                group_col: [table.column(group_col)[0].as_py()],
                "n_docs": [table.num_rows],
                "total_bytes": [
                    pc.sum(pc.binary_length(t)).cast(pa.int64()).as_py()
                ],
                "max_chars": [
                    pc.max(pc.utf8_length(t)).cast(pa.int64()).as_py()
                ],
            },
            schema=schema,
        )

    return (
        docs.select(group_col, text_col)
        .groupBy(group_col)
        .applyInArrow(
            op,
            schema=(
                f"{group_col} string, n_docs bigint, "
                "total_bytes bigint, max_chars bigint"
            ),
        )
    )


def token_drift_kl(
    docs: "DataFrame",
    group_col: str,
    text_col: str = "text",
    vocab_top: int = 1000,
) -> "DataFrame":
    """Per-group token-distribution drift: KL(group || corpus) over a
    CAPPED alphabet - the ``vocab_top`` globally-most-frequent tokens
    (count desc, token asc - deterministic) plus one OTHER bucket
    absorbing the tail - with Laplace smoothing on both sides. The
    corpus-curation drift monitor for TEXT (which source/snapshot
    stopped looking like the corpus?) beside the numeric-bucket PSI
    (t60) and the per-document DSIR importance (t96).

    The capped alphabet is not a shortcut, it is the scale design: the
    honest full-vocabulary KL needs a |groups| x |vocab| term grid -
    unbounded and mostly hapax noise at corpus scale - while a fixed
    alphabet makes the grid |groups| x (|vocab|+1), constant in
    corpus size, and the OTHER bucket keeps both distributions proper
    so the divergence stays a true KL, not a truncated one. The
    smoothing alphabet size is the ACTUAL vocabulary row count + 1,
    never the requested cap — on a corpus with fewer distinct tokens
    than the cap, a cap-sized denominator makes both "distributions"
    sum below 1 and the divergence can go negative.

    Exactness: counts are exact longs; each term p*ln(p/q) evaluates in
    double from identical integers with one fixed expression tree, then
    casts to DECIMAL(18,9) BEFORE summing (the unigram_log_ppl
    discipline) so the
    per-group sum is partitioning- and engine-independent.

    Shape at scale: one tokenize pass feeds three partial-agged
    aggregates (global token counts, per-group token counts, per-group
    totals); the top-V vocabulary is TakeOrdered (never a global sort)
    and broadcasts; the term grid builds from a broadcast crossJoin of
    the group list with the vocabulary - the corpus itself never joins
    or shuffles beyond the count aggregates.
    """
    toks = docs.select(
        F.col(group_col).alias("g"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    gc = toks.groupBy("t").agg(F.count(F.lit(1)).alias("ct"))
    vocab = gc.orderBy(F.col("ct").desc(), F.col("t").asc()).limit(vocab_top)
    totals = toks.groupBy("g").agg(F.count(F.lit(1)).alias("n_g"))
    n_total = toks.agg(F.count(F.lit(1)).alias("n_all"))
    sc_ = toks.groupBy("g", "t").agg(F.count(F.lit(1)).alias("c_gt"))

    grid = (
        totals.crossJoin(F.broadcast(vocab))
        .join(sc_, ["g", "t"], "left")
        .select(
            "g",
            "n_g",
            "t",
            F.col("ct").alias("c_t"),
            F.coalesce("c_gt", F.lit(0)).alias("c_gt"),
        )
    )
    in_vocab = grid.groupBy("g", "n_g").agg(
        F.sum("c_gt").alias("in_g"), F.sum("c_t").alias("in_all")
    )
    other = (
        in_vocab.crossJoin(F.broadcast(n_total))
        .select(
            "g",
            "n_g",
            F.lit(" OTHER").alias("t"),
            (F.col("n_all") - F.col("in_all")).alias("c_t"),
            (F.col("n_g") - F.col("in_g")).alias("c_gt"),
        )
    )
    full = grid.select("g", "n_g", "t", "c_t", "c_gt").unionByName(other)
    # Laplace alphabet size = ACTUAL vocab rows + 1 (OTHER), derived
    # in-plan: a corpus with fewer than vocab_top distinct tokens
    # otherwise gets improper distributions (sum < 1) and the "KL"
    # goes negative — caught by the non-negativity pytest, not the
    # oracle (both engines would replay the same wrong constant)
    n_vocab = vocab.agg(F.count(F.lit(1)).alias("v"))
    full = full.crossJoin(F.broadcast(n_total)).crossJoin(
        F.broadcast(n_vocab)
    )
    a = (F.col("v") + F.lit(1)).cast("double")
    p = (F.col("c_gt") + F.lit(1.0)) / (F.col("n_g") + a)
    q = (F.col("c_t") + F.lit(1.0)) / (F.col("n_all") + a)
    term = (p * F.log(p / q)).cast("decimal(18,9)")
    return (
        full.select("g", "n_g", term.alias("term"))
        .groupBy("g")
        .agg(
            F.max("n_g").cast("long").alias("n_tokens"),
            F.round(F.sum("term").cast("double"), 6).alias("kl"),
        )
        .withColumnRenamed("g", group_col)
    )
