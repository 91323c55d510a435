"""Deduplication operators for large-scale corpus curation.

Five families, all engineered for the 100 TB design point:

- **exact**      : hash-groupBy on a business key — one shuffle, the
                   canonical representative chosen deterministically.
- **MinHash+LSH**: shingle → signature → banded buckets → candidate
                   pairs → exact-Jaccard verify. Signatures are computed
                   entirely JVM-side as explode + hash-aggregate (64
                   ``min()`` columns over xxhash64 affine permutations —
                   no UDFs, no interpreted array HOFs), so the full-
                   corpus pass stays in whole-stage codegen; only
                   bucket-mates are ever pair-compared (no N² join).
- **SimHash**    : 64-bit fingerprint via per-bit majority vote;
                   near-dup pairs from 16-bit chunk banding + bit_count
                   Hamming verify.
- **n-gram Jaccard**: exact similarity on word-bigram shingle sets —
                   the verification predicate for both hash families.
- **embedding cosine**: near-dup by cosine over an embedding column;
                   brute probe×corpus for small probe sets, random-
                   hyperplane LSH buckets as the all-pairs scale path.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from datasheet_etl_spark.caching import scoped_persist
from datasheet_etl_spark.operators.relational import (
    cap_buckets,
    top_k_per_group,
)

MERSENNE_PRIME = (1 << 31) - 1


def word_shingles(tokens: Column, n: int = 2) -> Column:
    """Word n-gram shingles from a token array; n=1 degenerates to the
    token set.

    Built by zip_with-ing n shifted slices of the token array (n−1 zips
    of O(1)-per-element concats) — ~8× faster than the per-element
    ``transform(sequence, i -> array_join(slice(...)))`` form, whose
    per-gram slice churn dominates the corpus pass."""
    if n == 1:
        return F.array_distinct(tokens)
    length = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    grams = F.slice(tokens, 1, length)
    for k in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(tokens, k + 1, length),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return F.when(F.size(tokens) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _permutations(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_PRIME), rng.randrange(0, MERSENNE_PRIME))
        for _ in range(num_perm)
    ]


def _base_shingle_hash(hash_family: str) -> Column:
    """The per-shingle base hash the affine permutation family maps over
    (applied to the exploded ``_shingle`` column), already reduced mod
    the Mersenne prime. ``xxhash64`` is the production default;
    ``md5`` is the cross-engine-replayable twin (first 15 md5 hex
    digits as a 60-bit long — the t03b discipline: one md5 + one conv
    per shingle occurrence, re-derivable in any engine with md5 and
    string ops)."""
    if hash_family == "xxhash64":
        h = F.xxhash64(F.col("_shingle"))
    elif hash_family == "md5":
        h = F.conv(F.substring(F.md5(F.col("_shingle")), 1, 15), 16, 10).cast(
            "long"
        )
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return F.pmod(h, F.lit(MERSENNE_PRIME))


def minhash_signatures(
    sh_df: DataFrame,
    id_col: str = "doc_id",
    sh_col: str = "sh",
    num_perm: int = 64,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, shingle-array) → (id, sig array<long>) via explode + hash
    aggregate — NOT nested array HOFs.

    Each shingle hashes once (``hash_family`` → pmod p — see
    :func:`_base_shingle_hash`); each permutation is an
    affine map a·x+b mod p (p Mersenne 2³¹−1, products stay < 2⁶², so no
    ANSI overflow); the signature component is ``min()`` over shingles,
    computed as ``num_perm`` plain aggregate columns. Array HOFs like
    ``transform``/``aggregate`` are CodegenFallback (interpreted, ~30×
    slower measured); the explode + groupBy form stays in whole-stage
    codegen with map-side partial aggregation, so the full-corpus pass
    shuffles only (id, 64 longs) — the 100 TB-safe shape.

    Empty-shingle docs drop out (an all-sentinel signature would bucket
    every empty doc together and explode the candidate join).
    """
    h = _base_shingle_hash(hash_family)
    mins = [
        F.min(F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE_PRIME))).alias(f"_m{i}")
        for i, (a, b) in enumerate(_permutations(num_perm, seed))
    ]
    return (
        sh_df.select(F.col(id_col), F.explode(sh_col).alias("_shingle"))
        .groupBy(id_col)
        .agg(*mins)
        .select(
            id_col, F.array(*[f"_m{i}" for i in range(num_perm)]).alias("sig")
        )
    )


def shingle_hashes_col(
    sh_col: Column | str, hash_family: str = "xxhash64"
) -> Column:
    """Shingle array → hash array (the shared base of every permutation),
    per-row form of :func:`_base_shingle_hash` for both families.
    Stage this ONCE in a select before ``minhash_signature_col``: array
    HOFs get no common-subexpression elimination, so inlining it would
    re-hash every shingle ``num_perm`` times (measured ~2× total cost)."""
    sh = F.col(sh_col) if isinstance(sh_col, str) else sh_col
    if hash_family == "xxhash64":
        base = lambda s: F.xxhash64(s)  # noqa: E731
    elif hash_family == "md5":
        base = lambda s: F.conv(  # noqa: E731
            F.substring(F.md5(s), 1, 15), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    return F.transform(sh, lambda s: F.pmod(base(s), F.lit(MERSENNE_PRIME)))


def minhash_signature_col(
    hashes_col: Column | str,
    num_perm: int = 64,
    seed: int = 42,
) -> Column:
    """Per-ROW signature expression over a ``shingle_hashes_col`` array —
    bit-identical to ``minhash_signatures`` (same xxhash64 + permutation
    constants), but stateless: usable on a streaming DataFrame where the
    explode+groupBy form would be a (disallowed pre-stateful)
    aggregation.

    Implementation is an Arrow-vectorized pandas UDF: each batch's hash
    arrays are flattened once and every permutation runs as one numpy
    affine map + ``minimum.reduceat`` over the flat buffer. The previous
    form — ``num_perm`` ``transform``/``array_min`` HOFs per row — is
    CodegenFallback (interpreted) and measured ~4× slower on the t24
    corpus pass; the affine arithmetic is unchanged (a·x+b mod the
    Mersenne prime, products < 2⁶² so int64 never overflows — the same
    no-ANSI-overflow argument as the batch aggregate form)."""
    hs = F.col(hashes_col) if isinstance(hashes_col, str) else hashes_col
    perms = _permutations(num_perm, seed)

    @pandas_udf("array<long>")
    def _sig(col: pd.Series) -> pd.Series:
        n = len(col)
        if n == 0:
            return pd.Series([], dtype=object)
        arrs = [np.asarray(x, dtype=np.int64) for x in col]
        sizes = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
        res: list = [None] * n
        nonempty = np.flatnonzero(sizes > 0)
        if len(nonempty):
            flat = np.concatenate([arrs[i] for i in nonempty])
            offs = np.zeros(len(nonempty), dtype=np.int64)
            np.cumsum(sizes[nonempty][:-1], out=offs[1:])
            sig_mat = np.empty((len(nonempty), num_perm), dtype=np.int64)
            for i, (a, b) in enumerate(perms):
                sig_mat[:, i] = np.minimum.reduceat(
                    (a * flat + b) % MERSENNE_PRIME, offs
                )
            for k, ridx in enumerate(nonempty):
                res[ridx] = sig_mat[k]
        # empty hash arrays mirror the HOF form: array_min over an empty
        # transform is NULL per component
        for ridx in np.flatnonzero(sizes == 0):
            res[ridx] = [None] * num_perm
        return pd.Series(res)

    return _sig(hs)


def banded_buckets(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int = 8,
    num_perm: int = 64,
    keep_sig: bool = False,
) -> DataFrame:
    """(id, sig) → (id[, sig], band, bucket): hash each of ``bands``
    signature slices. Stateless (streaming-safe); the batch path caps and
    self-joins these, the streaming path groups them into bucket state
    (which needs the signature along — ``keep_sig``)."""
    rows_per_band = num_perm // bands or 1
    cols = [id_col, sig_col] if keep_sig else [id_col]
    return df.select(
        *cols,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band), b
                ),
            )
        ).alias("band", "bucket"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int = 8,
    num_perm: int = 64,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Banded LSH: split the signature into ``bands`` equal slices, hash
    each band to a bucket, self-join within buckets.

    Scale: the self-join shuffles on (band, bucket) — only documents
    agreeing on a full band ever meet, so the join output is ~linear in
    the number of true near-dups, not N². ``max_bucket`` is the skew
    guard: a bucket of width w yields w² pairs, and the degenerate
    buckets (boilerplate/empty-ish docs all sharing a band) are exactly
    the ones exact-hash dedup already catches — a true near-dup cluster
    wider than the cap still meets in its other, narrower bands.
    ``max_bucket=None`` disables the cap (full recall); audit what a cap
    drops with ``relational.dropped_buckets`` on ``banded_buckets``
    output.
    """
    banded = cap_buckets(
        banded_buckets(df, id_col, sig_col, bands, num_perm), ["band", "bucket"], max_bucket
    )
    left = banded.withColumnRenamed(id_col, "id_a")
    right = banded.withColumnRenamed(id_col, "id_b")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_n: int = 2,
    max_bucket: int | None = 256,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates from banding,
    verified with *exact* shingle-set Jaccard ≥ threshold.

    Returns (id_a, id_b, est_jaccard, jaccard) — est from signature
    agreement, exact from the shingle sets.

    ``max_bucket`` caps LSH bucket width (skew guard; see
    ``lsh_candidate_pairs`` for the recall tradeoff); ``None`` disables.
    ``hash_family`` picks the base shingle hash (xxhash64 production /
    md5 replayable — :func:`_base_shingle_hash`); every other stage is
    shared code whichever family feeds it.
    """
    from datasheet_etl_spark.functions import tokens

    def shingle(src: DataFrame) -> DataFrame:
        return src.select(
            F.col(id_col),
            word_shingles(tokens(F.col(text_col)), shingle_n).alias("sh"),
        )

    sh = shingle(docs)
    # (id, 64×long) is ~0.5 KB/doc — persisting it (not the shingle sets)
    # keeps the corpus pass single-execution across the banding and verify
    # joins, and stays tiny relative to the corpus even at 100 TB.
    # Signatures run the staged-hash + Arrow-UDF per-row form (r15): it
    # computes the same signature with NO exchange at all (the explode +
    # groupBy aggregate form shuffles (id, 64 longs) per doc) and
    # measured ~1.5× faster end-to-end for both hash families at sf0.1;
    # bit-identity of the two forms is pinned in tests/test_streaming.py
    # and by the t02b md5 oracle, which re-derives these signatures in
    # DuckDB. Empty-shingle docs drop via the size filter exactly as
    # they dropped out of the explode.
    sigs = scoped_persist(
        sh.filter(F.size("sh") > 0)
        .select(F.col(id_col), shingle_hashes_col("sh", hash_family).alias("_h"))
        .select(id_col, minhash_signature_col("_h", num_perm).alias("sig"))
    )
    cands = lsh_candidate_pairs(sigs, id_col, "sig", bands, num_perm, max_bucket)

    # Exact-Jaccard verify touches only candidate docs: semi-join the
    # corpus down to candidate ids BEFORE re-deriving shingle sets, so
    # the expensive tokenize/shingle recompute is ~|candidates|, not N.
    cand_ids = cands.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    # semi-join the raw docs BEFORE shingling (explicit pushdown: only
    # candidate docs pay the tokenize/shingle cost) and persist — both
    # verify join sides read it, and it is only candidate-sized
    sh_cand = scoped_persist(
        shingle(docs.join(F.broadcast(cand_ids), id_col, "semi"))
    )

    a = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")).join(
        sh_cand.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    )
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")).join(
        sh_cand.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
    )
    joined = cands.join(a, "id_a").join(b, "id_b")
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.size("sig_a")
    jac = F.when(
        F.size(F.array_union("sh_a", "sh_b")) > 0,
        F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b")),
    ).otherwise(F.lit(0.0))
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def exact_jaccard_pairs(
    sh_df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    sh_col: str = "sh",
    max_df: int = 1000,
) -> DataFrame:
    """Exact shingle-set Jaccard pairs via a postings self-join — never
    the N² cross join.

    Candidate pairs come from joining exploded (id, shingle) postings on
    the shingle, RESTRICTED to shingles with document frequency ≤
    ``max_df`` — the stop-shingle cutoff a search index applies: one
    boilerplate shingle in df docs would alone contribute df² join rows.
    Candidates then verify with the exact set intersection/union over the
    full (uncut) shingle arrays, so the returned Jaccard is exact; the
    cutoff only loses pairs whose EVERY common shingle is corpus-wide
    boilerplate, which at any near-dup threshold means the docs are
    boilerplate themselves (exact-hash dedup territory).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    sh_df = sh_df.filter(F.size(sh_col) > 0)
    posts = sh_df.select(F.col(id_col), F.explode(sh_col).alias("_shingle"))
    rare = cap_buckets(posts, ["_shingle"], max_df)
    cands = (
        rare.select(F.col(id_col).alias("id_a"), "_shingle")
        .join(rare.select(F.col(id_col).alias("id_b"), "_shingle"), "_shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    jac = F.size(F.array_intersect("_sh_a", "_sh_b")) / F.size(
        F.array_union("_sh_a", "_sh_b")
    )
    return (
        cands.join(
            sh_df.select(F.col(id_col).alias("id_a"), F.col(sh_col).alias("_sh_a")),
            "id_a",
        )
        .join(
            sh_df.select(F.col(id_col).alias("id_b"), F.col(sh_col).alias("_sh_b")),
            "id_b",
        )
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def substring_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_rows: int | None = 64,
) -> DataFrame:
    """Exact substring-overlap dedup (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" modality): document
    pairs sharing a VERBATIM span of ≥ k word tokens, with the longest
    shared span measured exactly. The set-similarity family
    (MinHash/SimHash/Jaccard/SemDeDup) misses exactly these when the
    copied span is small relative to both documents — quotes, licenses,
    syndicated paragraphs — and substring overlap is the modality real
    pretraining builds run alongside set dedup.

    Mechanics: two docs share a ≥ k-token verbatim span IFF they share
    at least one word k-gram, so every doc emits its POSITIONED k-grams
    (``word_shingles``' zip_with-of-shifted-slices construction, with
    posexplode keeping the offset); grams meet in a keyed self-join;
    and matched positions that advance together — consecutive ``pos_a``
    on one alignment diagonal ``pos_a - pos_b`` — form gaps-and-islands
    runs, where a run of L grams is a shared span of exactly
    L + k - 1 tokens.

    Returns (id_a, id_b, n_shared_grams, max_span_tokens), id_a < id_b,
    one row per overlapping pair. Deterministic and repartition-
    invariant; the whole computation is joins/windows/aggregates, so a
    SQL oracle can re-derive it verbatim (t95's oracle does).

    Scale shape: gram emission is map-side; grams shuffle as fixed
    16-byte md5 keys (never the raw token strings — ~3× less shuffle
    volume at any corpus size); the only other shuffles are keyed by
    the pair. ``max_gram_rows`` is the boilerplate guard (the
    ``cap_buckets`` machinery): a gram occurring w times meets w² times
    in the self-join, and corpus-ubiquitous grams (headers, license
    lines, navigation chrome) are exactly the degenerate ones — they
    are dropped before the join, so a pair whose EVERY shared gram is
    capped boilerplate is missed (audit the loss with
    ``relational.dropped_buckets``); any rarer span still meets."""
    _, g = _positioned_gram_postings(docs, id_col, text_col, k, max_gram_rows)
    pairs, runs = _gram_match_runs(g, id_col)
    spans = (
        runs.groupBy("id_a", "id_b", "diag", "island")
        .agg((F.count(F.lit(1)) + (k - 1)).alias("_span"))
        .groupBy("id_a", "id_b")
        .agg(F.max("_span").alias("max_span_tokens"))
    )
    shared = pairs.groupBy("id_a", "id_b").agg(
        F.count_distinct("gkey").alias("n_shared_grams")
    )
    return shared.join(spans, ["id_a", "id_b"]).select(
        "id_a", "id_b", "n_shared_grams", "max_span_tokens"
    )


def _positioned_gram_postings(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_gram_rows: int | None,
    persist_base: bool = False,
    persist_postings: bool = True,
):
    """Shared stage-1 of the substring family: (id, tokens) base frame
    plus the capped positioned-gram postings (id, pos, 16-byte md5
    gkey), persisted so the corpus tokenize/gram pass executes ONCE
    across the self-join's two sides and every downstream aggregate.
    ``persist_base`` additionally persists the tokens frame itself —
    for callers (excision) that re-read the tokens beyond the gram
    build; pair-only callers skip it (they never touch base again).
    ``persist_postings=False`` skips the postings cache for callers
    with exactly ONE consumer (the index write) — caching there would
    pin index-sized memory that is never read again."""
    from datasheet_etl_spark.functions import tokens

    if k < 2:
        raise ValueError("k must be >= 2 (k=1 is plain token overlap)")
    base = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    if persist_base:
        base = scoped_persist(base)
    n = F.greatest(F.size("_t") - (k - 1), F.lit(0))
    # one array pass: gram i is the k-token window joined with ' '
    # (r15: the k-1 chained zip_with passes this replaces allocated a
    # fresh string array per pass — identical gram strings, measured
    # 0.58-0.75x the postings-build wall at sf0.1; the ≥ k filter
    # below guarantees n ≥ 1, so sequence(1, n) is never descending)
    grams = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice("_t", i, k), " "),
    )
    g = (
        base.filter(F.size("_t") >= k)
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "_gram"))
        .select(id_col, "pos", F.unhex(F.md5("_gram")).alias("gkey"))
    )
    g = cap_buckets(g, ["gkey"], max_gram_rows)
    return base, (scoped_persist(g) if persist_postings else g)


def _span_floor(min_span_tokens: int | None, k: int) -> int:
    """The effective span gate. A floor below k is UNHONORABLE — k-gram
    detection cannot see spans shorter than k, so honoring the
    parameter silently is impossible; refuse loudly instead (the same
    philosophy as probe_gram_index's recipe gate)."""
    if min_span_tokens is None:
        return k
    if min_span_tokens < k:
        raise ValueError(
            f"min_span_tokens={min_span_tokens} is below k={k}: k-gram "
            "detection cannot see spans shorter than k — lower k or "
            "raise the span gate"
        )
    return int(min_span_tokens)


def _gram_meets(ga: DataFrame, gb: DataFrame, id_col: str) -> DataFrame:
    """Gram meets between two posting sets: (id_a, pa) from ``ga``
    joins (id_b, pb) from ``gb`` on the 16-byte gram key. The self-join
    caller filters ``id_a < id_b``; the index-probe caller passes two
    DISJOINT sets and keeps everything."""
    return ga.select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("pa"), "gkey"
    ).join(
        gb.select(F.col(id_col).alias("id_b"), F.col("pos").alias("pb"), "gkey"),
        "gkey",
    )


def _island_runs(pairs: DataFrame) -> DataFrame:
    """Gaps-and-islands over gram meets: within one alignment diagonal
    pa − pb, consecutive pa values are one run; (id_a, id_b, diag, pa)
    is unique (pa fixes the gram, diag fixes pb), so the row_number
    order is total and the result deterministic. Keeps pb so callers
    can recover each island's span interval on the id_b side (the
    excision path needs it)."""
    diag = F.col("pa") - F.col("pb")
    w = Window.partitionBy("id_a", "id_b", diag).orderBy("pa")
    return pairs.select(
        "id_a",
        "id_b",
        "gkey",
        "pa",
        "pb",
        diag.alias("diag"),
        (F.col("pa") - F.row_number().over(w)).alias("island"),
    )


def _gram_match_runs(g: DataFrame, id_col: str):
    """Shared stage-2 of the self-join path: meets with id_a < id_b,
    plus their island runs. Returns (pairs, runs)."""
    pairs = _gram_meets(g, g, id_col).filter(F.col("id_a") < F.col("id_b"))
    return pairs, _island_runs(pairs)


def write_gram_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_rows: int | None = 64,
) -> None:
    """Persist the capped positioned-gram postings (id, pos, 16-byte
    gkey) as the substring family's index AT REST — the t40/t71 shape
    for the substring modality: nightly increments probe this instead
    of re-tokenizing the historical corpus. The boilerplate cap is
    applied at WRITE time over the indexed corpus, so a probe pays it
    only over its own batch (the cross-set frequency interaction is
    the same documented recall caveat as the in-batch cap).

    The gram recipe (k, cap) is persisted as an underscore-hidden
    ``_meta`` table inside the index (invisible to the postings scan):
    a probe with a different recipe would build keys that can never
    match the stored ones and silently report "no duplicates" —
    :func:`probe_gram_index` refuses a recipe mismatch instead.
    A ``_docs`` ledger (the distinct indexed ids, also hidden) is
    written alongside — the cheap membership set incremental callers
    (``streams.streaming_gram_index_maintain``) anti-join against,
    instead of scanning the full postings for ids."""
    spark = docs.sparkSession
    _, g = _positioned_gram_postings(
        docs, id_col, text_col, k, max_gram_rows, persist_postings=False
    )
    g.write.mode("overwrite").parquet(path)
    docs.select(id_col).distinct().coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/_docs")
    spark.createDataFrame(
        [(int(k), -1 if max_gram_rows is None else int(max_gram_rows))],
        "k int, max_gram_rows int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_meta")


def probe_gram_index(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_rows: int | None = 64,
    min_span_tokens: int | None = None,
    dedupe_postings: bool = False,
    persist_postings: bool = True,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Incremental substring-overlap dedup: which at-rest indexed docs
    does tonight's batch duplicate? New docs' capped postings meet the
    stored postings on the gram key; islands/spans run exactly as in
    :func:`substring_overlap_pairs`. Returns (id_a indexed, id_b new,
    n_shared_grams, max_span_tokens) — no id ordering filter, the two
    sides are disjoint by construction (new-vs-new pairs are the
    in-batch :func:`substring_overlap_pairs` run the caller already
    does). Unlike the MinHash index (t71), everything here is
    md5-derived, so the whole incremental path is SQL-oracle-checkable.

    Scale shape: the index is read as stored postings — no historical
    re-tokenize; the meet shuffles the (small) probe batch's grams
    against the index keyed by the 16-byte gkey; islands and the two
    aggregates are keyed by the (indexed, new) pair.

    ``dedupe_postings=True`` drops duplicate stored postings rows
    (same id, pos) before the meet — the streaming maintainer needs it
    because a crash-replayed batch can append its postings twice, and
    duplicated rows would split the island row_numbers and corrupt
    span lengths. Costs one extra shuffle of the stored postings, so
    it is OFF for append-free indexes (t98's staged index).

    ``persist_postings=False`` skips the scoped cache of the probe
    batch's postings (they recompute once, for the shared-gram agg) —
    the streaming maintainer needs it because nothing releases scoped
    caches inside a long-lived stream, so a per-micro-batch persist
    would pin one more cache entry forever per batch.

    ``postings`` lets a caller that ALREADY built the probe batch's
    capped positioned-gram postings (``_positioned_gram_postings`` with
    the same id/text/k/cap recipe) pass them in instead of having them
    rebuilt here — the streaming maintainer computes them once per
    micro-batch, persists them itself (so it controls the unpersist),
    and reuses the same frame for this probe AND the index append;
    without this, each micro-batch paid the tokenize + gram + cap
    shuffle twice, since the probe and the append are separate actions
    that AQE exchange-reuse cannot bridge."""
    meta = spark.read.parquet(f"{path}/_meta").collect()
    stored_k, stored_cap = int(meta[0]["k"]), int(meta[0]["max_gram_rows"])
    stored_cap = None if stored_cap == -1 else stored_cap
    if (stored_k, stored_cap) != (k, max_gram_rows):
        # a mismatched recipe would silently return zero matches —
        # keys from different (k, cap) can never meet
        raise ValueError(
            f"gram index at {path} was written with k={stored_k}, "
            f"max_gram_rows={stored_cap}; probe called with k={k}, "
            f"max_gram_rows={max_gram_rows} — re-probe with the stored "
            "recipe or rebuild the index"
        )
    ga = spark.read.parquet(path)
    if dedupe_postings:
        ga = ga.dropDuplicates([id_col, "pos"])
    if postings is not None:
        gb = postings
    else:
        _, gb = _positioned_gram_postings(
            new_docs, id_col, text_col, k, max_gram_rows,
            persist_postings=persist_postings,
        )
    pairs = _gram_meets(ga, gb, id_col)
    runs = _island_runs(pairs)
    floor = _span_floor(min_span_tokens, k)
    spans = (
        runs.groupBy("id_a", "id_b", "diag", "island")
        .agg((F.count(F.lit(1)) + (k - 1)).alias("_span"))
        .groupBy("id_a", "id_b")
        .agg(F.max("_span").alias("max_span_tokens"))
        .filter(F.col("max_span_tokens") >= F.lit(floor))
    )
    shared = pairs.groupBy("id_a", "id_b").agg(
        F.count_distinct("gkey").alias("n_shared_grams")
    )
    return spans.join(shared, ["id_a", "id_b"]).select(
        "id_a", "id_b", "n_shared_grams", "max_span_tokens"
    )


def excise_overlap_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_rows: int | None = 64,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Span EXCISION — the other half of the Lee et al. 2022 dedup
    (their primary mode: cut the duplicated span out of one copy,
    keep both documents). Where :func:`substring_dedup_corpus` drops
    whole documents, this removes, from the HIGHER-id doc of every
    overlapping pair, exactly the token interval(s) it shares with a
    lower-id doc as a run of ≥ ``min_span_tokens`` verbatim tokens
    (default: ≥ k, every detected run) — the earlier doc keeps the
    canonical copy, so no span survives twice but its content always
    survives once.

    Returns one row per input doc: (id, n_tokens, n_removed,
    text_excised) where text_excised is the doc's kept tokens in
    order (token-normalized text — this pipeline's dedup domain).
    Intervals from different pairs may overlap; removal is by
    distinct token position (an anti-join against the interval set),
    so double-covered tokens are removed once.

    Scale shape: stages 1-2 are substring_overlap_pairs' (capped
    16-byte gram shuffle,
    bounded self-join); the interval set is per-island aggregates of
    the runs frame (tiny); the anti-join is an equi-join on the doc id
    with a range residual, so tokens shuffle once, keyed by doc."""
    floor = _span_floor(min_span_tokens, k)
    # base feeds three consumers here (the gram postings, the token
    # posexplode, and the final size()/join) — persist_base makes the
    # corpus tokenize pass execute once across all of them
    base, g = _positioned_gram_postings(
        docs, id_col, text_col, k, max_gram_rows, persist_base=True
    )
    _pairs, runs = _gram_match_runs(g, id_col)
    # per-island interval on the id_b side: first gram starts at
    # min(pb), the island's count C grams cover tokens
    # [min(pb), min(pb) + C + k - 2]
    iv = (
        runs.groupBy("id_b", "id_a", "diag", "island")
        .agg(
            F.min("pb").alias("s"),
            (F.min("pb") + F.count(F.lit(1)) + (k - 2)).alias("e"),
            (F.count(F.lit(1)) + (k - 1)).alias("_span"),
        )
        .filter(F.col("_span") >= F.lit(floor))
        .select(F.col("id_b").alias("_doc"), "s", "e")
    )
    toks = base.select(
        F.col(id_col), F.posexplode("_t").alias("tpos", "tok")
    )
    kept = toks.join(
        iv,
        (toks[id_col] == iv["_doc"])
        & (F.col("tpos") >= F.col("s"))
        & (F.col("tpos") <= F.col("e")),
        "left_anti",
    )
    kept_agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("text_excised"),
    )
    return (
        base.join(kept_agg, id_col, "left")
        .select(
            id_col,
            F.size("_t").cast("long").alias("n_tokens"),
            (F.size("_t") - F.coalesce("_n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("text_excised", F.lit("")).alias("text_excised"),
        )
    )


def excision_impact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    k: int = 8,
    max_gram_rows: int | None = 64,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Per-source rollup of :func:`excise_overlap_spans` — the "what
    did dedup cost me" audit a corpus build ships next to its excision
    run. One row per source: (source, n_docs, n_docs_excised,
    total_tokens, tokens_removed, pct_removed) with the fraction
    rounded to 6 dp (NULL when a source has zero tokens). Corpora
    without a ``source_col`` report one "all" bucket. The SINGLE
    definition behind both the t101 oracle entry and the audit CLI —
    one rollup, one set of column semantics.

    Scale shape: one aggregate over the excision pass' per-doc
    artifact joined to the (id, source) projection — the corpus text
    itself is touched only by the excision it audits."""
    exc = excise_overlap_spans(
        docs, id_col, text_col, k, max_gram_rows, min_span_tokens
    )
    src = (
        docs.select(id_col, source_col)
        if source_col in docs.columns
        else docs.select(id_col, F.lit("all").alias(source_col))
    )
    per = exc.select(id_col, "n_tokens", "n_removed").join(src, id_col)
    return (
        per.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_removed") > 0).cast("long")).alias(
                "n_docs_excised"
            ),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_removed").alias("tokens_removed"),
        )
        .withColumn(
            "pct_removed",
            F.when(
                F.col("total_tokens") > 0,
                F.round(F.col("tokens_removed") / F.col("total_tokens"), 6),
            ),
        )
    )


def substring_dedup_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_gram_rows: int | None = 64,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """The shippable artifact :func:`substring_overlap_pairs` feeds —
    per-document keep/drop decisions for the whole corpus (completing
    the Lee et al. modality: pair DETECTION alone is not a deduped
    training set). Pairs whose longest verbatim span reaches
    ``min_span_tokens`` (default: any overlap, i.e. ≥ k) are treated
    as duplicate edges; transitively-connected docs form one overlap
    cluster (``graph.connected_components`` min-label machinery, the
    same path t16/t49 grade); each cluster keeps exactly its min-id
    representative.

    Returns one row PER INPUT DOC: (id, cluster_rep, cluster_size,
    kept) — unpaired docs are their own singleton (rep = self, size 1,
    kept); ``filter(kept)`` is the deduped corpus, and the dropped
    rows carry which cluster absorbed them (the audit exact-dup
    curation keeps, here for the substring gate).

    Scale shape: the expensive part is the pair detection (the
    capped gram self-join); components then iterate over the PAIR
    graph, which is the small derived artifact (overlap pairs), never
    the corpus, with localCheckpoint bounding lineage per round. The
    final join back to ``docs`` is a broadcast in practice (cluster
    membership ≪ corpus). The decision needs only the span-filtered
    EDGE SET, so this goes straight from the match runs to distinct
    qualifying pairs — skipping substring_overlap_pairs' shared-gram
    count aggregate and its pair-keyed join, the two largest
    intermediates after the self-join (measured: 9.4s → 3.3s at
    bench sf0.1)."""
    from datasheet_etl_spark.operators.graph import dedup_clusters

    floor = _span_floor(min_span_tokens, k)
    _base, g = _positioned_gram_postings(docs, id_col, text_col, k, max_gram_rows)
    _pairs, runs = _gram_match_runs(g, id_col)
    edges = (
        runs.groupBy("id_a", "id_b", "diag", "island")
        .agg((F.count(F.lit(1)) + (k - 1)).alias("_span"))
        .filter(F.col("_span") >= F.lit(floor))
        .select("id_a", "id_b")
        .distinct()
    )
    clusters = dedup_clusters(edges).withColumnRenamed("doc_id", id_col)
    return (
        docs.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_rep", F.col(id_col)).alias("cluster_rep"),
            F.coalesce("cluster_size", F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
            (
                F.col("cluster_rep").isNull()
                | (F.col("cluster_rep") == F.col(id_col))
            ).alias("kept"),
        )
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text) → (id, fp long): 64-bit SimHash via explode + hash
    aggregate.

    Per-bit majority vote over token-occurrence hashes, expressed as 64
    plain ``sum(±1)`` aggregate columns (bit test = h & mask ≠ 0 with
    literal masks) — whole-stage codegen with map-side partial agg, vs
    the interpreted CodegenFallback of per-row array-``aggregate`` HOFs.
    The fingerprint reassembles from the votes with bitwise ORs.
    Token-less docs drop out (no fingerprint, no pairs)."""
    from datasheet_etl_spark.functions import tokens

    h = F.xxhash64(F.col("_tok"))
    votes = []
    masks = []
    for j in range(64):
        mask = (1 << j) if j < 63 else -(1 << 63)  # signed-long bit 63
        masks.append(mask)
        votes.append(
            F.sum(
                F.when(h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1)
            ).alias(f"_v{j}")
        )
    fingerprint = F.lit(0).cast("long")
    for j, mask in enumerate(masks):
        fingerprint = fingerprint.bitwiseOR(
            F.when(F.col(f"_v{j}") > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok"))
        .groupBy(id_col)
        .agg(*votes)
        .select(id_col, fingerprint.alias("fp"))
    )


def simhash_fingerprints_md5(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """(id, text) → (id, fp long): SimHash whose bits come from the
    token's ``md5`` HEX DIGITS instead of ``xxhash64`` — bit ``j`` is
    bit ``j%4`` of hex digit ``j//4``, so the entire fingerprint is
    re-derivable in any engine with md5 + string ops (the t97
    replay discipline; DuckDB: ``strpos('0123456789abcdef', digit)``).
    60 bits ≤ 15 hex digits keeps every intermediate in a SIGNED long
    (no engine-specific unsigned-hex parse anywhere). The certifiable
    twin of :func:`simhash_fingerprints` — same explode + per-bit
    majority-vote aggregate shape, one md5 + 15 hex-digit decodes per
    token occurrence instead of one xxhash64; use the xxhash64 form in
    production hot paths and this one where cross-engine auditability
    of the fingerprint itself is the requirement."""
    from datasheet_etl_spark.functions import tokens

    assert bits <= 60, "signed-long budget: 15 hex digits = 60 bits"
    n_digits = (bits + 3) // 4
    exploded = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
    )
    # ONE conv decodes the whole hex prefix into a long; each vote is
    # then a shift-and-mask on that long. (The per-digit conv(substring)
    # form this replaces spent 1.7x the wall on n_digits string decodes
    # per token occurrence — same bits, measured at sf0.1.) Digit d is
    # the MOST significant end of the prefix, so bit j of the token
    # hash — bit j%4 of digit j//4 — sits at 4*(n_digits-1 - j//4) + j%4.
    hv = F.conv(F.substring(F.md5(F.col("_tok")), 1, n_digits), 16, 10).cast(
        "long"
    )
    base = exploded.select(id_col, hv.alias("_hv"))
    votes = []
    for j in range(bits):
        shift = 4 * (n_digits - 1 - j // 4) + j % 4
        bit = F.shiftright(F.col("_hv"), shift).bitwiseAND(F.lit(1))
        votes.append(F.sum(bit * 2 - 1).alias(f"_v{j}"))
    fingerprint = F.lit(0).cast("long")
    for j in range(bits):
        fingerprint = fingerprint.bitwiseOR(
            F.when(
                F.col(f"_v{j}") > 0, F.lit(1 << j).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
    return (
        base.groupBy(id_col).agg(*votes).select(id_col, fingerprint.alias("fp"))
    )


def simhash_pairs_from_fps(
    fps: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 8,
    chunk_bits: int = 16,
    n_chunks: int = 4,
) -> DataFrame:
    """Banded candidate generation + Hamming verify over precomputed
    SimHash fingerprints: ``n_chunks`` chunks of ``chunk_bits`` each
    band the fingerprint (any exact chunk match → candidate), verified
    with ``bit_count(xor) <= max_hamming``. Shared by the xxhash64 and
    md5-replayable fingerprint variants — the banding/verify machinery
    is hash-source-independent."""
    mask = (1 << chunk_bits) - 1
    chunks = fps.select(
        id_col,
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), c * chunk_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.select(
        F.col(id_col).alias("id_a"),
        F.col("fp").alias("fp_a"),
        "chunk_idx",
        "chunk",
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"),
        F.col("fp").alias("fp_b"),
        "chunk_idx",
        "chunk",
    )
    cands = (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cands.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def simhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs: 4×16-bit chunk banding (any exact chunk
    match → candidate; guarantees recall for Hamming ≤ 3 and catches most
    ≤ 8), verified with bit_count(xor) ≤ max_hamming."""
    fps = simhash_fingerprints(docs, id_col, text_col)
    return simhash_pairs_from_fps(
        fps, id_col, max_hamming=max_hamming, chunk_bits=16, n_chunks=4
    )


def exact_dedup(
    df: DataFrame, key_cols: list[str], order_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup with a deterministic winner (W5 top-1 shape): one
    shuffle on the key, first/last by ``order_col``."""
    order = [F.col(order_col).asc() if keep == "min" else F.col(order_col).desc()]
    return top_k_per_group(df, key_cols, order, k=1)


def decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    hit_col: str = "n_hit_grams",
    broadcast: bool = True,
) -> DataFrame:
    """Eval-set decontamination: for each training document, count the
    distinct word n-grams it shares with a held-out (eval/benchmark)
    corpus — the contamination check run before any pretraining corpus
    ships. Docs with hits are candidates for removal or audit.

    Scale shape: both sides explode to distinct (doc, gram) postings
    map-side; the holdout side collapses to its distinct gram set.

    ``broadcast=True`` (default) force-broadcasts that gram set — right
    for a single benchmark suite, which is tiny by definition. The hint
    OVERRIDES ``autoBroadcastJoinThreshold``: there is no automatic
    fallback, and an oversized holdout fails at the 8 GB broadcast limit
    (or drives the driver OOM) rather than degrading. For a
    multi-benchmark holdout whose distinct gram set may be large, pass
    ``broadcast=False`` to take a deliberate shuffled hash join
    (``shuffle_hash`` hint, probe side as build side) on the gram key —
    the training side then shuffles once on ``_ng``, which is the honest
    cost of a probe set that can't be replicated. Either way the per-doc
    hit-count aggregation is the other shuffle.
    """
    from datasheet_etl_spark.functions import tokens as _tok

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(word_shingles(_tok(F.col(text_col)), n))
            ).alias("_ng"),
        )

    probe = grams(holdout).select("_ng").distinct()
    probe = F.broadcast(probe) if broadcast else probe.hint("shuffle_hash")
    return (
        grams(train)
        .join(probe, "_ng")
        .groupBy(id_col)
        .agg(F.count_distinct("_ng").alias(hit_col))
    )


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    fp_col: str = "fp",
    order_col: str = "doc_id",
) -> DataFrame:
    """Batch-incremental dedup: an arriving shard against the persisted
    fingerprint index of everything already in the corpus — first
    within-shard exact dedup (min ``order_col`` representative), then an
    anti-join on the index. The batch analog of the streaming pipeline's
    fingerprint state: the index lives in storage (a parquet table of
    fingerprints), so state is a table scan, not executor memory, and
    the shard's survivors are exactly what :func:`exact_dedup` over
    (corpus ∪ shard) would newly admit.

    Scale shape: one shuffle for the within-shard dedup, one join
    against the index on the fingerprint key (broadcast if the index is
    small; at corpus scale, a shuffled join where only fingerprints —
    never document bodies — move). Append the survivors' fingerprints
    to the index to complete the increment.
    """
    fresh = exact_dedup(new_docs, [fp_col], order_col, keep="min")
    return fresh.join(index.select(fp_col).distinct(), fp_col, "left_anti")


class GramBloom:
    """A Bloom filter over a gram set: numpy uint64 word array + params.
    Built distributed (JVM-side bit positions → ``bit_or`` word agg),
    probed vectorized. Picklable — ships to executors in the probe-UDF
    closure as m/8 bytes regardless of how many grams went in."""

    def __init__(self, words, m_bits: int, k_hashes: int, n_grams: int):
        self.words = words  # numpy uint64[m_bits / 64]
        self.m_bits = m_bits
        self.k_hashes = k_hashes
        self.n_grams = n_grams

    def fp_rate(self) -> float:
        """Expected false-positive rate at the observed fill."""
        import math

        load = 1.0 - math.exp(-self.k_hashes * self.n_grams / self.m_bits)
        return load**self.k_hashes


def _bloom_positions(col: Column, k_hashes: int, m_bits: int) -> list[Column]:
    # position j = xxhash64(gram, j) mod m — deterministic across engines
    # and partitionings; hashing the (gram, j) tuple gives k independent
    # functions without string concat churn
    return [
        F.pmod(F.xxhash64(col, F.lit(j)), F.lit(m_bits)).cast("long")
        for j in range(k_hashes)
    ]


def build_gram_bloom(
    holdout: DataFrame,
    text_col: str = "text",
    n: int = 2,
    fpp: float = 0.01,
    m_bits: int | None = None,
    k_hashes: int | None = None,
) -> GramBloom:
    """Build a Bloom filter of a holdout corpus' distinct word n-grams —
    the decontamination probe for holdouts whose raw gram set is too
    large even for the shuffled join to be worth it.

    The bit array is built WITHOUT centralizing grams: each gram's k bit
    positions are computed JVM-side, reduced to 64-bit words with a
    ``bit_or`` hash-aggregate (m/64 rows shuffle, not the gram set), and
    only the word array (m/8 bytes — 1.2 MB per 1M grams at 1% fpp)
    is collected. Sizing: m = -n·ln(fpp)/ln2², k = (m/n)·ln2 when not
    given explicitly (one extra count job over the distinct grams).
    """
    import math

    import numpy as np

    from datasheet_etl_spark.functions import tokens as _tok

    grams = holdout.select(
        F.explode(
            F.array_distinct(word_shingles(_tok(F.col(text_col)), n))
        ).alias("_ng")
    ).distinct()
    if m_bits is None or k_hashes is None:
        # derive ONLY the missing parameter(s): a caller-chosen size or
        # hash count must never be silently overwritten
        n_grams = grams.count()
        if m_bits is None:
            m_bits = max(64, int(-n_grams * math.log(fpp) / (math.log(2) ** 2)))
        if k_hashes is None:
            k_hashes = max(1, round(m_bits / max(n_grams, 1) * math.log(2)))
    else:
        n_grams = -1  # caller-sized; fp_rate() meaningless until set
    # the word array is uint64-backed: round any size up to a multiple
    # of 64 so the highest bit positions have a word to land in
    m_bits = (m_bits + 63) // 64 * 64

    pos = F.explode(F.array(*_bloom_positions(F.col("_ng"), k_hashes, m_bits)))
    words = (
        grams.select(pos.alias("p"))
        .select(
            F.expr("p div 64").alias("widx"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("bit"),
        )
        .groupBy("widx")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    arr = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in words:
        arr[r["widx"]] = np.uint64(r["word"] & 0xFFFFFFFFFFFFFFFF)
    return GramBloom(arr, m_bits, k_hashes, n_grams)


def decontaminate_bloom(
    train: DataFrame,
    bloom: GramBloom,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    hit_col: str = "n_hit_grams",
) -> DataFrame:
    """Decontamination against a :class:`GramBloom` probe: per training
    document, the count of distinct n-grams the filter claims are in the
    holdout. A CONSERVATIVE SUPERSET of :func:`decontaminate` — Bloom
    false positives (rate ``bloom.fp_rate()``) can only over-count, so
    hit counts are ≥ the exact path's and no contaminated doc is ever
    missed; docs flagged only by FPs are the price of a probe that costs
    m/8 bytes instead of the gram set.

    Scale shape: the training side is never shuffled by the probe at all
    — membership is a map-side vectorized bit test (numpy over Arrow
    batches; xxhash64 bit positions match the builder's JVM hashing via
    pyspark's xxhash64 on the same (gram, j) tuples computed in-plan) —
    the only shuffle is the per-doc count aggregation.
    """
    import numpy as np

    from datasheet_etl_spark.functions import tokens as _tok

    words, k, m = bloom.words, bloom.k_hashes, bloom.m_bits

    grams = train.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(_tok(F.col(text_col)), n))
        ).alias("_ng"),
    )
    # bit positions computed IN-PLAN with the same JVM xxhash64 as the
    # builder — the Python stage only tests bits, it never re-hashes
    # (keeps the two sides bit-identical by construction)
    probe_in = grams.select(
        id_col, F.array(*_bloom_positions(F.col("_ng"), k, m)).alias("_pos")
    )

    def op(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            pos = np.array(list(pdf["_pos"]), dtype=np.int64)  # (rows, k)
            widx = pos >> 6
            bits = np.uint64(1) << (pos & 63).astype(np.uint64)
            hit = (words[widx] & bits).astype(bool).all(axis=1)
            out = pdf.loc[hit, [id_col]]
            if not out.empty:
                yield out

    id_type = train.schema[id_col].dataType.simpleString()
    hits = probe_in.mapInPandas(op, schema=f"{id_col} {id_type}")
    return hits.groupBy(id_col).agg(F.count("*").cast("long").alias(hit_col))


# ---------------------------------------------------------------------------
# incremental NEAR-dup: persisted banded-signature index
# ---------------------------------------------------------------------------


def write_minhash_index(
    sigs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 8,
    num_perm: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist the banded MinHash signature index of a corpus: one row
    per (id, band) holding (id, sig, band, bucket), written partitioned
    by ``band``. The near-dup analog of t40's exact-fingerprint index —
    the nightly-ingest state for incremental NEAR-dup dedup, resident
    in storage (≈ bands · 0.6 KB/doc), never executor memory.

    Partitioning by band matters twice at 100 TB: (a) a probe that
    banding assigns to band b only ever reads partition b (the probe
    join's scan is partition-pruned per band), and (b) the signature
    column needed for verify is recoverable from ANY single band
    partition (every id appears once per band), so est-Jaccard verify
    reads 1/bands of the index."""
    banded_buckets(sigs, id_col, sig_col, bands, num_perm, keep_sig=True).write.mode(
        mode
    ).partitionBy("band").parquet(path)


def append_to_minhash_index(
    sigs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 8,
    num_perm: int = 64,
) -> None:
    """Append a (deduped) shard's banded signatures to the index —
    dynamic partition append, so each band's new files land inside the
    existing band= directory. Same idempotence posture as the exact
    index: append AFTER the shard's survivors are decided."""
    write_minhash_index(sigs, path, id_col, sig_col, bands, num_perm, mode="append")


def probe_minhash_index(
    spark,
    path: str,
    shard_sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bands: int = 8,
    num_perm: int = 64,
    threshold_est: float = 0.5,
    max_bucket: int | None = 256,
) -> DataFrame:
    """New-shard near-dup probe against a persisted signature index:
    band the shard's signatures, join on (band, bucket) against the
    index AT REST, then verify candidates with the signature-estimated
    Jaccard (fraction of agreeing slots) ≥ ``threshold_est``.

    This is the incremental complement of :func:`minhash_dedup_pairs`
    (same permutation constants, same banding — a pair meets here iff
    it would meet in the from-scratch run over corpus ∪ shard; recall
    pinned in tests/test_skew_guards.py): the corpus side costs one
    index scan of bucket keys + one 1/bands scan for verify sigs, and
    the corpus TEXT is never touched — the entire point of keeping the
    index at 100 TB, where re-shingling the corpus per nightly shard
    would dwarf the shard itself.

    ``max_bucket`` caps the COMBINED (index + shard) bucket width —
    the same quantity ``lsh_candidate_pairs`` caps on the unified
    corpus, so the iff-equivalence above survives the cap, and a
    degenerate boilerplate SHARD (10k docs colliding into one bucket)
    can't go quadratic against the index either (degenerate buckets
    are exact-dedup territory). Returns (new_id, index_id,
    est_jaccard).
    """
    idx = spark.read.parquet(path)
    idx_b = idx.select(F.col(id_col).alias("index_id"), "band", "bucket")
    shard_b = banded_buckets(shard_sigs, id_col, sig_col, bands, num_perm).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    if max_bucket is not None:
        # combined-width cap: only buckets present on BOTH sides yield
        # cross pairs, so an inner count-join names exactly the buckets
        # to keep; the count aggs and semi-joins share the (band,
        # bucket) partitioning with the candidate join below
        iw = idx_b.groupBy("band", "bucket").agg(F.count("*").alias("_iw"))
        sw = shard_b.groupBy("band", "bucket").agg(F.count("*").alias("_sw"))
        ok = (
            iw.join(sw, ["band", "bucket"])
            .filter((F.col("_iw") + F.col("_sw")) <= max_bucket)
            .select("band", "bucket")
        )
        idx_b = idx_b.join(ok, ["band", "bucket"], "semi")
        shard_b = shard_b.join(ok, ["band", "bucket"], "semi")
    cands = (
        shard_b.join(idx_b, ["band", "bucket"])
        .filter(F.col("new_id") != F.col("index_id"))
        .select("new_id", "index_id")
        .distinct()
    )
    # verify sigs: every id appears once per band ⇒ band 0 alone is a
    # full (id, sig) map, and the read partition-prunes to that band
    idx_sigs = idx.filter(F.col("band") == 0).select(
        F.col(id_col).alias("index_id"), F.col(sig_col).alias("_sig_i")
    )
    new_sigs = shard_sigs.select(
        F.col(id_col).alias("new_id"), F.col(sig_col).alias("_sig_n")
    )
    est = F.size(
        F.filter(F.zip_with("_sig_n", "_sig_i", lambda x, y: x == y), lambda eq: eq)
    ) / F.size("_sig_n")
    return (
        cands.join(new_sigs, "new_id")
        .join(idx_sigs, "index_id")
        .select("new_id", "index_id", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold_est)
    )


def global_rank(
    df: DataFrame,
    order_cols: "list[str]",
    rank_col: str = "rn",
    num_partitions: int = 32,
) -> DataFrame:
    """Deterministic 1-based GLOBAL rank over a total order WITHOUT the
    single-partition sort ``row_number() OVER (ORDER BY ...)`` degrades
    to (Spark executes an empty-partitionBy window on one task — the
    whole corpus through one core at 100 TB).

    Two-pass shape: range-repartition on the order columns (contiguous
    key ranges, so partition id order IS global order), count rows per
    partition (one tiny job; ``num_partitions`` rows to the driver),
    prefix-sum the counts into per-partition offsets, and add each
    partition's LOCAL row_number to its broadcast offset. The rank
    depends only on the total order, never on where the sampled range
    boundaries land — any contiguous split yields the same ranks.

    ``order_cols`` must be a total order (append a unique id): with
    ties, which side of a partition boundary a tied row lands on — and
    therefore its rank — is sampling-dependent.

    Cost note: the counting job re-executes the input plan; persist or
    checkpoint upstream stages that are expensive to recompute.
    """
    part = df.repartitionByRange(
        num_partitions, *[F.col(c) for c in order_cols]
    )
    with_pid = part.withColumn("_pid", F.spark_partition_id())
    counts = with_pid.groupBy("_pid").count().collect()
    acc = 0
    offsets = []
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["count"]
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return (
        with_pid.withColumn("_lrn", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, (F.col("_off") + F.col("_lrn")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
    max_dist: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo): sort the
    corpus by a fuzzy key, pair each row with its next ``window``
    neighbors in the GLOBAL sort order, verify with exact Levenshtein.
    The blocking class ``fuzzy_levenshtein_join`` cannot express:
    equality blocking pairs rows only INSIDE a block, so near-keys that
    straddle a block boundary never meet — sorted adjacency has no
    blocks to straddle. Candidates are exactly ``window × N`` — set by
    policy, not by data skew (a hot blocking key inflates equality
    blocking quadratically; a hot sort key here still yields w pairs
    per row).

    Pairing is an equi-join on neighbor rank (each row exploded to its
    ``window`` successor ranks): ranks are unique and uniform, so the
    join shuffles w×N skew-free rows and no boundary replication logic
    is needed — the rank join IS the cross-partition adjacency. Output
    (id_a, id_b, dist) keeps rank order (a before b), one row per
    unordered pair (ranks are unique).

    The pair set is a pure function of the sort key's total order
    (:func:`global_rank` — partitioning-independent, single-task-free),
    which is what makes a sliding-window candidate set re-checkable by
    an oracle engine at all.
    """
    base = df.select(
        F.col(id_col), F.col(key_col).alias("_k")
    )
    ranked = global_rank(base, ["_k", id_col])
    left = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("_k").alias("_ka"),
        F.col("rn").alias("_ra"),
    ).withColumn(
        "_rb",
        F.explode(
            F.sequence(F.col("_ra") + 1, F.col("_ra") + window)
        ),
    )
    right = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col("_k").alias("_kb"),
        F.col("rn").alias("_rb"),
    )
    pairs = left.join(right, "_rb").select(
        "id_a", "id_b", F.levenshtein("_ka", "_kb").alias("dist")
    )
    if max_dist is not None:
        pairs = pairs.filter(F.col("dist") <= max_dist)
    return pairs
