"""Distinct-count sketches beyond the built-in HyperLogLog (q24b).

KMV / theta-style k-minimum-values sketch: keep the k smallest
(normalized) hash values of a column; estimate distinct count as
(k−1)/R with R the k-th smallest value as a fraction of hash space.
Unlike ``approx_count_distinct`` the sketch itself is a first-class,
MERGEABLE value: union sketches across partitions, days, or tables by
taking the k smallest of the union — set semantics the reference's
stats rollups (and any incremental pipeline) need.

Scale shape: one map pass builds per-partition partials (k values
each); the merge handles numPartitions × k values — kilobytes at any
corpus size. Deterministic: xxhash64 is a fixed function of the input.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# hash normalized into [0, 1): xxhash64 over the full signed-64 range
_HASH_SPAN = float(1 << 64)


def _norm_hash(col) -> "F.Column":
    # shift signed 64-bit into unsigned position without overflow:
    # (h / 2^64) + 0.5 maps [-2^63, 2^63) → [0, 1)
    return (F.xxhash64(col) / F.lit(_HASH_SPAN)) + F.lit(0.5)


def kmv_partials(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """Per-partition partial sketches: ≤ k smallest distinct normalized
    hashes each, built in one vectorized pass (numpy unique + partition).
    Output: one row per kept hash value (column ``h``).

    NULLs are excluded before hashing, matching SQL COUNT(DISTINCT) and
    ``approx_count_distinct`` semantics (xxhash64(NULL) would otherwise
    degenerate to the seed hash and count as one extra distinct value).
    """
    import numpy as np
    import pandas as pd

    hashed = df.filter(F.col(col).isNotNull()).select(
        _norm_hash(F.col(col)).alias("h")
    )

    def op(batches):
        best: "np.ndarray | None" = None
        for pdf in batches:
            vals = pdf["h"].to_numpy()
            pool = vals if best is None else np.concatenate([best, vals])
            pool = np.unique(pool)  # sorted ascending, deduped
            best = pool[:k]
        if best is not None and len(best):
            yield pd.DataFrame({"h": best})

    return hashed.mapInPandas(op, schema="h double")


def kmv_sketch(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """The merged k-minimum-values sketch: k smallest distinct hashes
    overall (ascending). TakeOrdered over the tiny partial pool."""
    return kmv_partials(df, col, k).distinct().orderBy("h").limit(k)


def kmv_grouped_sketch(
    df: DataFrame, keys: Sequence[str], col: str, k: int = 256
) -> DataFrame:
    """Per-KEY KMV pools: the ≤k smallest distinct normalized hashes
    of ``col`` within each key group — the batch form of
    ``kmv_distinct_stateful``'s grouped streaming state. Two exchanges: the (keys, h) dedup (partial
    map-side combine collapses within-partition duplicates before it
    ships) and the keys-only re-shuffle for the rank prune, which runs
    in that exchange's sorted partition pass. Hashes shuffle, never
    values. Output: one row per kept hash (keys..., h)."""
    from pyspark.sql import Window

    hashed = (
        df.filter(F.col(col).isNotNull())
        .select(*keys, _norm_hash(F.col(col)).alias("h"))
        .distinct()
    )
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        hashed.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def kmv_grouped_estimate(
    df: DataFrame, keys: Sequence[str], col: str, k: int = 256
) -> DataFrame:
    """Per-key distinct-count estimates from per-key KMV pools:
    (k−1)/max(h) per key, or the exact pool size where the group's
    distinct count is below k — the regime in which the estimate IS
    ``count(DISTINCT col)`` bit-for-bit (the below-k exactness route), which
    is what lets a caller pick a structurally-bounded grouping and
    oracle the result against plain SQL."""
    sk = kmv_grouped_sketch(df, keys, col, k)
    return sk.groupBy(*keys).agg(
        F.when(F.count("h") < k, F.count("h").cast("double"))
        .otherwise(F.lit(k - 1) / F.max("h"))
        .alias("distinct_est")
    )


def kmv_merge(*sketches: DataFrame, k: int = 256) -> DataFrame:
    """Union sketches (same k) into the sketch of the unioned inputs —
    exact mergeability is the point of the family."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("h").limit(k)


def _collect_sketch(sketch: DataFrame, k: int) -> list[float]:
    """Collect a sketch as the k smallest distinct hashes, ascending.

    Tolerant of oversized input (raw ``kmv_partials`` output, or a sketch
    built with a larger k): the k smallest of a valid KMV pool IS the
    k-sketch of the same set, so truncating is exact — whereas trusting
    ``vals[-1]`` of an oversized pool would silently inflate theta and
    wreck every estimate."""
    vals = sorted({r["h"] for r in sketch.collect()})
    return vals[:k]


def kmv_estimate(sketch: DataFrame, k: int = 256) -> float:
    """Distinct-count estimate from a sketch: (k−1)/R, or the exact
    count when fewer than k distinct hashes exist (small domains are
    exact by construction)."""
    vals = _collect_sketch(sketch, k)
    if len(vals) < k:
        return float(len(vals))
    return (k - 1) / vals[-1]


def kmv_distinct(df: DataFrame, col: str, k: int = 256) -> float:
    """One-shot estimate of ``count(distinct col)``."""
    return kmv_estimate(kmv_sketch(df, col, k), k)


# ---------------------------------------------------------------------------
# Theta-style set algebra over KMV sketches
# ---------------------------------------------------------------------------
# A KMV sketch is a uniform sample of the distinct-hash space below a
# threshold theta (= the k-th smallest hash, or 1.0 when the domain is
# smaller than k and the sketch is exact). Intersections and differences
# follow the theta-sketch construction (Dasgupta et al., "Theta-Sketch
# Framework", and the Apache DataSketches docs): restrict both samples
# to the COMMON theta = min(theta_a, theta_b), apply the exact set op to
# the restricted samples, and scale by 1/theta. Corpus-overlap audits
# (how many training docs does corpus B share with corpus A?) run on
# kilobyte sketches instead of a distinct-join over the corpora.


def _theta(vals: list[float], k: int) -> float:
    """Sampling threshold of a collected sketch: 1.0 while exact
    (< k values kept), else the largest (k-th smallest) kept hash."""
    return 1.0 if len(vals) < k else vals[-1]


def kmv_set_estimates(sketch_a: DataFrame, sketch_b: DataFrame, k: int = 256) -> dict:
    """Estimate |A∪B|, |A∩B|, |A\\B|, |B\\A| and Jaccard from two KMV
    sketches built with the same k.

    Driver-side by design: each sketch is at most k rows (kilobytes at
    any corpus scale), so collecting both is O(k) — the whole point of
    sketching is that the set algebra never touches the corpora again.
    """
    va = _collect_sketch(sketch_a, k)
    vb = _collect_sketch(sketch_b, k)
    theta = min(_theta(va, k), _theta(vb, k))
    sa = {h for h in va if h < theta or theta == 1.0}
    sb = {h for h in vb if h < theta or theta == 1.0}
    inter = len(sa & sb) / theta
    a_only = len(sa - sb) / theta
    b_only = len(sb - sa) / theta
    union = len(sa | sb) / theta
    return {
        "union": union,
        "intersection": inter,
        "difference_a_minus_b": a_only,
        "difference_b_minus_a": b_only,
        "jaccard": (inter / union) if union else 0.0,
        "theta": theta,
    }


def hll_partials(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-key HLL distinct sketches as MERGEABLE binary columns — the
    ``merge_rollups`` incremental-maintenance pattern applied to COUNT DISTINCT (the
    most common 100 TB metric, and the one a mergeable-rollup (n, sum,
    min, max) tuple cannot carry): each ingest shard aggregates its own
    kilobyte-scale sketch, the nightly job unions sketches WITHOUT
    re-reading any corpus, and the estimate is Spark's Apache
    DataSketches HLL (``hll_sketch_agg``), identical whether built in
    one pass or merged from any shard partition. ``lg_k=12`` → 2^12
    registers ≈ 1.6% relative standard error in ~4 KB per key."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("hll")
    )


def hll_merge(*partials: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Union per-key HLL partials from any number of shards into one
    sketch per key (``hll_union_agg``) — associative and commutative,
    so any merge tree gives the same sketch state."""
    from functools import reduce

    kl = list(keys)
    u = reduce(lambda a, b: a.unionByName(b), partials)
    return u.groupBy(*kl).agg(F.hll_union_agg("hll").alias("hll"))


def hll_estimate(sketches: DataFrame, out_col: str = "n_distinct") -> DataFrame:
    """Per-key distinct estimates from stored sketch binaries."""
    return sketches.withColumn(out_col, F.hll_sketch_estimate("hll")).drop(
        "hll"
    )


# --- Mergeable equi-width histogram (quantile sketch) -----------------
#
# The quantile counterpart to the HLL family above: once the value
# FRAME (lo, hi, bins) is fixed, per-bin counts are plain additive
# integers — shards aggregate their own kilobyte-scale bin vectors,
# merges are a sum, and any merge tree yields the histogram of the
# union exactly (unlike t-digest/KLL, whose merged state is
# order-dependent). Quantile estimates are read off the cumulative
# counts with one-bin-width resolution. Fixing the frame up front is
# the documented tradeoff that buys exact mergeability: values outside
# [lo, hi] clamp into the edge bins.
#
# Scale shape: the partial pass is a map-side-combined
# groupBy(keys, bin).count() — at most keys × bins rows ever shuffle,
# independent of corpus size; the frame pass is a 1-row min/max
# aggregate. Deterministic: bin assignment is pure IEEE double
# arithmetic on exact min/max, reproducible across engines (a DuckDB
# query can replay the identical expressions).


def bitmap_page_partials(
    df: DataFrame, keys: Sequence[str], col: str
) -> DataFrame:
    """Per-(keys, page) EXACT membership bitmaps over an integer
    column: ``bitmap_bucket_number`` splits the value domain into
    32768-bit pages, ``bitmap_bit_position`` sets the in-page bit, and
    ``bitmap_construct_agg`` builds one fixed-size (≤4 KB) binary page
    per group — the exact counterpart of :func:`hll_partials` in the
    same mergeable-partials algebra. Partials from different shards,
    days, or table versions OR together losslessly
    (:func:`bitmap_distinct_grouped` merges with ``bitmap_or_agg``),
    so incremental maintenance shuffles pages, never raw values.
    Output: keys + ``_page`` + ``_bm``."""
    return (
        df.select(
            *keys,
            F.bitmap_bucket_number(F.col(col)).alias("_page"),
            F.bitmap_bit_position(F.col(col)).alias("_pos"),
        )
        .groupBy(*keys, "_page")
        .agg(F.bitmap_construct_agg(F.col("_pos")).alias("_bm"))
    )


def bitmap_distinct_grouped(
    partials: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """EXACT per-key distinct counts from bitmap page partials: OR
    same-page bitmaps across partials, then sum each key's page
    popcounts. Unlike ``count(DISTINCT)`` (shuffles raw values) or HLL
    (constant-size but approximate), the bitmap path is exact AND
    fixed-size per page — the right tool for dense integer domains.
    Output: keys + ``n_distinct`` (BIGINT)."""
    merged = partials.groupBy(*keys, "_page").agg(
        F.bitmap_or_agg(F.col("_bm")).alias("_bm")
    )
    return merged.groupBy(*keys).agg(
        F.sum(F.bitmap_count(F.col("_bm"))).cast("long").alias("n_distinct")
    )


def hist_frame(df: DataFrame, col: str) -> tuple[float, float]:
    """The fixed value frame (min, max) the histogram family requires —
    one aggregate pass, a single collected row (bounded)."""
    row = df.agg(
        F.min(col).alias("lo"), F.max(col).alias("hi")
    ).first()
    if row["lo"] is None:
        raise ValueError(f"hist_frame: column {col!r} has no non-NULL values")
    return float(row["lo"]), float(row["hi"])


def _bin_col(col: str, lo: float, hi: float, bins: int) -> "F.Column":
    # degenerate frame (all values equal): every value lands in bin 0
    # rather than dividing by a zero width (ANSI-safe by construction)
    if hi <= lo:
        return F.lit(0).cast("long")
    width = (hi - lo) / bins
    raw = F.floor((F.col(col) - F.lit(lo)) / F.lit(width))
    # clamp: x == hi (or float round-up) → last bin; x < lo → bin 0
    return F.greatest(
        F.least(raw, F.lit(bins - 1).cast("long")), F.lit(0).cast("long")
    )


def hist_bin(col: str, lo: float, hi: float, bins: int = 64) -> "F.Column":
    """The public bin-assignment expression — what a STREAMING
    aggregation groups by to maintain the histogram incrementally
    (frame fixed up front, counts additive; see
    tests/test_streaming.py's materialized-histogram composition)."""
    return _bin_col(col, lo, hi, bins)


def hist_partials(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lo: float,
    hi: float,
    bins: int = 64,
) -> DataFrame:
    """Per-key per-bin counts for one shard — the mergeable partial.
    NULLs are excluded (no bin can represent them; callers wanting a
    NULL tally should count them separately, as profile.py does)."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(*keys, _bin_col(col, lo, hi, bins).alias("bin"))
        .agg(F.count("*").cast("long").alias("n"))
    )


def hist_merge(*partials: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Sum per-(key, bin) counts across shards — associative,
    commutative, and EXACT: the merged histogram equals the one-pass
    histogram of the unioned input bit-for-bit."""
    from functools import reduce

    kl = [*keys, "bin"]
    u = reduce(lambda a, b: a.unionByName(b), partials)
    return u.groupBy(*kl).agg(F.sum("n").cast("long").alias("n"))


def hist_quantiles(
    hist: DataFrame,
    keys: Sequence[str],
    qs: Sequence[float],
    lo: float,
    hi: float,
    bins: int = 64,
) -> DataFrame:
    """Per-key quantile estimates from a (merged) histogram: for each
    q, the LOWER EDGE of the first bin whose cumulative count reaches
    q × total — resolution is one bin width. All window/agg work runs
    over keys × bins rows (kilobytes), never the corpus."""
    from pyspark.sql import Window

    kl = list(keys)
    w = (
        Window.partitionBy(*kl)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        *kl,
        "bin",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(Window.partitionBy(*kl)).alias("total"),
    )
    q_df = hist.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    width = (hi - lo) / bins if hi > lo else 0.0
    return (
        cum.crossJoin(F.broadcast(q_df))
        .filter(F.col("cum") >= F.col("q") * F.col("total"))
        .groupBy(*kl, "q")
        .agg(F.min("bin").alias("bin"))
        .select(
            *kl,
            "q",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("est"),
        )
    )
