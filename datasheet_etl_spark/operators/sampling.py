"""Deterministic sampling and sequence packing for training-data curation.

A 100 TB training pipeline cannot use ``rand()``-based sampling: task
retries under speculative execution would re-roll the dice and lose or
duplicate rows, and no oracle can re-check the result. Every operator
here derives its randomness from a cryptographic hash of a stable row
key (md5 → hex string), which makes the sample

- **deterministic**: same corpus → same sample, on any cluster, any
  partitioning, any retry;
- **re-checkable**: the exact same selection is expressible in ANSI SQL
  (DuckDB ``md5`` produces identical hex), so every operator carries a
  value-level oracle;
- **incremental**: new rows hash independently — adding a shard to the
  corpus never changes which old rows are sampled (rate-based ops), the
  property that lets a curation run resume after backfill.

Lexicographic order of the fixed-length lowercase-hex digest equals
numeric order of the 128-bit hash, so "k smallest hashes" is a uniform
k-sample and ``hex_prefix < threshold`` is a Bernoulli(rate) filter —
no hex→int conversion needed on either engine.

Scale shapes:
- ``uniform_sample``: global top-N by hash → Spark's TakeOrderedAndProject
  (per-partition partial top-N, merge on driver) — no full sort, no
  shuffle of the corpus.
- ``stratified_sample``: two-phase top-k — per-(stratum, salt-bucket)
  local top-k first (map-side shrink to S·k candidate rows per stratum),
  then exact top-k per stratum over candidates. The full corpus never
  sorts inside one giant per-stratum partition; only candidates do. The
  salt is hash-derived (retry-safe), and the pre-filter is lossless: the
  k smallest of a union is a subset of the union of per-bucket k smallest.
- ``weighted_sample``: pure per-row filter — zero shuffles.
- ``pack_sequences``: packing is embarrassingly parallel across hash
  shards; each shard packs independently under its own running total
  (one shuffle on the shard key). Shard count = 16^shard_hex_chars —
  raise the prefix length at scale so shards stay executor-sized.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "doc_hash",
    "uniform_sample",
    "stratified_sample",
    "stratified_sample_by_counts",
    "temperature_mixture_counts",
    "weighted_sample",
    "hash_uniform",
    "aes_weighted_sample",
    "mixture_waterfill",
    "epoch_shuffle",
    "rate_to_hex_threshold",
    "pack_sequences",
    "pack_sequences_nosplit",
    "length_bucket",
    "packing_histogram",
    "percentile_gate_approx",
    "split_thresholds",
    "assign_split",
]


def doc_hash(key: Column) -> Column:
    """Deterministic sampling hash: md5 of the stringified key, lowercase
    hex. Identical in Spark and DuckDB (``md5(CAST(k AS VARCHAR))``)."""
    return F.md5(key.cast("string"))


def uniform_sample(df: DataFrame, key_col: str, n: int) -> DataFrame:
    """The n rows with the smallest sampling hash — a deterministic
    uniform n-sample. ``orderBy(hash).limit(n)`` compiles to
    TakeOrderedAndProject: each partition keeps its local top-n, the
    driver merges — no global sort at any corpus size.

    The merged top-n lands on the driver, so this is for samples that
    fit there (≲ millions of rows). For corpus-scale samples use
    ``weighted_sample`` with rate = n/|corpus|: same hash family, pure
    map-side filter, approximately-n rows that never centralize."""
    return (
        df.withColumn("_h", doc_hash(F.col(key_col)))
        .orderBy("_h")
        .limit(n)
        .drop("_h")
    )


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_cols: Sequence[str],
    k: int,
    salt_buckets: int = 32,
    rank_col: str | None = "stratum_rank",
) -> DataFrame:
    """The k rows with the smallest sampling hash per stratum, with an
    optional deterministic 1-based rank within the stratum.

    Low-cardinality strata (language, source) make per-stratum partitions
    corpus-sized; the two-phase shape keeps the heavy sort off the full
    data: phase 1 ranks within (stratum, hash-salt bucket) — ≥k-row
    buckets shrink to k — phase 2 ranks the ≤ salt_buckets·k survivors
    per stratum exactly. Both phases are one shuffle each, and phase 2's
    input is tiny.
    """
    strata = list(strata_cols)
    h = df.withColumn("_h", doc_hash(F.col(key_col)))
    salt = F.pmod(F.xxhash64(F.col(key_col)), F.lit(salt_buckets))
    w1 = Window.partitionBy(*strata, "_salt").orderBy("_h")
    cand = (
        h.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy(*strata).orderBy("_h")
    out = cand.withColumn("_rn", F.row_number().over(w2)).filter(F.col("_rn") <= k)
    if rank_col is not None:
        out = out.withColumn(rank_col, F.col("_rn"))
    return out.drop("_rn", "_h")


def stratified_sample_by_counts(
    df: DataFrame,
    key_col: str,
    strata_cols: Sequence[str],
    counts_df: DataFrame,
    k_col: str = "k_s",
    salt_buckets: int = 32,
    rank_col: str | None = "stratum_rank",
) -> DataFrame:
    """:func:`stratified_sample` with a PER-STRATUM sample size: keep
    each stratum's ``k_s`` smallest-hash rows, where ``counts_df`` maps
    the strata columns to a ``k_col`` long — the primitive behind
    temperature-scaled mixture sampling, where k_s derives from the
    stratum's own size rather than a global k.

    Same skew-proof two-phase shape (the per-bucket pre-shrink is
    lossless for any per-stratum k: the k smallest of a union is a
    subset of the union of per-bucket k smallest); ``counts_df`` is one
    row per stratum, broadcast into both phases.
    """
    strata = list(strata_cols)
    sized = F.broadcast(counts_df)
    h = df.withColumn("_h", doc_hash(F.col(key_col))).join(sized, strata)
    salt = F.pmod(F.xxhash64(F.col(key_col)), F.lit(salt_buckets))
    w1 = Window.partitionBy(*strata, "_salt").orderBy("_h")
    cand = (
        h.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= F.col(k_col))
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy(*strata).orderBy("_h")
    out = cand.withColumn("_rn", F.row_number().over(w2)).filter(
        F.col("_rn") <= F.col(k_col)
    )
    if rank_col is not None:
        out = out.withColumn(rank_col, F.col("_rn").cast("long"))
    return out.drop("_rn", "_h")


def temperature_mixture_counts(
    df: DataFrame,
    strata_cols: Sequence[str],
    scale: float = 8.0,
    exponent_num: int = 1,
    exponent_den: int = 2,
    k_col: str = "k_s",
    n_col: str = "n_s",
) -> DataFrame:
    """Per-stratum target counts for temperature-scaled mixture
    sampling: ``k_s = ceil(scale · n_s^(num/den))``, capped at n_s. With
    the default exponent ½ (multilingual-corpus temperature sampling's
    classic α), small strata keep proportionally more of their data than
    large ones — the anti-crowding reweighting — computed with ``sqrt``
    (IEEE exactly-rounded, hence engine-stable) rather than ``pow``.

    Integer-count-based on purpose: rate-based temperature mixing needs
    data-dependent float thresholds that no static oracle can re-derive
    bit-exactly; counts + hash-order ranks stay exact on any engine.
    """
    if (exponent_num, exponent_den) != (1, 2):
        raise NotImplementedError(
            "only exponent 1/2 is supported: sqrt is the one fractional "
            "power IEEE guarantees exactly rounded (pow is not), and "
            "engine-stable determinism is the point of this operator"
        )
    n = F.count("*").alias(n_col)
    k = F.least(
        F.col(n_col), F.ceil(F.lit(float(scale)) * F.sqrt(F.col(n_col)))
    ).cast("long")
    return df.groupBy(*strata_cols).agg(n).withColumn(k_col, k)


def quantile_gate(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    q: float = 0.75,
    accuracy: int = 10_000,
    keep_threshold_col: str | None = None,
) -> DataFrame:
    """Single-stratum convenience form of
    :func:`percentile_gate_approx` — same thresholds, same tie
    semantics, one implementation (kept as a wrapper for the
    established call sites)."""
    return percentile_gate_approx(
        df, value_col, [strata_col], q, accuracy, keep_threshold_col
    )


def rate_to_hex_threshold(rate: float, hex_digits: int = 4) -> str:
    """Quantize a sampling rate to a fixed-width lowercase-hex threshold:
    rows whose hash prefix sorts (strictly) below it are kept. 4 hex
    digits → rate resolution 1/65536. Rate 1.0 returns ``"g"``, which
    sorts after every hex prefix, so nothing is dropped.

    Rates quantize DOWNWARD by up to one quantum (1/16^hex_digits); a
    nonzero rate below one quantum would silently quantize to an empty
    sample, so it raises instead — callers with tiny rates must raise
    ``hex_digits`` (each extra digit buys 16× resolution)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if 0.0 < rate < 1.0 / 16**hex_digits:
        raise ValueError(
            f"rate {rate} is below the resolution 1/16^{hex_digits} "
            f"({1.0 / 16**hex_digits:.2e}) and would quantize to an empty "
            f"sample; increase hex_digits"
        )
    q = int(rate * 16**hex_digits)
    if q >= 16**hex_digits:
        return "g"
    return format(q, f"0{hex_digits}x")


def _keep_predicate(
    key_col: str,
    strata_col: str,
    rates: Mapping[str, float],
    hex_digits: int,
    default_rate: float,
) -> Column:
    """Keep iff ``substr(hash, 1, hex_digits) < hex_threshold(rate)``;
    rates quantize to 1/16^hex_digits."""
    prefix = F.substring(doc_hash(F.col(key_col)), 1, hex_digits)
    thresh: Column = F.lit(rate_to_hex_threshold(default_rate, hex_digits))
    for value, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == value, F.lit(rate_to_hex_threshold(rate, hex_digits))
        ).otherwise(thresh)
    return prefix < thresh


def weighted_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: Mapping[str, float],
    hex_digits: int = 4,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli sampling at stratum-specific rates — the
    mixture-reweighting step of corpus curation (upsample scarce
    high-quality sources, downsample the crawl) as a pure map-side
    filter: zero shuffles, retry-safe, incremental under corpus growth.
    """
    return df.filter(
        _keep_predicate(key_col, strata_col, rates, hex_digits, default_rate)
    )


def weighted_sample_stats(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: Mapping[str, float],
    hex_digits: int = 4,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum (n_docs, n_sampled) audit of a ``weighted_sample``
    selection in ONE scan: a conditional aggregate over the same keep
    predicate — at corpus scale the separate scan-filter-scan-join form
    would read the data twice."""
    keep = _keep_predicate(key_col, strata_col, rates, hex_digits, default_rate)
    return df.groupBy(strata_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_sampled"),
    )


def pack_sequences(
    df: DataFrame,
    key_col: str,
    cost_col: str,
    budget: int,
    shard_hex_chars: int = 1,
    shard_col: str = "shard",
    bin_col: str = "bin_id",
    offset_col: str = "bin_offset",
) -> DataFrame:
    """Assign rows to fixed-budget training bins (sequence packing).

    Rows are sharded by a hash prefix, ordered by hash within the shard,
    and chunked greedily by running cost: a row starting at running
    offset ``o`` lands in bin ``floor(o / budget)`` — concatenate-then-
    chunk semantics, the shape used to pack documents into fixed-length
    token streams. Deterministic, one shuffle (on the shard key), and
    shards pack independently so parallelism = 16^shard_hex_chars.
    """
    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    h = df.withColumn("_h", doc_hash(F.col(key_col)))
    out = h.withColumn(shard_col, F.substring("_h", 1, shard_hex_chars))
    w = Window.partitionBy(shard_col).orderBy("_h")
    running = F.sum(F.col(cost_col).cast("long")).over(w) - F.col(cost_col)
    # integer `div`, not floor(o / budget): the double division loses
    # exactness past 2^53, reachable when few shards carry ~100 TB of
    # token counts (same rule as the epoch-µs math in io.py)
    return (
        out.withColumn(offset_col, running)
        .withColumn(bin_col, F.expr(f"{offset_col} div {int(budget)}"))
        .drop("_h")
    )


def pack_in_order(
    df: DataFrame,
    cost_col: str,
    budget: int,
    shard_col: str = "shard",
    order_cols: Sequence[str] = ("pos",),
    bin_col: str = "bin_id",
    offset_col: str = "bin_offset",
) -> DataFrame:
    """:func:`pack_sequences`' packing arithmetic over an EXISTING
    shard/order — the form a training-order pipeline needs, where the
    read order is already fixed (e.g. :func:`epoch_shuffle`'s
    (shard, pos)) and bins must chunk THAT stream, not this module's
    own hash order. Same concatenate-then-chunk semantics, same
    integer ``div`` (never float floor — exactness past 2^53), one
    window over the existing shard partitioning. The frame is pinned
    to ROWS: the default RANGE frame includes all ORDER BY peers, so
    tied order keys (e.g. same-second timestamps) would double-count
    each other's cost and corrupt every downstream offset —
    pack_sequences only dodges this because its md5 order key is
    unique.

    REQUIREMENT: ``order_cols`` must uniquely order rows within a
    shard. The ROWS frame makes tied keys non-corrupting for the
    running SUM, but their relative order — and therefore which row
    gets which offset — is then partitioning-dependent, so replays
    and retries would disagree. Tie detection costs a full extra
    window pass, so it is a documented contract, not a runtime check;
    append a tiebreak column (epoch_shuffle's ``pos`` is unique by
    construction) when keys can collide."""
    if budget <= 0:
        # `off div 0` is NULL in Spark SQL, not an error — every bin_id
        # would be silently NULL
        raise ValueError(f"budget must be > 0, got {budget}")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col(cost_col).cast("long")).over(w) - F.col(cost_col)
    return df.withColumn(offset_col, running.cast("long")).withColumn(
        bin_col, F.expr(f"{offset_col} div {int(budget)}")
    )


def pack_efficiency(
    plan: DataFrame,
    cost_col: str,
    budget: int,
    shard_col: str = "shard",
) -> DataFrame:
    """Per-shard efficiency rollup over a :func:`pack_in_order` /
    :func:`pack_sequences` plan — the number a training team watches
    per nightly build: docs, total cost, bins the concatenate-then-
    chunk stream occupies (``(total-1) div budget + 1`` — integer
    arithmetic, exact past 2^53; this is the OCCUPANCY count a trainer
    provisions, >= the plan's ``max(bin_id)+1`` start-bin count
    whenever a row spills across bins), and the fill rate of those
    bins (one IEEE division, rounded for display). One partial-agged
    groupBy on the shard; output is shard-count sized."""
    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    total = F.sum(F.col(cost_col).cast("long"))
    # backtick-quoted so cost columns needing escaping ('n chars',
    # 'cost-2021') behave identically to the F.col form above; div,
    # not float floor — exactness past 2^53, the packers' rule
    n_bins = F.greatest(
        F.lit(1).cast("long"),
        F.expr(f"(sum(cast(`{cost_col}` as long)) - 1) div {int(budget)}")
        + 1,
    )
    return plan.groupBy(shard_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        total.alias("total_cost"),
        n_bins.alias("n_bins"),
        F.round(total / (n_bins * F.lit(int(budget))), 6).alias("fill_rate"),
    )


def pack_sequences_nosplit(
    df: DataFrame,
    key_col: str,
    cost_col: str,
    budget: int,
    shard_hex_chars: int = 1,
    shard_col: str = "shard",
    bin_col: str = "bin_id",
    offset_col: str = "bin_offset",
) -> DataFrame:
    """Assign rows to fixed-budget bins WITHOUT splitting a row across
    bins — greedy next-fit in deterministic hash order: a row that does
    not fit in the current bin's remaining budget opens the next bin.
    The SFT-style packing shape, where a document must never straddle a
    training sequence (vs :func:`pack_sequences`' concatenate-then-chunk
    for pretraining token streams). A row with cost > budget gets a bin
    of its own (flagged ``oversize`` — never silently dropped; drop or
    chunk first via ``chunk_documents`` as policy dictates).

    Scale shape: next-fit is inherently sequential — the canonical case
    for ``applyInPandas`` — but only WITHIN a shard: rows hash-shard
    exactly as in :func:`pack_sequences` (one shuffle), each shard packs
    independently in one pass, and parallelism = 16^shard_hex_chars.
    Deterministic and partitioning-independent: order inside a shard is
    the md5 hash, not arrival order. Bin ids are globally unique as
    (shard, bin_id); waste vs the split-allowed form is < one row's cost
    per bin (next-fit's bound), the price of row integrity.
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    h = df.withColumn("_h", doc_hash(F.col(key_col)))
    sharded = h.withColumn(shard_col, F.substring("_h", 1, shard_hex_chars))
    out_fields = sharded.schema.fields

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_h", kind="mergesort").reset_index(drop=True)
        costs = pdf[cost_col].astype("int64").to_numpy()
        bins = [0] * len(costs)
        offsets = [0] * len(costs)
        oversize = [False] * len(costs)
        cur_bin, fill = 0, 0
        for i, c in enumerate(costs):
            if c > budget:
                # dedicated bin, then continue packing in a fresh one
                if fill > 0:
                    cur_bin += 1
                bins[i], offsets[i], oversize[i] = cur_bin, 0, True
                cur_bin, fill = cur_bin + 1, 0
                continue
            if fill + c > budget:
                cur_bin, fill = cur_bin + 1, 0
            bins[i], offsets[i] = cur_bin, fill
            fill += c
        pdf[bin_col] = pd.Series(bins, dtype="int64")
        pdf[offset_col] = pd.Series(offsets, dtype="int64")
        pdf["oversize"] = pd.Series(oversize, dtype="bool")
        return pdf

    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields]
        + [f"{bin_col} long", f"{offset_col} long", "oversize boolean"]
    )
    packed = sharded.groupBy(shard_col).applyInPandas(pack, schema=schema)
    return packed.drop("_h")


def length_bucket(len_col: Column, buckets: tuple[int, ...]) -> Column:
    """Smallest bucket ceiling ≥ the length (an explicit CASE ladder —
    engine-stable, unlike float log2 at boundaries); lengths above the
    largest ceiling land in the ``-1`` overflow bucket."""
    expr = F.lit(-1).cast("long")
    for b in sorted(buckets, reverse=True):
        expr = F.when(len_col <= b, F.lit(b).cast("long")).otherwise(expr)
    return F.when(len_col <= 0, F.lit(0).cast("long")).otherwise(expr)


def packing_histogram(
    df: DataFrame,
    len_col: str,
    buckets: tuple[int, ...] = (32, 64, 128, 256, 512, 1024, 2048),
) -> DataFrame:
    """Packing-efficiency planner: bucket documents by token length into
    power-of-two ceilings and report, per bucket, the document count,
    the real token mass, the padded token mass if every doc were padded
    to its bucket ceiling (the cost of naive fixed-shape batching), and
    the resulting utilization. The pre-flight audit that motivates
    sequence packing (:func:`pack_sequences`): utilization far below 1.0
    in a heavy bucket is exactly the waste packing recovers.

    Overflow docs (longer than the largest ceiling) report bucket ``-1``
    with padded mass = real mass (they'd be chunked, not padded);
    empties land in bucket ``0``.

    ONE map-side projection + one tiny grouped aggregate (≤ len(buckets)
    + 2 output rows): shuffle volume is the bucket cardinality, not the
    corpus. Utilization is a double ratio of exact integer sums, rounded
    to 6 places — engine-portable (integer inputs are IEEE-exact, and
    division is correctly rounded in both engines).
    """
    lc = F.col(len_col)
    b = length_bucket(lc, buckets).alias("bucket")
    padded = (
        F.when(F.col("bucket") > 0, F.col("bucket"))
        .otherwise(F.col("_n"))
        .cast("long")
    )
    return (
        df.select(b, lc.alias("_n"))
        .select("bucket", "_n", padded.alias("_pad"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n").cast("long").alias("sum_tokens"),
            F.sum("_pad").cast("long").alias("padded_tokens"),
        )
        .withColumn(
            "utilization",
            F.when(
                F.col("padded_tokens") > 0,
                F.round(
                    F.col("sum_tokens").cast("double") / F.col("padded_tokens"),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )


def percentile_gate_approx(
    df: DataFrame,
    score_col: str,
    strata: Sequence[str],
    q: float = 0.75,
    accuracy: int = 10000,
    keep_threshold_col: str | None = None,
) -> DataFrame:
    """The corpus-scale form of the per-stratum percentile gate
    (t39_quality_percentile_gate): instead of a percent_rank sort over
    every stratum (full sort of the corpus), compute ONE
    approx_percentile threshold per stratum — a tiny aggregate, one row
    per stratum — broadcast it back, and keep rows with
    ``score >= threshold``. Same selection as the exact gate up to
    boundary ties (all rows AT the threshold are kept here, while the
    rank form tie-breaks them), which is the right trade at 100 TB: the
    sort is gone, the threshold table is kilobytes, and the boundary
    set is measure-zero for continuous scores.

    DISCRETE scores change that calculus: with a handful of score
    levels the threshold level itself can hold a large fraction of the
    stratum, and keeping all its ties overshoots the quantile budget
    badly (the 4-level quality_score keeps ~73% at q=0.75 on the test
    corpus). When the kept-count budget is the contract and the score
    is coarse, use the exact rank gate — or gate on a composite
    ``(score, doc_hash)`` so ties break deterministically at any scale.

    ``accuracy`` is the KLL/GK sketch knob — 10⁴ gives ≤0.01% rank
    error; raise it if strata are billions of rows and the gate must
    sit within a hair of the true quantile.
    """
    th = df.groupBy(*[F.col(s) for s in strata]).agg(
        F.percentile_approx(score_col, q, accuracy).alias("_th")
    )
    out = df.join(F.broadcast(th), list(strata)).filter(
        F.col(score_col) >= F.col("_th")
    )
    if keep_threshold_col is not None:
        return out.withColumnRenamed("_th", keep_threshold_col)
    return out.drop("_th")


def split_thresholds(
    fractions: Mapping[str, float], hex_digits: int = 4
) -> list[tuple[str, str]]:
    """Cumulative hex boundaries for :func:`assign_split`, in the
    fractions' insertion order: ``[(split, upper_hex_bound), ...]``.
    Each boundary is the quantized cumulative fraction; the LAST split's
    bound is forced to ``"g"`` (sorts after every hex prefix) so
    quantization shortfall never leaves a row unassigned — the final
    split absorbs the remainder, exactly like the reference rule
    "everything not sampled elsewhere is train".
    """
    if not fractions:
        raise ValueError("fractions must be non-empty")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    quantum = 1.0 / 16**hex_digits
    for name, frac in fractions.items():
        # cumulative bounds bypass rate_to_hex_threshold's own
        # quantize-to-empty guard, so enforce it per split here: a
        # fraction under one quantum would collapse onto the previous
        # bound and silently assign ZERO rows to that split
        if frac < quantum:
            raise ValueError(
                f"fraction {frac} for split {name!r} is below the "
                f"resolution 1/16^{hex_digits} ({quantum:.2e}) and would "
                f"receive no rows; increase hex_digits"
            )
    bounds: list[tuple[str, str]] = []
    cum = 0.0
    names = list(fractions)
    for name in names:
        cum += fractions[name]
        bounds.append((name, rate_to_hex_threshold(min(cum, 1.0), hex_digits)))
    bounds[-1] = (names[-1], "g")
    return bounds


def assign_split(
    df: DataFrame,
    key_col: str,
    fractions: Mapping[str, float],
    split_col: str = "split",
    hex_digits: int = 4,
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every
    training-data build needs, as a pure map-side expression.

    The row's md5-hash prefix is compared against cumulative hex
    boundaries (first boundary it sorts below wins), so the assignment
    is:

    - **retry-safe / partitioning-independent** — hash-derived, not
      ``rand()``: a re-run, a repartition, or a speculative duplicate
      task assigns every row identically;
    - **stable under corpus growth** — a document keeps its split when
      new documents arrive (no re-shuffling of holdout membership, the
      property that prevents silent eval-set contamination across
      corpus versions);
    - **zero-shuffle** — one scan, no joins, no aggregates; at 100 TB
      the split costs what the scan costs;
    - **SQL-re-checkable** — the same CASE over ``md5(key)`` runs in
      any engine (the t52 oracle re-derives it in DuckDB).

    Fractions quantize to 1/16^hex_digits (4 digits → 1/65536); the
    last split absorbs the quantization remainder. Keys must be unique
    per row (doc ids) — duplicate keys co-assign, which is usually the
    desired "all shards of one document stay together" behavior.
    """
    bounds = split_thresholds(fractions, hex_digits)
    prefix = F.substring(doc_hash(F.col(key_col)), 1, hex_digits)
    expr: Column = F.lit(bounds[-1][0])
    for name, bound in reversed(bounds[:-1]):
        expr = F.when(prefix < bound, F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def mixture_waterfill(
    avail: DataFrame,
    key_cols: Sequence[str],
    avail_col: str,
    weight_col: str,
    budget: float,
) -> DataFrame:
    """Token-budget waterfilling across corpus sources: allocate
    ``budget`` tokens to sources proportionally to their target mixture
    ``weight_col``, capping each source at its availability
    ``avail_col`` and redistributing the shortfall to the unsaturated
    sources at their relative weights — the closed-form solution of
    ``maximize Σ aₛ s.t. aₛ = min(nₛ, λ·wₛ), Σ aₛ = B``. The standard
    failure this replaces: naive ``aₛ = B·wₛ/W`` silently under-fills
    the budget whenever any source can't supply its share (small
    high-weight wiki-like sources saturate and the leftover tokens
    vanish instead of flowing to the big crawl sources).

    One pass, no iteration: sort sources by ``nₛ/wₛ`` (the λ at which
    each saturates), prefix-scan availability and weight, and for each
    boundary test whether λ = (B − Σ_sat n)/(W − Σ_sat w) lands between
    the neighbouring saturation ratios — exactly one boundary is
    consistent (the objective is piecewise-linear increasing in λ).
    If ``budget ≥ Σ nₛ``, every source saturates and λ is unbounded.

    Scale shape: this runs on the PER-SOURCE aggregate (one row per
    corpus domain — dozens to hundreds of rows), never on the corpus;
    the single global window over that bounded table is deliberate.
    Returns one row per source: allocation, sampling ``rate``
    (allocation/availability — feed it to ``weighted_sample``'s
    hash thresholds), and a ``saturated`` flag.
    """
    kl = list(key_cols)
    # degenerate sources never enter the solve: weight ≤ 0/NULL means
    # 'excluded from the mixture' (allocation 0), avail ≤ 0/NULL has
    # nothing to give — and under ANSI mode either would otherwise
    # crash the divisions below with DIVIDE_BY_ZERO
    solvable_pred = (
        F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
        & F.col(avail_col).isNotNull()
        & (F.col(avail_col) > 0)
    )
    degenerate = avail.filter(~solvable_pred).select(
        *kl,
        F.col(avail_col),
        F.col(weight_col),
        F.lit(0.0).alias("allocation"),
        F.lit(0.0).alias("rate"),
        # a zero-availability source trivially gives everything it has
        F.coalesce(F.col(avail_col) <= 0, F.lit(False)).alias("saturated"),
    )
    avail = avail.filter(solvable_pred)
    ratio = (F.col(avail_col) / F.col(weight_col)).alias("_ratio")
    d = avail.select(*kl, avail_col, weight_col, ratio)
    # bounded table (one row per source): a single unpartitioned window
    # is the right plan here, not a repartition
    w_order = Window.orderBy("_ratio", *kl)
    w_all = Window.partitionBy()
    d = d.select(
        "*",
        F.sum(avail_col).over(w_order).alias("_cum_n"),
        F.sum(weight_col).over(w_order).alias("_cum_w"),
        F.sum(avail_col).over(w_all).alias("_tot_n"),
        F.sum(weight_col).over(w_all).alias("_tot_w"),
        F.lag("_ratio").over(w_order).alias("_prev_ratio"),
    )
    # candidate λ assuming every source BEFORE this row saturates; valid
    # when it lands in [prev_ratio, ratio) — i.e. this row does not
    lam_c = (F.lit(budget) - F.coalesce(F.lag("_cum_n").over(w_order), F.lit(0.0))) / (
        F.col("_tot_w") - F.coalesce(F.lag("_cum_w").over(w_order), F.lit(0.0))
    )
    d = d.withColumn("_lam_c", lam_c).withColumn(
        "_lam_valid",
        (F.col("_lam_c") < F.col("_ratio"))
        & (
            F.col("_prev_ratio").isNull()
            | (F.col("_lam_c") >= F.col("_prev_ratio"))
        ),
    )
    lam_row = d.filter("_lam_valid").select(
        F.min("_lam_c").alias("_lam")
    )  # exactly one valid boundary; min() just collapses to one row
    out = d.crossJoin(F.broadcast(lam_row.select(F.coalesce("_lam", F.lit(None)).alias("_lam"))))
    # a NULL λ is legitimate ONLY when the budget covers the whole
    # availability (everything saturates). Any other no-valid-boundary
    # state (e.g. adverse double rounding exactly on a saturation
    # boundary) must FAIL LOUDLY, not silently allocate full
    # availability and blow the budget: assert_true raises then.
    lam_ok = F.col("_lam").isNotNull() | (
        F.col("_tot_n") <= F.lit(budget) * (1 + 1e-12)
    )
    saturated = F.col("_lam").isNull() | (F.col("_ratio") <= F.col("_lam"))
    alloc = F.when(
        F.assert_true(
            lam_ok, F.lit("mixture_waterfill: no valid λ boundary found")
        ).isNull()
        & saturated,
        F.col(avail_col).cast("double"),
    ).otherwise(
        # a non-positive budget yields a negative λ: clamp to zero
        F.greatest(F.lit(0.0), F.col("_lam") * F.col(weight_col))
    )
    solved = out.select(
        *kl,
        F.col(avail_col),
        F.col(weight_col),
        F.round(alloc, 6).alias("allocation"),
        F.round(alloc / F.col(avail_col), 6).alias("rate"),
        saturated.alias("saturated"),
    )
    return solved.unionByName(degenerate)


def hash_uniform(key: Column) -> Column:
    """Deterministic uniform in (0, 1) from the row key: the first 13
    hex digits of the md5 hash (52 bits — exactly a double's mantissa)
    as an integer, midpoint-shifted and scaled. Cross-engine exact:
    DuckDB replays it as ``(('0x' || substr(md5(k), 1, 13))::UBIGINT
    + 0.5) / 16^13``. The +0.5 keeps u strictly inside (0, 1) so
    ``ln(u)`` below is always finite."""
    i = F.conv(F.substring(doc_hash(key), 1, 13), 16, 10).cast("double")
    return (i + F.lit(0.5)) / F.lit(float(16**13))


def aes_weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    strata_cols: Sequence[str] | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement (Efraimidis–
    Spirakis A-ES): each row draws a deterministic uniform u from its
    key and ranks by ``ln(u) / w`` — the top k per stratum are a
    weighted sample without replacement, each row's inclusion
    probability proportional to its weight among the survivors. The
    exact-k complement to t38's temperature mixture (rate-based
    EXPECTED counts) and ``uniform_sample``'s unweighted top-N: "give me exactly k
    docs, long ones proportionally more often".

    Same determinism contract as everything in this module: the draw
    is md5-derived, so a re-run, repartition, or speculative duplicate
    selects the identical sample, and DuckDB can re-check the whole
    selection (the t91 oracle re-derives it).

    Scale shape: the scoring pass is map-only (hash + ln — no state);
    selection is one top-k — per-stratum via the shared
    ``relational.top_k_per_group`` (the q16 machinery), or a global
    TakeOrdered when unstratified. Rows with NULL or non-positive
    weight are excluded up front (weight 0 = never sampled; A-ES is
    undefined there), and NULL keys too (they cannot draw a uniform).

    Ties: ``ln(u)/w`` collisions are broken by key for a total,
    deterministic order — which requires keys UNIQUE per row (the same
    contract as ``assign_split``): duplicate keys draw the same
    uniform and the selection among them is partitioning-dependent.
    Sample after dedup, or on a genuinely unique id."""
    kc, wc = F.col(key_col), F.col(weight_col)
    scored = df.filter(
        kc.isNotNull() & wc.isNotNull() & (wc > 0)
    ).withColumn("_aes", F.ln(hash_uniform(kc)) / wc.cast("double"))
    order = [F.col("_aes").desc(), kc.asc()]
    if strata_cols:
        from datasheet_etl_spark.operators.relational import top_k_per_group

        out = top_k_per_group(
            scored, list(strata_cols), order, k, rank_col=rank_col, keep_rank=True
        )
    else:
        # global top-k: TakeOrdered (per-partition k then merge k·p),
        # never a single-partition global window over the corpus;
        # ranking the k survivors afterwards is O(k)
        topk = scored.orderBy(*order).limit(k)
        out = topk.withColumn(
            rank_col, F.row_number().over(Window.orderBy(*order))
        )
    return out.drop("_aes")


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    epoch: int,
    shard_hex_chars: int = 2,
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic training-order shuffle, re-drawn per epoch: every
    row gets a (shard, position) from the md5 hash of ``key:epoch`` —
    the order a trainer reads shard-by-shard. The properties a 100 TB
    training loop needs and ``rand()``/``orderBy(rand())`` cannot give:

    - same epoch → the identical order on any cluster, any retry (a
      preempted data-loading job resumes mid-epoch consistently);
    - different epoch → a fresh, uncorrelated permutation (the salt
      changes every hash);
    - corpus growth moves no existing row ACROSS shards within an
      epoch beyond its own re-hash — and the whole order is
      re-derivable in SQL for audit (t97's oracle).

    Scale shape: shard assignment is map-only; position is a
    row_number per shard — 16^shard_hex_chars shards, so each sort is
    1/shards of the corpus (raise the prefix length until shards are
    executor-sized, same dial as ``pack_sequences``). Keys must be
    unique and non-NULL (the ``assign_split`` contract)."""
    h = F.md5(
        F.concat(
            F.col(key_col).cast("string"), F.lit(":"), F.lit(str(int(epoch)))
        )
    )
    out = df.filter(F.col(key_col).isNotNull()).withColumns(
        {"_eh": h, shard_col: F.substring(h, 1, shard_hex_chars)}
    )
    w = Window.partitionBy(shard_col).orderBy("_eh", F.col(key_col))
    return out.withColumn(pos_col, F.row_number().over(w)).drop("_eh")


def temperature_mixture_stats(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    hex_digits: int = 4,
) -> DataFrame:
    """Temperature-scaled mixture resampling (the XLM/mT5 multilingual
    rule): target shares p_s ∝ n_s^alpha flatten the corpus distribution
    toward uniform as alpha → 0, up-sampling low-resource strata; each
    stratum then Bernoulli-samples at rate
    ``budget_frac · N · p_s / n_s`` (capped at 1) through the
    deterministic md5-prefix gate, so the expected sample hits
    ``budget_frac · N`` rows distributed as p. This derives the rates
    FROM the data in-plan — ``weighted_sample_stats`` covers the
    static-config-rate gate; this grades the named data-dependent rule.

    Exactness contract: at the default alpha = 0.5 the stratum weight is
    ``sqrt(n_s)`` — IEEE-correctly-rounded in every engine, unlike
    ``pow`` — and the normalizer sums those weights as exact decimals
    (order-free), so the quantized per-stratum thresholds
    ``k_s = round(rate · 16^hex_digits)`` replay bit-identically in an
    oracle engine evaluating the same left-associated double expression.
    Other alphas work but carry ulp-level ``pow`` skew across libms —
    pin their rates from the driver if they must be re-derivable.

    Shape at scale: two tiny per-stratum aggregates (counts, then the
    one-row normalizer broadcast back), then ONE corpus scan with a
    broadcast rate join and a conditional aggregate — the sample
    membership itself is a pure map-side predicate, retry-safe and
    stable under corpus growth of other strata (a stratum's rate moves
    only when counts move, never with partitioning).

    Returns per stratum: n_docs, k (the 16^hex_digits-scale integer
    threshold — the rate, exactly), n_sampled, id_sum (content
    fingerprint of the selected set).
    """
    scale = 16**hex_digits
    counts = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = F.sqrt("n_docs") if alpha == 0.5 else F.pow("n_docs", F.lit(alpha))
    cw = counts.withColumn("_w", w.cast("decimal(28,10)"))
    tot = cw.agg(
        F.sum("n_docs").cast("double").alias("_tn"),
        F.sum("_w").alias("_tw"),
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(budget_frac)
        * F.col("_tn")
        * F.col("_w").cast("double")
        / F.col("_tw").cast("double")
        / F.col("n_docs").cast("double"),
    )
    rates = (
        cw.crossJoin(F.broadcast(tot))
        .withColumn("k", F.round(rate * scale, 0).cast("int"))
        .select(strata_col, "n_docs", "k")
    )
    pv = F.conv(
        F.substring(doc_hash(F.col(key_col)), 1, hex_digits), 16, 10
    ).cast("long")
    keep = pv < F.col("k")
    return (
        df.select(key_col, strata_col)
        .join(F.broadcast(rates), strata_col)
        .groupBy(strata_col, "n_docs", "k")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_sampled"),
            F.sum(F.when(keep, F.col(key_col)).otherwise(0))
            .cast("long")
            .alias("id_sum"),
        )
    )
