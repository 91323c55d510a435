"""Core reusable relational shapes (survey §2.3/§2.4 → helpers).

Every helper is a composition of built-in DataFrame operators, so Catalyst
still sees the whole plan (pushdown, codegen, AQE all apply). Each
docstring notes the scale behavior: what shuffles, what broadcasts, and
why the shape survives 1000 executors.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def zip_frames(
    left: DataFrame,
    right: DataFrame,
    partition_keys: Sequence[str],
    order_keys: Sequence[str],
    pos_col: str = "pos",
    suffixes: tuple[str, str] = ("_l", "_r"),
    right_order_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Positional (zip) join — J1.

    Ranks each side within ``partition_keys`` by ``order_keys`` and
    inner-joins on (partition, position). Inner join reproduces Python
    ``zip`` truncation: trailing rows of the longer side drop silently
    (ref behavior: double_verifier.py:425-446 — an outer join here would
    change conflict counts).

    Scale: both sides shuffle once on ``partition_keys`` (the window and
    the join reuse the same hash partitioning, so Catalyst plans a single
    exchange per side).

    Determinism: ``order_keys`` must be a TOTAL order per partition on
    each side (or ties must only occur between fully-identical rows) —
    row_number over a partial order assigns positions arbitrarily and
    results stop being reproducible. Sides with different payload
    columns can pass ``right_order_keys`` to tie-break independently.
    """
    wl = Window.partitionBy(*partition_keys).orderBy(*order_keys)
    wr = Window.partitionBy(*partition_keys).orderBy(
        *(right_order_keys if right_order_keys is not None else order_keys)
    )
    lhs = left.withColumn(pos_col, F.row_number().over(wl))
    rhs = right.withColumn(pos_col, F.row_number().over(wr))
    overlap = (set(lhs.columns) & set(rhs.columns)) - set(partition_keys) - {pos_col}
    for c in overlap:
        lhs = lhs.withColumnRenamed(c, c + suffixes[0])
        rhs = rhs.withColumnRenamed(c, c + suffixes[1])
    return lhs.join(rhs, [*partition_keys, pos_col], "inner")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    partition_keys: Sequence[str],
    left_on: str,
    right_on: str,
    right_value_cols: Sequence[str],
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_on <= left_on`` (direction='backward'; 'forward' matches the
    earliest right row ≥), per partition key. Unmatched → NULLs.

    ``tolerance`` (pandas ``merge_asof``-style) voids a match further
    than that many units away — seconds for timestamp on-columns, plain
    difference for numeric ones; the matched row's payload comes back
    NULL, as if no right row existed.

    Built as merge-ordered union + forward fill, NOT a per-row range
    subquery: both sides union into one stream tagged by side, sort
    within the partition key by (ts, side), and ``last(value,
    ignoreNulls)`` carries the right side's payload onto each left row.
    ONE shuffle on the partition keys regardless of |right| matches per
    row — the shape that survives market-data-sized inputs; an
    inequality self-join would be quadratic per key.

    Ties (equal timestamps) match: the right row sorts before the left
    row at the same instant.

    NULL partition keys follow SQL JOIN semantics, not PARTITION BY
    semantics: a right row with a NULL key can never match anything
    (it is filtered before the union — otherwise the window's
    NULLs-group-together partitioning would silently "match" NULL to
    NULL), and a left row with a NULL key is kept with NULL payload
    (left-join semantics). Review-found r13; pinned in
    tests/test_training_ops.py.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = list(partition_keys)
    lcols = [c for c in left.columns if c not in keys and c != left_on]
    for k in keys:
        right = right.filter(F.col(k).isNotNull())
    tagged_r = right.select(
        *keys,
        F.col(right_on).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_value_cols],
        *[F.lit(None).alias(f"_l_{c}") for c in lcols],
    )
    tagged_l = left.select(
        *keys,
        F.col(left_on).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_r_{c}") for c in right_value_cols],
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
    )
    unioned = tagged_r.unionByName(tagged_l)
    order = F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carry = [
        F.last(f"_r_{c}", ignorenulls=True).over(w).alias(c)
        for c in right_value_cols
    ]
    # Per-column match timestamp: each carried value is the most recent
    # NON-NULL per column, so the tolerance gate must use the timestamp
    # of the row that supplied THAT column — a newer right row with a
    # NULL in one column must not re-validate a stale value carried from
    # an older, out-of-tolerance row. Only computed when there IS a
    # tolerance gate — in the common no-tolerance path these extra
    # last()-over-window aggregates would be dead compute.
    match_ts = (
        [
            F.last(
                F.when(
                    (F.col("_side") == 0) & F.col(f"_r_{c}").isNotNull(), F.col("_ts")
                ),
                ignorenulls=True,
            ).over(w).alias(f"_match_ts_{c}")
            for c in right_value_cols
        ]
        if tolerance is not None
        else []
    )

    out = (
        unioned.select(
            *keys, "_ts", "_side", *[F.col(f"_l_{c}") for c in lcols], *carry, *match_ts
        )
        .filter(F.col("_side") == 1)
    )
    if tolerance is not None:
        def _within(c: str) -> Column:
            # timestamp → double yields epoch seconds; numeric casts verbatim
            mts = F.col(f"_match_ts_{c}")
            gap = F.abs(F.col("_ts").cast("double") - mts.cast("double"))
            return mts.isNotNull() & (gap <= F.lit(float(tolerance)))

        out = out.select(
            *keys,
            "_ts",
            "_side",
            *[F.col(f"_l_{c}") for c in lcols],
            *[F.when(_within(c), F.col(c)).alias(c) for c in right_value_cols],
        )
    return out.select(
        *keys,
        F.col("_ts").alias(left_on),
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *right_value_cols,
    )


def cogroup_merge_asof(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_on: str,
    right_on: str,
    direction: str = "backward",
    tolerance: int | float | None = None,
    num_buckets: int = 32,
) -> DataFrame:
    """As-of join through the COGROUPED-pandas seam: both sides group
    on ``keys``, each key's two Arrow batches land in one Python
    function, and pandas ``merge_asof`` aligns them
    (``FlatMapCoGroupsInPandas`` in the plan). Returns every left row
    with the right side's non-key columns attached (NULL when no match
    — left-join semantics: left-only keys see an empty right frame,
    right-only keys emit nothing).

    WHEN to use this over :func:`asof_join` (the all-JVM merge-ordered
    union + forward fill, ONE shuffle, no Python): only when the
    per-key logic genuinely needs pandas — custom tolerance shapes,
    nearest-direction matching, or follow-on per-key array math in the
    same pass. This seam pays the same shuffle PLUS an in-group sort
    and the Arrow round-trip; the 100 TB default is asof_join.

    The cogroup key is a HASH BUCKET of ``keys`` (``num_buckets``
    groups), not the raw key: one Python invocation per bucket with
    ``merge_asof(by=keys)`` vectorizing the per-key alignment inside
    it, instead of one invocation (and its fixed pandas overhead) per
    key. Measured on 1 500 keys / 100 k rows this is ~8x (6.84 s →
    0.88 s); the semantics are identical. Pick ``num_buckets`` so a bucket's two
    sides fit an executor's Arrow batch comfortably — it plays the
    role shuffle partitions play for a join.

    Determinism notes baked into the contract:
    - NULL ``keys`` values follow SQL JOIN semantics: a NULL-keyed
      right row never matches, a NULL-keyed left row is kept with
      NULL payload. (pandas ``merge_asof(by=)`` would happily match
      NaN to NaN — review-found r13 — so both sides' NULL-keyed rows
      are split out before the merge.)
    - ``left_on``/``right_on`` should be integer or float columns
      (stage timestamps as ``unix_micros`` BEFORE the seam — no
      datetime-unit or tz pitfalls inside pandas).
    - Right-side rows should be unique per (keys, right_on); otherwise
      which equal-timestamp row wins depends on Arrow batch order.
      Pre-aggregate to enforce it (as t129 does with max(event_id)).
    - ``direction``/``tolerance`` pass through to ``merge_asof``
      (backward = latest right at-or-before, pandas semantics).
    """
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    key_set = set(keys)
    lf = list(left.schema.fields)
    rf = [f for f in right.schema.fields if f.name not in key_set]
    clash = [f.name for f in rf if f.name in {g.name for g in lf}]
    if clash:
        raise ValueError(
            f"right columns collide with left: {clash}; rename before joining"
        )
    if "_cg" in left.columns or "_cg" in right.columns:
        raise ValueError("column name '_cg' is reserved by cogroup_merge_asof")
    out_schema = StructType(
        [StructField(f.name, f.dataType, True) for f in (*lf, *rf)]
    )
    out_cols = [f.name for f in out_schema.fields]
    # pandas nullable-int dtypes per unmatched right column: merge_asof
    # fills float NaN, which Arrow won't narrow back to integral types
    _int_dtype = {
        "bigint": "Int64",
        "int": "Int32",
        "smallint": "Int16",
        "tinyint": "Int8",
        "boolean": "boolean",
    }
    r_restore = {
        f.name: _int_dtype[f.dataType.simpleString()]
        for f in rf
        if f.dataType.simpleString() in _int_dtype
    }
    r_object = [
        f.name
        for f in rf
        if f.dataType.simpleString() not in _int_dtype
        and not f.dataType.simpleString().startswith(("double", "float", "decimal"))
    ]

    def align(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        # a NULL on-value would reach merge_asof as NaN and fail with
        # pandas' misleading "keys must be sorted" — name the real
        # contract violation instead
        if lpdf[left_on].isna().any() or rpdf[right_on].isna().any():
            raise ValueError(
                f"cogroup_merge_asof: NULL in on-column "
                f"({left_on!r}/{right_on!r}); filter or fill before joining"
            )
        # SQL JOIN semantics for NULL keys: merge_asof's by-matching
        # would pair NaN with NaN, so NULL-keyed right rows are dropped
        # (they can never match) and NULL-keyed left rows bypass the
        # merge, rejoining with all-NaN right columns
        l_null = lpdf[list(keys)].isna().any(axis=1)
        lpdf, l_rest = lpdf[~l_null], lpdf[l_null]
        rpdf = rpdf[~rpdf[list(keys)].isna().any(axis=1)]
        out = pd.merge_asof(
            lpdf.drop(columns=["_cg"]).sort_values(left_on, kind="mergesort"),
            rpdf.drop(columns=["_cg"]).sort_values(right_on, kind="mergesort"),
            left_on=left_on,
            right_on=right_on,
            by=list(keys),
            direction=direction,
            tolerance=tolerance,
        )
        if len(l_rest):
            out = pd.concat(
                [out, l_rest.drop(columns=["_cg"])], ignore_index=True
            )
        for c, dt in r_restore.items():
            out[c] = out[c].astype(dt)
        for c in r_object:
            # unmatched object/string cells come back as float NaN —
            # normalize to None so Arrow reads them as SQL NULL
            out[c] = out[c].where(out[c].notna(), None)
        return out[out_cols]

    bucket = F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), F.lit(int(num_buckets))
    ).cast("int")
    # Re-alias every column on both sides: when left and right derive
    # from the SAME source (the common self-cogroup shape), unaliased
    # passthrough columns share Catalyst attribute ids, and the
    # analyzer's cogroup de-duplication rewrites the right child —
    # the shared key column silently VANISHES from the right pandas
    # frame (merge_asof then fails with KeyError on the by-column).
    # An alias always mints a fresh attribute id, severing the share.
    left = left.select([F.col(c).alias(c) for c in left.columns])
    right = right.select([F.col(c).alias(c) for c in right.columns])
    return (
        left.withColumn("_cg", bucket)
        .groupBy("_cg")
        .cogroup(right.withColumn("_cg", bucket).groupBy("_cg"))
        .applyInPandas(align, out_schema)
    )


def salt_expr(salt_from: str, buckets: int) -> Column:
    """The deterministic salt :func:`salted_join` derives — exposed so
    tests and diagnostics reproduce the operator's own spread instead
    of re-stating the formula."""
    return F.pmod(F.xxhash64(F.col(salt_from)), F.lit(buckets)).cast("int")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    salt_from: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: the (large, skewed) left side gets a
    deterministic salt in [0, buckets) derived from ``salt_from`` (a
    column unique-ish per row — NOT the join key), the (smaller) right
    side is replicated once per salt, and the join runs on
    (keys…, salt). A single hot key thereby spreads over ``buckets``
    tasks instead of melting one executor.

    The salt is hash-derived, not rand(): task retries must re-produce
    the same salt or rows are lost/duplicated under speculative
    execution. AQE's skew-join split handles moderate skew on its own —
    reach for this when one key dominates by orders of magnitude.
    """
    lhs = left.withColumn("_salt", salt_expr(salt_from, buckets))
    rhs = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(buckets).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    return lhs.join(rhs, [*keys, "_salt"], how).drop("_salt")


def incremental_anti(
    inputs: DataFrame, processed: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Idempotent-rerun filter — J4/S7: drop inputs whose key already
    exists in the processed table (left anti join).

    Scale: if ``processed`` is small, Catalyst broadcasts automatically;
    otherwise it's one shuffle on the key — still the right shape because
    an anti join short-circuits per key.
    """
    return inputs.join(processed.select(*keys).distinct(), list(keys), "left_anti")


def top_k_per_group(
    df: DataFrame,
    partition_keys: Sequence[str],
    order_by: Sequence[Column],
    k: int = 1,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """Top-k-per-group via row_number — W5 (deterministic: caller must
    make ``order_by`` a total order, e.g. add a unique tiebreak column).

    Scale: single shuffle on the partition keys; with AQE the sort is
    per-partition and spills rather than OOMs on skewed groups. For k=1
    on a very hot key, pre-aggregate with max_by instead.
    """
    w = Window.partitionBy(*partition_keys).orderBy(*order_by)
    ranked = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return ranked if keep_rank else ranked.drop(rank_col)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a CPU-bound stage has at least the session's default
    parallelism: round-robin repartition only when the input is
    under-partitioned (a single unsplittable file, a post-coalesce
    plan); no-op — no shuffle added — when the input is already
    parallel, as any at-scale scan is.

    NOT applied by default inside this repo's operators — measured at
    bench scale (sf0.1, single-row-group parquet): the JIT-warm
    single-core corpus passes are faster than paying the extra exchange
    (JVM hash-agg stages: ≤ ~8% win; Pandas-UDF scans: a large LOSS,
    32 partitions spin up 32 Python workers whose startup dwarfs the
    compute). Reach for it explicitly when a genuinely heavy per-row
    stage (vision decode, model scoring) meets a few-partition input.
    Checking partition count converts the plan to an RDD (driver-side,
    no job)."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def cap_buckets(df: DataFrame, keys: Sequence[str], max_size: int | None) -> DataFrame:
    """Drop every bucket (group over ``keys``) larger than ``max_size``.
    ``max_size=None`` disables the guard (full recall, quadratic risk).

    The skew guard in front of any bucket self-join (LSH banding,
    hyperplane tables): one hot bucket of width w contributes w² candidate
    pairs, so a single degenerate key turns a linear-output join quadratic.
    Capping is a windowed ``count`` over the bucket keys — NO sort (the
    frame is the whole unbounded partition) and the shuffle it introduces
    is on exactly the keys the self-join repartitions by anyway, so AQE
    reuses the exchange.

    Recall caveat: a cluster of > ``max_size`` near-identical documents
    collides in EVERY band, so all its buckets drop and it yields zero
    pairs — run exact-hash dedup alongside, and audit the loss with
    ``dropped_buckets`` when tuning the cap.
    """
    if max_size is None:
        return df
    w = Window.partitionBy(*[F.col(k) for k in keys])
    return (
        df.withColumn("_bucket_width", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_width") <= max_size)
        .drop("_bucket_width")
    )


def dropped_buckets(df: DataFrame, keys: Sequence[str], max_size: int) -> DataFrame:
    """Observability twin of ``cap_buckets``: one row per bucket the cap
    WOULD drop, with its width — (keys…, bucket_width). Callers count or
    inspect these to quantify the recall the skew guard trades away."""
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("bucket_width"))
        .filter(F.col("bucket_width") > max_size)
    )


def forward_fill(
    df: DataFrame,
    partition_keys: Sequence[str],
    order_keys: Sequence[str],
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Forward fill — W6: last non-NULL value up to the current row.

    ``last(ignorenulls)`` over ROWS UNBOUNDED PRECEDING; one shuffle on
    the partition keys.
    """
    out_col = out_col or value_col + "_ff"
    w = (
        Window.partitionBy(*partition_keys)
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col, F.last(value_col, ignorenulls=True).over(w))


def sessionize(
    df: DataFrame,
    partition_keys: Sequence[str],
    ts_col: str,
    gap: int,
    order_keys: Sequence[str] | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Session ids from inactivity gaps — Q18/W8.

    A new session starts when ts - lag(ts) > gap (or at the first row);
    the session id is the running count of starts. One shuffle on the
    partition keys; in streaming the same semantics come from
    ``session_window`` (see streaming module).

    UNIT CONTRACT: ``gap`` is in ``ts_col``'s OWN units — the gap is
    compared against raw ``ts_col`` deltas (after a double cast), so a
    timestamp column (whose double cast is epoch seconds) takes a gap
    in seconds, while a microsecond ts needs a microsecond gap. Named
    ``gap``, not ``gap_seconds``, exactly so the name never promises a
    unit the column doesn't have.
    """
    order_keys = list(order_keys or [ts_col])
    w = Window.partitionBy(*partition_keys).orderBy(*order_keys)
    ts = F.col(ts_col).cast("double")
    prev = F.lag(ts).over(w)
    is_start = F.when(prev.isNull() | ((ts - prev) > gap), 1).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(session_col, F.sum(is_start).over(wsum))


def dynamic_pivot(
    df: DataFrame,
    group_keys: Sequence[str],
    pivot_col: str,
    agg: Column,
    sanitize: bool = True,
) -> DataFrame:
    """Deterministic dynamic pivot — A1/S10/Q14.

    Two-pass: collect the distinct pivot keys (sorted — the reference's
    key-union contract, batch_export.py:228), then pivot with the
    explicit value list so the plan and output schema are deterministic.
    Column names are sanitized to identifier-safe lowercase.

    Scale: pass 1 is a cheap distinct on one column (pushed-down scan of
    just that column); pass 2 is a single hash aggregate. Never call
    ``pivot`` without a value list on big data — it runs pass 1
    implicitly with no cap.
    """
    values = [r[0] for r in df.select(pivot_col).distinct().collect()]
    values = sorted(v for v in values if v is not None)
    out = df.groupBy(*group_keys).pivot(pivot_col, values).agg(agg)
    if sanitize:
        for v in values:
            out = out.withColumnRenamed(str(v), sanitize_identifier(str(v)))
    return out


def sanitize_identifier(name: str) -> str:
    """'1-URGENT' → 'p_1_urgent': identifier-safe pivot column names."""
    import re

    slug = re.sub(r"[^0-9a-zA-Z]+", "_", name.strip().lower()).strip("_")
    return f"p_{slug}" if not slug or not slug[0].isalpha() else slug


def unpivot(
    df: DataFrame,
    id_keys: Sequence[str],
    value_cols: Sequence[str],
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Wide → long via stack() — A2/Q15. Pure projection; no shuffle."""
    n = len(value_cols)
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    return df.selectExpr(
        *id_keys, f"stack({n}, {pairs}) as (`{key_col}`, `{value_col}`)"
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "doc_id",
    fp_col: str = "fp",
    status_col: str = "status",
) -> DataFrame:
    """Corpus-version diff: classify every key across two snapshots as
    ``added`` (new only), ``removed`` (old only), ``changed`` (both, but
    the fingerprint differs) or ``unchanged``. The primitive behind
    incremental corpus releases: ship only added+changed downstream,
    tombstone removed, and audit churn rates between builds.

    Both inputs carry ``(key_col, fp_col)`` — fingerprints are computed
    MAP-SIDE by the caller (e.g. ``md5(text)``) so only (key, 16-byte
    fp) ever shuffles, never document bodies. One sort-merge full-outer
    join on the key is the entire cost; at 100 TB both snapshots shuffle
    once, or zero times if both are bucketed by the key
    (``io.write_bucketed``), which is how successive corpus builds
    should be laid out. AQE handles per-key skew (keys are unique here,
    so there is none by construction).

    Returns ``(key_col, status, old_fp, new_fp)``.
    """
    # presence comes from explicit indicator columns, NOT fp nullness:
    # a row present in both snapshots with a NULL fingerprint (md5 of a
    # NULL body) must classify as changed/unchanged, never added/removed
    o = old.select(
        F.col(key_col),
        F.col(fp_col).alias("old_fp"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(key_col),
        F.col(fp_col).alias("new_fp"),
        F.lit(True).alias("_in_new"),
    )
    j = o.join(n, key_col, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(key_col, status.alias(status_col), "old_fp", "new_fp")


def resample_locf(
    series: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    step_sec: int,
    grid_col: str = "grid_sec",
    out_col: str = "last_value",
) -> DataFrame:
    """Resample an irregular series onto a regular epoch-second grid
    with last-observation-carried-forward — the gap-fill/regularization
    step feature pipelines run before joining signals sampled at
    different rates.

    ``series`` must already be ONE row per (keys…, ts) — pre-aggregate
    ties (e.g. ``max_by(value, seq)``) or the carried value is
    nondeterministic. ``ts_col`` is epoch seconds (long).

    Per key: the grid spans floor(min_ts, step) … max_ts, materialized
    with ``sequence``+``explode`` (grid rows ≈ span/step per key — rows
    are generated, nothing is shuffled to build them), then one as-of
    join (merge-ordered union + forward fill, see :func:`asof_join`)
    carries the latest observation onto each grid point. Grid points
    before the first observation get NULL, like a left as-of join
    should. Total cost: one tiny bounds aggregate + the as-of join's
    single shuffle on the keys.
    """
    # a NULL-ts row would be invisible to the bounds agg yet sort FIRST
    # in the as-of window (asc = nulls first) and wrongly carry its
    # value onto pre-first-observation grid points — drop such rows
    series = series.filter(F.col(ts_col).isNotNull())
    lo = (F.floor(F.min(ts_col) / step_sec) * step_sec).cast("long")
    bounds = series.groupBy(*keys).agg(
        lo.alias("_lo"), F.max(ts_col).cast("long").alias("_hi")
    )
    grid = bounds.select(
        *keys,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(int(step_sec)))
        ).alias(grid_col),
    )
    out = asof_join(
        grid,
        series.select(*keys, F.col(ts_col), F.col(value_col)),
        keys,
        grid_col,
        ts_col,
        [value_col],
    )
    return out.withColumnRenamed(value_col, out_col)


def funnel_stages(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    type_col: str,
    stages: Sequence[str],
) -> DataFrame:
    """Ordered funnel completion per key: for each key (user, session,
    …), the timestamp each stage was FIRST reached strictly after the
    previous stage — ``t_0`` = first stage-0 event, ``t_i`` = first
    stage-i event with ts > t_{i-1}; NULL from the first missed stage
    onward. The product-analytics "view → click → purchase" question.

    ONE shuffle total: every stage is an unbounded window aggregate
    over the same partitioning, so Catalyst reuses a single exchange
    for all chained windows AND the final per-key collapse — the stage
    count adds window passes, not shuffles. A join-per-stage funnel
    (the naive translation) costs S shuffles and S join states at
    100 TB; this shape is why funnels belong in window-function form.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    w = Window.partitionBy(*keys)
    cur = df
    prev: Column | None = None
    for i, s in enumerate(stages):
        cond = F.col(type_col) == s
        if prev is not None:
            cond = cond & (F.col(ts_col) > prev)
        cur = cur.withColumn(f"t_{i}", F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = F.col(f"t_{i}")
    out_cols = [f"t_{i}" for i in range(len(stages))]
    return cur.groupBy(*keys).agg(*[F.first(c).alias(c) for c in out_cols])


def fuzzy_levenshtein_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_block: Column,
    right_block: Column,
    max_dist: int = 2,
    dist_col: str = "edit_dist",
) -> DataFrame:
    """Blocked fuzzy equi-join: candidates pair only within a blocking
    key (caller-chosen, e.g. a corruption-stable suffix, a phonetic
    code, a length band), then the exact Levenshtein distance verifies
    ``<= max_dist``. The entity-resolution shape — dirty keys matched
    to a reference dictionary — built so the candidate count is
    Σ |block_l|·|block_r| per block, NEVER the |left|×|right| cross
    join a naive distance filter implies.

    At scale: resolve DICTIONARIES, not row sets (distinct the names
    first — real corpora have heavy key duplication and the fuzzy match
    is a property of the name, not the row), pick a block the expected
    corruptions cannot move across, and audit block sizes with
    ``profile.skew_report`` — one hot block is a quadratic pocket, the
    same remedy set as any skewed join (salt or split the block).
    """
    # disambiguate colliding column names (the natural call joins two
    # dictionaries that BOTH call their column e.g. "name"): right-side
    # collisions get a _r suffix. The caller's block expression refers
    # to ORIGINAL names, so it is applied before the rename.
    overlap = set(left.columns) & set(right.columns)
    rhs = right.withColumn("_blk", right_block)
    for c in overlap:
        rhs = rhs.withColumnRenamed(c, f"{c}_r")
    rcol = f"{right_col}_r" if right_col in overlap else right_col
    lhs = left.withColumn("_blk", left_block)
    d = F.levenshtein(F.col(left_col), F.col(rcol))
    return (
        lhs.join(rhs, "_blk")
        .withColumn(dist_col, d)
        .filter(F.col(dist_col) <= max_dist)
        .drop("_blk")
    )


def _contains_map(dt) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    return False


def canonicalize_maps(expr: Column, dt) -> Column:
    """Rewrite ``expr`` so every MapType ANYWHERE in ``dt`` becomes an
    array of (key, value) entries sorted by key — maps are not
    orderable and their entry order is undefined, so both deterministic
    tiebreaks (:func:`payload_tiebreak`) and value fingerprints
    (``streams.cdc_version_diff``) need this canonical form; recursion
    covers maps nested inside structs, arrays, and map values
    (review-found r12: the original fixes each handled only the
    top level)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if not _contains_map(dt):
        # map-free types pass through untouched — no plan bloat, and
        # their NULL/fingerprint behavior stays exactly what it was
        # (review-found r12, second pass)
        return expr
    if isinstance(dt, MapType):
        # map_entries/array_sort are NULL-preserving, so a NULL map
        # stays NULL through canonicalization
        entries = F.map_entries(expr)
        if _contains_map(dt.valueType):
            entries = F.transform(
                entries,
                lambda kv: F.struct(
                    kv["key"].alias("key"),
                    canonicalize_maps(kv["value"], dt.valueType).alias(
                        "value"
                    ),
                ),
            )
        return F.array_sort(entries)
    if isinstance(dt, StructType):
        # F.struct() alone would turn a NULL struct into a non-null
        # struct of NULL fields — collapsing two genuinely different
        # values into one fingerprint/sort key (review-found r12,
        # second pass) — so null-ness is preserved explicitly
        rebuilt = F.struct(
            *[
                canonicalize_maps(expr[f.name], f.dataType).alias(f.name)
                for f in dt.fields
            ]
        )
        return F.when(expr.isNull(), F.lit(None)).otherwise(rebuilt)
    if isinstance(dt, ArrayType):
        # transform is NULL-preserving (NULL array -> NULL)
        return F.transform(
            expr, lambda x: canonicalize_maps(x, dt.elementType)
        )
    return expr


def payload_tiebreak(df: DataFrame, cols: Sequence[str]) -> list[Column]:
    """DESC-NULLS-LAST ordering expressions over ``cols`` for a
    deterministic same-sequence tiebreak, with any map-bearing column
    canonicalized (:func:`canonicalize_maps`) so it becomes orderable
    with key-sorted entries. One definition shared by
    :func:`apply_changes` and the SCD2 sink's same-seq collapse, so
    the two CDC disciplines can never pick different winners for the
    same duplicate delivery."""
    types = {f.name: f.dataType for f in df.schema.fields}
    out: list[Column] = []
    for c in cols:
        dt = types.get(c)
        if dt is not None and _contains_map(dt):
            out.append(canonicalize_maps(F.col(c), dt).desc_nulls_last())
        else:
            out.append(F.col(c).desc_nulls_last())
    return out


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    payload_cols: Sequence[str] | None = None,
    tombstone_col: str | None = None,
) -> DataFrame:
    """Apply a CDC changelog to a snapshot — MERGE semantics built from
    primitives (the Delta/Iceberg-less form of ``MERGE INTO``): for
    each key, the LATEST change by ``seq_col`` wins; op 'D' deletes the
    row, 'I'/'U' upsert the change's payload; unchanged base rows pass
    through. Ties on ``seq_col`` break deterministically on op
    (deletes-last), so a same-instant upsert+delete deletes.

    Scale shape: ONE window pass over the changelog (latest change per
    key — the changelog, not the snapshot, pays the sort), then one
    outer join against the base on the key. At 100 TB keep base and
    changelog bucketed by the key (``io.write_bucketed``) and the join
    shuffles nothing; this is exactly how streaming upserts land via
    ``foreachBatch`` (cf. ``streaming.idempotent_keyed_sink`` for the
    insert-only special case).

    ``tombstone_col`` switches delete semantics from drop-the-row to
    KEEP a tombstone (payload NULLed, ``seq_col`` advanced to the
    delete's sequence, tombstone flag true) — required whenever the
    result feeds a LATER incremental application: without the
    tombstone, a deleted key loses its sequence watermark and a late,
    lower-seq change would resurrect it (the streaming
    ``cdc_upsert_sink`` bug class). ``base`` may carry the tombstone
    column already (it passes through for untouched keys); readers
    filter ``NOT tombstone``.
    """
    kl = list(keys)
    pcols = list(
        payload_cols
        or [c for c in base.columns if c not in kl and c != tombstone_col]
    )
    # total order: seq, then delete-wins, then op and payload columns —
    # same-seq duplicate deliveries (at-least-once sources) must pick
    # the SAME winner on every run/partitioning. Map-typed payloads are
    # canonicalized for the tiebreak (payload_tiebreak, shared with the
    # SCD2 sink's same-seq collapse) so CDC streams can carry maps.
    w = Window.partitionBy(*kl).orderBy(
        F.col(seq_col).desc(),
        (F.col(op_col) == "D").cast("int").desc(),
        F.col(op_col).desc(),
        *payload_tiebreak(changes, pcols),
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            *kl,
            F.col(op_col).alias("_op"),
            *[F.col(c).alias(f"_c_{c}") for c in pcols],
        )
    )
    j = base.join(latest, kl, "full_outer")
    # when/otherwise, NOT coalesce: an update carrying a NULL payload
    # must SET the field to NULL (MERGE semantics), not silently retain
    # the stale base value
    base_types = dict(base.dtypes)

    def out_col(c: str) -> Column:
        if tombstone_col is not None and c == seq_col:
            # every applied change advances the sequence watermark —
            # deletes included, or the tombstone can't gate staleness
            return (
                F.when(F.col("_op").isNotNull(), F.col(f"_c_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        upd = F.when(F.col("_op").isin("I", "U"), F.col(f"_c_{c}"))
        if tombstone_col is not None:
            upd = upd.when(
                F.col("_op") == "D", F.lit(None).cast(base_types.get(c, "string"))
            )
        return upd.otherwise(F.col(c)).alias(c)

    out_cols = [out_col(c) for c in pcols]
    if tombstone_col is None:
        return (
            j.filter(F.col("_op").isNull() | (F.col("_op") != "D"))
            .select(*kl, *out_cols)
        )
    prior_tomb = (
        F.coalesce(F.col(tombstone_col), F.lit(False))
        if tombstone_col in base.columns
        else F.lit(False)
    )
    tomb = (
        F.when(F.col("_op") == "D", F.lit(True))
        .when(F.col("_op").isin("I", "U"), F.lit(False))
        .otherwise(prior_tomb)
        .alias(tombstone_col)
    )
    return j.select(*kl, *out_cols, tomb)


def resample_interp(
    series: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    step_sec: int,
    grid_col: str = "grid_sec",
    out_col: str = "interp_value",
) -> DataFrame:
    """Regular-grid resample with LINEAR INTERPOLATION between the
    bracketing observations — :func:`resample_locf`'s sibling for
    signals where a step function misrepresents the physics (gauges,
    prices, temperatures): each grid point gets
    ``v_prev + (v_next − v_prev) · (g − t_prev)/(t_next − t_prev)``,
    exactly ``v`` at an exact observation, NULL before the first
    observation. Same contract as locf: one row per (keys…, ts)
    (pre-aggregate ties), ``ts_col`` in epoch seconds.

    A NULL observation VALUE is treated as no observation at all (the
    row is filtered with NULL timestamps): otherwise the timestamp
    fills and the value fills would desynchronize — t_prev could come
    from a NULL-valued row while v_prev carries an older row's value,
    anchoring the interpolation at a (t, v) pair that never existed.

    Shape at scale: grid generation is the same bounds-agg +
    ``sequence`` explode (generated, never shuffled); prev/next come
    from ONE merge-ordered union of observations and grid rows with
    two window passes (forward ``last`` / backward ``first``, both
    ignorenulls) over the SAME partitioning and sort — one shuffle,
    one sort, no self-join. The naive per-grid-point "min ts ≥ g"
    subquery would be a range join per row.
    """
    series = series.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    )
    lo = (F.floor(F.min(ts_col) / step_sec) * step_sec).cast("long")
    bounds = series.groupBy(*keys).agg(
        lo.alias("_lo"), F.max(ts_col).cast("long").alias("_hi")
    )
    grid = bounds.select(
        *keys,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(int(step_sec)))
        ).alias(grid_col),
    )
    obs = series.select(
        *keys,
        F.col(ts_col).cast("long").alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
        F.lit(1).alias("_o"),
    )
    gr = grid.select(
        *keys,
        F.col(grid_col).alias("_t"),
        F.lit(None).cast("double").alias("_v"),
        F.lit(0).alias("_o"),
    )
    # observations sort BEFORE the grid row at an equal timestamp, so
    # the forward fill sees them (t_prev = g at exact observations) and
    # the backward fill starts strictly after (t_next > g)
    order = [F.col("_t").asc(), F.col("_o").desc()]
    wp = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    is_obs = F.col("_o") == 1
    tp = F.last(F.when(is_obs, F.col("_t")), ignorenulls=True).over(wp)
    vp = F.last(F.when(is_obs, F.col("_v")), ignorenulls=True).over(wp)
    tn = F.first(F.when(is_obs, F.col("_t")), ignorenulls=True).over(wn)
    vn = F.first(F.when(is_obs, F.col("_v")), ignorenulls=True).over(wn)
    g = F.col("_t")
    interp = (
        F.when(tp.isNull(), F.lit(None).cast("double"))
        .when(g == tp, vp)
        .when(tn.isNull(), F.lit(None).cast("double"))
        .otherwise(
            vp
            + (vn - vp)
            * ((g - tp).cast("double") / (tn - tp).cast("double"))
        )
    )
    return (
        gr.unionByName(obs)
        .withColumn(out_col, interp)
        .filter(F.col("_o") == 0)
        .select(*keys, F.col("_t").alias(grid_col), out_col)
    )


def partial_rollup(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    sum_type: str = "decimal(18,2)",
) -> DataFrame:
    """Mergeable partial aggregate per key group: (keys…, n, sum_v,
    min_v, max_v) — the persisted building block of INCREMENTAL
    aggregate maintenance. The sum runs as DECIMAL so merging partials
    is EXACTLY the same as recomputing from scratch (decimal addition
    is associative/commutative; a double sum would make the
    incremental path drift from the recompute it must replace).

    The 100 TB pattern: a daily corpus rollup stores these partials
    per (ingest_date, keys…); tonight's update aggregates ONLY the new
    shard and merges kilobyte-scale partials (:func:`merge_rollups`)
    instead of rescanning the corpus — merge == full recompute
    (pinned in tests/test_training_ops.py). avg is derived at read time (sum/n), never stored:
    averages don't merge, (sum, n) pairs do."""
    return df.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(F.col(value_col).cast(sum_type)).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def merge_rollups(parts: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Merge :func:`partial_rollup` outputs into the rollup of the
    union of their inputs: counts and decimal sums add, min/max fold —
    each combinator associative, so ANY merge tree (per-shard, per-day,
    per-region) yields the identical result. One union + one kilobyte-
    scale aggregate; the underlying data is never re-read."""
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), parts)
    return u.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def scd2_history(
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    payload_cols: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a changelog: one
    validity interval per upsert. For each key, ordered by ``seq_col``:
    an 'I'/'U' change at seq *s* closes the open interval (its
    ``valid_to`` becomes *s*) and opens a new one carrying the
    change's payload with ``valid_from = s``; a 'D' closes the open
    interval and opens nothing. The newest interval per key has
    ``valid_to`` NULL (``is_current``) unless a delete closed it.
    Same-seq duplicate deliveries must first be collapsed by the
    caller (the streaming sink's stale guard does); this operator
    assumes at most one change per (key, seq).

    Scale shape: ONE window pass over the changelog — ``lead(seq)``
    per key supplies every interval end — then a filter dropping the
    delete rows. The changelog, not any snapshot, pays the sort; at
    100 TB keep the changelog bucketed by key and the window runs
    without a shuffle. This is the batch derivation the streaming
    ``scd2_upsert_sink`` must agree with (t121b grades incremental ==
    from-scratch through the DuckDB oracle).
    """
    kl = list(keys)
    w = Window.partitionBy(*kl).orderBy(F.col("valid_from"))
    iv = changes.select(
        *kl,
        *[F.col(c) for c in payload_cols],
        F.col(seq_col).alias("valid_from"),
        F.col(op_col).alias("_op"),
    ).withColumn("valid_to", F.lead("valid_from").over(w))
    return (
        iv.filter(F.col("_op") != "D")
        .drop("_op")
        .withColumn("is_current", F.col("valid_to").isNull())
    )
