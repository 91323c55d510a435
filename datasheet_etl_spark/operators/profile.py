"""Column profiling — the data-quality audit pass every ingest runs
before a corpus ships.

One scan for any number of columns: all per-column aggregates (non-null
count, distinct count, min, max) land in a single ``agg`` row, which is
then unpivoted with ``stack`` into one row per column — at 100 TB the
naive per-column query loop would read the table once per column.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ref(name: str) -> Column:
    """Resolve ``name`` as exactly ONE top-level column, whatever it
    contains: backtick-quote the identifier (doubling embedded
    backticks, Spark's escape) so a dot never splits into struct-field
    access — both ``F.col(name)`` and ``df[name]`` split on dots — and
    no user-supplied text is ever parsed as SQL."""
    return F.col("`" + name.replace("`", "``") + "`")


def profile_table(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column profile: (col_name, n_rows, n_nulls, n_distinct,
    min_value, max_value) — min/max cast to string so heterogeneous
    column types share one output schema.

    Numeric-formatting caveat: string-casting floats is engine-specific
    (scientific-notation cutoffs differ), so profile floating columns
    through an explicit ``round``/cast upstream if the output must be
    compared across engines; integer and string columns cast
    identically everywhere.

    ``n_distinct`` is exact (one expand over the agg — fine for a
    handful of audit columns); swap ``approx_count_distinct`` in at
    thousands of columns if the expand dominates.
    """
    # internal agg names are INDEX-based and labels are F.lit()s, so no
    # user-supplied column name is ever spliced into SQL text (a quote,
    # backtick or dot in a profiled column name must not break parsing)
    aggs = []
    for i, c in enumerate(cols):
        aggs += [
            F.count(_ref(c)).alias(f"__p{i}_nn"),
            F.count_distinct(_ref(c)).alias(f"__p{i}_nd"),
            F.min(_ref(c)).cast("string").alias(f"__p{i}_min"),
            F.max(_ref(c)).cast("string").alias(f"__p{i}_max"),
        ]
    row = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    stack_args = [F.lit(len(cols))]
    for i, c in enumerate(cols):
        stack_args += [
            F.lit(c),
            F.col(f"__p{i}_nn"),
            F.col(f"__p{i}_nd"),
            F.col(f"__p{i}_min"),
            F.col(f"__p{i}_max"),
        ]
    long = row.select(F.col("__n"), F.stack(*stack_args)).toDF(
        "__n", "col_name", "__nn", "n_distinct", "min_value", "max_value"
    )
    return long.select(
        "col_name",
        F.col("__n").alias("n_rows"),
        (F.col("__n") - F.col("__nn")).alias("n_nulls"),
        "n_distinct",
        "min_value",
        "max_value",
    )


def check_expectations(
    df: DataFrame, rules: Mapping[str, Column]
) -> DataFrame:
    """Data-expectation audit: each rule is a boolean Column that every
    row is EXPECTED to satisfy; the result is one row per rule with the
    violation count and rate. All rules evaluate in ONE scan (a single
    agg of conditional sums unpivoted with stack) — the gate a corpus
    build runs before shipping, at the cost of one table read no matter
    how many rules.

    Null semantics: a rule evaluating to NULL counts as a violation
    (an expectation you cannot prove held, didn't) — the conservative
    reading, via ``coalesce(rule, false)``.
    """
    names = list(rules)
    aggs = [
        F.sum(
            F.when(F.coalesce(rules[r], F.lit(False)), 0).otherwise(1)
        ).cast("long").alias(f"__r{i}")
        for i, r in enumerate(names)
    ]
    row = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    # rule labels go through F.lit, never SQL text — quotes in a rule
    # name must not become a ParseException
    stack_args = [F.lit(len(names))]
    for i, r in enumerate(names):
        stack_args += [F.lit(r), F.col(f"__r{i}")]
    long = row.select(F.col("__n"), F.stack(*stack_args)).toDF(
        "__n", "rule", "n_violations"
    )
    return long.select(
        "rule",
        F.col("__n").alias("n_rows"),
        "n_violations",
        F.round(
            F.when(F.col("__n") > 0, F.col("n_violations") / F.col("__n"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("violation_rate"),
    )


def skew_report(
    df: DataFrame,
    keys: Sequence[str],
    top_n: int = 20,
) -> DataFrame:
    """Join/agg-key skew audit: the ``top_n`` hottest key values with
    their row count, share of all rows, cumulative share, and skew
    factor (count ÷ the all-keys mean — 1.0 everywhere means perfectly
    uniform). The pre-flight check before any large shuffle: a key with
    skew_x ≫ 1 is the straggler task; the fix is salting
    (``relational.salted_join``) or AQE skew-join, and this report is
    what tells you which keys need it.

    ONE aggregation over the data (map-side partial combine, shuffle
    volume = distinct keys); the top-n is TakeOrdered over the grouped
    counts; totals come from a second tiny agg over the SAME grouped
    result (key-cardinality-sized, not data-sized) broadcast back. The
    cumulative-share window runs on ``top_n`` rows — driver-trivial.
    """
    counts = df.groupBy(*[F.col(k) for k in keys]).agg(F.count("*").alias("n"))
    totals = counts.agg(
        F.sum("n").alias("_total"), F.count("*").alias("_nkeys")
    )
    order = [F.col("n").desc()] + [F.col(k).asc() for k in keys]
    top = counts.orderBy(*order).limit(top_n)
    w = Window.orderBy(*order)
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "share", F.round(F.col("n").cast("double") / F.col("_total"), 6)
        )
        .withColumn(
            "cum_share",
            F.round(
                F.sum("n").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ).cast("double")
                / F.col("_total"),
                6,
            ),
        )
        .withColumn(
            "skew_x",
            F.round(
                F.col("n").cast("double") * F.col("_nkeys") / F.col("_total"), 6
            ),
        )
        .select(*keys, "rank", "n", "share", "cum_share", "skew_x")
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    strata: Sequence[str],
    k: float = 3.0,
    z_col: str = "robust_z",
) -> DataFrame:
    """Robust per-stratum outlier gate: flag rows whose value sits more
    than ``k`` robust standard deviations from their stratum median,
    where the scale is the MAD (median absolute deviation, ×1.4826 to
    make it σ-consistent for normal data). Mean/stddev z-scores break on
    exactly the data this gate exists for — a handful of extreme rows
    drags the mean toward themselves and inflates the stddev until
    nothing is flagged; median and MAD ignore them.

    Shape at scale: two tiny per-stratum aggregates (median, then MAD
    against it — MAD is inherently two-pass) broadcast back onto the
    final gate scan. That is THREE column-pruned reads of
    (strata, value) and zero sorts/shuffles of the corpus; persist the
    projected columns to pay one I/O pass instead of three.
    ``percentile`` here is the exact interpolated median (cheap per
    stratum at audit cardinalities and engine-portable for the
    oracle); at billions of rows per stratum swap ``percentile_approx``
    in, same plan shape (cf. ``sampling.percentile_gate_approx``).

    A stratum with MAD = 0 (over half its rows share one value) yields
    NULL z — those rows are never flagged; gate such strata on exact
    value inequality instead.

    Rows with a NULL stratum key form their OWN stratum (the joins back
    onto the scan are null-safe, matching groupBy's NULL-keeps-a-group
    semantics) — an extreme row can't dodge the gate by missing its
    source tag.
    """

    def _nullsafe(right: DataFrame):
        # resolves the stratum columns BY NAME against the joined plan
        # (the aggregate side is renamed _s_*, so names are unambiguous)
        cond = None
        for s in strata:
            c = _ref(s).eqNullSafe(right[f"_s_{s}"])
            cond = c if cond is None else cond & c
        return cond

    # df[...] indexing, not f-string SQL and not F.col(): a value column
    # named with a quote/backtick/DOT/space must resolve as exactly one
    # column, never re-parse as SQL text or split on dots into a
    # struct-field access (same hardening as profile_table).
    skeys = [_ref(s).alias(f"_s_{s}") for s in strata]
    med = df.groupBy(*skeys).agg(
        F.percentile(_ref(value_col), F.lit(0.5)).alias("_m")
    )
    dev = (
        df.join(F.broadcast(med), _nullsafe(med))
        .groupBy(*[med[f"_s_{s}"] for s in strata])
        .agg(
            F.percentile(
                F.abs(_ref(value_col) - F.col("_m")), F.lit(0.5)
            ).alias("_mad"),
            F.max("_m").alias("_m"),
        )
    )
    z = (_ref(value_col) - F.col("_m")) / (
        F.lit(1.4826) * F.nullif(F.col("_mad"), F.lit(0.0))
    )
    return (
        df.join(F.broadcast(dev), _nullsafe(dev))
        .withColumn(z_col, z)
        .filter(F.abs(F.col(z_col)) > k)
        .drop("_m", "_mad", *[f"_s_{s}" for s in strata])
    )


def _decimal_moments(
    df: DataFrame, cols: Sequence[str], pairs: Sequence[tuple[str, str]]
) -> DataFrame:
    """ONE aggregate row of exact decimal moments shared by
    :func:`correlation_matrix` and :func:`linear_fit`: row count,
    per-column non-NULL counts, per-column sums, and the requested
    product sums — values cast to DECIMAL(14,3) (exact for ≤2-dp
    measures, narrow enough to multiply without internal int64
    overflow), product sums accumulating at DECIMAL(38,6), so every
    derived statistic is independent of partitioning, task order, and
    engine. Output aliases: ``_n`` (double), ``_c_{c}``, ``_s_{c}``,
    ``_p_{x}_{y}`` — sums/products pre-cast to double for the 1-row
    derive step.

    Two codegen notes carried from the r7/r8 bench adjudications:
    the decimal casts are staged ONCE in a projection (inside the
    aggregate expressions they get no common-subexpression
    elimination and ~double the one-time whole-stage-codegen cost of
    the aggregate unit — measured 6.5s → 4.0s cold at sf0.1), and the
    per-row products keep their native (29,6) precision (the explicit
    (38,6) cast measured 2× slower per row for zero extra exactness —
    the sum accumulates at (38,6) regardless). Column names resolve
    via :func:`_ref`, never parsed as SQL."""
    dec = df.select(*[_ref(c).cast("decimal(14,3)").alias(c) for c in cols])
    aggs = [F.count(F.lit(1)).cast("double").alias("_n")]
    for c in cols:
        aggs.append(F.count(_ref(c)).cast("double").alias(f"_c_{c}"))
        aggs.append(F.sum(_ref(c)).alias(f"_s_{c}"))
    for x, y in pairs:
        aggs.append(F.sum(_ref(x) * _ref(y)).alias(f"_p_{x}_{y}"))
    # stage each moment's decimal->double cast once instead of
    # re-casting inside every derived expression — this projection
    # runs on ONE row, its only cost is the codegen size
    return dec.agg(*aggs).select(
        "_n",
        *[_ref(f"_c_{c}") for c in cols],
        *[_ref(f"_s_{c}").cast("double").alias(f"_s_{c}") for c in cols],
        *[
            _ref(f"_p_{x}_{y}").cast("double").alias(f"_p_{x}_{y}")
            for x, y in pairs
        ],
    )


def _complete(*cols: str) -> Column:
    """True iff every named column was NULL-free in the moments row —
    the gate that turns the silent wrong-moments hazard (SQL sum skips
    NULLs while count(*) doesn't) into an explicit NULL result."""
    out = F.lit(True)
    for c in cols:
        out = out & (_ref(f"_c_{c}") == F.col("_n"))
    return out


def correlation_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlation over ``cols`` in ONE scan: all
    M + M(M+1)/2 moments (per-column sums, all cross/self products)
    land in a single aggregate row, then the M(M-1)/2 correlations are
    computed from the moments and unpivoted — where the naive loop
    (``df.stat.corr`` per pair) reads the table once per pair,
    O(M²) scans at 100 TB.

    Moments are EXACT decimals (:func:`_decimal_moments`), so the
    result is independent of partitioning/aggregation order AND
    engine — float summation order is exactly what makes naive
    correlation non-reproducible at scale; correlations are then
    derived from the moments in double
    (corr = (n·Sxy − Sx·Sy) / √((n·Sxx − Sx²)(n·Syy − Sy²))).

    Returns (col_x, col_y, corr) for x < y in ``cols`` order. NULL
    corr for a zero-variance column, and for any pair touching a
    column with NULLs — sum-based moments skip NULLs while n counts
    every row, so a fit over incomplete columns would be silently
    wrong; the per-column count gate surfaces it as NULL instead.
    Drop or impute upstream to get values."""
    all_pairs = [(x, y) for i, x in enumerate(cols) for y in cols[i:]]
    row = _decimal_moments(df, cols, all_pairs)

    def _corr(x: str, y: str) -> Column:
        n = F.col("_n")
        sx, sy = F.col(f"_s_{x}"), F.col(f"_s_{y}")
        pxy = F.col(f"_p_{x}_{y}")
        pxx, pyy = F.col(f"_p_{x}_{x}"), F.col(f"_p_{y}_{y}")
        num = n * pxy - sx * sy
        den = F.sqrt((n * pxx - sx * sx) * (n * pyy - sy * sy))
        return F.when(_complete(x, y), num / F.nullif(den, F.lit(0.0)))

    pairs = [(x, y) for i, x in enumerate(cols) for y in cols[i + 1 :]]
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(x).alias("col_x"),
                        F.lit(y).alias("col_y"),
                        F.round(_corr(x, y), 6).alias("corr"),
                    )
                    for x, y in pairs
                ]
            )
        ).alias("_pair")
    ).select("_pair.*")


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    bucket_width: int,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between two corpus versions: bucket a
    numeric column on a FIXED grid, compare the two distributions per
    bucket, and report each bucket's PSI contribution
    ``(p_new − p_old) · ln(p_new / p_old)`` — the standard drift alarm
    (rule of thumb: Σ < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted)
    run between successive corpus builds before a new version ships.

    Fixed-width buckets on purpose: quantile buckets are data-dependent
    (the grid itself drifts), while a fixed grid makes PSI comparable
    across any number of versions and exactly reproducible in any
    engine. Counts get Laplace smoothing (+0.5 per bucket) so an empty
    bucket contributes a finite, deterministic penalty instead of ±inf.

    Shape at scale: one column-pruned scan + one kilobyte-sized
    (n_buckets-row) aggregate per side; the bucket spine is generated
    with ``sequence`` so missing buckets still appear. Zero data-sized
    shuffles beyond the two bucket aggregates.

    Returns one row per bucket: (bucket, n_old, n_new, p_old, p_new,
    psi) ordered by bucket; ``sum(psi)`` over the result is the index.
    """
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), (F.col(value_col) / bucket_width).cast("long")),
    )

    def counts(df: DataFrame, out: str) -> DataFrame:
        # NULL measurements are excluded, not silently folded into
        # bucket 0 (greatest() skips NULL operands, so NULL/width would
        # bucket to 0 and inflate it on whichever side has more NULLs);
        # NULL-rate drift is profile_table's job, not PSI's.
        return (
            df.filter(F.col(value_col).isNotNull())
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias(out))
        )

    spine = old.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    j = (
        spine.join(counts(old, "n_old"), "bucket", "left")
        .join(counts(new, "n_new"), "bucket", "left")
        .fillna(0, ["n_old", "n_new"])
    )
    # totals via an unpartitioned window over the n_buckets rows: one
    # plan, so each side's bucket aggregate (and scan) runs exactly once
    # — a separate totals aggregate would re-execute j's whole lineage
    w = Window.partitionBy()
    j = j.withColumn("_to", F.sum("n_old").over(w)).withColumn(
        "_tn", F.sum("n_new").over(w)
    )
    p_old = (F.col("n_old") + 0.5) / (F.col("_to") + 0.5 * n_buckets)
    p_new = (F.col("n_new") + 0.5) / (F.col("_tn") + 0.5 * n_buckets)
    return (
        j.select(
            "bucket",
            "n_old",
            "n_new",
            F.round(p_old, 6).alias("p_old"),
            F.round(p_new, 6).alias("p_new"),
            F.round((p_new - p_old) * F.log(p_new / p_old), 6).alias("psi"),
        )
        .orderBy("bucket")
    )


def linear_fit(df: DataFrame, y: str, xs: Sequence[str]) -> DataFrame:
    """Simple per-feature OLS fits (slope, intercept, R²) of ``y``
    against each column in ``xs``, all from ONE scan: like
    :func:`correlation_matrix`, every moment (n, Σx, Σy, Σxy, Σxx, Σyy)
    lands in a single aggregate row and the fits are derived from the
    moments — ``F.regr_slope`` per feature would read the table once
    per feature, O(M) scans at 100 TB.

    Moments are EXACT decimals (DECIMAL(14,3) values, product sums
    accumulating at DECIMAL(38,6)), so the fit is identical under any
    partitioning, task order, or engine — Spark's native ``regr_*``
    aggregates accumulate in float and are summation-order-dependent,
    which is why two runs of the same drift-regression can disagree in
    the low-order digits at scale. The native family's SEMANTICS are
    what this reproduces (pinned against ``regr_slope`` /
    ``regr_intercept`` / ``regr_r2`` / ``regr_count`` within 1e-6 in
    tests/test_plans.py):

        slope     = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²)
        intercept = (Σy − slope·Σx) / n
        R²        = (n·Σxy − Σx·Σy)² / ((n·Σxx − Σx²)(n·Σyy − Σy²))

    Returns (x_col, n, slope, intercept, r2), one row per feature,
    rounded to 6 places; slope/R² are NULL for a zero-variance
    feature. ``n`` is the full row count; slope/intercept/R² are NULL
    for any feature whose column (or whose y) contains NULLs — SQL sum
    skips NULLs while count(*) doesn't, so an ungated fit over
    incomplete columns would be silently wrong (and would diverge from
    ``regr_*``, which drops null PAIRS). Drop or impute upstream to
    fit incomplete data.
    """
    cols = [y, *xs]
    pairs = [(y, y)] + [p for x in xs for p in ((x, x), (x, y))]
    row = _decimal_moments(df, cols, pairs)

    def _fit(x: str) -> Column:
        n = F.col("_n")
        sx, sy = F.col(f"_s_{x}"), F.col(f"_s_{y}")
        num = n * F.col(f"_p_{x}_{y}") - sx * sy
        dx = n * F.col(f"_p_{x}_{x}") - sx * sx
        dy = n * F.col(f"_p_{y}_{y}") - sy * sy
        slope = num / F.nullif(dx, F.lit(0.0))
        ok = _complete(x, y)
        return F.struct(
            F.lit(x).alias("x_col"),
            n.cast("long").alias("n"),
            F.round(F.when(ok, slope), 6).alias("slope"),
            F.round(F.when(ok, (sy - slope * sx) / n), 6).alias("intercept"),
            F.round(
                F.when(ok, num * num / F.nullif(dx * dy, F.lit(0.0))), 6
            ).alias("r2"),
        )

    return (
        row.select(F.explode(F.array(*[_fit(x) for x in xs])).alias("_fit"))
        .select("_fit.*")
    )


def _array_median(arr: Column) -> Column:
    """Exact interpolated median of a numeric array: sort, pick the
    middle element (odd n) or average the two middle (even n). Sum-free
    — every output is one input double or one (a+b)/2 — so the value is
    bit-identical in any engine that sorts the same doubles, which is
    what lets rolling-median operators be value-oracled rather than
    approx-compared."""
    s = F.array_sort(arr)
    n = F.size(s)
    odd = F.element_at(s, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(s, (n / 2).cast("int"))
        + F.element_at(s, (n / 2).cast("int") + 1)
    ) / 2
    return F.when(n % 2 == 1, odd).otherwise(even)


def hampel_filter(
    df: DataFrame,
    series_keys: Sequence[str],
    order_by: Sequence[Column],
    value_col: str = "value",
    half_window: int = 7,
    k_scaled: float = 4.4478,
) -> DataFrame:
    """Hampel filter — rolling-median/rolling-MAD outlier detection and
    repair over ordered series, the standard despiking gate for sensor
    and metric streams (where ``mad_outliers``'s GLOBAL stratum scale
    would miss spikes riding a drifting baseline).

    Each row is scored against the exact median and MAD of its centered
    ``2*half_window+1``-row frame; ``is_outlier`` flags
    ``|x - med| > k_scaled * mad`` (default 4.4478 = 3 x 1.4826, three
    σ-consistent robust deviations, pre-multiplied so both engines of an
    oracle pair compare against the SAME double), and ``repaired``
    substitutes the rolling median for flagged rows — the despiked
    series a downstream pipeline trains on.

    ``order_by`` must be a total order (add a unique tiebreak) or the
    frame itself is nondeterministic. Shape at scale: ONE shuffle on
    ``series_keys``, sorted passes per partition; per-row state is the
    bounded frame array (2w+1 doubles), never the series. Median/MAD are
    sum-free sorted-array picks (:func:`_array_median`), so flags and
    repairs replay bit-identically across engines and partitionings —
    MAD = median of |x - rolling med|, inherently a second pass over the
    frame, is a ``transform`` over the already-materialized frame array,
    NOT a second window.

    ``med``/``mad`` are anchored as degenerate current-row-frame window
    expressions, not plain projections: Catalyst pushes the caller's
    outlier filter (and collapses projections) straight through a
    Project, re-inlining the interpreted array_sort/HOF tree into every
    consumer — measured 16x slower at 100k rows — but predicates cannot
    cross a Window node, so ``first(expr) OVER (rows 0..0)`` forces one
    materialization per row. The extra Window nodes share the frame
    window's partitioning+ordering: no added shuffle or sort.
    """
    w = (
        Window.partitionBy(*series_keys)
        .orderBy(*order_by)
        .rowsBetween(-half_window, half_window)
    )
    w_row = (
        Window.partitionBy(*series_keys).orderBy(*order_by).rowsBetween(0, 0)
    )
    out = df.withColumn("_frame", F.collect_list(value_col).over(w))
    out = out.withColumn("n", F.size("_frame")).withColumn(
        "med", F.first(_array_median(F.col("_frame"))).over(w_row)
    )
    out = out.withColumn(
        "mad",
        F.first(
            _array_median(
                F.transform(F.col("_frame"), lambda x: F.abs(x - F.col("med")))
            )
        ).over(w_row),
    )
    flag = F.abs(F.col(value_col) - F.col("med")) > F.lit(k_scaled) * F.col("mad")
    return (
        out.withColumn("is_outlier", flag)
        .withColumn(
            "repaired", F.when(flag, F.col("med")).otherwise(F.col(value_col))
        )
        .drop("_frame")
    )


def grouped_trend(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    slope_scale: float = 1.0,
    x_dec: str = "decimal(14,6)",
    y_dec: str = "decimal(14,6)",
) -> DataFrame:
    """Per-group OLS trend — slope/intercept/R² of ``y_col`` against
    ``x_col`` for EVERY group in one scan — the per-entity drift
    monitor (is each user's/sensor's/source's metric trending?) that
    :func:`linear_fit`'s single global fit cannot answer.

    Same exactness discipline as ``_decimal_moments``/t133: operands
    cast once to DECIMAL(14,6) (exact for day-scale x offsets and
    metric-scale y; wider scale than the global helper because trend
    x-values are small offsets where 1e-3 quantization would dominate
    the signal), product sums accumulate as exact decimals, and every
    statistic derives from the moments in double with one fixed
    expression tree — partitioning-, task-order-, and engine-
    independent, which is what lets per-group fits be hash-compared at
    all. Shape at scale: ONE partial-agged groupBy shuffling 6 decimal
    moments per group, never the rows; degenerate groups (n < 2 or
    zero x-variance) yield NULL slope/intercept/r2 via nullif, not a
    crash or an engine-specific infinity.

    Cross-engine caveat (found the hard way): feed x/y values that are
    EXACTLY representable at 6 decimal places (integers, fixed-point
    data) — a double that lands on a 5e-7 rounding boundary (e.g.
    integer-seconds / 86400.0) casts to decimal differently across
    engines, and one flipped operand breaks the whole group's hash.
    Keep x in its exact unit and rescale the presented slope with
    ``slope_scale`` (one double multiply on the derived statistic —
    identical everywhere) instead of rescaling the operands; pick
    ``x_dec``/``y_dec`` scales that make the cast EXACT for the data
    (scale 0 for integer units — which also keeps narrow-decimal
    engines' int64 multiply from overflowing on large offsets).
    """
    dec = df.select(
        *[F.col(c) for c in group_cols],
        F.col(x_col).cast(x_dec).alias("_x"),
        F.col(y_col).cast(y_dec).alias("_y"),
    )
    m = dec.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_x").cast("double").alias("_sx"),
        F.sum("_y").cast("double").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("double").alias("_pxx"),
        F.sum(F.col("_x") * F.col("_y")).cast("double").alias("_pxy"),
        F.sum(F.col("_y") * F.col("_y")).cast("double").alias("_pyy"),
    )
    num = F.col("_n") * F.col("_pxy") - F.col("_sx") * F.col("_sy")
    dx = F.col("_n") * F.col("_pxx") - F.col("_sx") * F.col("_sx")
    dy = F.col("_n") * F.col("_pyy") - F.col("_sy") * F.col("_sy")
    slope = num / F.nullif(dx, F.lit(0.0))
    return m.select(
        *group_cols,
        F.col("_n").cast("long").alias("n"),
        F.round(slope * F.lit(slope_scale), 6).alias("slope"),
        F.round((F.col("_sy") - slope * F.col("_sx")) / F.col("_n"), 6).alias(
            "intercept"
        ),
        F.round(num * num / F.nullif(dx * dy, F.lit(0.0)), 6).alias("r2"),
    )


def theil_sen_trend(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    slope_scale: float = 1.0,
) -> DataFrame:
    """Per-group Theil–Sen slope — the MEDIAN of all pairwise slopes
    (y_j−y_i)/(x_j−x_i) — the robust complement to
    :func:`grouped_trend`'s OLS: one wild outlier (exactly what
    ``hampel_filter`` flags) drags an OLS slope arbitrarily far, while
    Theil–Sen tolerates ~29% contamination. Pairs with equal x are
    excluded (vertical slope; both engines must agree on the exclusion,
    so the predicate is strict ``x_i < x_j``).

    Exactness: each pairwise slope is ONE double division of exact
    operands, and the median is a sum-free sorted-array pick
    (:func:`_array_median`) — bit-identical across engines and
    partitionings; ``slope_scale`` rescales the derived median (one
    multiply) exactly like ``grouped_trend``.

    Shape at scale: the self-join shuffles each group once on its key
    and emits the inherent O(n²/2) pairs PER GROUP — exact Theil–Sen's
    cost, bounded by the largest group, not the corpus. This is the
    per-entity telemetry shape (thousands of rows per key); for wide
    groups use the standard estimator surrogate: pre-sample each group
    (deterministic hash sample, ``sampling.uniform_sample``) before
    calling.

    Returns (group_cols..., n, n_pairs, slope).
    """
    proj = df.select(
        *[F.col(c) for c in group_cols],
        F.col(x_col).alias("_x"),
        F.col(y_col).alias("_y"),
    )
    a = proj
    b = proj
    for c in group_cols:
        b = b.withColumnRenamed(c, f"_b_{c}")
    b = b.withColumnRenamed("_x", "_bx").withColumnRenamed("_y", "_by")
    cond = [F.col(c) == F.col(f"_b_{c}") for c in group_cols] + [
        F.col("_x") < F.col("_bx")
    ]
    pairs = a.join(b, cond).select(
        *group_cols,
        ((F.col("_by") - F.col("_y")) / (F.col("_bx") - F.col("_x"))).alias(
            "_s"
        ),
    )
    counts = proj.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    med = (
        pairs.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.collect_list("_s").alias("_slopes"),
        )
        .select(
            *group_cols,
            "n_pairs",
            F.round(
                _array_median(F.col("_slopes")) * F.lit(slope_scale), 6
            ).alias("slope"),
        )
    )
    return counts.join(med, list(group_cols), "left").select(
        *group_cols, "n", F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"), "slope"
    )


def cusum_changepoint(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    value_col: str = "value",
    value_dec: str = "decimal(14,6)",
) -> DataFrame:
    """Offline CUSUM changepoint per group: the index k maximizing
    |S_k - (k/n)·S_n| over the ordered series (S = prefix sums) — the
    single most likely mean-shift point and its magnitude, the
    when-did-it-break answer that the trend operators
    (:func:`grouped_trend` / :func:`theil_sen_trend` — HOW is it
    moving) and :func:`hampel_filter` (WHICH points are spikes) don't
    give.

    Exactness: prefix sums accumulate as exact decimals over a
    caller-supplied TOTAL order, so every S_k is engine- and
    partitioning-independent; the deviation derives in double with one
    fixed tree and is ROUNDED before the argmax, with earliest-k
    tiebreak — an ulp cannot flip which row wins. Degenerate n=1
    groups yield deviation 0 at k=1, not NULL.

    Shape at scale: one shuffle on the group keys, one sorted pass
    computing all window terms, one top-1-per-group reduction
    (:func:`top_k_per_group`). Per-row state is the running decimal —
    never the series.

    Returns (group_cols..., n, cp_k, cp_magnitude) plus every column
    of the winning row (the caller's order/id columns ride along).
    """
    from datasheet_etl_spark.operators.relational import top_k_per_group

    dv = F.col(value_col).cast(value_dec)
    w_run = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_ord = Window.partitionBy(*group_cols).orderBy(*order_by)
    scored = (
        df.withColumn("_sk", F.sum(dv).over(w_run).cast("double"))
        .withColumn("_sn", F.sum(dv).over(w_all).cast("double"))
        .withColumn("n", F.count(F.lit(1)).over(w_all).cast("long"))
        .withColumn("cp_k", F.row_number().over(w_ord).cast("long"))
        .withColumn(
            "cp_magnitude",
            F.round(
                F.abs(
                    F.col("_sk")
                    - F.col("cp_k").cast("double")
                    * F.col("_sn")
                    / F.col("n").cast("double")
                ),
                6,
            ),
        )
    )
    return top_k_per_group(
        scored,
        list(group_cols),
        [F.col("cp_magnitude").desc(), F.col("cp_k").asc()],
        k=1,
    ).drop("_sk", "_sn")
