"""Table loaders for the test star schema.

All reads are plain parquet scans — Catalyst pushes predicates and prunes
columns into the scan, so callers should express filters/projections
declaratively on the returned DataFrame rather than pre-filtering here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from ``{sf_dir}/{name}.parquet``.

    ``events.ts`` has shipped under two parquet encodings and must come out
    as a plain ``timestamp`` either way, with epoch-µs values bit-identical
    to DuckDB's ``epoch_us(ts)`` (session tz is pinned UTC):

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so we read
      nanos as a long (``spark.sql.legacy.parquet.nanosAsLong``) and
      rebuild a microsecond timestamp.
    - ``timestamp[us]`` with ``isAdjustedToUTC=false`` (what pyarrow/pandas
      write by default): Spark ≥3.4 infers TIMESTAMP_NTZ, which breaks
      ``unix_micros``/``window``/numeric casts. We disable the inference
      (and cast defensively if a stray NTZ still appears) so the wall-clock
      values are interpreted as UTC instants.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Callers may hand us any session (the driver builds its own): pin the
    # runtime confs correctness depends on — UTC so timestamp literals and
    # date functions are deterministic and DuckDB-comparable.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(_epoch_to_micros("ts", _ts_parquet_unit(path)))
        )
    elif dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _ts_parquet_unit(path: str) -> str | None:
    """Resolution of a bigint-read ``ts`` from the parquet footer.

    When Spark reads ``ts`` as bigint it is either TIMESTAMP(NANOS)
    surfaced through nanosAsLong, or a raw INT64 epoch of unknown
    resolution — the footer's logical type disambiguates exactly.
    Metadata-only, one file, driver-side (no data scan); returns None
    (→ magnitude heuristic) for raw INT64 or any non-local path."""
    try:
        import pyarrow.parquet as pq

        p = path
        if os.path.isdir(p):
            parts = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
            if not parts:
                return None
            p = os.path.join(p, parts[0])
        return getattr(pq.read_schema(p).field("ts").type, "unit", None)
    except Exception:
        return None


def _epoch_to_micros(name: str, unit: str | None = None) -> F.Column:
    """Normalize an integer epoch column to µs.

    With a known ``unit`` (from the parquet footer) the conversion is
    exact. Without one, classify by magnitude: epoch magnitudes sit ~3
    decimal orders apart per resolution (2001–2286: seconds ~1e9–1e10,
    millis ~1e12–1e13, micros ~1e15–1e16, nanos ~1e18–1e19), so
    thresholds at the geometric gaps classify any realistic epoch —
    though values within ~16 years of 1970 are inherently ambiguous,
    which is why the footer path is preferred. Integer ``div`` (not
    ``/``) — a double can't hold an epoch-ns exactly (>2^53). Pure
    expression — stays in whole-stage codegen."""
    col = F.col(name)
    if unit is not None:
        return {
            "ns": F.expr(f"{name} div 1000"),
            "us": col,
            "ms": col * 1000,
            "s": col * 1_000_000,
        }[unit]
    a = F.abs(col)
    return (
        F.when(a >= F.lit(int(5e17)), F.expr(f"{name} div 1000"))  # nanos
        .when(a >= F.lit(int(5e14)), col)  # micros
        .when(a >= F.lit(int(5e11)), col * 1000)  # millis
        .otherwise(col * 1_000_000)  # seconds
    )


def write_table(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Write a table in parquet/orc/csv/json. CSV keeps a header;
    timestamps serialize ISO-8601 so csv/json round-trips are lossless
    to the microsecond (with the reader below). ORC is the other
    splittable columnar option (predicate pushdown + column pruning,
    same as parquet) for pipelines standardized on it."""
    w = df.write.mode("overwrite")
    if fmt == "csv":
        w = w.option("header", "true").option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        )
    elif fmt == "json":
        w = w.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    w.format(fmt).save(path)


def read_table(
    spark: SparkSession, path: str, fmt: str = "parquet", schema=None
) -> DataFrame:
    """Read parquet/orc/csv/json written by ``write_table``. For
    csv/json an explicit schema is required at scale (schema inference
    re-reads the whole input — never rely on it on a 100 TB path)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", "true").option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        )
    elif fmt == "json":
        r = r.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    return r.format(fmt).load(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by the join key.

    At 100 TB this is THE lever for repeated fact-fact joins: two tables
    bucketed by the same key into the same bucket count join with NO
    exchange on either side — the shuffle is paid once at write time
    instead of on every query. (Bucketing requires saveAsTable — bucket
    metadata lives in the catalog, not the files.)
    """
    w = df.write.mode("overwrite").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-style partitioned parquet layout: directory per partition
    value, so partition-key predicates prune whole directories at plan
    time (PartitionFilters in the scan — no file IO for pruned keys)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_range_sorted(
    df: DataFrame, path: str, sort_cols: list[str], num_files: int
) -> None:
    """Range-partitioned, within-file-sorted parquet: rows route to
    files by range of ``sort_cols`` (sampled split points) and sort
    inside each file, so every file's min/max stats for those columns
    are TIGHT AND DISJOINT. A point or range predicate on the sort key
    then prunes to the few overlapping files via parquet row-group
    statistics — the poor-man's z-order, and the single biggest
    read-amplification lever for a selective scan over 100 TB that
    partition directories are too coarse to serve (high-cardinality
    keys would explode a Hive layout into millions of dirs; range
    files keep it to ``num_files``).

    Disjointness of the per-file ranges is asserted from the parquet
    footers in tests/test_io_layout.py, not just claimed.
    """
    cols = [F.col(c) for c in sort_cols]
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    *,
    target_mb: int | None = None,
) -> int:
    """Rewrite a parquet directory into fewer files and return the file
    count before compaction. The small-files antidote: streaming sinks
    and fine-grained appends accrete kilobyte files whose per-file
    open/footer cost eventually dominates scans (and whose count is a
    driver-memory burden at listing time).

    Two sizing modes, and the choice matters at scale:

    - ``target_files=N`` — ``coalesce(N)``: no shuffle, but the scan
      runs through at most N tasks (reads serialize) and file sizes
      inherit whatever skew the input partitions carry. Right for
      small-to-medium tables where N is comfortably parallel.
    - ``target_mb=M`` — AQE REBALANCE to an advisory partition size:
      one shuffle, but reads stay fully parallel and AQE both COALESCES
      undersized and SPLITS oversized shuffle partitions toward M MB,
      so output files are evenly sized with NO file-count guess. Right
      for large tables, where picking N requires knowing the data size
      anyway and a skewed partition would otherwise become one huge
      file. (Advisory sizing is estimated on compressed shuffle bytes —
      file sizes land near M, not exactly on it.)

    Rewrite via a temp sibling directory, then swap with two renames
    (old table is renamed aside BEFORE the new one takes its place).
    The data is never deleted before the swap completes: a crash leaves
    the original table (possibly as ``__old``), and a RERUN self-heals —
    the recovery branch below restores ``__old`` to ``path`` if a
    previous attempt died between the two renames."""
    import os
    import shutil

    if (target_files is None) == (target_mb is None):
        raise ValueError(
            "compact_small_files: pass exactly one of target_files / target_mb"
        )
    tmp = f"{path}__compacting"
    old = f"{path}__old"
    if not os.path.exists(path) and os.path.exists(old):
        # prior run crashed between its two renames: the original data
        # is intact in __old; restore it and recompact from scratch
        os.rename(old, path)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
    before = [
        f for f in os.listdir(path) if f.endswith(".parquet")
    ]
    df = spark.read.parquet(path)
    if target_mb is not None:
        # REBALANCE is an AQE feature: without AQE the hint plans a
        # plain round-robin shuffle to spark.sql.shuffle.partitions and
        # the advisory size is never consulted — the "compaction" would
        # silently write N arbitrary-size files. Pin BOTH confs for the
        # write (and restore after), the load_table discipline.
        pinned = {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": (
                f"{target_mb * 1024 * 1024}b"
            ),
        }
        prev = {k: spark.conf.get(k, None) for k in pinned}
        for k, v in pinned.items():
            spark.conf.set(k, v)
        try:
            df.hint("rebalance").write.mode("overwrite").parquet(tmp)
        finally:
            for k, was in prev.items():
                if was is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, was)
    else:
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)  # leftover from a prior crashed compaction
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(before)


def read_json_lenient(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt_record",
):
    """Schema-enforced JSON-lines read that CAPTURES malformed records
    instead of dropping (DROPMALFORMED) or poisoning the job
    (FAILFAST): PERMISSIVE mode with an explicit corrupt-record column.
    Raw-crawl JSON at corpus scale always contains breakage; the
    lenient read turns it into an auditable side-channel — downstream
    splits on ``corrupt_col IS NULL`` into clean rows and a quarantine
    sink, so one bad shard never kills a 100 TB ingest.

    ``schema`` is the DDL of the EXPECTED fields; the corrupt column is
    appended here.

    Deliberately built as ``text`` scan + ``from_json`` rather than the
    native JSON source: the native source forbids any query whose only
    referenced file column is the corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and its
    documented workaround — cache the parsed result — is exactly what a
    100 TB ingest cannot do. The text+from_json form has no such
    restriction, costs the same single scan, and keeps the malformed
    line verbatim. Blank lines are dropped to match the native JSON
    reader's behavior.
    """
    return _read_lenient(
        spark,
        path,
        lambda value, full: F.from_json(
            value,
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
        ),
        schema,
        corrupt_col,
    )


def read_csv_lenient(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt_record",
    sep: str = ",",
):
    """CSV sibling of :func:`read_json_lenient`: schema-enforced
    delimited read that quarantines malformed lines instead of
    dropping or failing — same text-scan construction (via the shared
    ``_read_lenient`` scaffold), for the same reason (the native
    source's corrupt-column restrictions), same ``split_corrupt``
    downstream contract. Input is headerless; strip the header
    upstream or pass it through as one quarantined row."""
    return _read_lenient(
        spark,
        path,
        lambda value, full: F.from_csv(
            value,
            full,
            {
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": corrupt_col,
                "sep": sep,
            },
        ),
        schema,
        corrupt_col,
    )


def _read_lenient(spark, path, parse, schema: str, corrupt_col: str):
    # one scaffold for every lenient text-format reader: scan as text,
    # then hand the frame to _parse_lenient — so a fix there (e.g.
    # multiline support) reaches json, csv, AND the streaming ingest
    # (streams.quarantine_ingest parses an already-streaming text
    # frame through the same helper)
    return _parse_lenient(spark.read.text(path), parse, schema, corrupt_col)


def _parse_lenient(text_df, parse, schema: str, corrupt_col: str):
    """Frame-based half of the lenient scaffold: augment the schema
    with the corrupt column, drop blank lines, parse, star-expand.
    Takes any DataFrame with a ``value`` string column — a batch text
    scan or a streaming text source alike."""
    full = f"{schema}, {corrupt_col} string"
    return (
        text_df.filter(F.trim("value") != "")
        .select(parse(F.col("value"), full).alias("_p"))
        .select("_p.*")
    )


def split_corrupt(df, corrupt_col: str = "_corrupt_record"):
    """(clean_rows_without_the_corrupt_col, quarantine_rows) from a
    lenient read. The corrupt column alone is the discriminator — do
    NOT infer cleanliness from schema fields: from_json leaves every
    schema field NULL on a corrupt row, but from_csv keeps the
    partially-parsed prefix (e.g. an extra-token line parses its first
    N fields AND sets the corrupt column)."""
    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).select(corrupt_col)
    return clean, bad


def read_parquet_evolved(spark: SparkSession, *paths: str):
    """Read parquet written under an EVOLVING schema (columns added
    over time) as one table: ``mergeSchema`` unions the footer schemas
    and back-fills missing columns with NULL. The corpus-build reality:
    month N's shards gained a ``quality`` column that month N-1 lacks;
    the merged read lets one query span both vintages. Schema merge
    cost is per-FOOTER (driver-side), not per-row — fine at 100 TB as
    long as the file count is sane (see ``compact_small_files``)."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def z_order_key(a, b, bits: int = 16):
    """Bit-interleaved Z-order key for two non-negative int columns —
    the multi-dimension clustering key behind Delta/Iceberg ZORDER BY:
    range-sorting files by this key gives every file a bounded min/max
    box in BOTH dimensions, so a scan predicated on either (or both)
    columns prunes files via parquet footer stats. A single-column sort
    buys pruning on that column only — the second column spans its full
    range in every file.

    Pure codegen bit arithmetic (shift/and/or), ``2·bits`` terms; cap
    ``bits`` at the columns' actual magnitude. Values must be
    non-negative and < 2^bits (higher bits silently truncate — callers
    with larger domains should bucket/scale first). The dimensions
    should occupy COMPARABLE bit widths: interleaving a 4-bit domain
    with a 20-bit one degenerates to the wide column's plain sort —
    scale both to a common resolution (e.g. percentile buckets) first.
    """
    z = F.lit(0).cast("long")
    a = a.cast("long")
    b = b.cast("long")
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return z


def zorder_sql(a: str, b: str, bits: int = 16) -> str:
    """DuckDB-dialect SQL computing the same Z-order key (bit-disjoint
    terms OR'd), for value-level oracles of :func:`z_order_key`."""
    terms = []
    for i in range(bits):
        # BIGINT cast before the shift: DuckDB errors on INT32 << 31
        terms.append(f"(CAST((({a} >> {i}) & 1) AS BIGINT) << {2 * i})")
        terms.append(f"(CAST((({b} >> {i}) & 1) AS BIGINT) << {2 * i + 1})")
    return " | ".join(terms)
