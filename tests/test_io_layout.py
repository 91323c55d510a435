"""Data-layout writers: range-sorted files must carry disjoint min/max
stats (the pruning contract), and compaction must preserve data while
reducing file count."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _file_ranges(path: str, col: str) -> list[tuple]:
    """(min, max) of ``col`` per parquet file, from the footers."""
    out = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
        if mins:
            out.append((min(mins), max(maxs)))
    return out


def test_write_range_sorted_disjoint_stats(spark, tmp_path):
    from datasheet_etl_spark.io import load_table, write_range_sorted

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "docs_sorted")
    write_range_sorted(docs, path, ["n_chars"], num_files=8)

    ranges = sorted(_file_ranges(path, "n_chars"))
    assert len(ranges) >= 4  # range partitioner actually split the data
    # tight and disjoint: each file's max < next file's min (no overlap)
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, (ranges,)
    # data survived intact
    got = spark.read.parquet(path)
    assert got.count() == docs.count()
    assert got.agg(F.sum("n_chars")).first()[0] == docs.agg(F.sum("n_chars")).first()[0]


def test_compact_small_files(spark, tmp_path):
    from datasheet_etl_spark.io import compact_small_files, load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "fragmented")
    # accrete many small files, as a fine-grained append sink would
    for i in range(6):
        docs.filter(F.col("doc_id") % 6 == i).coalesce(1).write.parquet(
            path, mode="append"
        )
    n_before = compact_small_files(spark, path, target_files=2)
    assert n_before == 6
    files_after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files_after) <= 2
    got = spark.read.parquet(path)
    assert got.count() == docs.count()
    assert got.select("doc_id").distinct().count() == docs.count()


def test_compact_small_files_rebalance_mode(spark, tmp_path):
    """Size-based compaction: AQE REBALANCE sizes output toward
    target_mb with no file-count guess — data survives bit-for-bit,
    the file count drops, the advisory conf is restored afterwards,
    and the mode exclusivity guard fires."""
    import pytest

    from datasheet_etl_spark.io import compact_small_files, load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "fragmented_mb")
    for i in range(6):
        docs.filter(F.col("doc_id") % 6 == i).coalesce(1).write.parquet(
            path, mode="append"
        )
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(advisory, None)
    # REBALANCE needs AQE: the mode must pin it for the write (an
    # AQE-off session would silently round-robin to shuffle.partitions)
    # and restore the caller's setting afterwards
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        n_before = compact_small_files(spark, path, target_mb=64)
    finally:
        aqe_after = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert aqe_after == "false"  # caller's conf restored
    assert n_before == 6
    assert spark.conf.get(advisory, None) == prev
    files_after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    # the whole sf-smoke table is far below 64 MB: AQE coalesces to one
    assert len(files_after) < 6
    got = spark.read.parquet(path)
    assert got.count() == docs.count()
    assert got.select("doc_id").distinct().count() == docs.count()
    with pytest.raises(ValueError, match="exactly one"):
        compact_small_files(spark, path)
    with pytest.raises(ValueError, match="exactly one"):
        compact_small_files(spark, path, target_files=2, target_mb=64)


def test_read_json_lenient_quarantines_corrupt(spark, tmp_path):
    """PERMISSIVE read: clean rows parse, malformed lines land in the
    corrupt column verbatim, and clean+bad partitions the input."""
    from datasheet_etl_spark.io import read_json_lenient, split_corrupt

    p = tmp_path / "raw.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "{broken json\n"
        '{"doc_id": 2, "text": "also ok"}\n'
        '["not","an","object"]\n'
    )
    df = read_json_lenient(spark, str(p), "doc_id long, text string")
    clean, bad = split_corrupt(df)
    got = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert got == {1: "ok", 2: "also ok"}
    bad_rows = [r[0] for r in bad.collect()]
    assert len(bad_rows) == 2 and "{broken json" in bad_rows
    assert "_corrupt_record" not in clean.columns


def test_read_csv_lenient_quarantines_corrupt(spark, tmp_path):
    """CSV sibling of the JSON case: a headerless file with an
    unparseable id planted on every 53rd line reads back with every
    clean line parsed and every corrupted line quarantined."""
    from datasheet_etl_spark.io import load_table, read_csv_lenient, split_corrupt

    e = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id", "event_type")
    planted = F.col("event_id") % 53 == 0
    first = F.when(planted, F.concat(F.lit("X"), "event_id")).otherwise(
        F.col("event_id").cast("string")
    )
    path = str(tmp_path / "csv")
    e.select(F.concat_ws(",", first, "user_id", "event_type")).write.text(path)
    df = read_csv_lenient(spark, path, "event_id bigint, user_id bigint, event_type string")
    clean, bad = split_corrupt(df)
    assert sorted(clean.collect()) == sorted(e.filter(~planted).collect())
    assert bad.count() == e.filter(planted).count() > 0


def test_z_order_key_matches_sql(spark):
    """``z_order_key`` and its DuckDB twin ``zorder_sql`` interleave the
    same bits."""
    from datasheet_etl_spark.io import load_table, z_order_key, zorder_sql

    from tests.conftest import SF_ORACLE
    from tests.oracle_harness import compare

    li = load_table(spark, SF_ORACLE, "lineitem").filter(F.col("l_orderkey") < 1000)
    df = li.select(
        "l_orderkey",
        "l_linenumber",
        z_order_key(F.col("l_partkey"), F.col("l_suppkey")).alias("zkey"),
    )
    zkey = zorder_sql("l_partkey", "l_suppkey", 16)
    sql = f"SELECT l_orderkey, l_linenumber, {zkey} AS zkey FROM lineitem WHERE l_orderkey < 1000"
    ok, msg = compare(df, sql, SF_ORACLE)
    assert ok, msg


def test_read_parquet_evolved_merges_schema(spark, tmp_path):
    """mergeSchema read spans two vintages: the old shard's missing
    column reads as NULL, and both shards' rows appear."""
    from datasheet_etl_spark.io import read_parquet_evolved

    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    spark.createDataFrame([(1, "a")], "doc_id long, text string").write.parquet(v1)
    spark.createDataFrame(
        [(2, "b", 0.9)], "doc_id long, text string, quality double"
    ).write.parquet(v2)
    df = read_parquet_evolved(spark, v1, v2)
    assert set(df.columns) == {"doc_id", "text", "quality"}
    rows = {r["doc_id"]: r["quality"] for r in df.collect()}
    assert rows[1] is None and rows[2] == 0.9


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    """Range-sorting by the Z-order key contracts every file's min/max
    box in BOTH dimensions; a single-column sort leaves the OTHER
    column spanning (nearly) its full range in every file. The
    footer-stats contract behind 2-D file skipping."""
    from datasheet_etl_spark.io import load_table, write_range_sorted, z_order_key

    # two comparable 8-bit dimensions (z-ordering mismatched bit widths
    # degenerates to the wide column's sort — the documented caveat)
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        (F.col("l_orderkey") % 256).alias("x"),
        (F.col("l_partkey") % 256).alias("y"),
    )
    zpath, spath = str(tmp_path / "zsort"), str(tmp_path / "ssort")
    write_range_sorted(
        li.withColumn("zkey", z_order_key(F.col("x"), F.col("y"), bits=8)),
        zpath,
        ["zkey"],
        num_files=16,
    )
    write_range_sorted(li, spath, ["x"], num_files=16)

    def avg_width(path, col):
        ranges = _file_ranges(path, col)
        return sum(hi - lo for lo, hi in ranges) / len(ranges)

    full_y = avg_width(spath, "y")  # ~the whole y domain under x-sort
    z_y = avg_width(zpath, "y")
    z_x = avg_width(zpath, "x")
    # z-sorted files bound the SECOND dimension far tighter than a
    # single-column sort does, while still contracting the first well
    # below its 255-wide domain
    assert z_y < 0.7 * full_y, (z_y, full_y)
    assert z_x < 0.7 * 255, z_x
    assert avg_width(spath, "x") < z_x  # single-dim sort wins its own dim


def test_variant_at_rest_round_trip(spark, tmp_path):
    """Parse-once VARIANT storage, proven: parse the JSON props ONCE into a
    VARIANT column, store the variant binary in parquet, read it back,
    and run the same typed extraction + aggregate WITHOUT any parse in
    the read-side plan. The stored-and-reread aggregate must equal the
    parse-per-query aggregate, the read-back schema must still be
    variant, and the read-side plan must contain no parse_json call."""
    from datasheet_etl_spark.io import load_table

    e = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type", "props")

    def agg(df, props_variant):
        k = F.try_variant_get(props_variant, "$.k", "bigint")
        return sorted(
            (r["event_type"], r["n"], r["sum_k"])
            for r in df.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
            .collect()
        )

    want = agg(e, F.try_parse_json("props"))

    path = str(tmp_path / "events_variant")
    e.select(
        "event_id", "event_type", F.try_parse_json("props").alias("pv")
    ).write.parquet(path)

    back = spark.read.parquet(path)
    assert dict(back.dtypes)["pv"] == "variant"  # binary at rest, typed on read
    got = agg(back, F.col("pv"))
    assert got == want

    plan = back.select(
        F.try_variant_get("pv", "$.k", "bigint").alias("k")
    )._jdf.queryExecution().executedPlan().toString()
    assert "parse_json" not in plan.lower()  # extraction, no re-parse


def test_orc_scan_pushes_predicates_and_prunes_columns(spark, tmp_path):
    """ORC is the 'other columnar' option write_table documents — prove
    it keeps the two scan levers that make columnar worth it at scale:
    the filter reaches the ORC reader (PushedFilters) and the projection
    prunes to the selected columns."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.io import load_table, read_table, write_table

    src = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "value"
    )
    path = str(tmp_path / "events_orc")
    write_table(src, path, "orc")
    q = (
        read_table(spark, path, "orc")
        .filter(F.col("event_type") == "click")
        .select("event_id", "value")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan, plan[:900]
    assert "ReadSchema: struct<event_id:bigint,event_type:string,value:double>" in plan
