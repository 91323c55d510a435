"""Physical-plan audits: the scale properties the engine is designed
around must be visible in the plans Catalyst actually produces —
predicate pushdown into the parquet scan, column pruning, broadcast
join selection for dimension joins, and map-side partial aggregation.
A regression here is a 100 TB incident even when results stay correct."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


def test_q01_pushdown_and_pruning(spark):
    from datasheet_etl_spark.plans.queries import q01_scan_filter

    plan = _plan(q01_scan_filter(spark, SF_SMOKE))
    scan = plan[plan.index("FileScan") :]
    m = re.search(r"PushedFilters: \[([^\n]*)", scan)
    assert m and "l_quantity" in m.group(1) and "l_shipdate" in m.group(1), scan[:400]
    # projection pruned to the 4 output columns + the filter column
    m = re.search(r"FileScan parquet \[([^\]]*)\]", scan)
    read_cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert read_cols == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_shipdate",
    }, read_cols


def test_q05_dimension_joins_broadcast(spark):
    from datasheet_etl_spark.plans.queries import q05_broadcast_join

    plan = _plan(q05_broadcast_join(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:600]
    assert "SortMergeJoin" not in plan


def test_q11_partial_aggregation(spark):
    from datasheet_etl_spark.plans.queries import q11_tpch_q1

    plan = _plan(q11_tpch_q1(spark, SF_SMOKE))
    # map-side partial agg before the shuffle, final after
    assert "partial_" in plan, plan[:600]
    assert plan.count("HashAggregate") >= 2


def test_t17_dim_joins_broadcast(spark):
    from datasheet_etl_spark.plans.training import t17_graph_copurchase

    plan = _plan(t17_graph_copurchase(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:600]


def test_binary_hygiene_in_plan(spark):
    """The media payload column must not appear in any exchange above
    the mapInPandas stage that consumes it."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.multimodal import extract_features, synth_media

    docs = load_table(spark, SF_SMOKE, "documents")
    feats = extract_features(synth_media(docs)).groupBy("kind").count()
    plan = _plan(feats)
    above_stage = plan[: plan.index("MapInPandas")]
    assert "content" not in above_stage, above_stage


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the join key into the same bucket count
    must join with NO shuffle on either side — the co-location payoff
    that amortizes one write-time shuffle across every later join."""
    from datasheet_etl_spark.io import load_table, write_bucketed

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    od = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", 4, ["l_orderkey"])
    write_bucketed(od, "od_b", 4, ["o_orderkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_b").join(
            spark.table("od_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan, plan[:400]
        assert "Exchange" not in plan, plan[:800]
        assert "Bucketed: true" in plan and "SelectedBucketsCount: 4 out of 4" in plan
        # and it actually computes
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS od_b")


def test_partition_pruning(spark, tmp_path):
    """A partition-key predicate must prune at plan time: the scan's
    PartitionFilters carries it and non-matching directories are never
    listed into the scan."""
    from datasheet_etl_spark.io import load_table, write_partitioned

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, ["day"])
    got = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    plan = _plan(got)
    scan = plan[plan.index("FileScan") :]
    m = re.search(r"PartitionFilters: \[([^\n]*)", scan)
    assert m and "day" in m.group(1), scan[:400]
    n_days = ev.select("day").distinct().count()
    assert got.count() == ev.filter(F.col("day") == "2024-01-05").count()
    assert n_days > 1


def test_ivf_at_rest_partition_prunes(spark, tmp_path):
    """The IVF scale story made physical: corpus written partitioned by
    kmeans cell id; a probe restricted to its nprobe cells carries the
    cell predicate in PartitionFilters and scans only those directories."""
    from datasheet_etl_spark.io import load_table, write_partitioned
    from datasheet_etl_spark.operators.similarity import assign_cells, kmeans_fit

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent = kmeans_fit(emb, k=8, iters=2)
    cells = assign_cells(emb, cent)
    path = str(tmp_path / "ivf_corpus")
    write_partitioned(cells, path, ["cell"])

    probed = spark.read.parquet(path).filter(F.col("cell").isin(1, 3))
    plan = _plan(probed)
    scan = plan[plan.index("FileScan") :]
    m = re.search(r"PartitionFilters: \[([^\n]*)", scan)
    assert m and "cell" in m.group(1), scan[:400]
    assert probed.count() == cells.filter(F.col("cell").isin(1, 3)).count()


def test_q19_percentile_single_shuffle(spark):
    """Percentiles per group: one hash-partition exchange, no global
    sort before aggregation."""
    from datasheet_etl_spark.plans.queries import q19_percentiles

    plan = _plan(q19_percentiles(spark, SF_SMOKE))
    body = plan.split("Sort", 1)[-1]  # final presentation sort is fine
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ivf_index_persists_and_search_prunes(spark, tmp_path):
    """Quantizer persistence: write_ivf_index → ivf_search_indexed reads
    ONLY the probed cell directories (PartitionFilters) and returns the
    same top-k as the in-session kmeans IVF with identical parameters."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.similarity import (
        ivf_kmeans_topk,
        ivf_search_indexed,
        read_ivf_centroids,
        write_ivf_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, k_clusters=8, iters=2)

    assert read_ivf_centroids(spark, path).shape[0] == 8

    indexed = ivf_search_indexed(spark, path, probes, k=5, nprobe=2)
    live = ivf_kmeans_topk(emb, probes, k=5, k_clusters=8, nprobe=2, iters=2)

    def canon(df):  # BLAS accumulate order differs per batch shape → ulp
        return sorted((r[0], r[1], round(r[2], 9), r[3]) for r in df.collect())

    assert canon(indexed) == canon(live)

    # physical: the corpus scan inside the search carries the cell filter
    member = spark.read.parquet(f"{path}/corpus").filter(F.col("cell").isin(0, 1))
    plan = _plan(member)
    scan = plan[plan.index("FileScan") :]
    m = re.search(r"PartitionFilters: \[([^\n]*)", scan)
    assert m and "cell" in m.group(1), scan[:400]


def test_mixture_stats_single_scan(spark):
    """t29's audit must stay one scan: a conditional aggregate, not a
    filter+join double read of the corpus."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.sampling import weighted_sample_stats

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        weighted_sample_stats(docs, "doc_id", "source", {"src0": 0.5})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan") == 1
    # the keep predicate must live inside the aggregate, not a filter node
    assert "partial_count" in plan or "HashAggregate" in plan


def test_decontaminate_broadcasts_holdout(spark):
    """t32's holdout gram set must broadcast so the training side is
    never shuffled by the probe."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.dedup import decontaminate

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    holdout = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    plan = (
        decontaminate(train, holdout)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_documents_no_shuffle(spark):
    """t31 chunking is a pure map-side expansion — no exchange in the
    plan, and the scan reads only the three needed columns."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.text import chunk_documents

    # pin the UNCACHED plan: another module's cached `documents` would
    # substitute an InMemoryRelation whose scan reads all columns,
    # hiding the pruning this test exists to assert
    spark.catalog.clearCache()
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "n_chars"
    )
    plan = (
        chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>" in plan


def test_mixture_temperature_broadcasts_counts(spark):
    """t38's per-stratum counts (one row per source) must broadcast into
    the sampling phases — never a sort-merge join against the corpus."""
    from datasheet_etl_spark.plans.training import t38_mixture_temperature

    plan = _plan(t38_mixture_temperature(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_gate_single_scan_single_shuffle(spark):
    """t39 is one scan and one exchange: the percent_rank window is the
    only shuffle, with no join or second read of the corpus."""
    from datasheet_etl_spark.plans.training import t39_quality_percentile_gate

    plan = _plan(t39_quality_percentile_gate(spark, SF_SMOKE))
    assert plan.count("FileScan") == 1
    # single-partition smoke input can elide the exchange entirely
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Join" not in plan


def test_dedup_incremental_groupLimit_and_anti(spark):
    """t40's within-shard dedup must pre-shrink map-side
    (WindowGroupLimit partial) and probe the index with a broadcast
    anti-join — document bodies never shuffle for the index probe."""
    from datasheet_etl_spark.plans.training import t40_dedup_incremental

    plan = _plan(t40_dedup_incremental(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan
    assert "LeftAnti, BuildRight" in plan
    assert "SortMergeJoin" not in plan


def test_salted_join_spreads_hot_key(spark):
    """t51: the salted join must actually join on (key, salt) — the salt
    column appears in the join keys — and the per-task row ceiling for a
    hot key drops by ~buckets x vs the plain join."""
    from datasheet_etl_spark.operators.relational import salted_join

    left = spark.range(0, 4000).select(
        F.col("id").alias("row_id"),
        # non-constant key (a literal would fold out of the join keys):
        # one hot key owning ~99% of rows plus a trickle of cold ones
        F.when(F.col("id") % 100 == 0, "cold").otherwise("hot").alias("k"),
    )
    right = spark.createDataFrame(
        [("hot", 1), ("cold", 2)], "k string, payload int"
    )
    out = salted_join(left, right, ["k"], salt_from="row_id", buckets=8)
    plan = _plan(out)
    # the physical join's key list must contain the salt next to the
    # user key — i.e. the join really runs on (k, _salt), not k alone
    assert re.search(r"\[k#\d+[^\]\n]*_salt#\d+\]", plan), plan[:600]
    # semantic spread, via the operator's OWN salt derivation: the
    # single hot key's rows land in all 8 (key, salt) groups
    from datasheet_etl_spark.operators.relational import salt_expr

    spread = (
        out.withColumn("_s", salt_expr("row_id", 8))
        .select("_s")
        .distinct()
        .count()
    )
    assert spread == 8
    # and no rows were lost or duplicated vs the plain join
    assert out.count() == left.join(right, "k").count()


def test_assign_split_map_side_only(spark):
    """t52: split assignment is a pure projection — no exchange, no
    join, single scan; the only shuffle in the registry entry is its
    audit aggregate."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.sampling import assign_split

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    plan = _plan(
        assign_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    assert "Exchange" not in plan and "Join" not in plan
    assert plan.count("FileScan") == 1


def test_mad_outliers_broadcasts_stats(spark):
    """t53: both per-stratum statistics tables (kilobytes) broadcast
    back onto the scan — the corpus is never sort-merge joined or
    sorted."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.profile import mad_outliers

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "n_chars"
    )
    plan = _plan(mad_outliers(docs, "n_chars", ["source"], k=2.0))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Sort " not in plan  # no global/stratum sort anywhere


def test_resample_locf_single_shuffle(spark):
    """t54: one exchange on the partition keys (the as-of join's merge
    sort) — grid generation adds none."""
    from datasheet_etl_spark.operators.relational import resample_locf

    series = spark.createDataFrame(
        [(1, 100, 1.0), (1, 350, 2.0), (2, 90, 3.0)],
        "k int, ts long, v double",
    )
    plan = _plan(resample_locf(series, ["k"], "ts", "v", 100))
    assert plan.count("Exchange hashpartitioning") <= 2  # grid + series sides
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_funnel_single_shuffle(spark):
    """t57: sessionize + three chained stage windows + the final
    per-key collapse share one hash partitioning — a single exchange,
    not one per stage."""
    from datasheet_etl_spark.operators.relational import funnel_stages

    df = spark.createDataFrame(
        [(1, 10, "view"), (1, 20, "click"), (1, 30, "purchase")] * 5,
        "k long, ts long, et string",
    )
    plan = _plan(
        funnel_stages(df, ["k"], "ts", "et", ["view", "click", "purchase"])
    )
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:800]


def test_t73_merge_never_rereads_corpus(spark):
    """Incremental rollup merge (``partial_rollup`` of the existing
    corpus + the new shard, then ``merge_rollups``): the merged plan
    reads each shard ONCE (two scans total — the partials), with
    map-side partial aggregation below the merge; and the merge
    aggregate itself operates on kilobyte-scale grouped rows, not
    corpus rows."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.relational import merge_rollups, partial_rollup

    docs = load_table(spark, SF_SMOKE, "documents")
    keys = ["source", "lang"]
    parts = [
        partial_rollup(docs.filter(cond), keys, "n_chars")
        for cond in (F.col("doc_id") < 250, F.col("doc_id") >= 250)
    ]
    plan = _plan(merge_rollups(parts, keys))
    assert plan.count("FileScan") == 2, plan[:800]
    assert "HashAggregate" in plan


def test_t74_resample_interp_single_data_shuffle(spark):
    """Both fills (forward last / backward first) share one window
    partitioning: the series data shuffles ONCE for the window pass
    (plus the tiny bounds aggregate); no self-join, no range join."""
    from datasheet_etl_spark.plans.sql_extra import t74_resample_interp

    plan = _plan(t74_resample_interp(spark, SF_SMOKE))
    assert "Join" not in plan.replace("joinType", ""), plan[:800]
    # window exchange + bounds-agg exchange (+ pre-agg of ties)
    assert plan.count("Exchange hashpartitioning") <= 3, plan[:800]


def test_t79_grouped_agg_udaf_single_shuffle(spark):
    """t79: the GROUPED_AGG UDAF aggregates with ONE hash exchange on
    the grouping key (AggregateInPandas after a single shuffle) — no
    extra exchange, no nested loop; the Arrow transfer is the only
    Python-boundary cost."""
    from datasheet_etl_spark.plans.sql_extra import t79_weighted_median_udaf

    df = t79_weighted_median_udaf(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Spark 4 names the grouped-agg pandas node ArrowAggregatePython
    # (AggregateInPandas in 3.x)
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan, plan[:500]
    # one hash exchange for the groupBy; the trailing rangepartitioning
    # belongs to the display orderBy
    assert plan.count("Exchange hashpartitioning") == 1, plan[:800]


def test_t80_leakage_split_one_window_shuffle_map_side_case(spark):
    """Leakage-safe split: ONE hash exchange (the fingerprint window
    that finds each group's representative); the split assignment
    itself is a map-side CASE over md5 — no join, no second aggregate
    shuffle."""
    from pyspark.sql import Window

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.sampling import assign_split
    from datasheet_etl_spark.operators.text import fingerprint

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    grouped = docs.select(
        "doc_id", F.min("doc_id").over(Window.partitionBy("fp")).alias("group_rep")
    )
    df = assign_split(grouped, "group_rep", {"train": 0.8, "val": 0.1, "test": 0.1})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:800]
    assert "Join" not in plan, plan[:800]


def test_scale_features_corpus_pass_is_map_only(spark):
    """scale_features: the frame rides as literals, so the scaled
    corpus pass plans with NO Exchange and no Python stage — the
    t90 100 TB claim (one shuffle in the lifecycle, and it's the
    dim-stats pass, not this one)."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.similarity import (
        feature_frame,
        scale_features,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    lo, hi = feature_frame(emb, "embedding")
    plan = (
        scale_features(emb, "embedding", lo, hi)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan  # JVM higher-order transform, no UDF


def test_distribution_windows_share_one_window_exec(spark):
    """q47: ntile/percent_rank/cume_dist use the same window spec, so
    the plan carries ONE Window operator over ONE partition exchange —
    three features for the price of a single per-nation sort."""
    from datasheet_etl_spark.plans.sql_extra import q47_distribution_windows

    plan = (
        q47_distribution_windows(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Window ") == 1, plan[:900]
    assert plan.count("Exchange hashpartitioning") == 1


def test_t95_excision_anti_join_is_doc_keyed_not_nested_loop(spark):
    """t95's removal anti-join carries an equi-key (the doc id) with
    the interval bounds as a range RESIDUAL: the plan must be a hash or
    sort-merge LeftAnti on that key — never a BroadcastNestedLoopJoin /
    CartesianProduct, which is what the join degrades to if the
    equi-key is ever dropped from the condition (at corpus scale that
    is tokens x intervals, a non-starter)."""
    from datasheet_etl_spark.plans.sql_extra import t95_substring_span_excision

    plan = (
        t95_substring_span_excision(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan[:900]
    assert "CartesianProduct" not in plan, plan[:900]
    assert "LeftAnti" in plan


def test_t96_dsir_vocab_joins_broadcast(spark):
    """t96's two vocabulary joins and two totals cross-joins must all
    be broadcasts — the corpus-token side never shuffles for them (the
    only hash exchange is the per-doc aggregate), and nothing degrades
    to a shuffled join of tokens against vocab."""
    from datasheet_etl_spark.plans.sql_extra import t96_dsir_importance_select

    plan = (
        t96_dsir_importance_select(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # the scored per-doc aggregate is persisted, so the scoring
    # subtree (vocab joins + the two 1-row totals cross-joins) runs
    # ONCE and both consumers (top-k and the final join) read the
    # cache — the plan string still PRINTS the cached subtree under
    # each InMemoryTableScan, so assert the reuse, not string counts
    assert plan.count("InMemoryTableScan") >= 2
    # vocab equi-joins are broadcast-hash — a stats regression turning
    # one into a shuffled join of the corpus-token side must FAIL here,
    # not hide behind the other join staying broadcast
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_t97_shard_plan_no_global_sort_in_derivation(spark):
    """t97's derivation must contain only the presentation sort: the
    selection is two bounded windows, the epoch order one per-shard
    window, the packing one more — no TakeOrdered-free global Sort
    other than the final orderBy's range exchange."""
    from datasheet_etl_spark.plans.sql_extra import t97_training_shard_plan

    plan = (
        t97_training_shard_plan(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one range exchange: the trailing presentation orderBy
    assert plan.count("Exchange rangepartitioning") == 1


def test_runtime_bloom_filter_join_lever(spark):
    """The 100 TB selective-join lever, pinned executable: with runtime
    Bloom filters on (and the size thresholds lowered to test scale —
    in production the 10 GB application-side default engages on its
    own), a selective dim-side filter injects bloom_filter_agg on the
    build side and a might_contain pre-filter on the FACT SCAN side of
    the shuffle join — rows that cannot match are dropped before they
    shuffle. Broadcast is disabled to force the shuffle-join shape this
    lever exists for."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.io import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        sf = "/root/testdata/sf0.001"
        li = load_table(spark, sf, "lineitem")
        o = load_table(spark, sf, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:800]
        assert "might_contain" in plan, plan[:800]
        # and the filtered join still answers correctly
        assert j.count() == 1
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_t107_hashed_ngrams_shuffle_keys_not_strings(spark):
    """The hashed audit's scale claim, pinned in the plan: every count
    aggregation Exchange partitions on the 16-byte gkey, never on the
    readable gram string (the string path's first Exchange is
    hashpartitioning(gram...) — that is exactly what must NOT appear),
    and the exemplar join-back + candidate filter stay broadcast."""
    from datasheet_etl_spark.operators.text import (
        frequent_ngrams,
        frequent_ngrams_hashed,
    )
    from datasheet_etl_spark.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    hdf = frequent_ngrams_hashed(docs, n=5, top_k=20)
    plan = hdf._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(gkey" in plan, plan[:1200]
    assert "hashpartitioning(gram" not in plan, plan[:1200]
    # candidate cut + exemplar resolution never shuffle-join
    assert "BroadcastNestedLoopJoin" in plan and "BroadcastHashJoin" in plan
    # the string path DOES shuffle grams — the discriminating contrast
    # that proves the assertion above can fail
    sdf = frequent_ngrams(docs, n=5, top_k=20)
    splan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(gram" in splan, splan[:1200]


def test_q52_grouping_sets_one_expand_one_aggregate(spark):
    """q52's scale claim: N grouping sets plan as ONE scan + one
    Expand feeding one aggregate — never a union of N aggregates."""
    from datasheet_etl_spark.plans.sql_extra import q52_grouping_sets

    plan = _plan(q52_grouping_sets(spark, SF_SMOKE))
    assert plan.count("Expand") == 1, plan[:800]
    assert "Union" not in plan, plan[:800]
    assert plan.count("FileScan") == 1, plan[:800]


def test_aqe_skew_join_lever(spark):
    """The other 100 TB runtime join lever, pinned executable next to
    the Bloom test: with AQE skew handling on (thresholds lowered to
    test scale — in production the 256 MB defaults engage on their
    own), a join against a planted hot key splits the oversized
    shuffle partition at runtime: the executed SortMergeJoin is marked
    skew=true. Broadcast is disabled to force the shuffle-join shape
    the optimization exists for; results must be identical either way."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one hot key carrying ~95% of the fact side; max(payload)
        # forces the wide column THROUGH the join shuffle (a bare
        # count would let column pruning deflate the hot partition
        # below any byte threshold)
        fact = spark.range(0, 40_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.concat(
                F.lit("pad" * 40), F.md5(F.col("id").cast("string"))
            ).alias("payload"),
        )
        dim = spark.range(0, 100).select(
            F.col("id").alias("k"), F.lit("d").alias("tag")
        )
        j = (
            fact.join(dim, "k")
            .groupBy("tag")
            .agg(F.count(F.lit(1)).alias("count"), F.max("payload"))
        )
        rows = j.collect()
        assert rows[0]["count"] == 40_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q59_keyset_page_plan_and_equivalence(spark):
    """The keyset page's plan must show the pushed sort+limit
    (TakeOrderedAndProject — per-partition top-25, driver merge, no
    global sort) with the cursor predicate reaching the parquet scan as
    PushedFilters, and the page itself must equal the LIMIT 25 OFFSET 50
    page row-for-row (same cursor position, same total order) — the
    keyset form is a PLAN upgrade, never a content change."""
    import re as _re

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.plans.sql_extra import q59_pagination_keyset

    ks = q59_pagination_keyset(spark, SF_SMOKE)
    plan = _plan(ks)
    assert "TakeOrderedAndProject" in plan, plan[:600]
    # no OFFSET prefix machinery anywhere in the keyset plan
    assert "GlobalLimit" not in plan, plan[:600]
    scan = plan[plan.index("FileScan") :]
    m = _re.search(r"PushedFilters: \[([^\n]*)", scan)
    assert m and "o_orderdate" in m.group(1), scan[:400]

    load_table(spark, SF_SMOKE, "orders").createOrReplaceTempView("offset_orders")
    offset_page = spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_orderdate,
               CAST(o_totalprice AS DOUBLE) AS total
        FROM offset_orders
        ORDER BY o_orderdate, o_orderkey
        LIMIT 25 OFFSET 50
        """
    )
    want = [tuple(r) for r in offset_page.collect()]
    got = [tuple(r) for r in ks.collect()]
    assert len(got) == 25
    assert got == want


def test_t129_cogroup_seam_and_left_join_semantics(spark):
    """t129's seam pin: the two-sided grouped pandas function must
    evaluate through FlatMapCoGroupsInPandas (one Arrow batch pair per
    key), and the per-key merge_asof must reproduce left-join
    semantics — a user with purchases but no views still reports every
    purchase (NULL view columns), and a view-only user contributes no
    rows."""
    from datasheet_etl_spark.plans.sql_extra import t129_cogroup_asof

    df = t129_cogroup_asof(spark, SF_SMOKE)
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan[:600]

    rows = df.collect()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    from pyspark.sql import functions as F

    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert len(rows) == n_purch  # every purchase reported exactly once
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    has_views = {
        r.user_id
        for r in ev.filter(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .collect()
    }
    for uid, urows in by_user.items():
        for r in urows:
            if r.view_event_id is not None:
                assert r.view_ts_us <= r.purchase_ts_us
                assert r.wait_us == r.purchase_ts_us - r.view_ts_us
            else:
                assert r.view_ts_us is None and r.wait_us is None
        if uid not in has_views:
            assert all(r.view_event_id is None for r in urows)


def test_t130_t131_arrow_native_seams(spark):
    """The Arrow-native seam pins: t130 must evaluate through
    MapInArrow (RecordBatch map, no pandas) and t131 through
    FlatMapGroupsInArrow (grouped Table apply) — and neither through
    any pandas evaluation node. NULL text must propagate as SQL NULL
    through the Arrow kernels."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.operators.text import (
        arrow_byte_stats,
        arrow_grouped_stats,
    )
    from datasheet_etl_spark.plans.sql_extra import (
        t130_arrow_native_map,
        t131_arrow_native_grouped,
    )

    p130 = _plan(t130_arrow_native_map(spark, SF_SMOKE))
    assert "MapInArrow" in p130, p130[:600]
    assert "InPandas" not in p130, p130[:600]
    p131 = _plan(t131_arrow_native_grouped(spark, SF_SMOKE))
    assert "FlatMapGroupsInArrow" in p131, p131[:600]
    assert "InPandas" not in p131, p131[:600]

    df = spark.createDataFrame(
        [(1, "Abé"), (2, None), (3, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in arrow_byte_stats(df).collect()}
    assert (rows[1]["n_chars"], rows[1]["n_bytes"], rows[1]["n_upper"]) == (3, 4, 1)
    assert rows[2]["n_chars"] is None and rows[2]["n_bytes"] is None
    assert (rows[3]["n_chars"], rows[3]["n_upper"]) == (0, 0)
    g = arrow_grouped_stats(
        df.select(F.lit("s").alias("source"), "text")
    ).collect()
    assert len(g) == 1 and g[0]["n_docs"] == 3 and g[0]["total_bytes"] == 4
    # NULL group key + all-NULL aggregates (review-found r13): a bare
    # pa.table would infer null-typed columns and fail the seam's
    # schema check; the explicit schema makes NULL groups behave like
    # SQL GROUP BY (NULLs group together, empty aggregates are NULL)
    dfn = spark.createDataFrame(
        [(None, "ab"), ("s", None), (None, None)],
        "source string, text string",
    )
    got = {r["source"]: (r["n_docs"], r["total_bytes"]) for r in
           arrow_grouped_stats(dfn).collect()}
    assert got == {None: (2, 2), "s": (1, None)}


def test_q68_try_family_hits_both_arms(spark):
    """Each try_* column must exercise BOTH the NULL (error-absorbed)
    and the value arm on the real data — otherwise the entry grades
    nothing. Also pins the exact overflow boundary: try_add goes NULL
    iff 2147483645 + l_linenumber exceeds int32."""
    from datasheet_etl_spark.plans.sql_extra import q68_try_arithmetic

    rows = q68_try_arithmetic(spark, SF_SMOKE).collect()
    assert rows
    for c in ("safe_ratio", "safe_add", "safe_num", "safe_elem", "safe_date"):
        nulls = sum(1 for r in rows if r[c] is None)
        assert 0 < nulls < len(rows), (c, nulls, len(rows))
    for r in rows:
        assert (r["safe_add"] is None) == (r["l_linenumber"] >= 3), r
        assert (r["safe_elem"] is None) == (r["l_linenumber"] > 2), r


def test_q69_every_any_some_are_parser_aliases(spark):
    """every/any/some are parser aliases of bool_and/bool_or — swept
    here so q69's oracle only needs the canonical pair."""
    df = spark.createDataFrame(
        [(1, True), (1, False), (2, True)], "k int, b boolean"
    )
    df.createOrReplaceTempView("q69_alias_t")
    rows = spark.sql(
        """
        SELECT k, every(b) AS e, any(b) AS a, some(b) AS s,
               bool_and(b) AS ba, bool_or(b) AS bo
        FROM q69_alias_t GROUP BY k ORDER BY k
        """
    ).collect()
    for r in rows:
        assert r["e"] == r["ba"] and r["a"] == r["bo"] and r["s"] == r["bo"], r
    assert (rows[0]["ba"], rows[0]["bo"]) == (False, True)
    assert (rows[1]["ba"], rows[1]["bo"]) == (True, True)


def test_q70_width_bucket_sentinel_arms(spark):
    """The sf data never leaves [1320, 499706], so the oracle's two
    sentinel arms (0 below the grid, n+1 at-or-above the ceiling) are
    pinned here on constructed values, including the exact-ceiling
    boundary Spark treats as out-of-range."""
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (599999.99,), (600000.0,), (700000.0,)], "v double"
    )
    got = [
        r["b"]
        for r in df.select(
            F.width_bucket(F.col("v"), F.lit(0.0), F.lit(600000.0), F.lit(24))
            .alias("b")
        ).collect()
    ]
    assert got == [0, 1, 24, 25, 25], got


def test_t132_bitmap_exact_across_pages_and_shards(spark):
    """The bitmap path must be exact across 32768-bit page boundaries
    and across shard merges: values spanning three pages, duplicated
    across two shards, must reproduce countDistinct bit-for-bit. Also
    pins the plan shape: the construct/OR levels are real aggregate
    nodes over page bitmaps, and the exact count needs no
    Expand (q24's multi-distinct rewrite) anywhere."""
    from datasheet_etl_spark.operators.sketches import (
        bitmap_distinct_grouped,
        bitmap_page_partials,
    )

    vals = [1, 2, 3, 32768, 32769, 70000, 1, 32768]  # dups on purpose
    df = spark.createDataFrame(
        [(k, s, v) for k in ("a", "b") for s in (0, 1) for v in vals],
        "k string, shard int, v long",
    )
    out = bitmap_distinct_grouped(
        bitmap_page_partials(df, ["k", "shard"], "v"), ["k"]
    )
    rows = {r["k"]: r["n_distinct"] for r in out.collect()}
    assert rows == {"a": 6, "b": 6}, rows
    plan = _plan(out)
    assert "bitmap_construct_agg" in plan and "bitmap_or_agg" in plan, plan[:600]
    assert "Expand" not in plan, plan[:600]
    # full signed domain: negative pages and the zero/±32768 page edges
    # stay exact (the sf data is non-negative, so pin it here)
    signed = [-70000, -32769, -32768, -1, 0, 1, 32767, 32768, 70000, -1, 0,
              None, None]  # NULLs ignored, exactly count(DISTINCT)'s contract
    sdf = spark.createDataFrame([("k", v) for v in signed], "k string, v long")
    got = bitmap_distinct_grouped(
        bitmap_page_partials(sdf, ["k"], "v"), ["k"]
    ).first()["n_distinct"]
    assert got == sdf.select("v").dropna().distinct().count() == 9


def test_t133_matches_native_regr_family_single_scan(spark):
    """t133's exact-decimal fits must agree with Spark's native
    regr_slope/regr_intercept/regr_r2/regr_count within 1e-6 — the
    entry grades the family's SEMANTICS while keeping the
    order-independent derivation the DuckDB hash-compare needs. Plan
    pin: all three fits come from ONE FileScan (the naive regr_* loop
    would scan once per feature)."""
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.profile import linear_fit

    li = load_table(spark, SF_SMOKE, "lineitem")
    fits = {r["x_col"]: r for r in
            linear_fit(li, "l_extendedprice", ["l_quantity", "l_discount"])
            .collect()}
    nat = li.agg(
        F.regr_slope("l_extendedprice", "l_quantity").alias("sl"),
        F.regr_intercept("l_extendedprice", "l_quantity").alias("ic"),
        F.regr_r2("l_extendedprice", "l_quantity").alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
        F.regr_slope("l_extendedprice", "l_discount").alias("sl2"),
    ).first()
    q = fits["l_quantity"]
    assert abs(q["slope"] - nat["sl"]) <= 1e-6, (q["slope"], nat["sl"])
    assert abs(q["intercept"] - nat["ic"]) <= 1e-6 * max(1, abs(nat["ic"]))
    assert abs(q["r2"] - nat["r2"]) <= 1e-6
    assert q["n"] == nat["n"]
    assert abs(fits["l_discount"]["slope"] - nat["sl2"]) <= 1e-6 * max(
        1, abs(nat["sl2"])
    )
    plan = _plan(linear_fit(li, "l_extendedprice", ["l_quantity", "l_discount"]))
    assert plan.count("FileScan") == 1, plan[:800]
    # NULL gate (review-found): sum-moments skip NULLs while n counts
    # every row — an ungated fit would be silently wrong, so a feature
    # (or target) with NULLs must yield NULL fits, not plausible values
    dfn = spark.createDataFrame(
        [(1.0, 1.0, 1.0), (2.0, None, 2.0), (3.0, 3.0, 3.0)],
        "y double, x1 double, x2 double",
    )
    gated = {r["x_col"]: r for r in linear_fit(dfn, "y", ["x1", "x2"]).collect()}
    assert gated["x1"]["slope"] is None and gated["x1"]["r2"] is None
    assert gated["x2"]["slope"] == 1.0 and gated["x2"]["n"] == 3


def test_q71_lateral_decorrelates_to_window_group_limit(spark):
    """The DF-API lateralJoin's scale claim: the correlated
    ordered-LIMIT subquery must decorrelate into a WindowGroupLimit
    top-k (map-side partial group-limit) + equi-join — never a per-row
    nested loop over the driving side."""
    from datasheet_etl_spark.plans.sql_extra import q71_lateral_join_api

    plan = _plan(q71_lateral_join_api(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:800]
    assert "CartesianProduct" not in plan, plan[:800]


def test_spark4_df_api_forms_match_graded_sql(spark):
    """Spark 4 DF-API sweeps: each form must be semantically identical
    to its SQL spelling — groupingSets ≡ q52's GROUPING SETS,
    scalar()/exists() subquery builders ≡ the correlated-subquery SQL,
    transpose ≡ a hand-built pivot of a tiny moments frame."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.io import load_table

    od = load_table(spark, SF_SMOKE, "orders")

    # groupingSets DF API vs SQL GROUPING SETS
    api = (
        od.groupingSets(
            [["o_orderpriority"], []], F.col("o_orderpriority")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    od.createOrReplaceTempView("gs_orders")
    sql = spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), ())
        """
    ).collect()
    canon = lambda rows: sorted(
        (r["o_orderpriority"] or "", r["n"]) for r in rows
    )
    assert canon(api) == canon(sql)

    # scalar()/exists() builders vs the correlated SQL forms
    li = load_table(spark, SF_SMOKE, "lineitem")
    big = li.where(
        (F.col("l_orderkey") == F.col("o_orderkey").outer())
        & (F.col("l_quantity") > 45)
    )
    api_rows = (
        od.where(big.exists()).select("o_orderkey").collect()
    )
    li.createOrReplaceTempView("ex_lineitem")
    sql_rows = spark.sql(
        """
        SELECT o_orderkey FROM gs_orders o
        WHERE EXISTS (SELECT 1 FROM ex_lineitem
                      WHERE l_orderkey = o.o_orderkey AND l_quantity > 45)
        """
    ).collect()
    assert sorted(r[0] for r in api_rows) == sorted(r[0] for r in sql_rows)
    assert api_rows  # non-vacuous

    counts = (
        li.where(F.col("l_orderkey") == F.col("o_orderkey").outer())
        .select(F.count(F.lit(1)).alias("c"))
    )
    api_c = {
        r["o_orderkey"]: r["n_items"]
        for r in od.select(
            "o_orderkey", counts.scalar().alias("n_items")
        ).collect()
    }
    sql_c = {
        r["o_orderkey"]: r["n_items"]
        for r in spark.sql(
            """
            SELECT o_orderkey,
                   (SELECT count(*) FROM ex_lineitem
                    WHERE l_orderkey = o.o_orderkey) AS n_items
            FROM gs_orders o
            """
        ).collect()
    }
    assert api_c == sql_c

    # transpose: tiny stats frame — first column becomes the header row
    stats = od.agg(
        F.lit("orders").alias("metric"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    t = stats.transpose()
    got = {r[0]: r["orders"] for r in t.collect()}
    base = stats.first()
    assert got == {"n": base["n"], "max_price": base["max_price"]}, got


def test_sql_distribution_clauses_and_join_hints(spark):
    """The physical-distribution parser arms: DISTRIBUTE BY must plan a
    hash exchange, SORT BY a per-partition (non-global) sort, CLUSTER
    BY both; the SQL join-strategy hints must override Catalyst's
    choice in BOTH directions (BROADCAST forces a broadcast join under
    a disabled threshold; SHUFFLE_MERGE forces sort-merge on a
    broadcastable dimension); REBALANCE must plan the AQE rebalance
    exchange compact_small_files' size-based mode rides. All are
    value-neutral directives — row counts pinned unchanged."""
    from datasheet_etl_spark.io import load_table

    load_table(spark, SF_SMOKE, "orders").createOrReplaceTempView(
        "dist_orders"
    )
    load_table(spark, SF_SMOKE, "nation").createOrReplaceTempView(
        "dist_nation"
    )
    load_table(spark, SF_SMOKE, "customer").createOrReplaceTempView(
        "dist_customer"
    )

    d = spark.sql("SELECT * FROM dist_orders DISTRIBUTE BY o_custkey")
    assert "Exchange hashpartitioning(o_custkey" in _plan(d), _plan(d)[:400]

    s = spark.sql("SELECT * FROM dist_orders SORT BY o_orderdate")
    ps = _plan(s)
    assert re.search(r"Sort \[o_orderdate.*\], false", ps), ps[:400]
    assert "Exchange rangepartitioning" not in ps  # not a global ORDER BY

    c = spark.sql("SELECT * FROM dist_orders CLUSTER BY o_custkey")
    pc = _plan(c)
    assert "Exchange hashpartitioning(o_custkey" in pc, pc[:400]
    assert re.search(r"Sort \[o_custkey.*\], false", pc), pc[:400]

    q = """
        SELECT {hint} count(*) AS n
        FROM dist_customer c JOIN dist_nation n
          ON c.c_nationkey = n.n_nationkey
    """
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = spark.sql(q.format(hint="/*+ BROADCAST(n) */"))
        assert "BroadcastHashJoin" in _plan(hinted)
        bare = spark.sql(q.format(hint=""))
        assert "BroadcastHashJoin" not in _plan(bare)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    merged = spark.sql(q.format(hint="/*+ SHUFFLE_MERGE(n) */"))
    assert "SortMergeJoin" in _plan(merged)
    n_rows = merged.first()["n"]
    assert n_rows == hinted.first()["n"] > 0

    r = spark.sql("SELECT /*+ REBALANCE */ * FROM dist_orders")
    pr = r._jdf.queryExecution().optimizedPlan().toString()
    assert "RebalancePartitions" in pr, pr[:400]
    assert r.count() == d.count()


def test_udtf_table_argument_with_partition_by(spark):
    """The polymorphic-UDTF arm t76's scalar-argument form doesn't
    touch: a TABLE(...) argument with PARTITION BY hands the UDTF
    whole rows one partition at a time (eval per row, terminate per
    partition) — checked against the plain groupBy equivalent."""
    from pyspark.sql.functions import udtf

    from datasheet_etl_spark.io import load_table

    @udtf(returnType="source string, n_docs int, total_chars bigint")
    class SourceStats:
        def __init__(self):
            self._src = None
            self._n = 0
            self._chars = 0

        def eval(self, row):
            self._src = row["source"]
            self._n += 1
            self._chars += int(row["n_chars"])

        def terminate(self):
            if self._n:
                yield (self._src, self._n, self._chars)

    spark.udtf.register("udtf_source_stats", SourceStats)
    docs = load_table(spark, SF_SMOKE, "documents")
    docs.createOrReplaceTempView("udtf_docs")
    got = {
        r["source"]: (r["n_docs"], r["total_chars"])
        for r in spark.sql(
            "SELECT * FROM udtf_source_stats(TABLE(udtf_docs) PARTITION BY source)"
        ).collect()
    }
    want = {
        r["source"]: (r["n"], r["c"])
        for r in docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("c"))
        .collect()
    }
    assert got == want and len(got) > 1


def test_identifier_clause_binds_table_names_safely(spark):
    """IDENTIFIER(:param) — the injection-safe binding for table/column
    NAMES (named parameters bind only values): a bound name
    resolves like a literal identifier, and a smuggled SQL fragment is
    rejected at parse time instead of executing."""
    from pyspark.sql.utils import AnalysisException, ParseException

    from datasheet_etl_spark.io import load_table

    load_table(spark, SF_SMOKE, "documents").createOrReplaceTempView(
        "ident_docs"
    )
    n = spark.sql(
        "SELECT count(*) AS n FROM IDENTIFIER(:tab)", args={"tab": "ident_docs"}
    ).first()["n"]
    assert n == spark.table("ident_docs").count() > 0
    col = spark.sql(
        "SELECT max(IDENTIFIER(:col)) AS m FROM ident_docs",
        args={"col": "n_chars"},
    ).first()["m"]
    assert col == spark.table("ident_docs").agg(F.max("n_chars")).first()[0]
    with pytest.raises((AnalysisException, ParseException)):
        spark.sql(
            "SELECT count(*) AS n FROM IDENTIFIER(:tab)",
            args={"tab": "ident_docs WHERE 1=1 --"},
        ).collect()


def test_q72_scripting_loop_matches_ceil_log2_at_boundaries(spark):
    """q72's WHILE loop computes the smallest k with 2^k ≥ n; the
    oracle states it as ceil(log2(n)). Pin the equivalence at the
    boundaries where they could diverge: n=1 (loop never runs, k=0;
    log2(1)=0), exact powers of two (IEEE log2 is exact there), and
    power+1."""
    import math

    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        for n in (1, 2, 3, 8, 9, 1024, 1025):
            k = spark.sql(
                f"""
                BEGIN
                  DECLARE k INT DEFAULT 0;
                  DECLARE p BIGINT DEFAULT 1;
                  WHILE p < {n} DO
                    SET p = p * 2;
                    SET k = k + 1;
                  END WHILE;
                  SELECT k;
                END
                """
            ).first()[0]
            want = 0 if n == 1 else math.ceil(math.log2(n))
            assert k == want, (n, k, want)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)


def test_q73_collated_group_merges_case_variants(spark):
    """UTF8_LCASE grouping must merge case variants WITHOUT any
    lower()/upper() in the key — including a non-ASCII pair where ICU
    lowercasing and the oracle's lower() agree (the ASCII + simple
    1:1-mapping domain is the oracle-safe zone q73 stays inside)."""
    df = spark.createDataFrame(
        [("Spark",), ("SPARK",), ("spark",), ("ÄPFEL",), ("äpfel",)],
        "w string",
    )
    df.createOrReplaceTempView("q73t_words")
    rows = {
        (r["word"], r["n"])
        for r in spark.sql(
            """
            SELECT CAST(lower(collate(w, 'UTF8_LCASE')) AS STRING) AS word,
                   CAST(count(*) AS BIGINT) AS n
            FROM q73t_words GROUP BY collate(w, 'UTF8_LCASE')
            """
        ).collect()
    }
    assert rows == {("spark", 3), ("äpfel", 2)}


def test_q73_collated_join_is_case_insensitive_equality(spark):
    """Collated equality joins rows whose keys differ only by case,
    and does NOT join genuinely different words: the join arm of q73
    on a 2-row fixture where binary equality would return nothing."""
    spark.createDataFrame(
        [("TABLE", 2), ("SCAN", 1)], "w string, n_up int"
    ).createOrReplaceTempView("q73t_up")
    spark.createDataFrame(
        [("table", 5), ("join", 3)], "w string, n_lo int"
    ).createOrReplaceTempView("q73t_lo")
    rows = spark.sql(
        """
        SELECT CAST(lower(collate(u.w, 'UTF8_LCASE')) AS STRING) AS word,
               n_up, n_lo
        FROM q73t_up u JOIN q73t_lo l
          ON collate(u.w, 'UTF8_LCASE') = collate(l.w, 'UTF8_LCASE')
        """
    ).collect()
    assert [(r["word"], r["n_up"], r["n_lo"]) for r in rows] == [
        ("table", 2, 5)
    ]


def test_t138_recursive_cte_union_loop(spark):
    """t138's graded surface is the native recursive CTE: the plan
    must contain the UnionLoop operator (the in-plan loop — no
    driver-stepped unions), terminate structurally under the
    recursion limit, and agree with a Python-computed walk on the
    small fixture."""
    from datasheet_etl_spark.plans.training import (
        _t138_sql,
        t138_recursive_hierarchy,
    )

    df = t138_recursive_hierarchy(spark, SF_SMOKE)
    # the entry returns a bounded recreated frame (the row-limit conf
    # is read at EXECUTION time — probed — so the walk runs inside the
    # entry's conf window); pin the loop operator on the walk plan
    # itself, which the entry leaves addressable via its temp view
    plan = _t138_sql(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert "UnionLoop" in plan, plan[:800]

    # python replay: root + depth for every doc, rolled up identically
    import duckdb

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    con.close()
    agg = {}
    for doc_id, n_chars in docs:
        anc, depth = doc_id, 0
        while anc >= 8:
            anc, depth = anc // 2, depth + 1
        key = (anc, depth)
        n, tc = agg.get(key, (0, 0))
        agg[key] = (n + 1, tc + n_chars)
    got = {
        (r["root"], r["depth"]): (r["n_docs"], r["total_chars"])
        for r in df.collect()
    }
    assert got == agg


def test_t138_union_distinct_recursion_unsupported(spark):
    """The entry's docstring claims UNION (distinct) recursion raises
    — pin the gate so a Spark upgrade that adds support flips this
    test and prompts a cycle-capable entry."""
    import pytest as _pytest
    from pyspark.sql.utils import AnalysisException

    with _pytest.raises(AnalysisException, match="UNION_NOT_SUPPORTED"):
        spark.sql(
            "WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT n+1 FROM t "
            "WHERE n < 3) SELECT * FROM t"
        ).collect()


def test_t139_below_capacity_counts_are_exact(spark):
    """t139's oracle argument: below map capacity a frequent-items
    sketch never evicts, so every (item, count) is exact — verified
    against exact GROUP BY counts for ALL items (not just the top-4),
    and through the two-level combine path."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.io import load_table

    e = load_table(spark, SF_SMOKE, "events")
    d = e.select(
        "event_type",
        F.when(F.col("event_id") % 3 != 0, F.col("user_id") % 4)
        .otherwise(F.col("user_id"))
        .alias("item"),
        (F.col("event_id") % 5).alias("_shard"),
    )
    n_items = d.select("event_type", "item").distinct().count()
    assert n_items < 8192  # the below-capacity premise, checked
    merged = (
        d.groupBy("event_type", "_shard")
        .agg(F.expr("approx_top_k_accumulate(item, 8192)").alias("_st"))
        .groupBy("event_type")
        .agg(
            F.expr(
                f"approx_top_k_estimate(approx_top_k_combine(_st), {n_items})"
            ).alias("_top")
        )
        .select("event_type", F.explode("_top").alias("t"))
        .select(
            "event_type",
            F.col("t.item").alias("item"),
            F.col("t.count").cast("long").alias("cnt"),
        )
    )
    exact = d.groupBy("event_type", "item").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sk = {(r["event_type"], r["item"]): r["cnt"] for r in merged.collect()}
    ex = {(r["event_type"], r["item"]): r["cnt"] for r in exact.collect()}
    assert sk == ex


def test_t139_top4_selection_margin(spark):
    """The selection-boundary margin (a generator-ratio argument):
    per type, the 4th item's count must clear the 5th by a real gap
    — two of every three events map to user_id % 4, so the planted
    heavy items each hold ~n/6 while a tail user holds only its own
    events — so top-4 membership cannot flip between engines."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.io import load_table

    e = load_table(spark, SF_SMOKE, "events")
    d = e.select(
        "event_type",
        F.when(F.col("event_id") % 3 != 0, F.col("user_id") % 4)
        .otherwise(F.col("user_id"))
        .alias("item"),
    )
    counts = d.groupBy("event_type", "item").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("item")
    )
    ranked = counts.withColumn("rk", F.row_number().over(w))
    r4 = {
        r["event_type"]: r["cnt"]
        for r in ranked.filter(F.col("rk") == 4).collect()
    }
    r5 = {
        r["event_type"]: r["cnt"]
        for r in ranked.filter(F.col("rk") == 5).collect()
    }
    for et, c4 in r4.items():
        c5 = r5.get(et, 0)
        assert c4 >= 2 * c5, (et, c4, c5)
        heavy = {
            r["item"]
            for r in ranked.filter(
                (F.col("event_type") == et) & (F.col("rk") <= 4)
            ).collect()
        }
        assert heavy == {0, 1, 2, 3}, (et, heavy)


def test_t140_utf8_row_level_semantics(spark):
    """Row-level pins behind t140's rollup: the planted byte flips
    is_valid_utf8 exactly where planted, try_validate_utf8 nulls
    exactly those rows, validate_utf8 raises on them, and
    make_valid_utf8 substitutes exactly one U+FFFD."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "plain"), (2, "naïve ünïcode"), (3, "")], "id int, s string"
    ).select(
        "id",
        F.when(
            F.col("id") == 2,
            F.concat("s", F.expr("CAST(x'80' AS STRING)")),
        )
        .otherwise(F.col("s"))
        .alias("t"),
        F.col("s").alias("orig"),
    )
    rows = df.select(
        "id",
        F.expr("is_valid_utf8(t)").alias("ok"),
        F.expr("try_validate_utf8(t)").alias("tv"),
        F.expr("make_valid_utf8(t)").alias("fixed"),
        F.char_length("orig").alias("orig_chars"),
        F.expr("char_length(make_valid_utf8(t))").alias("fixed_chars"),
    ).collect()
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["ok"] and by_id[3]["ok"]
    assert not by_id[2]["ok"]
    assert by_id[2]["tv"] is None and by_id[1]["tv"] == "plain"
    assert by_id[2]["fixed"] == "naïve ünïcode�"
    assert by_id[2]["fixed_chars"] == by_id[2]["orig_chars"] + 1
    # the strict form raises — the ingest-gate fail-fast arm
    import pytest as _pytest

    with _pytest.raises(Exception, match="INVALID_UTF8_STRING"):
        df.select(F.expr("validate_utf8(t)")).collect()


def test_q74_execute_immediate_binds_like_inline(spark):
    """q74's transparency contract: EXECUTE IMMEDIATE with USING
    parameters returns exactly the inlined statement's rows, and the
    statement text travels through a session variable."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.plans.sql_extra import q74_execute_immediate

    got = {
        (r["l_returnflag"], r["n_rows"])
        for r in q74_execute_immediate(spark, SF_SMOKE).collect()
    }
    li = load_table(spark, SF_SMOKE, "lineitem")
    want = {
        (r["l_returnflag"], r["n_rows"])
        for r in li.filter(
            (F.col("l_quantity") >= 25) & (F.col("l_quantity") < 45)
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    assert got == want


def test_t141_to_xml_round_trip(spark):
    """t141's writer arm: to_xml serializes a struct and from_xml
    with the matching schema recovers it exactly — including the
    attribute (_-prefixed) and element-text (_VALUE) conventions."""
    r = spark.sql(
        """
        SELECT from_xml(
                 to_xml(named_struct('src', 'a', 'n', 5L,
                        'm', named_struct('_VALUE', 'de', '_tag', 3L))),
                 'src STRING, n BIGINT, m STRUCT<_VALUE STRING, _tag BIGINT>'
               ) AS p
        """
    ).collect()[0]["p"]
    assert p_tuple(r) == ("a", 5, ("de", 3))


def p_tuple(row):
    return tuple(
        p_tuple(v) if hasattr(v, "__fields__") else v for v in row
    )


def test_q75_variant_row_level_semantics(spark):
    """Row-level pins behind q75's rollup: try_parse_json nulls
    exactly the malformed payload, variant_explode yields (pos, value)
    with array positions, and schema_of_variant_agg skips NULL
    variants (broken rows never pollute the discovered schema)."""
    rows = spark.sql(
        """
        SELECT try_parse_json('{bad') AS bad,
               try_parse_json('{"a":1}') AS good
        """
    ).collect()[0]
    assert rows["bad"] is None and rows["good"] is not None

    ex = spark.sql(
        """
        SELECT pos, CAST(value AS BIGINT) AS v
        FROM variant_explode(parse_json('[7,8,9]')) ORDER BY pos
        """
    ).collect()
    assert [(r["pos"], r["v"]) for r in ex] == [(0, 7), (1, 8), (2, 9)]

    sch = spark.sql(
        """
        SELECT schema_of_variant_agg(try_parse_json(x)) AS s
        FROM VALUES ('{"a":1}'), ('{bad'), ('{"b":"y"}') AS t(x)
        """
    ).collect()[0]["s"]
    assert sch == "OBJECT<a: BIGINT, b: STRING>"


def test_q76_transpose_matches_case_pivot(spark):
    """q76's transparency contract: DataFrame.transpose over the
    3-row aggregate returns exactly the hand-written CASE pivot's
    values, with columns named from the index column's values."""
    from pyspark.sql import functions as F

    from datasheet_etl_spark.plans.sql_extra import q76_transpose_api

    df = q76_transpose_api(spark, SF_SMOKE)
    assert df.columns == ["key", "A", "N", "R"]
    got = {r["key"]: (r["A"], r["N"], r["R"]) for r in df.collect()}
    from datasheet_etl_spark.io import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    want_rev = {
        r["l_returnflag"]: r["revenue"] for r in agg.collect()
    }
    want_n = {r["l_returnflag"]: r["n_rows"] for r in agg.collect()}
    assert got["revenue"] == (want_rev["A"], want_rev["N"], want_rev["R"])
    assert got["n_rows"] == (want_n["A"], want_n["N"], want_n["R"])


def test_t142_xml_reader_whitespace_modes(spark):
    """t142's documented trap: the XML reader's DEFAULT trims
    leading/trailing whitespace from element text;
    ignoreSurroundingSpaces=false (what t142 sets) preserves it.
    Pin BOTH so a default change in either direction surfaces."""
    import os
    import tempfile

    df = spark.createDataFrame(
        [(1, "  padded  "), (2, "x\ny")], "id int, t string"
    )
    d = tempfile.mkdtemp(prefix="t142_ws_")
    df.write.format("xml").option("rowTag", "r").mode("overwrite").save(
        os.path.join(d, "x")
    )
    trimmed = {
        r["id"]: r["t"]
        for r in spark.read.format("xml")
        .option("rowTag", "r")
        .schema("id INT, t STRING")
        .load(os.path.join(d, "x"))
        .collect()
    }
    preserved = {
        r["id"]: r["t"]
        for r in spark.read.format("xml")
        .option("rowTag", "r")
        .option("ignoreSurroundingSpaces", "false")
        .schema("id INT, t STRING")
        .load(os.path.join(d, "x"))
        .collect()
    }
    assert trimmed[1] == "padded" and preserved[1] == "  padded  "
    assert trimmed[2] == preserved[2] == "x\ny"  # interior ws untouched


def test_t144_bag_semantics_counts_paths_not_nodes(spark):
    """t144's graded distinction: UNION ALL recursion enumerates
    PATHS. From node 6 with successors ⌊/2⌋ and ⌊/3⌋, node 1 at
    depth 2 is reachable two ways (6→3→1 and 6→2→1), so the bag
    holds it twice while the distinct set holds it once."""
    df = spark.sql(
        """
        WITH RECURSIVE hop(cur, depth) AS (
          SELECT CAST(6 AS BIGINT), 0
          UNION ALL
          SELECT CAST(h.cur / s.d AS BIGINT), h.depth + 1
          FROM hop h JOIN (SELECT explode(array(2, 3)) AS d) s
          ON h.depth < 2 AND CAST(h.cur / s.d AS BIGINT) >= 1
        )
        SELECT count(*) AS paths, count(DISTINCT cur) AS nodes
        FROM hop WHERE depth = 2
        """
    ).collect()[0]
    # depth-2 multiset from 6: {3,2} -> {1,1, 1,0(pruned)} = [1,1,1]
    assert df["paths"] == 3 and df["nodes"] == 1


def test_q77_pipe_form_equals_ansi_form(spark):
    """q77's claim: pipe syntax is a DIALECT, not an execution shape —
    the |> form and the ANSI spelling produce identical rows and the
    same partial-agged HashAggregate physical shape."""
    from datasheet_etl_spark.plans import oracles
    from datasheet_etl_spark.plans.sql_extra import q77_pipe_syntax

    pipe = q77_pipe_syntax(spark, SF_SMOKE)
    # the oracle IS the ANSI spelling — run it through Spark itself
    ansi = spark.sql(
        oracles()["q77_pipe_syntax"].replace("lineitem", "q77_lineitem")
    )
    assert sorted(map(tuple, pipe.collect())) == sorted(
        map(tuple, ansi.collect())
    )
    p = _plan(pipe)
    assert p.count("HashAggregate") == 2, p[:600]  # partial + final


def test_t147_analyze_derives_schema_from_constant(spark):
    """The polymorphic arm: ONE UDTF registration, different constant
    k -> different output column sets, derived by analyze() at
    analysis time; rows NULL-pad beyond the token count."""
    from datasheet_etl_spark.plans.sql_extra import t147_polymorphic_udtf

    t147_polymorphic_udtf(spark, SF_SMOKE)  # registers t147_lead_toks
    two = spark.sql("SELECT * FROM t147_lead_toks('alpha beta gamma', 2)")
    four = spark.sql("SELECT * FROM t147_lead_toks('alpha beta gamma', 4)")
    assert two.columns == ["tok0", "tok1"]
    assert four.columns == ["tok0", "tok1", "tok2", "tok3"]
    assert tuple(four.collect()[0]) == ("alpha", "beta", "gamma", None)


def test_t146_invariants_hold_under_forced_collisions(spark):
    """t146's hashed booleans are STRUCTURAL — they must hold even in
    the collision regime the graded corpus happens to avoid. Force
    collisions with a 2-counter-wide sketch (eps=1.0) over a domain
    of 50 items: estimates overcount wildly, but never_undercount and
    merged==direct (bit-level) still hold."""
    import hashlib

    df = spark.range(0, 1000).select((F.col("id") % 50).alias("k"))
    df.createOrReplaceTempView("_t146_pin")
    full = spark.sql(
        "SELECT count_min_sketch(k, 1.0d, 0.5d, 7) AS s FROM _t146_pin"
    ).collect()[0]["s"]
    shards = spark.sql(
        "SELECT k % 3 AS sh, count_min_sketch(k, 1.0d, 0.5d, 7) AS s"
        " FROM _t146_pin GROUP BY 1"
    ).collect()
    jvm = spark._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch

    def read(blob):
        return cms.readFrom(jvm.java.io.ByteArrayInputStream(bytes(blob)))

    merged = read(shards[0]["s"])
    for r in shards[1:]:
        merged.mergeInPlace(read(r["s"]))
    bos = jvm.java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    assert (
        hashlib.md5(bytes(bos.toByteArray())).hexdigest()
        == hashlib.md5(bytes(full)).hexdigest()
    )
    direct = read(full)
    overcounted = 0
    for item in range(50):
        est = int(direct.estimateCount(jvm.java.lang.Long(item)))
        assert est >= 20  # exact per-key count — never undercounts
        assert est == int(merged.estimateCount(jvm.java.lang.Long(item)))
        overcounted += est > 20
    assert overcounted > 0  # the pin genuinely exercised collisions


def test_t150_t152_broadcast_and_no_corpus_shuffle(spark):
    """The r15 batch's scale shapes, pinned in the physical plan:
    t150's pos join and t152's rate join broadcast (never shuffle the
    corpus-side rows on a key), and t150's scan side reaches the
    scorer as mapInPandas with no Exchange below it."""
    from datasheet_etl_spark.plans.sql_extra import t155_user_trend
    from datasheet_etl_spark.plans.training import (
        t150_hard_negative_mining,
        t152_temperature_mixture,
    )

    plan = _plan(t150_hard_negative_mining(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "MapInPandas" in plan
    plan = _plan(t152_temperature_mixture(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan[:800]
    # per-user trend: ONE hash-partitioned exchange for the moments agg
    # (exchanges only exist post-EnsureRequirements -> executedPlan)
    df = t155_user_trend(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan  # no join at all
    assert plan.count("hashpartitioning(user_id") == 1, plan[:800]


def test_t154_global_rank_has_no_single_partition_sort(spark):
    """global_rank must never plan the empty-partitionBy window
    (SinglePartition exchange) — the rank window partitions on the
    range-partition id; the neighbor join partitions on rank."""
    from datasheet_etl_spark.plans.training import t154_sorted_neighborhood

    plan = _plan(t154_sorted_neighborhood(spark, SF_SMOKE))
    # the final presentation orderBy is a rangepartitioning sort; the
    # WINDOW itself must be keyed by _pid, never SinglePartition
    assert "Window" in plan
    win_seg = plan[plan.index("Window") :]
    assert "_pid" in plan, plan[:800]
    assert "SinglePartition" not in plan, plan[:1200]


def test_t151_hampel_windows_share_one_sort(spark):
    """The med/mad barrier windows must reuse the frame window's
    partitioning+ordering: exactly ONE hashpartitioning(user_id)
    exchange feeds all three Window operators, and no extra Sort
    appears between them."""
    from datasheet_etl_spark.plans.sql_extra import t151_hampel_filter

    df = t151_hampel_filter(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning(user_id") == 1, plan[:1500]
    assert plan.count("Window") >= 3  # frame, med, mad
    # no Sort between the Window operators (one sort feeds all three)
    tail = plan[plan.index("Window") :]
    first_sort = tail.index("Sort ")
    assert tail.count("Window", 0, first_sort) >= 3, tail[:1200]
