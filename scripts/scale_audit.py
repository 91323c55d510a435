"""Empirical 10x-beyond-bench scaling audit.

Builds an ~sf1-equivalent dataset in /tmp by replicating the sf0.1
driver tables 10x with key offsets, then times a representative subset
of data-term-heavy inventory entries at sf0.1 and at the x10 copy.

Honest methodology note: the per-copy text suffix breaks EXACT
identity only (so t01/t19's fingerprint dedup isn't trivially 90%
duplicates). It does NOT break near-duplicate identity — a copy pair
still shares ~90% of its word bigrams, so each document gains 9
high-Jaccard cross-copy near-dups and each embedding 9 exact clones.
The dedup/similarity entries (t02, t45, t66) are therefore measured on
a corpus with a ~10x DENSER duplicate structure than organic data —
a strictly harder workload for candidate generation (wider LSH
buckets, bigger within-cell dup groups). That they remain sub-linear
under it strengthens, not weakens, the bounded-candidates claim; the
bucket caps and cell partitioning are precisely what absorbs it.

The audit runs under the session bench.py builds (``session.get_session``
with the bench's driver memory, parallelism from ``SPARK_GRAFT_CPUS``) and
resets it with ``caching.reset_session`` after every run. Each entry is
warmed once at both scale points, then timed once at each with bench.py's
``time_entry``: a single-shot wall plus the process-tree CPU scaled by
the host's steal share, which spreads far less between runs than wall.

Run:  python scripts/scale_audit.py [ENTRY ...]
Output: one line per entry — sf0.1 and x10 wall, their ratio, sf0.1 and
x10 CPU, their ratio — plus the worst wall ratio.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sfx10"
COPIES = 10
# Data-term-heavy entries: dedup/similarity candidate generation, the
# substring-dedup family (the x10 replica is its worst-case gram-frequency
# shift: interior grams rise ~10x while staying under the boilerplate
# cap), streaming state, sketches and map-side scans. t79 is deliberately
# NOT audited: a GROUPED_AGG holistic aggregate is O(group size) per
# group by contract (see the functions/aggregates.py docstring).
ENTRIES = [
    "q11_tpch_q1",
    "t01_dedup_exact",
    "t02_dedup_minhash_lsh",
    "t02b_minhash_lsh_md5_oracle",
    "t07c_hyperplane_md5_oracle",
    "t20_ann_ivf_kmeans",
    "t36_ann_ivf_quantized",
    "t72_ann_two_stage_rerank",
    "t63_mmr_select",
    "t130_arrow_native_map",
    "t131_arrow_native_grouped",
    "t19_corpus_curation",
    "t45_semantic_dedup",
    "t56_triangle_count",
    "t66_similarity_histogram",
    "t95_substring_span_excision",
    "t96_dsir_importance_select",
    "t97_training_shard_plan",
    "t98_incremental_substring_dedup",
    "t99_streaming_gram_index",
    "t101_excision_impact_report",
    "t105_streaming_quarantine_ingest",
    "t107_frequent_ngrams_hashed",
    "q54_timezone_parity",
    "t117_stateful_timeout_sessions",
    "t119_stream_join_then_agg",
    "t122_streaming_full_outer_join",
    "t121b_streaming_scd2_bucketed",
    "q59_pagination_keyset",
    "q61_set_ops_all",
    "t63b_mmr_pool",
    "q62_filter_clause",
    "q65_hof_breadth",
    "t127_session_window_dynamic_gap",
    "t129_cogroup_asof",
    "q68_try_arithmetic",
    "q69_boolean_bitwise_aggs",
    "q70_width_bucket_histogram",
    "t132_bitmap_distinct",
    "t133_linear_fit",
    "q71_lateral_join_api",
    "t134_observe_metrics",
    "t135_kll_quantiles_native",
    "t136_theta_set_distinct",
    "t137_file_provenance",
]

# per-table key columns to offset so copies don't collide
OFFSETS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": [],
    "region": [],
}
STEP = 100_000_000


def stage(spark):
    from datasheet_etl_spark.io import load_table

    os.makedirs(DST, exist_ok=True)
    for table, keys in OFFSETS.items():
        out = f"{DST}/{table}.parquet"
        if os.path.exists(out):
            continue
        df = load_table(spark, SRC, table)
        if not keys:  # tiny dims: one copy suffices
            df.write.mode("overwrite").parquet(out)
            continue
        copies = []
        for i in range(COPIES):
            c = df
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * STEP))
            if table == "documents":
                # break cross-copy textual identity WITHOUT changing
                # each copy's internal near-dup structure
                c = c.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" copymark{i}"))
                )
            copies.append(c)
        u = copies[0]
        for c in copies[1:]:
            u = u.unionByName(c)
        u.write.mode("overwrite").parquet(out)
        print(f"staged {table}", flush=True)


def t105_steady_state(spark):
    """VERDICT r10 #5: t105's PRODUCTION marginal cost — an at-rest
    sink + long-lived checkpoint, one new fixed-size batch arriving —
    measured at two backlog sizes (the sf0.1 staging and its x10
    copy). The ENTRY's audit row pays a full fresh-sink drain each run
    (availableNow over the whole staging); a production stream pays
    only batch N+1, which this measures: the backlog drains UNTIMED
    into the sink, then two identical 1000-line marginal batches
    arrive one at a time (the second timed run shakes residual JIT).
    The claim under test: marginal cost is flat in backlog size —
    batch-id-keyed partition writes never touch, list, or rewrite the
    at-rest partitions."""
    import shutil
    import tempfile

    from datasheet_etl_spark.plans.sql_extra import _stage_corrupted_jsonl
    from datasheet_etl_spark.streaming.streams import quarantine_ingest

    schema = "doc_id bigint, source string, n_chars bigint"
    print(f"{'backlog':10s} {'lines':>9s} {'batch1_s':>9s} {'batch2_s':>9s}")
    for label, sf in (("sf0.1", SRC), ("x10", DST)):
        staged = _stage_corrupted_jsonl(spark, sf)
        work = tempfile.mkdtemp(prefix="t105steady_")
        indir = os.path.join(work, "in")
        os.makedirs(indir)
        n_lines = 0
        for i, f in enumerate(sorted(os.listdir(staged))):
            if f.startswith("part-"):
                dst = os.path.join(indir, f"backlog{i}.txt")
                shutil.copyfile(os.path.join(staged, f), dst)
                with open(dst) as fh:
                    n_lines += sum(1 for _ in fh)
        clean_p = os.path.join(work, "clean")
        quar_p = os.path.join(work, "quar")
        ckpt = os.path.join(work, "ckpt")
        # backlog drain: builds the at-rest sink + checkpoint (untimed)
        quarantine_ingest(spark, indir, clean_p, quar_p, ckpt, schema)
        times = []
        for b in (1, 2):
            with open(os.path.join(indir, f"marginal{b}.json"), "w") as fh:
                for i in range(1000):
                    fh.write(
                        f'{{"doc_id":{10**12 + b * 10**6 + i},'
                        f'"source":"marginal","n_chars":7}}\n'
                    )
            t0 = time.time()
            quarantine_ingest(spark, indir, clean_p, quar_p, ckpt, schema)
            times.append(time.time() - t0)
        print(
            f"{label:10s} {n_lines:>9d} {times[0]:>9.2f} {times[1]:>9.2f}",
            flush=True,
        )
        shutil.rmtree(work)


def t117_flush_term(spark):
    """VERDICT r11 #7: the drain-tail FLUSH TERM measured on its own
    at two scale points (sf0.1 and the x10 ~sf1 staging), separated
    from the in-batch fold — per-batch wall time captured by a
    foreachBatch observer over t117's own staged source (all real
    files in batch 0, the two sentinel batches carrying nothing but
    timeout firings). The claim under test: the flush term's asymptote
    is LINEAR in open sessions (the per-key Python-API invocation
    count), so flush_s ratio ≈ open-sessions ratio under 10x data —
    the honest bound behind the whole-entry 5.5x row."""
    import uuid as _uuid

    from datasheet_etl_spark.plans.streaming_entries import (
        _few_state_partitions,
        _stage_events_sentinels,
        events_stream,
    )
    from datasheet_etl_spark.streaming.streams import sessionize_timeout

    print(f"{'scale':8s} {'fold_s':>8s} {'flush_s':>8s} {'sessions_flushed':>17s}")
    for label, sf in (("sf0.1", SRC), ("x10", DST)):
        src, n_real = _stage_events_sentinels(
            spark,
            sf,
            "timeout",
            [[(-1, -1, "sentinel", 7)], [(-2, -2, "sentinel", 14)]],
        )
        batches: list[tuple[int, int, float]] = []

        def capture(batch_df, batch_id):
            t0 = time.time()
            n = batch_df.filter(F.col("user_id") >= 0).count()
            batches.append((batch_id, n, time.time() - t0))

        with _few_state_partitions(spark):
            stream = events_stream(
                spark, src, max_files_per_trigger=max(1, n_real)
            ).withWatermark("ts", "1 hour")
            q = (
                sessionize_timeout(stream)
                .writeStream.foreachBatch(capture)
                .outputMode("update")
                .option(
                    "checkpointLocation",
                    f"/tmp/t117flush_ck_{_uuid.uuid4().hex[:8]}",
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        fold = sum(dt for b, n, dt in batches[:1])
        flush = sum(dt for b, n, dt in batches[1:])
        flushed = sum(n for b, n, dt in batches[1:])
        print(
            f"{label:8s} {fold:>8.2f} {flush:>8.2f} {flushed:>17d}",
            flush=True,
        )


def t121b_marginal(spark):
    """VERDICT r11 #4's scale row: the bucketed SCD2 sink's marginal
    batch cost is O(touched buckets), and bucket SIZE is an operator
    choice — num_buckets scales with the table (8 at sf0.1, 80 at the
    x10 staging, holding ~constant rows per bucket), so a marginal
    batch touching ONE key must cost ~flat across a 10x history. One
    bucket pays O(history) on the same marginal batch — that contrast
    is the whole point of the layout. Backlog build is
    untimed; two identical single-key marginal batches run timed (the
    second shakes JIT)."""
    import shutil as _shutil
    import tempfile as _tempfile

    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.streaming.streams import scd2_upsert_sink

    print(f"{'backlog':8s} {'nb':>4s} {'hist_rows':>10s} {'m1_s':>7s} {'m2_s':>7s}")
    for label, sf, nb in (("sf0.1", SRC, 8), ("x10", DST, 80)):
        work = _tempfile.mkdtemp(prefix="t121bmarg_")
        src_dir = os.path.join(work, "in")
        os.makedirs(src_dir)
        ev = (
            load_table(spark, sf, "events")
            .select(
                F.col("user_id"),
                F.col("event_id"),
                F.col("value"),
                F.when(F.col("event_type") == "error", "D")
                .otherwise("U")
                .alias("op"),
            )
        )
        ev.coalesce(4).write.parquet(os.path.join(src_dir, "backlog"))
        target = os.path.join(work, "target")

        def drain(ck):
            stream = (
                spark.readStream.schema(
                    "user_id bigint, event_id bigint, value double, op string"
                )
                .format("parquet")
                .load(os.path.join(src_dir, "backlog"))
            )
            scd2_upsert_sink(
                stream,
                target,
                os.path.join(work, ck),
                ["user_id"],
                "event_id",
                ["value"],
                num_buckets=nb,
            )

        drain("ck0")  # backlog, untimed
        from datasheet_etl_spark.streaming.streams import read_scd2_snapshot

        hist = read_scd2_snapshot(
            spark, target, include_tombstones=True
        ).count()
        times = []
        for b in (1, 2):
            # marginal file lands beside the backlog (append), so the
            # same checkpoint sees exactly one new file per round
            spark.createDataFrame(
                [(1, 10**15 + b, 1.0, "U")],
                "user_id bigint, event_id bigint, value double, op string",
            ).coalesce(1).write.mode("append").parquet(
                os.path.join(src_dir, "backlog")
            )
            t0 = time.time()
            drain("ck0")
            times.append(time.time() - t0)
        print(
            f"{label:8s} {nb:>4d} {hist:>10d} {times[0]:>7.2f} {times[1]:>7.2f}",
            flush=True,
        )
        _shutil.rmtree(work)


ASY = "/tmp/sfasy"


def _stage_asymptote(spark):
    """VERDICT r12 #4 staging: organic ×10 / ×100 replicas for the
    three entries whose data term dominates (t02, t45, t56). The
    standard ``stage()`` replica deliberately PLANTS a denser duplicate
    structure per copy (a harder candidate-generation workload — the
    right stress for the ×10 hardness rows). For the ×10→×100
    ASYMPTOTE decade that planting would conflate two variables: copy
    count AND clone-group size (a 100-way clone group is 100² pair
    work — quadratic in copies by construction, measuring the staging,
    not the machinery). These replicas instead hold PER-COPY structure
    exactly constant so the decade measures data volume alone:

    - documents: every whitespace word gets a per-copy letter-only
      suffix — a copy-consistent token rename (exactly 1:1 for plain
      words; punctuation-adjacent words split the salt into its own
      within-copy token, still identically for every doc in the copy),
      so within-copy Jaccard structure is preserved and cross-copy
      shingle overlap is 0.
    - embeddings: labels offset per copy — cell COUNT grows with the
      corpus at constant cell size, which is SemDeDup's stated
      operating point (pick k ∝ N so cells stay ~10⁴; arXiv:2303.09540
      §3). The fixed-cell-count hot case is measured separately by the
      guard row below.
    - lineitem: BOTH l_orderkey and l_partkey offset — each copy is a
      disjoint co-purchase subgraph (a 100× corpus has ~100× parts,
      not 100× denser co-purchase among a fixed 5 000).
    """
    from datasheet_etl_spark.io import load_table

    for copies in (10, 100):
        outdir = f"{ASY}/x{copies}"
        os.makedirs(outdir, exist_ok=True)
        idx = F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("_i")

        def _staged(p):
            # a crashed write leaves a dir without _SUCCESS — restage it
            return os.path.exists(os.path.join(p, "_SUCCESS"))

        out = f"{outdir}/documents.parquet"
        if not _staged(out):
            d = load_table(spark, SRC, "documents").select("*", idx)
            d = (
                d.withColumn("doc_id", F.col("doc_id") + F.col("_i").cast("long") * F.lit(STEP))
                .withColumn(
                    # LETTER-ONLY per-copy salt (base-26 of _i):
                    # functions.tokens() splits on non-letter runs, so a
                    # digit-bearing salt ("c13") would collapse to the
                    # SAME token in every copy and turn the staging into
                    # a 100-way clone corpus — the exact conflation this
                    # mode exists to avoid (found empirically: the digit
                    # variant produced 7e8 capped candidates at x10)
                    "_salt",
                    F.concat(
                        F.lit("x"),
                        F.expr("chr(97 + CAST(_i / 26 AS INT))"),
                        F.expr("chr(97 + _i % 26)"),
                    ),
                )
                .withColumn(
                    "text",
                    F.regexp_replace(
                        F.col("text"),
                        F.lit(r"(\S+)"),
                        F.concat(F.lit("$1"), F.col("_salt")),
                    ),
                )
                .drop("_salt")
                .drop("_i")
            )
            # repartition before write: the explode plan otherwise lands
            # in ~1 parquet file (x100 docs ~= 120 MB < maxPartitionBytes),
            # which would serialize the map side onto ONE core and measure
            # file layout, not the plan
            d.repartition(32).write.mode("overwrite").parquet(out)
            print(f"staged asy documents x{copies}", flush=True)

        out = f"{outdir}/embeddings.parquet"
        if not _staged(out):
            e = load_table(spark, SRC, "embeddings").select("*", idx)
            e = (
                e.withColumn("vec_id", F.col("vec_id") + F.col("_i").cast("long") * F.lit(STEP))
                .withColumn(
                    "label", F.col("label") + (F.col("_i") * F.lit(1000)).cast("int")
                )
                .drop("_i")
            )
            e.repartition(32).write.mode("overwrite").parquet(out)
            print(f"staged asy embeddings x{copies}", flush=True)

        out = f"{outdir}/lineitem.parquet"
        if not _staged(out):
            li = load_table(spark, SRC, "lineitem").select("*", idx)
            li = (
                li.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.col("_i").cast("long") * F.lit(STEP)
                )
                .withColumn(
                    "l_partkey", F.col("l_partkey") + F.col("_i").cast("long") * F.lit(STEP)
                )
                .drop("_i")
            )
            li.repartition(32).write.mode("overwrite").parquet(out)
            print(f"staged asy lineitem x{copies}", flush=True)


def asymptote(spark, only=None):
    """VERDICT r12 #4: a SECOND scale point (×100) for t02/t45/t56 —
    the three r6 audit rows whose 10× ratio left the 100 TB story to
    argument — with each entry's DOMINANT TERM counted at both scales
    so the wall ratio can be attributed to the term, not asserted.

    Terms:
    - t02: verified LSH pipeline wall vs CANDIDATE PAIRS (capped
      (band, bucket) self-join output — the only super-linear stage).
    - t45: within-cell matmul wall vs Σ cell·(cell−1)/2 pairwise
      volume (cell count ∝ N at constant cell size — the SemDeDup
      operating point; the fixed-cell hot case is the guard row).
    - t45-guard: the SAME ×10/×100 embeddings with labels collapsed
      back to the 10 base cells (pmod 1000) — hot cells of 20 k/200 k
      vectors — pruned with max_cell=2048: Σ sub-cell² ≈ n·2048 is
      LINEAR by construction; this row measures the in-engine answer
      when re-clustering isn't an option.
    - t56: degree-oriented triangle wall vs ORIENTED WEDGE volume
      Σ C(outdeg, 2) — the shuffle that dominates the plan.
    """
    from datasheet_etl_spark.caching import reset_session, scoped_persist
    from datasheet_etl_spark.io import load_table
    from datasheet_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )
    from datasheet_etl_spark.functions import tokens
    from datasheet_etl_spark.operators.graph import (
        degrees,
        edges_undirected,
        triangle_count,
    )
    from datasheet_etl_spark.operators.similarity import semantic_dedup

    import __spark_entry__ as ep

    q = ep.queries()

    def timed(fn, src):
        fn(spark, src).count()  # warm (codegen + any staging)
        reset_session(spark)
        t0 = time.time()
        fn(spark, src).count()
        dt = time.time() - t0
        reset_session(spark)
        return dt

    def _sigs(spark, d):
        docs = load_table(spark, d, "documents")
        sh = docs.select(
            "doc_id", word_shingles(tokens(F.col("text")), 2).alias("sh")
        )
        return minhash_signatures(sh, "doc_id", "sh", 64)

    def t02_sig_stage(spark, d):
        # the full-corpus stage of the pipeline on its own: explode to
        # (doc, shingle), 64 map-side-combined min aggregates, shuffle
        # (id, 64 longs) — the term that must stay linear
        return _sigs(spark, d).agg(F.count(F.lit(1)).alias("n"))

    def t02_candidates(spark, d):
        return lsh_candidate_pairs(
            _sigs(spark, d), "doc_id", "sig", 16, 64, 256
        ).agg(F.count(F.lit(1)).alias("n"))

    def t45_guard(spark, d):
        emb = load_table(spark, d, "embeddings").withColumn(
            "label", F.pmod(F.col("label"), F.lit(1000)).cast("int")
        )
        return semantic_dedup(emb, cell_col="label", threshold=0.6, max_cell=2048)

    def t56_disjoint(spark, d):
        li = load_table(spark, d, "lineitem").filter(
            F.pmod(F.col("l_partkey"), F.lit(STEP)) < 5000
        )
        a = li.select("l_orderkey", F.col("l_partkey").alias("id_a"))
        b = li.select("l_orderkey", F.col("l_partkey").alias("id_b"))
        co = a.join(b, "l_orderkey").filter(F.col("id_a") != F.col("id_b"))
        return triangle_count(scoped_persist(edges_undirected(co)))

    def t56_wedges(spark, d):
        li = load_table(spark, d, "lineitem").filter(
            F.pmod(F.col("l_partkey"), F.lit(STEP)) < 5000
        )
        a = li.select("l_orderkey", F.col("l_partkey").alias("id_a"))
        b = li.select("l_orderkey", F.col("l_partkey").alias("id_b"))
        co = a.join(b, "l_orderkey").filter(F.col("id_a") != F.col("id_b"))
        edges = scoped_persist(edges_undirected(co))
        deg = scoped_persist(degrees(edges))
        e = (
            edges.join(deg.withColumnRenamed("id", "src"), "src")
            .withColumnRenamed("degree", "d_src")
            .join(
                deg.withColumnRenamed("id", "dst").withColumnRenamed(
                    "degree", "d_dst"
                ),
                "dst",
            )
        )
        fwd = (F.col("d_src") < F.col("d_dst")) | (
            (F.col("d_src") == F.col("d_dst")) & (F.col("src") < F.col("dst"))
        )
        oriented = e.select(
            F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
            F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
        )
        return (
            oriented.groupBy("u")
            .agg(F.count("*").alias("od"))
            .agg(
                F.sum(F.col("od") * (F.col("od") - 1) / 2)
                .cast("long")
                .alias("wedges")
            )
        )

    def cell_pairs(spark, d):
        emb = load_table(spark, d, "embeddings")
        return emb.groupBy("label").agg(F.count("*").alias("n")).agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("pairs")
        )

    def t136_parts(spark, d):
        # t136's only exchange: per-(part, returnflag-arm) theta
        # partials — key count is the shuffled row count, and the
        # per-row payload is the sketch, bounded by below-nominal
        # retention (suppliers per part, which the staging holds
        # CONSTANT: l_suppkey is never offset, so the decade isolates
        # key-count growth at fixed sketch size — and the below-k
        # exactness contract that makes t136 oracle-able holds at
        # both scales by the same construction)
        li = load_table(spark, d, "lineitem")
        return li.agg(F.countDistinct("l_partkey").alias("n"))

    def _t138_conf(spark, d):
        # the ROW guard (default 1e6) binds at N·depth; size it to the
        # staging (x100: ~500k docs × ~33 levels ≈ 17M) — read at
        # execution time, so set before each timed run
        spark.conf.set("spark.sql.cteRecursionRowLimit", "100000000")

    def t138_walk_rows(spark, d):
        _t138_conf(spark, d)
        # t138's dominant term: rows materialized through the
        # UnionLoop = Σ_i depth(i) ≈ N·log2(max doc_id). The staging
        # offsets doc_id by 1e8 per copy, so x100 grows BOTH N (×10
        # vs x10) and the walk depth (log2(1e10) ≈ 33 levels vs 27) —
        # the decade stresses frontier volume AND recursion depth,
        # still far under the 100-level conf
        from datasheet_etl_spark.io import load_table

        load_table(spark, d, "documents").createOrReplaceTempView(
            "asy_docs_t138"
        )
        return spark.sql(
            """
            WITH RECURSIVE walk(id, anc, depth) AS (
              SELECT doc_id, doc_id, 0 FROM asy_docs_t138
              UNION ALL
              SELECT id, CAST(anc / 2 AS BIGINT), depth + 1
              FROM walk WHERE anc >= 8
            )
            SELECT count(*) AS n FROM walk
            """
        )

    def t138_entry(spark, d):
        _t138_conf(spark, d)
        from datasheet_etl_spark.io import load_table

        load_table(spark, d, "documents").createOrReplaceTempView(
            "asy_docs_t138e"
        )
        return spark.sql(
            """
            WITH RECURSIVE walk(id, anc, depth) AS (
              SELECT doc_id, doc_id, 0 FROM asy_docs_t138e
              UNION ALL
              SELECT id, CAST(anc / 2 AS BIGINT), depth + 1
              FROM walk WHERE anc >= 8
            )
            SELECT anc AS root, CAST(depth AS INT) AS depth,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM walk JOIN asy_docs_t138e ON id = doc_id
            WHERE anc < 8
            GROUP BY root, depth
            """
        )

    def t132_pages(spark, d):
        # the entry's only exchange: level-1 (key, shard, page) bitmap
        # partials — the asymptote claim is that THIS is what shuffles
        # (4 KB pages), never the raw (key, value) rows
        from datasheet_etl_spark.operators.sketches import (
            bitmap_page_partials,
        )

        li = load_table(spark, d, "lineitem")
        return bitmap_page_partials(
            li.withColumn("_shard", F.col("l_partkey") % 7),
            ["l_suppkey", "_shard"],
            "l_orderkey",
        ).agg(F.count(F.lit(1)).alias("n"))

    x10, x100 = f"{ASY}/x10", f"{ASY}/x100"
    rows = []
    for name, fn, term_fn, term_name in (
        ("t02 sig stage", t02_sig_stage, None, "corpus-linear by design"),
        ("t02 minhash lsh", lambda s, d: q["t02_dedup_minhash_lsh"](s, d),
         t02_candidates, "candidate pairs"),
        ("t45 semantic dedup", lambda s, d: q["t45_semantic_dedup"](s, d),
         cell_pairs, "within-cell pairs"),
        ("t45 hot-cell guard", t45_guard, None, "sub-cell pairs ≈ n·2048"),
        ("t56 triangles", t56_disjoint, t56_wedges, "oriented wedges"),
        # r13 session 3: the asymptote staging does NOT offset
        # l_suppkey, so the key count stays fixed while distinct orders
        # per key grow with the corpus (page stride 1e8/32768 ≈ 3052 —
        # copies land in disjoint pages): the decade stresses
        # pages-per-key growth, the dimension the ×10 replica (which
        # grows suppliers too) cannot isolate
        ("t132 bitmap distinct",
         lambda s, d: q["t132_bitmap_distinct"](s, d),
         t132_pages, "(key,shard,page) partials"),
        # r14 (VERDICT r13 #5): t136's 1.66x was the highest x10 ratio
        # among the r13 additions — give it the t132 decade treatment.
        # The staging offsets l_partkey per copy but never l_suppkey:
        # parts (= shuffle keys = output rows) grow x100 while
        # suppliers-per-part (= theta retention = per-key payload)
        # stays constant, so the decade isolates the one dimension
        # that grows at 100 TB
        ("t136 theta set distinct",
         lambda s, d: q["t136_theta_set_distinct"](s, d),
         t136_parts, "per-part sketch rows (bounded payload)"),
        # r14: the recursive-CTE entry's decade — the walk is run over
        # the staged replicas directly (the registry entry reads
        # sf_dir/documents.parquet; the staged copies keep that layout)
        ("t138 recursive walk", t138_entry,
         t138_walk_rows, "UnionLoop frontier rows (N·depth)"),
    ):
        # match display labels ("t132 bitmap distinct") AND registry
        # names ("t132_bitmap_distinct") — a filter that selects
        # nothing is reported below instead of exiting silently
        if only and not any(
            s in name or s.replace("_", " ") in name for s in only
        ):
            continue
        w10 = timed(fn, x10)
        w100 = timed(fn, x100)
        if term_fn is not None:
            c10 = term_fn(spark, x10).collect()[0][0]
            reset_session(spark)
            c100 = term_fn(spark, x100).collect()[0][0]
            reset_session(spark)
        else:
            c10 = c100 = None
        rows.append((name, w10, w100, c10, c100, term_name))
        tr = f"{c100 / c10:6.2f}" if c10 else "   n/a"
        print(
            f"{name:22s} x10 {w10:7.2f}s  x100 {w100:7.2f}s  "
            f"wall {w100 / w10:5.2f}x  term({term_name}) "
            f"{c10 if c10 is not None else '-'} -> "
            f"{c100 if c100 is not None else '-'} ({tr}x)",
            flush=True,
        )
    if only and not rows:
        raise SystemExit(
            f"--asymptote filter {only!r} matched no rows — known labels "
            "use spaces or registry-style underscores (e.g. 't132')"
        )


def main():
    from bench import time_entry
    from datasheet_etl_spark.caching import reset_session
    from datasheet_etl_spark.session import get_session

    # audit under the conf bench.py runs
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = get_session(app_name="scale_audit")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as ep

    if sys.argv[1:2] == ["--asymptote"]:
        _stage_asymptote(spark)
        asymptote(spark, only=sys.argv[2:] or None)
        return
    stage(spark)
    if sys.argv[1:] == ["--t105-steady"]:
        t105_steady_state(spark)
        return
    if sys.argv[1:] == ["--t117-flush"]:
        t117_flush_term(spark)
        return
    if sys.argv[1:] == ["--t121b-marginal"]:
        t121b_marginal(spark)
        return
    q = ep.queries()
    # optional argv subset: audit only the named entries (new-entry
    # incremental runs); no args = the full representative list
    selected = sys.argv[1:] or ENTRIES
    unknown = [n for n in selected if n not in q]
    assert not unknown, f"unknown entries: {unknown}"
    print(
        f"{'entry':34s} {'sf0.1':>8s} {'x10':>8s} {'ratio':>6s} "
        f"{'cpu sf0.1':>9s} {'cpu x10':>8s} {'ratio':>6s}"
    )
    ratios = []

    def timed(fn, src):
        # reset AFTER each invocation (outside the timed span): a
        # scoped_persist left live from a previous entry — t96's
        # exploded token frame, t9x gram postings, at the x10 corpus —
        # would otherwise pin memory across every later measurement
        # and distort exactly the ratios this audit exists to measure
        rec = time_entry(lambda: fn(spark, src).count())
        reset_session(spark)
        return rec["wall"], rec["cpu_s"]

    for name in selected:
        fn = q[name]
        # warm BOTH scale points (cache/codegen AND any per-sf staging
        # an entry does — t98/t99 stage indexes/streams on first touch;
        # warming only SRC would put the x10 staging inside the timed
        # window and make the ratio compare different work)
        fn(spark, SRC).count()
        reset_session(spark)
        fn(spark, DST).count()
        reset_session(spark)
        base, base_cpu = timed(fn, SRC)
        big, big_cpu = timed(fn, DST)
        r = big / base if base > 0 else float("inf")
        r_cpu = big_cpu / base_cpu if base_cpu > 0 else float("inf")
        ratios.append((name, base, big, r))
        print(
            f"{name:34s} {base:8.2f} {big:8.2f} {r:6.2f} "
            f"{base_cpu:9.2f} {big_cpu:8.2f} {r_cpu:6.2f}",
            flush=True,
        )
    worst = max(ratios, key=lambda x: x[3])
    print(f"\nworst ratio under 10x data: {worst[0]} at {worst[3]:.2f}x")


if __name__ == "__main__":
    main()
