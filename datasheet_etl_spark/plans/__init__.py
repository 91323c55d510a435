"""Declared query inventory.

``queries.py``          : Q01-Q34, the SURVEY §2.9 correctness contract.
``training.py``         : training-data pipeline entries (dedup, similarity,
                          text, multimodal, sampling, graph).
``sql_extra.py``        : SQL-surface and data-quality/ops entries.
``streaming_entries.py``: Structured Streaming entries.

All register into one registry; ``registry()`` / ``oracles()`` are what
``__spark_entry__`` exposes to the driver.

Ordering contract: the driver grades only the FIRST 50 registry entries
(insertion order), so ``WINDOW`` names those 50 explicitly, every one
DuckDB-oracled. The other oracled entries follow in registration order,
then the rows-only entries (engine-specific hashes or stateful
streaming), which carry pytest parity coverage instead of an oracle.
"""

from datasheet_etl_spark.plans.queries import ORACLES, QUERIES

# The graded window: the first 50 registry entries, each with the
# operator it grades.
WINDOW: tuple[str, ...] = (
    "q28_severity_ladder",              # V6 severity ladder: regexp parse + CASE chain
    "t01_dedup_exact",                  # exact dedup, min-id representative
    "t63b_mmr_pool",                    # brute_force_topk broadcast-probe scanner at k=50
    "t07_ann_ivf",                      # IVF ANN, nprobe cells searched exactly
    "t19_corpus_curation",              # quality gate -> lang-ID -> fingerprint exact dedup
    "t138_recursive_hierarchy",         # native recursive CTE (UnionLoop) hierarchy walk
    "t33_corpus_prep_e2e",              # filter -> dedup -> hash downsample -> pack_sequences
    "t32_decontaminate",                # broadcast-probe left-anti decontamination scan
    "q75_variant_lenient_json",         # VARIANT extraction, try_* leniency, variant_explode
    "t139_approx_top_k_native",         # native Datasketches frequent items (batch)
    "t144_khop_reachability",           # branching k-hop recursion, bag semantics
    "t145_streaming_native_topk",       # streaming frequent-items sketch merge
    "t74_resample_interp",              # double as-of LOCF + linear interpolation onto a grid
    "t140_utf8_validity_gate",          # UTF-8 validity gate over documents
    "t135_kll_quantiles_native",        # native KLL quantiles: shard partials -> merge -> read
    "t91_weighted_sample",              # exact-k weighted sampling (A-ES), per stratum
    "t89_schema_evolution_at_rest",     # mergeSchema over drifted parquet generations
    "t133_linear_fit",                  # OLS fits from one row of exact decimal moments
    "q47_distribution_windows",         # ntile / percent_rank / cume_dist over one WindowExec
    "t95_substring_span_excision",      # positioned-gram postings -> span excision -> rebuild
    "t96_dsir_importance_select",       # unigram LM scoring with broadcast vocab join-back
    "t97_training_shard_plan",          # mixture counts -> selection -> packing
    "t98_incremental_substring_dedup",  # substring dedup probed against an at-rest gram index
    "t99_streaming_gram_index",         # streaming gram-index maintenance
    "t141_from_xml_native",             # schema-based from_xml typed parse
    "t101_excision_impact_report",      # per-source impact rollup joined back to the roster
    "t105_streaming_quarantine_ingest", # streaming lenient JSONL ingest with quarantine sinks
    "q51_null_semantics",               # NULL semantics: count/avg skipping, NOT IN with NULL
    "t107_frequent_ngrams_hashed",      # hashed frequent n-gram audit with top-k tail
    "q74_execute_immediate",            # EXECUTE IMMEDIATE with USING binds
    "t127_session_window_dynamic_gap",  # native session_window with a per-event gap
    "q52_grouping_sets",                # GROUPING SETS Expand with grouping() markers
    "t113_python_stream_source",        # Python DataSource stream reader
    "t114_python_source_pushdown",      # Python DataSource filter pushdown
    "t143_python_stream_sink",          # Python DataSource streaming writer
    "t122_streaming_full_outer_join",   # stream-stream full-outer interval join
    "t117_stateful_timeout_sessions",   # stateful sessions, event-time timeout
    "q54_timezone_parity",              # IANA timezone conversion across both DST edges
    "q73_collated_group_join",          # UTF8_LCASE collated GROUP BY and equality join
    "t119_stream_join_then_agg",        # stream-stream join feeding a windowed aggregate
    "q59_pagination_keyset",            # keyset pagination (pushed TakeOrderedAndProject)
    "t121b_streaming_scd2_bucketed",    # incremental SCD2 through bucketed manifests
    "t128_join_state_read",             # stream-stream join state read from the checkpoint
    "t136_theta_set_distinct",          # native theta sketch set algebra
    "t142_xml_at_rest",                 # XML data source at rest
    "t131_arrow_native_grouped",        # groupBy().applyInArrow grouped seam
    "t129_cogroup_asof",                # cogrouped applyInPandas as-of merge
    "t132_bitmap_distinct",             # exact distinct via bitmap partials
    "t137_file_provenance",             # _metadata file provenance with scan pruning
    "q72_sql_scripting",                # SQL scripting: DECLARE/SET, WHILE inside BEGIN..END
)


def _ordered():
    # Import registers entries into QUERIES/ORACLES; the graded window
    # is pinned by name, so adding entries in any module can never
    # silently evict a graded one.
    from datasheet_etl_spark.plans import streaming_entries, training  # noqa: F401
    from datasheet_etl_spark.plans import sql_extra  # noqa: F401  isort:skip

    missing = [k for k in WINDOW if k not in QUERIES]
    unoracled = [k for k in WINDOW if k not in ORACLES]
    assert len(WINDOW) == 50, f"window must be exactly 50, got {len(WINDOW)}"
    assert not missing, f"window entries not registered: {missing}"
    assert not unoracled, f"window entries lack oracles: {unoracled}"

    window = {k: QUERIES[k] for k in WINDOW}
    oracled = {k: v for k, v in QUERIES.items() if k in ORACLES and k not in window}
    rows_only = {k: v for k, v in QUERIES.items() if k not in ORACLES}
    return {**window, **oracled, **rows_only}


def registry():
    return dict(_ordered())


def oracles():
    ordered = _ordered()
    return {k: ORACLES[k] for k in ordered if k in ORACLES}
