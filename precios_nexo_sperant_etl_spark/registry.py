"""Registry of driver-checkable queries.

Every implemented operator from SURVEY.md §2 registers here as a
``(spark_fn, oracle_sql)`` pair. ``spark_fn(spark, sf_dir) → DataFrame``
is the PySpark implementation; ``oracle_sql`` is the equivalent ANSI SQL
DuckDB runs on the same parquet tables. The driver hash-compares the two
at sf0.01 (row count + schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides
  (mixed-case aliases are double-quoted in the SQL);
- floating-point aggregations route through exact decimal accumulation
  (``functions.exact``) so values are bit-identical regardless of
  partitioning — see that module's docstring;
- queries with no SQL equivalent (streaming, iterative) register
  ``oracle_sql=None`` and get the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    fn: QueryFn
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

#: The driver stamps only the FIRST 50 entries of ``queries()`` per round,
#: in iteration order — so ordering is a correctness-evidence budget, not
#: cosmetics. Names listed here surface first; everything else follows in
#: registration order. Policy: queries that were never driver-checked, were
#: rewritten since their last stamp, or failed last round go at the front;
#: long-stable green queries rotate to the back (their old stamps stand).
#: Update this list every round from the latest CORRECTNESS_r*.json.
_CHECK_FIRST: list[str] = [
    # ================= ROUND-11 WINDOW =================
    # Executes the committed r11 queue (registry r10 comment + VERDICT
    # r10 item 1) exactly: the 3 queries registered new in r10 (never
    # stamped; all locally parity-green at registration AND re-verified
    # this round), then the ENTIRE r04-stamp cohort (37 queries incl.
    # w2_dedup_keep_last, whose committed r10 slot was displaced by the
    # g711 correctness re-stamp), then the 10 oldest r05 stamps.
    # 3 + 37 + 10 = exactly the 50-slot window. NO new r11 queries are
    # admitted (registration-pause discipline, third round running):
    # anything registered this round lands BEHIND the window.
    #
    # -- 1. never-stamped (new in r10) --
    "zstd_dict_roundtrip",         # RFC 8878 §5 dictionary frames
    "h264_ipcm_roundtrip",         # H.264 I_PCM lossless decode
    "warc_datasource_roundtrip",   # spark.read/write.format("warc")
    # -- 1b. stamped queries REWRITTEN this round (the _spread
    #        pre-partitioning fix for AQE grouped-Python coalescing —
    #        partitioning-only, outputs partition-independent, all six
    #        re-verified locally tuned+vanilla after the change; policy
    #        says changed-since-stamp beats hygiene refreshes, so they
    #        displace the six youngest r05 slots) --
    "tfrecord_roundtrip",
    "avro_container_roundtrip",
    "avro_snappy_roundtrip",
    "arrow_ipc_roundtrip",
    "crawl_token_bucket",
    "webdataset_roundtrip",
    # -- 2. the 37-query r04 cohort, oldest standing stamps --
    "w2_dedup_keep_last",
    "j3_p6_change_detail",
    "tpch_q1_pricing_summary",
    "referential_integrity",
    "j1_left_enrich_coalesce",
    "j4_key_set_difference",
    "tpch_q3_shipping_priority",
    "tpch_q5_nation_revenue",
    "tpch_q6_forecast_revenue",
    "cross_corpus_neardup",
    "lm_bigram_quality",
    "neardup_clusters",
    "neardup_survivors",
    "cluster_aware_split",
    "source_mix_weights",
    "embedding_label_centroids",
    "pack_efficiency_report",
    "ngram_jaccard_pairs_capped",
    "quality_calibrated_filter",
    "corpus_card",
    "split_leakage_screen",
    "seq_manifest",
    "source_stats",
    "user_feature_vectors",
    "langid_confusion",
    "containment_pairs",
    "source_dup_rate",
    "zorder_layout",
    "dsir_weights",
    "zorder_layout3",
    "events_anomaly_zscore",
    "join_skew_report",
    "dedup_threshold_curve",
    "doc_lang_mismatch",
    "order_fulfillment_lag",
    "neardup_cluster_sizes",
    "o2_es_collation",
    # -- 3. the 4 oldest r05 stamps (ledger order; the remaining six
    #        of the originally-queued ten moved to the r12 cohort head
    #        when section 1b claimed their slots) --
    "window_analytics_suite",
    "price_trend_by_priority",
    "corpus_diversity_index",
    "k_anonymity_screen",
    # --- ROUND-12 QUEUE (committed head, in priority order):
    # 1. The queries registered new in r11 (behind this window, all
    #    locally parity-green at sf0.01 tuned AND vanilla plus sf0.1
    #    in their registration session): bm25_topk,
    #    bitext_mining_pairs, clustering_agreement,
    #    interval_union_coverage, isotonic_calibration,
    #    streaming_warc_census, streaming_tfrecord_census,
    #    golden_record_merge, fellegi_sunter_weights,
    #    series_ohlc_downsample, bz2_multistream_extract,
    #    xz_dump_extract, wikipedia_dump_pipeline,
    #    mojibake_repair_audit, ip_range_lookup_join,
    #    deflate_dynamic_roundtrip, lake_time_travel,
    #    event_pattern_match, streaming_scd2_upsert,
    #    lz4_frame_roundtrip, zip_archive_extract,
    #    parquet_footer_stats, rowgroup_pruning_scan,
    #    sqlite_table_scan, string_distance_suite,
    #    geo_nearest_city, funnel_attribution,
    #    kaplan_meier_conversion, gini_concentration,
    #    git_packfile_scan, scratch_hash_audit,
    #    zipf_heaps_fit, misra_gries_heavy_hitters,
    #    aes_gcm_envelope_roundtrip, soundex_blocking_census,
    #    streaming_zip_census, arrow_ipc_scratch_read,
    #    spearman_rank_corr (38 total).
    # 2. The remaining 39-query r05-stamp cohort (oldest first; see
    #    STAMPS.md): inverted_index_stats, expectations_report,
    #    minhash_dedup_pairs, pack_sequences_by_lang, prep_pipeline,
    #    doc_chunks, semdedup_survivors, bpe_merges, bpe_token_budget, multimodal_frame_schedule, semdedup_diverse, shard_assignment,
    #    repeat_high_spenders, dup_ngram_rate, gopher_quality_flags, stratified_sample_audit, embedding_quantization_audit, token_fertility_by_lang,
    #    release_manifest, exact_substring_coverage, fuzzy_part_match, source_temperature_mix, ccnet_lm_buckets, filter_funnel,
    #    ewma_user_activity, neardup_triangles, benford_digit_audit, bpe_compression_curve, neardup_keep_best_quality, pagerank_neardup,
    #    events_gapfill_locf, bpe_roundtrip_audit, event_cooccurrence_rules, discount_price_corr, f22_money_format, hll_distinct_terms,
    #    hll_set_algebra, histogram_quantile_sketch, streaming_curation_hashes.
    #    ALLOCATION for the 50-slot r12 window: the 38 never-stamped
    #    new-in-r11 queries first (never-stamped evidence always beats
    #    refreshing a valid old stamp), then the 12 oldest r05 stamps
    #    beginning with the six displaced by this round's 1b section
    #    (inverted_index_stats, expectations_report,
    #    minhash_dedup_pairs, pack_sequences_by_lang, prep_pipeline,
    #    doc_chunks) and continuing in ledger order from
    #    semdedup_survivors. The r06 cohort follows in r13. ---
]




def register(name: str, fn: QueryFn, oracle: str | None, doc: str = "") -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name: {name}")
    _REGISTRY[name] = Query(fn=fn, oracle=oracle, doc=doc)


def _ordered() -> list[str]:
    front = [n for n in _CHECK_FIRST if n in _REGISTRY]
    missing = set(_CHECK_FIRST) - set(front)
    if missing:
        # A typo here would silently waste correctness-window slots.
        raise ValueError(f"_CHECK_FIRST names not registered: {sorted(missing)}")
    rest = [n for n in _REGISTRY if n not in set(front)]
    return front + rest


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: _REGISTRY[name].fn for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: _REGISTRY[name].oracle for name in _ordered()
            if _REGISTRY[name].oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # No try/except: a broken import here must fail loudly — swallowing it
    # would silently shrink queries()/oracle_sql() and the driver's
    # correctness gate would pass without checking the lost queries.
    # queries_scale (the ordered loader of its four part files) comes
    # before queries_retrieval: that is the registration order the
    # golden-order test pins.
    from . import (queries_agg, queries_audit, queries_core,  # noqa: F401
                   queries_joins, queries_ml, queries_scale,
                   queries_retrieval, queries_scalar, queries_sketches,
                   queries_streaming)
    _LOADED = True
