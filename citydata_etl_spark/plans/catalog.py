"""The query catalog — the single registry behind __spark_entry__.py.

Each entry pairs a PySpark callable `(spark, sf_dir) -> DataFrame` with the
equivalent ANSI SQL for the DuckDB oracle (or None for ops that SQL cannot
express — streaming/stateful — which the driver checks rows-only).

Conventions (they make the driver's order-insensitive value-hash stable):
  - every computed column is aliased identically on both sides;
  - double sums go through DECIMAL(18,2) (exact + associative);
  - transcendental outputs (trig, cosine similarity) are rounded so
    last-ulp libm differences between the JVM and DuckDB cannot flip a bit;
  - RATIOS of exact integers (averaged micros) use floor(int/int) — never
    round(): floor of the same double quotient is unambiguous, while
    Spark's HALF_UP and DuckDB's round disagree on boundary quotients
    (observed at sf0.1);
  - every LIMIT/rank has a unique-column tie-break.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: SparkQuery
    oracle: str | None
    doc: str = ""


CATALOG: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a (spark_fn, oracle_sql) pair to the catalog.

    The registered callable releases the CURRENT THREAD's previously
    scoped caches (citydata_etl_spark.caching) before building its plan:
    operators persist intermediates that multiple branches of one plan
    share, and this is the point where the prior query's working set is
    provably no longer needed on this thread — a runner sweeping the
    catalog holds at most one query's caches per thread, and catalog
    queries built CONCURRENTLY from different threads no longer release
    each other's caches. Dropping a cache never changes results (plans
    recompute), so the release is always safe. Per-thread contract:
    build, materialize, then build the next.
    """

    def wrap(fn: SparkQuery) -> SparkQuery:
        if name in CATALOG:
            raise ValueError(f"duplicate query name: {name}")

        def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
            from citydata_etl_spark.caching import release_thread_caches

            release_thread_caches()
            return fn(spark, sf_dir)

        runner.__name__ = fn.__name__
        runner.__doc__ = fn.__doc__
        runner.__wrapped__ = fn
        CATALOG[name] = Query(name=name, spark_fn=runner, oracle=oracle, doc=doc)
        return fn

    return wrap


#: NEUTRAL STALENESS ROTATION (replaces the hand-picked round-2/3
#: DRIVER_COVERAGE_FIRST list, per ADVICE.md): load_all() orders the
#: catalog by (last externally-verified round ASC, name ASC). The
#: external correctness gate samples the first 50 entries in registration
#: order; with this rule the least-recently-verified entries always lead,
#: so every entry cycles through the gate's window and no entry's latest
#: driver row can go stale indefinitely — with no per-round hand-tuning
#: of what the gate sees. New entries (round 0) sort first. The map is
#: refreshed each round from the driver's CORRECTNESS_r{N}.json artifact;
#: the reorder is disclosed in the round notes. Every entry is ALSO
#: verified every round regardless of position by tests/test_parity.py
#: (all entries, at sf0.01 via PARITY_SF_DIR).
#:
#: Refresh rule (round 5 refinement, disclosed): an entry's rank is the
#: round of its latest driver ROW when that row is green OR rows-only by
#: construction (oracle=None — the driver can never mark it green, so
#: re-queuing it every round would burn window slots for zero new
#: information; its rows-only smoke still recurs on the normal cycle). A
#: hash-FAIL resets the rank to 0: the contract was broken there, and the
#: fix must re-enter the window first. A rewrite of an entry's code resets
#: it to 0 for the same reason.
LAST_DRIVER_CHECK: dict[str, int] = {
    "a10_table_profile": 17,
    "a11_heavy_hitters": 15,
    "a12_event_funnel": 14,
    "a13_data_contract": 15,
    "a14_referential_integrity": 15,
    "a15_outlier_flags": 15,
    "a16_cohort_retention": 15,
    "a17_time_weighted_avg": 17,
    "a18_ohlc_bars": 17,
    "a19_event_transitions": 17,
    "a1_pricing_summary": 13,
    "a20_countmin_topk": 14,
    "a21_histogram_quantiles": 15,
    "a22_attribution": 15,
    "a23_sliding_distinct": 15,
    "a23_sliding_kmv": 16,
    "a24_linear_attribution": 17,
    "a2_approx_distinct": 13,
    "a2_count_distinct": 13,
    "a2_kmv_distinct": 13,
    "a2_percentiles": 13,
    "a3_cube": 13,
    "a3_grouping_sets": 14,
    "a3_rollup": 13,
    "a4_distribution": 15,
    "a4_ntile": 13,
    "a4_rank_dense_rank": 13,
    "a4_topk_per_group": 13,
    "a5_moving_avg": 13,
    "a5_time_range_frame": 14,
    "a5_window_lag": 13,
    "a6_global_topk": 13,
    "a7_set_ops": 13,
    "a7_union_by_name": 13,
    "a8_city_score": 13,
    "a9_pivot": 13,
    "d4_ann_ivf": 0,
    "d4_ann_ivf_capped_rank": 0,
    "d4_ann_ivf_dist": 0,
    "d4_ann_ivf_dist_rank": 0,
    "d4_ann_ivf_rank": 0,
    "d4_ann_ivf_recall": 0,
    "d4_ann_lsh": 0,
    "d4_ann_lsh_rank": 0,
    "d4_ann_multiprobe_recall": 0,
    "d4_ann_multitable_recall": 0,
    "d4_ann_pq": 0,
    "d4_ann_pq_rank": 0,
    "d4_ann_recall": 0,
    "d4_bigram_logprob": 13,
    "d4_bm25_topk": 16,
    "d4_bpe_encode": 15,
    "d4_bpe_merge_steps": 15,
    "d4_bpe_pair_counts": 15,
    "d4_bpe_tokens": 13,
    "d4_collocations": 15,
    "d4_containment": 15,
    "d4_cosine_topk": 13,
    "d4_dedup_groups": 13,
    "d4_dedup_index_ingest": 0,
    "d4_dedup_report": 15,
    "d4_doc_fingerprint": 13,
    "d4_dup_passage": 13,
    "d4_dup_passage_cut": 16,
    "d4_embed_neardup": 13,
    "d4_embed_project": 15,
    "d4_embed_quantize": 14,
    "d4_exact_dedup": 13,
    "d4_fuzzy_key_pairs": 14,
    "d4_incremental_dedup": 14,
    "d4_incremental_neardup": 14,  # rows-only by construction (r4 row)
    "d4_incremental_neardup_rank": 15,
    "d4_knn_label": 15,
    "d4_lang_id": 13,
    "d4_line_dedup": 16,
    "d4_lm_logprob": 13,
    "d4_lsh_pair_recall": 15,
    "d4_minhash_hash": 14,  # rows-only by construction (r4 row)
    "d4_minhash_lsh": 13,
    "d4_mmr_ann": 0,
    "d4_mmr_batch": 0,
    "d4_mmr_diversify": 14,
    "d4_ngram_jaccard": 13,
    "d4_pii_scrub": 13,
    "d4_quality_score": 13,
    "d4_repetition_stats": 13,
    "d4_semantic_dedup": 13,
    "d4_simhash": 13,
    "d4_simhash_pairs": 14,
    "d4_text_normalize": 14,
    "d4_tfidf_topk": 14,
    "d4_token_stats": 17,
    "d4_url_dedup": 16,
    "d4_winnowing": 17,
    "d5_audio_energy": 16,
    "d5_bmp_histogram": 14,
    "d5_bmp_pixels": 14,
    "d5_bmp_resize": 14,
    "d5_format_sniff": 14,
    "d5_frame_sample": 17,
    "d5_gif_meta": 17,
    "d5_gif_pixels": 13,
    "d5_image_ahash": 15,
    "d5_image_neardup": 0,
    "d5_jpeg_cmyk": 16,  # fixture bytes changed r16: JFIF APP0 dropped from Adobe blobs (ADVICE fix); pixels/oracle identical
    "d5_jpeg_meta": 14,  # r14: EXIF orientation column added (schema + fixture)
    "d5_jpeg_pixels": 17,  # fixture bytes changed r17: half the progressive class rewoven as PROGRESSIVE ARITHMETIC (SOF10); pixels/oracle identical
    "d5_jpeg_pixels_420": 15,  # fixture+oracle changed r15: non-divisor weave
    "d5_media_decode": 17,
    "d5_mp4_meta": 16,
    "d5_png_adam7": 13,
    "d5_png_ahash": 13,
    "d5_png_meta": 14,
    "d5_png_pixels": 13,
    "d5_scene_cuts": 0,
    "d5_tar_meta": 17,
    "d5_wav_meta": 14,
    "d6_blocklist_filter": 14,
    "d6_chunk_documents": 14,
    "d6_contamination": 17,
    "d6_crossdomain_lm": 14,
    "d6_curation_pipeline": 17,
    "d6_dataset_card": 0,
    "d6_dsir_select": 15,
    "d6_dsir_select_hash": 16,  # NEW r16: corpus-scale xxhash64 feature path (VERDICT task 5)
    "d6_dedup_keep": 17,
    "d6_domain_cap": 14,
    "d6_domain_mix": 17,
    "d6_domain_mix_apply": 14,
    "d6_fixed_sample": 14,
    "d6_global_shuffle": 16,
    "d6_label_centroid": 17,
    "d6_length_histogram": 16,
    "d6_negative_pairs": 14,
    "d6_pack_sequences": 17,
    "d6_ppl_buckets": 14,
    "d6_quality_classifier": 16,
    "d6_quality_funnel": 17,
    "d6_shard_stats": 17,
    "d6_stratified_sample": 17,
    "d6_temperature_mix": 14,
    "d6_tokenizer_fertility": 15,
    "d6_train_split": 17,
    "e2e_collect_run": 14,
    "f10_conditional": 14,
    "f11_haversine": 14,
    "f12_url_parse": 14,
    "f13_variant_json": 14,
    "f14_entity_extract": 14,
    "f15_geo_cell": 16,
    "f16_number_normalize": 16,
    "f17_useragent_parse": 16,
    "f18_ip_cidr": 17,
    "f1_f3_dual_ts_roundtrip": 14,
    "f2_date_parts": 14,
    "f4_f5_split_element": 14,
    "f6_key_building": 14,
    "f7_json_extract": 14,
    "f8_html_extract": 14,
    "f9_split_explode": 14,
    "g1_host_pagerank": 16,
    "g2_triangle_count": 16,
    "g3_bfs_hops": 17,
    "j10_bloom_prefilter_join": 16,
    "j11_geo_radius_join": 16,
    "j12_temporal_join": 17,
    "j13_dpp_join": 17,
    "j14_point_in_polygon": 15,
    "j1_broadcast_lookup": 17,
    "j2_anti_join": 17,
    "j2_semi_join": 17,
    "j3_template_join": 17,
    "j4_multi_source_join": 17,
    "j5_range_join": 17,
    "j6_asof_forward": 17,
    "j6_asof_join": 17,
    "j6_asof_nearest": 17,
    "j6_asof_tolerance": 12,
    "j7_salted_skew_join": 12,
    "j8_bucketed_join": 14,
    "j9_interval_overlap": 14,
    "p1_pending_filter": 15,
    "p2_projection": 15,
    "p3_point_filter": 15,
    "p4_dynamic_filter": 15,
    "p6_first_row": 15,
    "q10_returned_items": 16,
    "q11_important_parts": 16,
    "q14_promo_revenue": 15,
    "q15_top_supplier": 15,
    "q18_large_orders": 12,
    "q21_waiting_suppliers": 12,
    "q3_shipping_priority": 16,
    "q5_regional_volume": 16,
    "q7_nation_volume": 12,
    "s10_orc_roundtrip": 15,
    "s11_compaction": 15,
    "s12_schema_evolution": 16,
    "s13_sorted_layout": 16,
    "s14_partition_pruned_read": 16,
    "s15_corrupt_records": 16,
    "s16_xml_roundtrip": 16,
    "s17_zorder_layout": 16,
    "s18_fixed_width_scan": 12,
    "s19_bloom_filter_layout": 15,
    "s1_csv_scan": 16,
    "s20_partition_evolution": 16,
    "s21_csv_dialect_sniff": 16,
    "s2_typed_csv_scan": 16,
    "s3_json_scan": 16,
    "s6_object_listing": 16,
    "s7_partitioned_sink": 16,
    "s8_csv_overwrite_sink": 16,
    "s9_staging_rekey": 16,
    "t10_stream_dynamic_sessions": 0,
    "t11_stream_geofence": 17,
    "t12_stream_late_sessions": 0,
    "t13_gap_fill": 17,
    "t14_stream_ohlc": 12,
    "t15_stream_snapshot_enrich": 12,
    "t16_stream_restart": 14,
    "t17_stream_quarantine": 15,
    "t18_stream_attribution": 0,
    "t19_stream_sliding_kmv": 0,
    "t1_streaming_tumbling": 12,
    "t2_streaming_dedup": 12,
    "t3_cdc_promote": 15,
    "t5_dynamic_gap_session": 17,
    "t5_session_window": 12,
    "t5_sliding_window": 12,
    "t5_tumbling_window": 12,
    "t5_watermarked_append": 15,
    "t6_stream_enrich": 13,
    "t7_stream_left_outer_join": 15,
    "t7_stream_stream_join": 15,
    "t8_stream_dedup_watermark": 16,
    "t9_streaming_upsert": 0,
    "u10_restore": 13,
    "u11_incremental_view": 13,
    "u12_deletion_vectors": 0,
    "u13_cascade_delete": 0,
    "u14_multi_table_txn": 0,
    "u15_governed_view": 16,
    "u16_policy_versioned_read": 17,
    "u17_wap_publish": 0,
    "u1_keyed_update": 17,
    "u2_masked_update": 17,
    "u3_status_routing": 17,
    "u4_scd2_history": 17,
    "u5_merge_upsert": 0,
    "u6_keyed_delete": 0,
    "u7_evolving_merge": 0,
    "u8_time_travel": 17,
    "u9_change_feed": 13,
}


def load_all() -> dict[str, Query]:
    """Import every query module so registration side-effects run; return
    the catalog in the neutral staleness rotation: least-recently-
    externally-verified first (LAST_DRIVER_CHECK, new entries leading),
    name as the tie-break."""
    from citydata_etl_spark.plans import (  # noqa: F401
        queries_llm,
        queries_time,
        queries_pipeline,
        queries_joins,
        queries_agg,
        queries_core,
        queries_functions,
        queries_workload,
    )

    ordered = sorted(
        CATALOG, key=lambda n: (LAST_DRIVER_CHECK.get(n, 0), n)
    )
    return {name: CATALOG[name] for name in ordered}
