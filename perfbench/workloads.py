"""The benchmark's workloads: the registry queries each one runs.

Every workload is a closed loop: one client issues its queries one at
a time into one Spark ``local[nproc]`` session, each pass in an order
shuffled by the run's seed. Why each workload exists, and why
``curation`` is defined but not in ``BENCHMARK.json``: ``README.md``.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    "relational": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "q6_forecast_revenue",
        "q18_large_volume_orders",
        "ref_building_acctbal_stats_by_nation",
        "w_top3_parts_per_brand",
        "rollup_lineitem_flags",
    ],
    "curation": [
        "dedup_exact_normalized",
        "dedup_ngram_jaccard",
        "text_token_stats",
        "text_quality_scores",
        "knn_cosine_bruteforce",
        "neardup_embeddings",
        "multimodal_media_features",
    ],
    "lakehouse": [
        "source_delta_log_replay",
        "source_iceberg_position_deletes",
        "source_parquet_page_decode",
        "source_orc_rlev2_decode",
        "source_avro_records",
        "sink_dynamic_partition_overwrite",
    ],
}
