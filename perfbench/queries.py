"""Frozen query mixes for the analytics workload.

``HEADLINE`` is twenty of the thirty headline queries of ``bench.py``,
copied here so that later edits to that file cannot change what this
benchmark measures. The ten left out are the cheapest at sf0.01
(text_fingerprint, text_token_count, forecast_revenue,
multimodal_metadata, events_sessionization, partition_size_distribution,
returned_items, dedup_exact, table_stats_daily, timeline_trends); a run
over all thirty does not fit the benchmark's time budget. ``STEADY`` is
the ten of them with the longest steady executions; the steady pass runs
only these.
"""

HEADLINE = [
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "region_segment_profile",
    "file_size_percentiles",
    "compaction_backlog",
    "timeline_parse",
    "timeline_completeness",
    "table_counts_rollup",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "similarity_topk_cosine",
    "similarity_ann_ivf",
    "text_language_id",
    "brand_revenue_share",
    "dedup_embedding_cosine",
    "pack_training_sequences",
    "text_boilerplate_lines",
    "events_funnel_conversion",
]

STEADY = [
    "dedup_simhash",
    "dedup_embedding_cosine",
    "events_funnel_conversion",
    "dedup_ngram_jaccard",
    "similarity_topk_cosine",
    "similarity_ann_ivf",
    "text_boilerplate_lines",
    "timeline_completeness",
    "dedup_minhash_lsh_pairs",
    "local_supplier_volume",
]
