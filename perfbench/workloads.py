"""The benchmark's workloads: fixed key lists from graft's 226-key
registry (`SparkEntry.queries`), each key tagged with the operator module
its registry entry calls, so plan and exec time can be placed per module.
"""

WORKLOADS = {
    # The reference pipeline: shuffle/join/aggregate work in EtlOps,
    # Views and Analytics, with no substrate, no model and no custom
    # kernel. Kernel, graph or substrate changes should not move it.
    "etl_views": [
        ("ingest_normalize", "EtlOps"),
        ("dedup_latest_by_key", "EtlOps"),
        ("upsert_merge", "EtlOps"),
        ("scd2_build", "EtlOps"),
        ("v_top_actors_by_rating", "Views"),
        ("q8_market_share", "Analytics"),
    ],
    # The LLM-data funnel: text kernels, embedding dedup with candidate
    # verification, an IVF index fit behind Caches.model, a graph
    # fixpoint loop, a stateful streaming query and image hashing over a
    # substrate leaf.
    "llm_data": [
        ("text_quality_score", "TextOps"),
        ("dedup_embedding_cosine", "Dedup"),
        ("ann_ivf_topk", "Similarity"),
        ("graph_modularity", "GraphOps"),
        ("stream_pack_tws", "TrainingOps"),
        ("mm_image_phash", "Multimodal"),
    ],
}
