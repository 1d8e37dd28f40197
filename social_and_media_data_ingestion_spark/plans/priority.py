"""Driver-sampling head rotation (kept OUT of the query modules).

The driver checks the FIRST 50 registry entries per round; PRIORITY_HEAD
curates that head. It lives in its own module (round-6 verdict item 1)
so that rotation edits never touch plans/queries*.py — under the
content-hash staleness ledger (tools/stale_rows.py) a head edit must not
look like a code change to any query. Earlier heads are in git history.
"""

from __future__ import annotations

# Driver-sampling order: the harness checks the FIRST 50 registry entries
# per round; everything else follows in registration order. Rotation
# policy (round-3 advice): entries whose code changed lead (they need
# fresh driver evidence); the rest are never-sampled queries, then those
# whose newest green driver row is oldest — so driver-green evidence
# accumulates across rounds instead of re-proving the same 50. Everything
# outside the head stays covered by the local gate (tools/verify_local.py
# runs every registry query with the identical oracle mechanism).
PRIORITY_HEAD = [
    # Composition, in rotation-policy order:
    #   1. every query the staleness ledger marks stale (16), plus
    #      sim_ivf_lloyd_recall and sim_ivf_recall, which compose the
    #      changed IVF queries through `_REG_BASE` lookups the ledger
    #      does not trace: the closures of
    #      connected_components (one edge pin, observed convergence,
    #      NULL endpoints dropped), the candidate-restricted
    #      ngram_jaccard_pairs verify and the one-plan triangle_count
    #      changed, global_running_min's NaN-safe partition prefix
    #      (part_price_skyline), and the centroid cosine (try_divide on a
    #      zero norm product) with the Lloyd seeds/updates that drop
    #      zero-norm centroids (the IVF, k-means and Lloyd queries);
    #   2. fill to 50 with the oldest-evidence re-proofs (newest
    #      green driver row in r7, then r8; ledger order).
    "dedup_minhash_calibration",
    "graph_triangle_suppliers",
    "corpus_full_curation",
    "dedup_canonical_selection",
    "dedup_near_dup_clusters",
    "dedup_ngram_jaccard",
    "er_entity_clusters",
    "er_resolution_pipeline",
    "part_price_skyline",
    "emb_lloyd_centroids",
    "sim_ivf_lloyd_topk",
    "sim_ivf_lloyd_recall",
    "sim_ivf_topk",
    "sim_ivf_recall",
    "emb_kmeans_assign",
    "emb_kmeans_update",
    "emb_cluster_purity",
    "sim_retrieval_mrr",
    "dedup_embedding_cosine",
    "dedup_minhash_signatures",
    "emb_dim_audit",
    "emb_dim_variance",
    "emb_hard_negatives",
    "emb_pca_top_component",
    "emb_pq_recall",
    "emb_pq_topk",
    "emb_quantize_int8",
    "emb_truncation_recall",
    "emb_vector_stats",
    "er_phonetic_block_audit",
    "events_decayed_activity",
    "events_nonfinite_audit",
    "graph_pagerank_purchases",
    "multimodal_frame_sample",
    "sample_fixed_quota_per_source",
    "sim_ann_recall",
    "sim_cosine_topk",
    "sim_int8_topk",
    "sim_lsh_topk",
    "text_kwic_contexts",
    "text_language_id",
    "a2_dedup_keep_first",
    "a3_keep_latest",
    "a4_distinct_dim",
    "a6_max_watermark",
    "agg_distinct_stats",
    "agg_having_big_customers",
    "agg_pricing_summary",
    "corpus_decontaminate",
    "dedup_fingerprint",
]
