"""The driver compares only the first 50 registry entries against their
DuckDB oracle, so the window is pinned here by name: moving an entry in
or out of it has to be done on purpose, by editing this list."""

from search_engines_spark.entry_queries import REGISTRY

WINDOW = [
    "bm25_syn", "bm25_sdm_structured", "ranked_near", "ranked_and",
    "field_qualified_and", "indri_and", "segments_update_topk",
    "streamed_postings_equal_batch", "bm25_batch_onepass",
    "indri_batch_onepass", "daat_batch_topk", "segments_structured_near",
    "index_open_bm25", "feedback_expansion_batch", "letor_features_18slot",
    "dedup_exact", "dedup_minhash_lsh", "dedup_substring_spans",
    "dedup_cc_clusters", "ann_lsh_append", "ann_ivf_indexed",
    "graph_pagerank", "term_autocomplete", "text_hashed_embeddings",
    "ann_pq_topk", "streamed_ann_equal_batch", "hybrid_rrf_topk",
    "segments_delete_topk", "merged_segments_topk", "semantic_dedup",
    "dedup_strip_spans", "ann_lsh_indexed", "standing_query_topk",
    "diversity_xquad", "search_snippets", "dedup_embedding_lsh",
    "postings_term", "indri_wand", "window3_bool", "bm25_bow3",
    "dedup_simhash", "unranked_and", "term_stats", "doclen_store",
    "docterms_forward_index", "trec_topk", "near2_bool", "indri_term",
    "daat_wand_topk", "ann_cosine_topk",
]


def test_driver_window_is_pinned():
    assert len(WINDOW) == len(set(WINDOW)) == 50
    assert list(REGISTRY)[:50] == WINDOW
