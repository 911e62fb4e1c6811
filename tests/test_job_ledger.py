"""The job ledger: the most Spark jobs one timed build+collect of each
query may run, measured by ``bench.measure`` (clean session state,
prepare hook, one untimed serve, then the counted run) at sf0.001 on
``local[4]``. Each row is the maximum over three clean-state repeats;
the count does not depend on which queries ran before. A change that
lowers a count rewrites its row."""

import pytest

import bench
from project_orbit_spark import registry
from tests.conftest import SF_DIR

LEDGER = {
    "ann_ivf_pq_topk": 11,
    "ann_ivf_pq_topk_warm": 6,
    "ann_ivf_topk": 7,
    # bounded sort in one partition, one rank exchange, stored packed routes
    "ann_ivf_topk_warm": 4,
    "bigram_logprob_scores": 12,
    "bloom_pruned_join": 8,
    # sums stored impacts off the session's BM25 impact index
    "bm25_keyword_topk": 1,
    "boilerplate_segment_scrub": 7,
    "ccnet_perplexity_bands": 15,
    "chunk_documents": 3,
    # one key exchange per top-k rank
    "context_snippets_format": 4,
    # pairs, connected-components rounds and one gated label join
    "corpus_curation_gold": 13,
    # bounded result sorted in one partition; one key exchange per rank
    "cosine_topk_exact": 3,
    "curation_training_gold": 30,
    # bounded result sorted in one partition
    "dashboard_report_table": 2,
    # pairs, connected-components rounds and one gated label join
    "dedup_canonical_corpus": 13,
    # pairs, connected-components rounds and one gated label join
    "dedup_quality_canonical": 12,
    "doc_quality_scores": 3,
    # pairs, connected-components rounds and one gated label join
    "dup_cluster_labels": 12,
    # labeled count read off the last round's barrier
    "dup_cluster_size_histogram": 13,
    "event_funnel_conversion": 10,
    "funding_sentence_extraction": 4,
    "gopher_repetition_signals": 6,
    "heavy_hitters_two_pass": 8,
    "html_table_extract": 4,
    # BM25 off the impact index; keeps its query-vector broadcast
    "hybrid_rrf_topk": 2,
    "image_png_roundtrip": 3,
    "incremental_curation_gold": 18,
    "incremental_minhash_dedup": 5,
    "incremental_span_contamination": 11,
    "kmeans_embedding_clusters": 20,
    "kmeans_incremental_assign": 5,
    # pairs, connected-components rounds and one gated label join
    "leakage_safe_split": 13,
    # one key exchange per top-k rank
    "matryoshka_funnel_topk": 5,
    "minhash_lsh_near_dups": 5,
    "multimodal_features": 3,
    "pack_sequences_next_fit": 4,
    "pagerank_link_graph": 35,
    "payload_assembly_nested": 5,
    "q10_returned_item_customers": 5,
    "q12_delay_bucket_priority": 3,
    "q17_small_quantity_revenue": 6,
    "q1_pricing_summary": 2,
    "q20_dominant_part_suppliers": 8,
    "q21_suppliers_kept_waiting": 7,
    "q3_top_revenue_orders": 4,
    "q5_revenue_by_nation": 6,
    "q6_forecast_revenue": 2,
    "q7_nation_pair_volume": 9,
    "q8_nation_market_share": 11,
    "q9_nation_profit": 6,
    "quality_ensemble_filter": 7,
    # one key exchange per top-k rank
    "rag_dashboard_gold": 10,
    "rag_index_and_search": 1,
    "repeated_span_mining": 9,
    # BM25 off the impact index; keeps its candidate broadcast
    "rerank_crossencoder_topk": 2,
    "risk_lexicon_scan": 3,
    "salted_skew_join": 5,
    "segment_dedup_first_wins": 7,
    "semantic_decontamination": 11,
    "session_windows_30m": 4,
    "session_windows_30m_salted": 4,
    # each simhash pair emitted once off its first colliding band
    "simhash64_hamming_dups": 6,
    "soft_dedup_weights": 4,
    "stream_cluster_assign_batch": 5,
    "token_stats": 3,
    "tumbling_hourly_counts": 4,
}


def test_ledger_covers_every_bench_query():
    assert set(registry.bench_queries()) <= set(LEDGER)


@pytest.mark.parametrize("name", sorted(LEDGER))
def test_job_ledger(spark, name):
    jobs = bench.measure(spark, SF_DIR, [name], reps=1)[name]["counts"]["jobs"]
    assert 0 < jobs <= LEDGER[name], jobs
