"""Schema-stability guard: every query's result schema must match
the recorded snapshot (the driver's smoke check expects stable
schemas across rounds). After an INTENTIONAL schema change, re-run
`python tools/snapshot_schemas.py` and commit the diff."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from hive_hdfs_practise_spark import plans

SF = "/root/testdata/sf0.001"
SNAPSHOT = json.loads(
    (Path(__file__).parent / "fixtures" / "query_schemas.json").read_text()
)

# checkpoint-eager queries execute real jobs at plan-build time;
# their schemas are covered by the snapshot tool run, not per-test.
# (hyperplane-LSH and IVF queries used to sit here for their driver-
# side dim probe; planes are now derived lazily in-plan.)
BUILD_EXECUTES = {
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_simhash",
    "pipeline_training_data",
    "pipeline_training_data_lsh",
    "stream_hourly_tumbling",
    "stream_liveness_transitions",
    "stream_dedup_keys",
    "stream_click_purchase_join",
    "stream_enriched_nation",
    "stream_upsert_latest",
    "stream_pattern_browse_buy",
    "dedup_clusters_lsh",
    # r5: phash pair graph checkpointed per CC round
    "multimodal_phash_clusters",
    # r5: per-round label checkpoints (LPA)
    "graph_label_propagation",
    # r9: per-round survivor checkpoints (k-core peel)
    "graph_kcore_peel",
    # r9: shared quantizer kmeans checkpoints (nprobe sweep)
    "knn_ivf_nprobe_sweep",
    # r9: kNN-list checkpoint before the mutuality self-join
    "embeddings_knn_graph_stats",
    # r9: shared quantizer kmeans checkpoints (cluster topics)
    "embeddings_cluster_topics",
    # r9: signature/shingle checkpoints (J spectrum)
    "dedup_minhash_j_spectrum",
    "q15_top_supplier",
    "q11_important_parts",
    "dedup_simhash_bucketed",
    "text_char_bigram_logprob",
    "word_freq_cms_topk",
    "events_theta_setops",
    "word_freq_countsketch_topk",
    # r4: kmeans_centroids localCheckpoints per Lloyd round
    "knn_ivf",
    # r6: collects the d x d co-moment matrix for the driver-side
    # integer matrix-squaring eigensolve
    "embeddings_pca_power",
    # r6: per-Lloyd-round codebook checkpoints
    "knn_pq_adc",
    # r6: persists + counts the shingle postings at plan time
    "documents_containment_join",
    # r6: same per-Lloyd-round checkpoints as knn_ivf
    "knn_ivf_filtered",
    # r6: coarse + residual codebook collects at plan time
    "knn_ivfpq_adc",
    # r6: checkpoints the bottom-k posting table at plan time
    "dedup_containment_kmv",
    # r6: checkpoints the thrice-referenced full-width rank table
    "embeddings_matryoshka_audit",
    # r5: builds (writes) the bucketed IVF index at plan time, then
    # collects centroids + query row to compute the probe-list filter
    "knn_ivf_indexed",
    # r4: per-round symbol-table checkpoints
    "text_bpe_merges",
    "text_bpe_apply",
    # r4: edge+degree table checkpointed once, reused per round
    "graph_pagerank",
    # r4: name dictionary checkpointed before the blocked self-join
    "part_fuzzy_name_match",
    # r4: shingle postings / vocab / prefix tables checkpointed; the
    # bitmap width is a plan-time vocab count
    "dedup_jaccard_prefix_join",
    # r4: edge list + oriented edges checkpointed (3 consumers each)
    "graph_triangle_count",
    # r4: trigram stream checkpointed (feeds top-1 agg + occurrence join)
    "documents_top_phrase",
    # r4: streaming queries execute at build (availableNow sink)
    "stream_session_windows",
    "stream_sliding_rate",
    # r4: per-round frontier checkpoints
    "graph_bfs_levels",
    # r6: OPQ codebook training collects at plan time
    "knn_opq_adc",
    # r6: SemDeDup k-means Lloyd rounds checkpoint at plan time
    "dedup_semdedup",
    # r6: copurchase edge build checkpoints at plan time
    "graph_link_prediction",
    # r6: k-means Lloyd checkpoints at plan time
    "embeddings_cluster_balanced_sample",
    # r6: thresholded pair stream checkpoints at plan time
    "orders_association_rules",
    # r7: copurchase edge + undirected view checkpoint at plan time
    "graph_link_prediction_minhash",
    # r7: signature table checkpoints at plan time
    "documents_containment_minhash",
    # r7: checkpoints the sparse Bloom filter words at plan time
    "split_decontamination_bloom",
    # r7: checkpoints the bigram count table at plan time
    "documents_kn_perplexity",
    # r9: rides the KN bigram checkpoint
    "documents_perplexity_buckets",
    # r7: streaming query executes at build (availableNow sink)
    "stream_url_dedup",
    # r7: checkpoints the span table at plan time
    "documents_remove_duplicate_spans",
    # r8: checkpoints the trigram count table at plan time
    "documents_kn_trigram_perplexity",
    # r8: streaming query executes at build (availableNow sink)
    "stream_dedup_minhash",
    # r8: rides _bpe_learn's per-round symbol-table checkpoints
    "documents_tokenizer_fertility",
    # r8: signature/shingle/CC checkpoints at plan time
    "dedup_survivors_quality",
    # r8: kmeans Lloyd checkpoints at plan time
    "knn_recall_audit",
    # r8: rides dedup_minhash_lsh's signature checkpoint
    "dedup_cross_source_matrix",
    # r8: streaming query executes at build (availableNow sink)
    "stream_kmv_distinct_users",
    # r8: writes the band index at plan time
    "dedup_minhash_indexed",
    # r9: writes the corpus band index + checkpoints delta signatures
    "dedup_minhash_probe_delta",
    # r9: rides both pipelines' checkpoints (truth + LSH)
    "dedup_recall_audit",
    # r9: writes the lang-blocked family band index at plan time
    "dedup_survivors_indexed",
    # r10: writes the doc band index at plan time (second rider)
    "dedup_cross_source_indexed",
    # r10: writes the corpus index + appends the delta at plan time
    "dedup_minhash_index_append",
    # r11: writes + appends + compacts the index at plan time
    "dedup_minhash_index_compact",
    # r11: checkpoints the test-split Bloom filter at plan time
    "stream_decontamination_bloom",
    # r11: writes + appends + compacts the IVF index at plan time
    "knn_ivf_index_compact",
    # r11: checkpoints the day grid at plan time
    "events_change_points",
    # r11: collects the successor table + walks at plan time
    "text_bigram_greedy_decode",
    # r11: writes the index + appends tombstones at plan time
    "dedup_minhash_index_delete",
    # r12: writes the IVF index + appends tombstones at plan time
    "knn_ivf_index_delete",
    # r12: builds the corpus index + runs the append stream at plan time
    "stream_minhash_index_append",
    # r12: checkpoints chunk signatures at plan time
    "documents_chunk_fuzzy_dedup",
    # r12: checkpoints the gated set + writes the index at plan time
    "documents_dedup_pipeline_indexed",
    # r12: builds the IVF index + runs the append stream at plan time
    "stream_ivf_index_append",
    # r11: collects grid bounds + runs the stream at plan time
    "stream_rate_cusum",
    # r10: signature/pair checkpoints + iterative CC at plan time
    "documents_dedup_cost_report",
    # r10: streaming query executes at build (availableNow sink)
    "stream_gopher_rules",
    # r10: VQ quantizer collects + kNN-list checkpoint at plan time
    "embeddings_knn_graph_ivf",
    # r10: VQ quantizer collects at plan time
    "embeddings_ivf_cell_stats",
    # r10: writes the IVF index + appends the delta at plan time
    "knn_ivf_index_append",
    # r10: rides the checkpointed co-purchase edge build
    "graph_clustering_coefficient",
    # r10: quantizer collects + streaming sink at plan time
    "stream_ivf_assign",
    # r10: collects the metadata-scale count matrix at plan time
    "events_markov_stationary",
    # r10: collects the per-day KM table at plan time
    "orders_survival_km",
    # r10: rides dedup_minhash_lsh's signature checkpoint
    "dedup_detector_agreement",
    # r10: simhash signature checkpoint at plan time
    "dedup_simhash_spectrum",
    # r9: streaming query executes at build (availableNow sink)
    "stream_filter_cascade",
    # r9: stateful transition chaining sinks at plan time
    "stream_transition_matrix",
    # r9: collects the metadata-scale candidate pool at plan time
    "knn_mmr_rerank",
}


def test_snapshot_covers_registry():
    assert set(SNAPSHOT) == set(plans.QUERIES), (
        "registry changed — re-run tools/snapshot_schemas.py"
    )


def test_no_nested_output_types():
    """The driver's pandas canonicalizer cannot hash list cells, so a
    registered query with an array/map/struct OUTPUT column ERRORs at
    the driver before any comparison (r05: embeddings_quantize_int8).
    Nested values must be serialized (concat_ws / to_json) before the
    final select. The snapshot records simpleString() of a top-level
    struct, so skip the first 7 chars ("struct<") when scanning."""
    bad = {
        name: schema
        for name, schema in SNAPSHOT.items()
        if any(t in schema[7:] for t in ("array<", "map<", "struct<"))
    }
    assert not bad, f"nested output types violate the driver contract: {bad}"


@pytest.mark.parametrize(
    "name", sorted(set(plans.QUERIES) - BUILD_EXECUTES)
)
def test_schema_matches_snapshot(spark, name):
    got = plans.QUERIES[name](spark, SF).schema.simpleString()
    assert got == SNAPSHOT[name], f"{name} schema drifted"
