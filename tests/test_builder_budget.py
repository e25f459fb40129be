"""Registry builders return plans: calling ``QUERIES[slug](spark,
sf_dir)`` runs no Spark job. The exceptions are listed in
``BUILDER_JOBS`` with the most jobs their builder may run: guarded
dispatches that read their statistic before choosing a path
(``collect_under``, the prefix-join Σ|set| probe), driver twins that
collect their input, index and model fits, the query-vector point
lookup, the ranged dense-id pass and writes. A streaming slug's
micro-batch jobs run on the stream's own thread under the stream's job
group, so they are not counted here; its staging writes are."""

import os

from vfs_spark.queries import QUERIES
from vfs_spark.sources.parquet import load_all

# slug -> most Spark jobs its builder may run, as measured at sf0.001
# on the test session with a fresh ANN index directory and a warm
# schema memo. Lower an entry when a builder gets cheaper; a slug that
# reaches 0 leaves the table.
BUILDER_JOBS: dict[str, int] = {
    # guarded dispatches and driver twins: the statistic or the bounded
    # collect that picks the path (collect_under, prefix-join Σ|set|
    # probe, route pre-flight, candidate histogram, serving batch)
    "graph_pagerank_urls": 4,
    "bpe_train_merges": 3,
    "dedup_ngram_jaccard": 5,
    "dedup_containment": 8,
    "dedup_containment_anchored": 6,
    "dedup_clusters": 17,
    # varies between builds of one session: 33-36 jobs measured
    "dedup_clusters_banded": 38,
    "dedup_clusters_semantic": 13,
    "dedup_embedding_banded": 19,
    "dedup_embedding_simhash": 10,
    "dedup_image_phash": 7,
    "dedup_simhash": 7,
    "dedup_simhash_jvm": 7,
    "dedup_simhash_udf": 7,
    "dedup_minhash": 8,
    "dedup_incremental_minhash": 21,
    "decontaminate_bloom": 3,
    "text_heavy_hitters": 3,
    "pipeline_curation_ranked": 22,
    "pipeline_multimodal_curation": 9,
    "pipeline_semantic_corpus": 13,
    "knn_batch_arrow": 2,
    "knn_batch_auto": 2,
    "ann_pq_batch": 2,
    "ann_ivfpq_batch": 2,
    # index and model fits (LSH, IVF with recall-calibrated nprobe, PQ,
    # PCA, KMeans cells, classifiers and n-gram models)
    "ann_ivf": 39,
    "ann_ivf_batch": 2,
    "ann_ivf_partitioned": 5,
    "ann_ivfpq": 15,
    "ann_pq": 5,
    "approx_knn": 5,
    "approx_knn_multiprobe": 2,
    "dedup_minhash_mllib": 2,
    "dedup_semdedup": 6,
    "embedding_pca_project": 4,
    "sample_dsir": 18,
    "sample_dsir_fitsample": 18,
    "text_perplexity_buckets": 13,
    "text_quality_classifier": 21,
    # the query vector's point lookup (core._query_vec)
    "dist_cosine": 1,
    "dist_euclidean": 1,
    "exact_knn": 1,
    "exact_knn_filtered": 1,
    "exact_knn_quantized": 1,
    "filter_dim_check": 1,
    "range_search_radius": 1,
    "result_hydrate": 1,
    "topk_truncate": 1,
    # per-partition row counts of the ranged dense-id pass
    "insert_assign_ids": 5,
    "sample_shuffle_order": 5,
    "text_pack_blocks": 5,
    # writes: the shard export, and the streaming slugs' staging and
    # landed-store reads on the builder's thread
    "export_training_shards": 18,
    "stream_cdc_upsert": 3,
    "stream_curation_full": 5,
    "stream_curation_ranked": 18,
    "stream_ingest_corpus": 5,
}


# slug -> CacheManager entries its builder may leave behind, counted at
# sf0.001 right after the build: pins that belong to the returned lazy
# plan and are read when it runs. Operator-internal pins end inside the
# builder (dispatch.pinned), so every other slug leaves none.
BUILDER_PINS: dict[str, int] = {
    "text_bm25_retrieval": 1,
    "pipeline_hybrid_retrieval": 1,
    "pipeline_rag_retrieval": 1,
    "retrieval_eval_mrr": 1,
    "retrieval_eval_ndcg": 1,
    "pipeline_curation_full": 1,
    "pipeline_multimodal_curation": 1,
    "text_quality_classifier": 1,
    "text_trigram_logprob": 3,
}


def _pins(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"builder-{os.urandom(6).hex()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_builder_job_budget(spark, sf_dir, tmp_path, monkeypatch):
    """Every builder runs 0 jobs, or at most its ``BUILDER_JOBS``
    entry, and leaves 0 pins, or at most its ``BUILDER_PINS`` entry;
    every allowlisted slug is still a registered slug."""
    assert set(BUILDER_JOBS) | set(BUILDER_PINS) <= set(QUERIES)
    monkeypatch.setenv("VFS_SPARK_INDEX_DIR", str(tmp_path / "ann_index"))
    load_all(spark, sf_dir)  # warms the schema memo for every table
    spark.catalog.clearCache()
    got, pins = {}, {}
    for slug, build in sorted(QUERIES.items()):
        got[slug] = _jobs(spark, lambda: build(spark, sf_dir))
        pins[slug] = _pins(spark)
        spark.catalog.clearCache()
    over = {s: n for s, n in got.items() if n > BUILDER_JOBS.get(s, 0)}
    assert not over, f"builder jobs over budget: {over}"
    held = {s: n for s, n in pins.items() if n > BUILDER_PINS.get(s, 0)}
    assert not held, f"builders left pins: {held}"


# Store-backed ANN slugs: most Spark jobs of a SECOND builder call in
# one session, at sf0.001. The model (and the IVF nprobe) comes from
# the index store's in-process memo, so what remains is the query
# vector's point lookup, the multiprobe query hash and the
# serving-batch collect.
WARM_BUILDER_JOBS: dict[str, int] = {
    "approx_knn": 1,
    "approx_knn_multiprobe": 3,
    "ann_ivf": 1,
    "ann_ivf_partitioned": 1,
    "ann_ivf_batch": 2,
    "similarity_join_multiprobe": 0,
}


def test_warm_ann_builder_jobs(spark, sf_dir, tmp_path, monkeypatch):
    """A warm session neither refits nor reloads an ANN model: the
    second call of each store-backed slug stays within
    ``WARM_BUILDER_JOBS``."""
    monkeypatch.setenv("VFS_SPARK_INDEX_DIR", str(tmp_path / "ann_index"))
    load_all(spark, sf_dir)
    got = {}
    for slug in WARM_BUILDER_JOBS:
        QUERIES[slug](spark, sf_dir)  # cold: fits and stores the model
        spark.catalog.clearCache()
        got[slug] = _jobs(spark, lambda: QUERIES[slug](spark, sf_dir))
        spark.catalog.clearCache()
    over = {s: n for s, n in got.items() if n > WARM_BUILDER_JOBS[s]}
    assert not over, f"warm builder jobs over budget: {over} of {got}"
