"""Serving-batch cap (operators/knn.collect_serving_batch): the batch
ANN kernels materialize the query set on the driver and broadcast it
to every worker — a contract ("|Q| is serving-sized") that used to be
documentation only. The cap makes an oversized batch an immediate,
named error instead of a silent driver OOM, and the join-form twin is
the overflow path that still completes."""

import pytest
from pyspark.sql import functions as F

from vfs_spark.operators import ann as ann_ops
from vfs_spark.operators import knn as knn_ops
from vfs_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _queries(emb, n):
    return emb.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )


@pytest.fixture
def cap5(monkeypatch):
    monkeypatch.setattr(knn_ops, "MAX_SERVING_BATCH", 5)


def test_knn_batch_arrow_cap_raises(spark, cap5):
    emb = load_table(spark, SF, "embeddings")
    big = _queries(emb, 8)
    with pytest.raises(ValueError, match="serving batch exceeds MAX_SERVING_BATCH=5"):
        knn_ops.knn_batch_arrow(emb, big, k=3)


def test_ivf_and_pq_batch_cap_raises(spark, cap5):
    emb = load_table(spark, SF, "embeddings")
    big = _queries(emb, 8)
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=4)
    with pytest.raises(ValueError, match="MAX_SERVING_BATCH=5"):
        ann_ops.ivf_search_batch(km, assigned, big, k=3)
    books = ann_ops.fit_pq_codebooks(emb, m=8, k=8)
    enc = ann_ops.encode_pq_arrow(emb, books)
    with pytest.raises(ValueError, match="MAX_SERVING_BATCH=5"):
        ann_ops.pq_search_batch_arrow(enc, books, big, k=3)
    assigned_enc = assigned.select("vec_id", "cluster_id").join(enc, "vec_id")
    with pytest.raises(ValueError, match="MAX_SERVING_BATCH=5"):
        ann_ops.ivfpq_search_batch(km, assigned_enc, emb, books, big, k=3)
    # a pre-collected batch is held to the same cap
    with pytest.raises(ValueError, match="MAX_SERVING_BATCH=5"):
        knn_ops.knn_batch_auto(emb, [(i, [0.0] * 64) for i in range(8)], k=3)


def test_oversized_batch_completes_via_join_form(spark, cap5):
    """The documented overflow path: the SAME oversized query set that
    the serving kernel rejects runs to completion on the broadcast-
    join form (knn_batch), with identical top-k semantics."""
    emb = load_table(spark, SF, "embeddings")
    big = _queries(emb, 8)
    with pytest.raises(ValueError):
        knn_ops.knn_batch_arrow(emb, big, k=3)
    out = knn_ops.knn_batch(emb, big, k=3)
    assert out.groupBy("query_id").count().count() == 8  # all 8 served

    # and under the cap, the arrow kernel matches the join form exactly
    small = _queries(emb, 3)
    a = sorted(map(tuple, knn_ops.knn_batch_arrow(emb, small, k=3).collect()))
    b = sorted(map(tuple, knn_ops.knn_batch(emb, small, k=3).collect()))
    assert a == b
