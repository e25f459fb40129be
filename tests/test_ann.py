"""ANN correctness = recall vs exact (SURVEY §5.2 / §7.4: the
reference's own HNSW returns at most 1 result (Q2), so parity is
defined against exact search, not the buggy output)."""

import pytest
from pyspark.sql import functions as F

from vfs_spark.operators import ann as ann_ops
from vfs_spark.operators.knn import exact_knn
from vfs_spark.sources.parquet import read_parquet


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def qvec(emb):
    return emb.where(F.col("vec_id") == 0).first()["embedding"]


def test_lsh_recall_vs_exact(emb, qvec):
    model, vdf = ann_ops.build_lsh_index(emb, num_hash_tables=5, bucket_length=2.0)
    approx = ann_ops.approx_knn(model, vdf, qvec, k=10)
    exact = exact_knn(emb, qvec, k=10)
    assert ann_ops.recall_at_k(approx, exact) >= 0.5


def test_lsh_model_roundtrip(tmp_path, emb, qvec):
    """Index persistence = snapshot/restore of the ANN structure
    (#15/#16 for the index)."""
    model, vdf = ann_ops.build_lsh_index(emb)
    path = str(tmp_path / "lsh_model")
    model.write().overwrite().save(path)
    from pyspark.ml.feature import BucketedRandomProjectionLSHModel

    loaded = BucketedRandomProjectionLSHModel.load(path)
    a = sorted(r["vec_id"] for r in ann_ops.approx_knn(model, vdf, qvec, k=5).collect())
    b = sorted(r["vec_id"] for r in ann_ops.approx_knn(loaded, vdf, qvec, k=5).collect())
    assert a == b


def test_ivf_recall_and_k(emb, qvec):
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=8)
    got = ann_ops.ivf_search(km, assigned, qvec, k=5, nprobe=4)
    rows = got.collect()
    assert len(rows) == 5
    exact = exact_knn(emb, qvec, k=5)
    assert ann_ops.recall_at_k(got, exact) >= 0.4


def test_ivf_full_probe_equals_exact(emb, qvec):
    """nprobe = n_clusters degrades IVF to exact — sanity anchor."""
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=4)
    got = ann_ops.ivf_search(km, assigned, qvec, k=5, nprobe=4)
    exact = exact_knn(emb, qvec, k=5)
    assert ann_ops.recall_at_k(got, exact) == 1.0


def test_cosine_index_normalizes(emb, qvec):
    model, vdf = ann_ops.build_lsh_index(emb, metric="cosine")
    got = ann_ops.approx_knn(model, vdf, qvec, k=5, metric="cosine")
    exact = exact_knn(emb, qvec, k=5, metric="cosine")
    assert ann_ops.recall_at_k(got, exact) >= 0.4


def test_similarity_join_finds_true_pairs(spark, sf_dir):
    """The LSH bucket join must recover a decent share of the TRUE
    within-threshold pairs (recall), and report exact distances for
    what it does return (no false positives past the threshold)."""
    from vfs_spark.queries.registry import QUERIES
    import vfs_spark.queries  # noqa: F401  (register)

    got = QUERIES["similarity_join"](spark, sf_dir).collect()
    assert all(r.dist <= 3.0 for r in got)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from vfs_spark.functions.distance import euclidean

    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    true_pairs = {
        (r.query_id, r.vec_id)
        for r in emb.crossJoin(F.broadcast(q))
        .select("query_id", "vec_id", euclidean("embedding", "qv").alias("d"))
        .where((F.col("d") <= 3.0) & (F.col("query_id") != F.col("vec_id")))
        .collect()
    }
    found = {(r.query_id, r.vec_id) for r in got}
    assert found <= true_pairs  # exact re-check filters fp's
    if true_pairs:
        assert len(found & true_pairs) / len(true_pairs) >= 0.5


def test_ivf_partitioned_store_prunes(spark, emb, qvec, tmp_path):
    """The persisted IVF layout must (a) return the same result as the
    in-memory IVF search and (b) plan the probe as partition pruning —
    only nprobe of the cluster directories appear in the scan."""
    from vfs_spark.plans import explain as ex

    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=8)
    path = str(tmp_path / "ivf")
    ann_ops.write_ivf_partitioned(assigned, path)
    got = ann_ops.ivf_search(km, read_parquet(spark, path), qvec, k=5, nprobe=2)
    plan = ex.formatted_plan(got)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster_id" in m.group(1), plan
    mem = ann_ops.ivf_search(km, assigned, qvec, k=5, nprobe=2)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in mem.collect()]


def test_ivf_batch_matches_single_query_path(spark, sf_dir):
    """Batch IVF must return, for each query, exactly what the
    single-query IVF path returns (same model, same nprobe), and
    recall vs exact must stay high."""
    from pyspark.sql import functions as F
    from vfs_spark.operators import ann as ann_ops
    from vfs_spark.operators.knn import exact_knn
    from vfs_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=16)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    batch = ann_ops.ivf_search_batch(km, assigned, queries, k=5, nprobe=4)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["dist"]))
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid in by_q:
        qvec = emb.where(F.col("vec_id") == qid).first()["embedding"]
        single = [
            (r["vec_id"], r["dist"])
            for r in ann_ops.ivf_search(km, assigned, qvec, k=5, nprobe=4).collect()
        ]
        assert by_q[qid] == single
        exact = exact_knn(emb, qvec, k=5)
        rec = ann_ops.recall_at_k(
            batch.where(F.col("query_id") == qid).select("vec_id"), exact
        )
        assert rec >= 0.6, (qid, rec)


# ---------------------------------------------------------------------------
# Product quantization


@pytest.fixture(scope="module")
def pq(emb):
    books = ann_ops.fit_pq_codebooks(emb, m=16, k=16, seed=42)
    enc = ann_ops.encode_pq(emb, books).cache()
    enc.count()
    return books, enc


def test_pq_codes_shape_and_range(emb, pq):
    books, enc = pq
    assert len(books) == 16 and all(len(b) == 16 for b in books)
    row = enc.first()
    assert len(row["codes"]) == 16
    stats = enc.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.count("*").alias("n"),
    ).first()
    assert stats["lo"] >= 0 and stats["hi"] < 16
    assert stats["n"] == emb.count()


def test_pq_fit_deterministic(emb):
    a = ann_ops.fit_pq_codebooks(emb, m=8, k=8, seed=7)
    b = ann_ops.fit_pq_codebooks(emb, m=8, k=8, seed=7)
    assert a == b


def test_pq_rerank_recall(emb, pq):
    books, enc = pq
    recalls = []
    for r in emb.where(F.col("vec_id") < 4).collect():
        q = r["embedding"]
        ex = exact_knn(emb, q, k=10)
        rr = ann_ops.pq_search_rerank(enc, emb, books, q, k=10, shortlist=100)
        recalls.append(ann_ops.recall_at_k(rr, ex))
    assert sum(recalls) / len(recalls) >= 0.7  # measured 0.975; gate leaves noise room


def test_pq_adc_beats_random(emb, pq):
    """ADC alone must rank far better than chance: expected random
    overlap of two 10-sets in 500 is 0.2 hits; require ≥3/10."""
    books, enc = pq
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    ex = exact_knn(emb, q, k=10)
    adc = ann_ops.pq_search(enc, books, q, k=10)
    assert ann_ops.recall_at_k(adc, ex) >= 0.3


def test_pq_plan_stays_jvm(emb, pq):
    """Encode and ADC search must be pure Catalyst — no Python eval
    nodes; ADC top-k must be TakeOrderedAndProject."""
    from vfs_spark.plans import explain as ex

    books, enc = pq
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    for df in (ann_ops.encode_pq(emb, books), ann_ops.pq_search(enc, books, q, k=10)):
        plan = ex.formatted_plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in ex.formatted_plan(
        ann_ops.pq_search(ann_ops.encode_pq(emb, books), books, q, k=10)
    )


def test_pq_encode_arrow_matches_catalyst(emb, pq):
    """The Arrow encode kernel must produce byte-identical codes to
    the Catalyst expression form (first-min tiebreak on both)."""
    books, enc = pq
    arrow = ann_ops.encode_pq_arrow(emb, books)
    a = {r["vec_id"]: list(r["codes"]) for r in arrow.collect()}
    c = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    assert a == c


def test_ivf_search_batch_empty_queries_schema(spark, sf_dir):
    """An empty query batch must return the SAME schema as the
    non-empty path (query_id included) so downstream selects work."""
    from vfs_spark.operators import ann as ann_ops
    from vfs_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=4)
    empty_q = spark.createDataFrame([], "query_id long, query_vec array<double>")
    out = ann_ops.ivf_search_batch(km, assigned, empty_q, k=3, nprobe=2)
    assert [f.name for f in out.schema.fields] == ["query_id", "vec_id", "dist"]
    assert out.count() == 0


def test_pq_batch_matches_single_and_recall(emb, pq):
    """pq_search_rerank_batch must agree with the single-query rerank
    for each query in the batch (same codes, same shortlist, same
    rerank) and clear the recall gate vs exact."""
    from vfs_spark.operators.knn import exact_knn

    books, enc = pq
    queries_df = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    batch = ann_ops.pq_search_rerank_batch(
        enc, emb, books, queries_df, k=10, shortlist=100
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["dist"]))
    assert set(by_q) == {0, 1, 2, 3}
    recalls = []
    for r in emb.where(F.col("vec_id") < 4).collect():
        qid, qvec = r["vec_id"], r["embedding"]
        single = [
            (x["vec_id"], x["dist"])
            for x in ann_ops.pq_search_rerank(
                enc, emb, books, qvec, k=10, shortlist=100
            ).collect()
        ]
        assert by_q[qid] == single, qid
        ex = exact_knn(emb, qvec, k=10)
        got = {v for v, _ in by_q[qid]}
        exact_ids = {x["vec_id"] for x in ex.collect()}
        recalls.append(len(got & exact_ids) / len(exact_ids))
    assert sum(recalls) / len(recalls) >= 0.7  # same gate as single-query


def test_batch_rerank_accepts_collected_queries(spark, emb, pq):
    """pq_search_rerank_batch and ivfpq_search_batch collect the query
    batch once and rerank from those rows, so a pre-collected list of
    (id, vec) pairs is served row for row like the query DataFrame, and
    an empty list returns the empty output schema."""
    books, enc = pq
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=8)
    assigned_enc = assigned.select("vec_id", "cluster_id").join(enc, "vec_id")
    queries_df = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    qrows = [(r["query_id"], r["query_vec"]) for r in queries_df.collect()]
    searches = {
        "pq": lambda q: ann_ops.pq_search_rerank_batch(
            enc, emb, books, q, k=10, shortlist=100
        ),
        "ivfpq": lambda q: ann_ops.ivfpq_search_batch(
            km, assigned_enc, emb, books, q, k=10, nprobe=4, shortlist=100
        ),
    }
    for name, search in searches.items():
        want = sorted(tuple(r) for r in search(queries_df).collect())
        assert len(want) == 40, name
        assert sorted(tuple(r) for r in search(qrows).collect()) == want, name
        empty = search([])
        assert [f.name for f in empty.schema.fields] == [
            "query_id", "vec_id", "dist"
        ], name
        assert empty.count() == 0, name


def test_pq_batch_empty_queries_schema(spark, emb, pq):
    books, enc = pq
    empty_q = spark.createDataFrame([], "query_id long, query_vec array<double>")
    out = ann_ops.pq_search_batch_arrow(enc, books, empty_q, k=3)
    assert [f.name for f in out.schema.fields] == ["query_id", "vec_id", "dist"]
    assert out.count() == 0


def test_ivfpq_recall(emb, pq):
    """IVFPQ (cluster pruning + ADC shortlist + rerank) must clear the
    recall gate vs exact — probing 4/8 clusters with a 100-row
    shortlist on the fixture keeps most true neighbors reachable."""
    from vfs_spark.operators.knn import exact_knn

    books, enc = pq
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=8)
    assigned_enc = assigned.select("vec_id", "cluster_id").join(enc, "vec_id")
    recalls = []
    for r in emb.where(F.col("vec_id") < 4).collect():
        qvec = r["embedding"]
        ex = exact_knn(emb, qvec, k=10)
        got = ann_ops.ivfpq_search(
            km, assigned_enc, emb, books, qvec, k=10, nprobe=4, shortlist=100
        )
        recalls.append(ann_ops.recall_at_k(got, ex))
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_ivfpq_batch_matches_single_and_recall(emb, pq):
    """ivfpq_search_batch must agree with per-query ivfpq_search for
    every query in the batch — the routing mask inside the Arrow ADC
    kernel has to reproduce single-query nprobe semantics exactly —
    and clear the same recall gate vs exact."""
    from vfs_spark.operators.knn import exact_knn

    books, enc = pq
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=8)
    assigned_enc = assigned.select("vec_id", "cluster_id").join(enc, "vec_id")
    queries_df = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    batch = ann_ops.ivfpq_search_batch(
        km, assigned_enc, emb, books, queries_df, k=10, nprobe=4, shortlist=100
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["dist"]))
    assert set(by_q) == {0, 1, 2, 3}
    recalls = []
    for r in emb.where(F.col("vec_id") < 4).collect():
        qid, qvec = r["vec_id"], r["embedding"]
        single = [
            (x["vec_id"], x["dist"])
            for x in ann_ops.ivfpq_search(
                km, assigned_enc, emb, books, qvec, k=10, nprobe=4, shortlist=100
            ).collect()
        ]
        assert by_q[qid] == single, qid
        ex = exact_knn(emb, qvec, k=10)
        exact_ids = {x["vec_id"] for x in ex.collect()}
        got = {v for v, _ in by_q[qid]}
        recalls.append(len(got & exact_ids) / len(exact_ids))
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_ivfpq_batch_empty_queries_schema(spark, emb, pq):
    books, enc = pq
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=4)
    assigned_enc = assigned.select("vec_id", "cluster_id").join(enc, "vec_id")
    empty_q = spark.createDataFrame([], "query_id long, query_vec array<double>")
    out = ann_ops.ivfpq_search_batch(km, assigned_enc, emb, books, empty_q, k=3)
    assert [f.name for f in out.schema.fields] == ["query_id", "vec_id", "dist"]
    assert out.count() == 0


def test_join_multiprobe_superset_and_monotone(spark, emb):
    """The bulk multiprobe join at probe_width=1 must contain every
    within-threshold pair the MLlib bucket join finds (same candidate
    generation, exact distances both), and the pair set must grow
    monotonically with probe_width."""
    model, vdf = ann_ops.build_lsh_index(emb, num_hash_tables=3, bucket_length=1.0)
    vdf = vdf.cache()
    vdf.count()
    queries_df = vdf.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("features")
    )
    mllib = {
        (r[0], r[1])
        for r in ann_ops.approx_knn_join(model, vdf, queries_df, threshold=3.0)
        .select("datasetA.query_id", "datasetB.vec_id")
        .collect()
    }
    sizes = []
    prev = None
    for w in (1, 2, 4):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ann_ops.approx_knn_join_multiprobe(
                model, vdf, queries_df, threshold=3.0, probe_width=w
            ).collect()
        }
        if w == 1:
            assert mllib <= got  # same buckets -> same candidates
        if prev is not None:
            assert prev <= got  # probe window only ever widens
        prev = got
        sizes.append(len(got))
    assert sizes[0] <= sizes[-1]


def test_multiprobe_rejects_non_brp_model(spark, emb, qvec):
    """Adjacent-bucket probing is only defined for scalar projection
    buckets — a MinHashLSH model must be rejected loudly, not probed
    meaninglessly."""
    from pyspark.ml.feature import MinHashLSH
    from pyspark.ml.functions import array_to_vector

    vdf = emb.limit(50).withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=2)
    model = mh.fit(vdf)
    with pytest.raises(TypeError, match="BucketedRandomProjectionLSH"):
        ann_ops.approx_knn_multiprobe(model, vdf, qvec, k=5)


def test_lsh_multiprobe_recall_monotone(emb, qvec):
    """The per-query recall knob (reference ef_search, tcp.rs:397-398):
    widening probe_width grows the candidate set monotonically, so
    recall vs exact must be non-decreasing — and at width 1 the bucket
    predicate matches single-probe semantics."""
    model, vdf = ann_ops.build_lsh_index(emb, num_hash_tables=3, bucket_length=1.0)
    exact = exact_knn(emb, qvec, k=10)
    recalls = []
    for w in (1, 2, 4, 8):
        got = ann_ops.approx_knn_multiprobe(model, vdf, qvec, k=10, probe_width=w)
        assert got.count() <= 10
        recalls.append(ann_ops.recall_at_k(got, exact))
    assert all(b >= a for a, b in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] >= 0.9, recalls  # wide probe ~ brute force


def test_pq_batch_arrow_matches_expr(emb, pq):
    """The Arrow batch-ADC kernel must return, per query, exactly what
    the Catalyst single-query scorer (pq_search) returns (same rounded
    distances, same tiebreak ordering)."""
    books, enc = pq
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    a = ann_ops.pq_search_batch_arrow(enc, books, q, k=7)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(
        (r["query_id"], x["vec_id"], x["dist"])
        for r in q.collect()
        for x in ann_ops.pq_search(enc, books, r["query_vec"], k=7).collect()
    )
    assert ra == rb


def test_auto_nprobe_monotone_and_bounded(emb):
    """auto_nprobe (the recall-calibrated serving default, VERDICT r8
    #2) must return a value in [1, n_clusters], be non-decreasing in
    the recall target, and be deterministic for a fixed seed."""
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=8)
    assigned = assigned.cache()
    assigned.count()
    np80 = ann_ops.auto_nprobe(km, assigned, recall_target=0.8, k=10)
    np90 = ann_ops.auto_nprobe(km, assigned, recall_target=0.9, k=10)
    np99 = ann_ops.auto_nprobe(km, assigned, recall_target=0.99, k=10)
    assert 1 <= np80 <= np90 <= np99 <= 8
    assert np90 == ann_ops.auto_nprobe(km, assigned, recall_target=0.9, k=10)
    assigned.unpersist()


def test_auto_nprobe_registered_default_recall(spark, sf_dir, emb):
    """The REGISTERED IVF operating point (index_store.ivf_nprobe at
    recall_target=0.9, the one ann_ivf/ann_ivf_batch serve) must
    measure >= 0.9 recall@10 on held-out queries — a serving default
    under 0.9 is the wrong default (VERDICT r8 #2; the reference's ef
    knob, ann.rs:754-792, exists to buy recall and must default
    sanely)."""
    from vfs_spark.operators import index_store

    km, assigned, nprobe = index_store.ivf_nprobe(
        spark, emb, sf_dir, n_clusters=16, recall_target=0.9
    )
    assigned = assigned.cache()
    assigned.count()
    recalls = []
    for r in emb.where(F.col("vec_id") < 8).collect():
        ex = exact_knn(emb, r["embedding"], k=10)
        got = ann_ops.ivf_search(km, assigned, r["embedding"], k=10, nprobe=nprobe)
        recalls.append(ann_ops.recall_at_k(got, ex))
    assert sum(recalls) / len(recalls) >= 0.9, (nprobe, recalls)
    assigned.unpersist()


def test_ivfpq_single_arrow_matches_expr(emb, pq):
    """ivfpq_search (the Arrow ADC kernel on the routed cells) must
    return exactly what the Catalyst pieces compose to — pq_search's
    shortlist over the routed cells, then exact_knn over the
    shortlist's rows: same shortlist, same rounded distances, same
    (dist, id) ordering (VERDICT r8 #5)."""
    import numpy as np

    books, enc = pq
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=8)
    assigned_enc = assigned.select("vec_id", "cluster_id").join(enc, "vec_id")
    centers = np.stack([np.asarray(c) for c in km.clusterCenters()])
    for r in emb.where(F.col("vec_id") < 3).collect():
        qvec = r["embedding"]
        a = ann_ops.ivfpq_search(
            km, assigned_enc, emb, books, qvec, k=10, nprobe=4, shortlist=50
        ).collect()
        cells = np.argsort(((centers - np.asarray(qvec)) ** 2).sum(axis=1))[:4]
        routed = assigned_enc.where(F.col("cluster_id").isin(cells.tolist()))
        short = ann_ops.pq_search(routed, books, qvec, k=50).select("vec_id")
        e = exact_knn(emb.join(short, "vec_id"), qvec, k=10).collect()
        assert [(x["vec_id"], x["dist"]) for x in a] == [
            (x["vec_id"], x["dist"]) for x in e
        ], r["vec_id"]


def test_auto_nprobe_n_aware_dispatch_same_choice(emb):
    """r14 VERDICT #6: auto_nprobe's truth scan routes through the
    Arrow/BLAS kernel when the caller passes a big
    approx_vector_count — the kernel contract (byte-identical top-k
    to the expr form) must make the CHOSEN nprobe identical on both
    routes."""
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=8)
    base = ann_ops.auto_nprobe(km, assigned, recall_target=0.9, k=10)
    routed = ann_ops.auto_nprobe(
        km,
        assigned,
        recall_target=0.9,
        k=10,
        approx_vector_count=10_000_000,  # forces the kernel route
    )
    assert routed == base
