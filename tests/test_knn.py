import pytest
from pyspark.sql import functions as F

from vfs_spark.operators.knn import exact_knn, hydrate, knn_batch, topk_truncate


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [0.0, 0.0], 0),
        (2, [1.0, 0.0], 0),
        (3, [0.0, 2.0], 1),
        (4, [3.0, 3.0], 1),
        (5, [1.0, 0.0], 0),  # tie with id 2 at distance 1 from origin
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_exact_knn_order_and_ties(vecs):
    got = exact_knn(vecs, [0.0, 0.0], k=3).collect()
    # ties broken by id asc (SURVEY Q8)
    assert [(r["vec_id"], r["dist"]) for r in got] == [
        (1, 0.0),
        (2, 1.0),
        (5, 1.0),
    ]


def test_default_k_is_5(vecs):
    assert exact_knn(vecs, [0.0, 0.0]).count() == 5  # rank.rs:129 default


def test_knn_batch_matches_per_query(vecs):
    queries = vecs.where(F.col("vec_id") <= 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = knn_batch(vecs, queries, k=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    for qid, emb in [(1, [0.0, 0.0]), (2, [1.0, 0.0])]:
        expect = [r["vec_id"] for r in exact_knn(vecs, emb, k=2).collect()]
        assert by_q[qid] == expect


def test_hydrate_attaches_full_rows(vecs):
    hits = exact_knn(vecs, [0.0, 0.0], k=2)
    out = hydrate(hits, vecs)
    assert set(out.columns) == {"vec_id", "embedding", "label", "dist"}
    assert out.count() == 2


def test_topk_truncate(vecs):
    scored = vecs.select("vec_id", F.lit(1.0).alias("dist"))
    assert topk_truncate(scored, k=3).count() == 3


def test_knn_batch_arrow_matches_expression_path(spark, sf_dir):
    from pyspark.sql import functions as F
    from vfs_spark.operators.knn import knn_batch, knn_batch_arrow
    from vfs_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = {
        (r.query_id, r.vec_id, r.dist)
        for r in knn_batch(emb, queries, k=5).collect()
    }
    b = {
        (r.query_id, r.vec_id, r.dist)
        for r in knn_batch_arrow(emb, queries, k=5).collect()
    }
    assert a == b


def test_zero_norm_vector_ranks_last_cosine(spark):
    """A stored all-zeros vector (legal insert) has NULL cosine
    distance — it must rank LAST (asc_nulls_last), not first, and the
    expression and Arrow paths must agree on the returned ids."""
    from vfs_spark.operators.knn import knn_batch_arrow

    rows = [
        (1, [0.0, 0.0], 0),  # zero-norm: NULL (expr) / NaN (arrow)
        (2, [1.0, 0.0], 0),
        (3, [0.0, 1.0], 0),
        (4, [1.0, 1.0], 0),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = exact_knn(vecs, [1.0, 0.0], k=3, metric="cosine").collect()
    assert [r["vec_id"] for r in got] == [2, 4, 3]  # not 1 first

    queries = vecs.where(F.col("vec_id") == 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    expr_ids = [r.vec_id for r in knn_batch(vecs, queries, k=3, metric="cosine").collect()]
    arrow_ids = [r.vec_id for r in knn_batch_arrow(vecs, queries, k=3, metric="cosine").collect()]
    assert expr_ids == arrow_ids == [2, 4, 3]


def test_knn_batch_arrow_deterministic_ties(spark):
    """Duplicate vectors tied at the k-th distance: the Arrow kernel's
    per-partition truncation must keep the SMALLEST ids among ties
    (matching knn_batch / the oracle), regardless of argpartition's
    arbitrary internal order."""
    from vfs_spark.operators.knn import knn_batch_arrow

    # 20 identical vectors at distance 1, one exact hit: ties everywhere
    rows = [(0, [0.0, 0.0], 0)] + [(i, [1.0, 0.0], 0) for i in range(1, 21)]
    vecs = (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        .repartition(4)  # force multiple partitions -> per-partition top-k
    )
    queries = spark.createDataFrame(
        [(100, [0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    a = [(r.vec_id, r.dist) for r in knn_batch(vecs, queries, k=5).collect()]
    b = [(r.vec_id, r.dist) for r in knn_batch_arrow(vecs, queries, k=5).collect()]
    assert a == b
    assert [x[0] for x in b] == [0, 1, 2, 3, 4]  # smallest ids among ties


def test_knn_batch_arrow_cosine_matches_expression(spark, sf_dir):
    from pyspark.sql import functions as F
    from vfs_spark.operators.knn import knn_batch, knn_batch_arrow
    from vfs_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = {
        (r.query_id, r.vec_id, r.dist)
        for r in knn_batch(emb, queries, k=5, metric="cosine").collect()
    }
    b = {
        (r.query_id, r.vec_id, r.dist)
        for r in knn_batch_arrow(emb, queries, k=5, metric="cosine").collect()
    }
    assert a == b


def test_knn_batch_auto_dispatch_and_equality(spark, sf_dir):
    """The serving default (r12): below KNN_BATCH_ARROW_MIN_QUERIES
    the dispatcher returns the Catalyst broadcast-join plan (no
    Python eval node); at/above it, the Arrow kernel plan (MapInPandas
    present). Output equals knn_batch on both sides of the threshold."""
    from pyspark.sql import functions as F
    from vfs_spark.operators.knn import (
        KNN_BATCH_ARROW_MIN_QUERIES,
        knn_batch,
        knn_batch_auto,
    )
    from vfs_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def q(n):
        return emb.where(F.col("vec_id") < n).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

    small = KNN_BATCH_ARROW_MIN_QUERIES - 1
    big = KNN_BATCH_ARROW_MIN_QUERIES
    df_small = knn_batch_auto(emb, q(small), k=3)
    df_big = knn_batch_auto(emb, q(big), k=3)
    plan_small = df_small._jdf.queryExecution().executedPlan().toString()
    plan_big = df_big._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan_small  # Catalyst form below
    assert "MapInPandas" in plan_big  # Arrow kernel at/above
    for n, got_df in ((small, df_small), (big, df_big)):
        want = {
            (r.query_id, r.vec_id, r.dist)
            for r in knn_batch(emb, q(n), k=3).collect()
        }
        got = {(r.query_id, r.vec_id, r.dist) for r in got_df.collect()}
        assert got == want


def test_engine_search_batch_routes_auto(spark, tmp_path):
    """The engine facade's batch verb produces exact per-query top-k
    with positional query ids, for batches on either side of the
    dispatch threshold."""
    from vfs_spark.engine import VFSEngine

    eng = VFSEngine(spark, str(tmp_path / "store"))
    eng.init(vector_dimension=2)
    eng.insert([[float(i), float(i)] for i in range(20)])
    for nq in (2, 6):
        res = eng.search_batch(
            [[float(j + 1), float(j + 1)] for j in range(nq)], top_k=1
        ).collect()
        assert len(res) == nq
        for r in res:
            # ids are dense from 1 over vectors [i, i] for i in 0..19,
            # so query j's vector [j+1, j+1] is exactly the row with
            # id j+2
            assert r.id == r.query_id + 2


def test_knn_batch_auto_n_axis_escape_hatch(spark, sf_dir):
    """r12 verdict #8: a tiny batch against a store the caller knows
    is huge must route to the Arrow kernel (the expr form's rank
    window shuffles N·|Q| distance rows — 36x worse at the measured
    1M-vector point), while the same tiny batch with no size hint —
    or a small one — keeps the Catalyst form. Output identical on
    both routes."""
    from pyspark.sql import functions as F
    from vfs_spark.operators.knn import (
        KNN_BATCH_ARROW_MIN_VECTORS,
        knn_batch,
        knn_batch_auto,
    )
    from vfs_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    hinted = knn_batch_auto(
        emb, q, k=3, approx_vector_count=KNN_BATCH_ARROW_MIN_VECTORS
    )
    unhinted = knn_batch_auto(emb, q, k=3)
    small_hint = knn_batch_auto(
        emb, q, k=3, approx_vector_count=KNN_BATCH_ARROW_MIN_VECTORS - 1
    )
    assert "MapInPandas" in (
        hinted._jdf.queryExecution().executedPlan().toString()
    )
    for df in (unhinted, small_hint):
        assert "MapInPandas" not in (
            df._jdf.queryExecution().executedPlan().toString()
        )
    want = {
        (r.query_id, r.vec_id, r.dist)
        for r in knn_batch(emb, q, k=3).collect()
    }
    for df in (hinted, unhinted, small_hint):
        got = {(r.query_id, r.vec_id, r.dist) for r in df.collect()}
        assert got == want


def test_engine_footer_count_cached_and_invalidated(spark, tmp_path):
    """engine.approx_vector_count reads Parquet footers (exact),
    caches, and refreshes after a store mutation."""
    from vfs_spark.engine import VFSEngine

    eng = VFSEngine(spark, str(tmp_path / "store"))
    eng.init(vector_dimension=2)
    assert eng.approx_vector_count() is None  # empty store
    eng.insert([[1.0, 2.0], [3.0, 4.0]])
    assert eng.approx_vector_count() == 2
    eng.insert([[5.0, 6.0]])
    assert eng.approx_vector_count() == 3  # insert invalidated cache
    eng.delete([1])
    assert eng.approx_vector_count() == 2


def test_knn_batch_empty_queries_every_route(spark, sf_dir, tmp_path):
    """An empty query batch — a DataFrame with custom column names or
    an empty list — returns an empty result with the output schema on
    both dispatch routes and from the kernel directly."""
    from pyspark.sql import functions as F
    from vfs_spark.engine import VFSEngine
    from vfs_spark.operators.knn import (
        KNN_BATCH_ARROW_MIN_VECTORS,
        knn_batch_arrow,
        knn_batch_auto,
    )
    from vfs_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    empty_df = emb.where(F.lit(False)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cols = dict(query_id_col="qid", query_vec_col="qv")
    for queries in (empty_df, []):
        results = [knn_batch_arrow(emb, queries, k=3, **cols)]
        for hint in (None, KNN_BATCH_ARROW_MIN_VECTORS):
            results.append(
                knn_batch_auto(emb, queries, k=3, approx_vector_count=hint, **cols)
            )
        for df in results:
            assert df.columns == ["qid", "vec_id", "dist"]
            assert df.collect() == []

    eng = VFSEngine(spark, str(tmp_path / "store"))
    eng.init(vector_dimension=2)
    eng.insert([[1.0, 2.0], [3.0, 4.0]])
    assert eng.search_batch([]).collect() == []


def test_knn_batch_auto_list_equals_dataframe(spark, sf_dir):
    """A pre-collected (id, vec) list is the same batch as the query
    DataFrame it came from, on both dispatch routes."""
    from pyspark.sql import functions as F
    from vfs_spark.operators.knn import KNN_BATCH_ARROW_MIN_QUERIES, knn_batch_auto
    from vfs_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    for n in (KNN_BATCH_ARROW_MIN_QUERIES - 1, KNN_BATCH_ARROW_MIN_QUERIES):
        qdf = emb.where(F.col("vec_id") < n).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        qlist = [(r[0], [float(x) for x in r[1]]) for r in qdf.collect()]
        want = {tuple(r) for r in knn_batch_auto(emb, qdf, k=3).collect()}
        got = {tuple(r) for r in knn_batch_auto(emb, qlist, k=3).collect()}
        assert got == want and len(got) == 3 * len(qlist)
