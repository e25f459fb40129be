"""The shared serving top-k (operators/knn.serve_topk): tie-heavy and
edge inputs for every batch kernel that runs it. Each batch form must
return, query by query, what its single-query form returns — ties
broken by id, NaN last, and a routing mask that leaves a query fewer
candidates than its shortlist."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from vfs_spark.operators import ann as ann_ops
from vfs_spark.operators import knn as knn_ops


def _by_query(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["vec_id"], r["dist"]))
    return out


def test_topk_matches_full_sort_on_ties_nan_and_masks():
    """The per-batch kernel against a full (dist, id) sort: integer
    distances tie everywhere, NaN rows must sort last and fill the k
    only when they have to, and masked rows never compete."""
    rng = np.random.default_rng(7)
    for _ in range(500):
        q, b, k = rng.integers(1, 4), rng.integers(1, 30), rng.integers(1, 10)
        ids = rng.permutation(1000)[:b].astype(np.int64)
        dist = rng.integers(0, 3, size=(q, b)).astype(float)
        dist[rng.random((q, b)) < 0.2] = np.nan
        allow = rng.random((q, b)) < 0.7 if rng.random() < 0.5 else None
        q_idx, rows = knn_ops._topk(dist, ids, k, allow)
        got = {int(a[0]): list(zip(ids[r].tolist(), dist[a[0], r].tolist()))
               for a, r in zip(q_idx, rows)}
        for qi in range(q):
            pos = np.arange(b) if allow is None else np.flatnonzero(allow[qi])
            key = np.nan_to_num(dist[qi, pos], nan=np.inf)
            want = pos[np.lexsort((ids[pos], key))][:k]
            expect = list(zip(ids[want].tolist(), dist[qi, want].tolist()))
            assert [(i, "nan" if math.isnan(d) else d) for i, d in got.get(qi, [])] == [
                (i, "nan" if math.isnan(d) else d) for i, d in expect
            ]


def test_pq_luts_and_router_match_their_loops():
    """The batched ADC tables and centroid router against the
    per-query loops they replaced: same arithmetic, so equal bits."""
    import types

    rng = np.random.default_rng(11)
    books = rng.normal(size=(16, 64, 4)).tolist()
    Q = rng.normal(size=(6, 64)) * rng.choice([1e-3, 1.0, 1e3], size=(6, 1))
    lut = ann_ops._pq_luts(books, Q)
    for qi, q in enumerate(Q):
        loop = [
            [float(((q[j * 4 : (j + 1) * 4] - np.asarray(c)) ** 2).sum()) for c in book]
            for j, book in enumerate(books)
        ]
        assert lut[qi].tolist() == loop
        assert ann_ops._pq_luts(books, [list(q)])[0].tolist() == loop

    centers = rng.normal(size=(16, 64))
    centers[5] = centers[9] = centers[3]  # tied centroids
    km = types.SimpleNamespace(_vfs_centers_np=centers)
    Q[2] = centers[3]
    routed = ann_ops._route(km, Q, 6)
    for qi, q in enumerate(Q):
        loop = np.argsort(((centers - q) ** 2).sum(axis=1))[:6]
        assert routed[qi].tolist() == loop.tolist()


@pytest.fixture(scope="module")
def tied(spark):
    """40 rows that are copies of 4 distinct 8-d vectors, in ONE
    partition: every distance ties with 9 others, far more than k."""
    rng = np.random.default_rng(3)
    base = rng.normal(size=(4, 8)).round(2)
    rows = [(i, [float(x) for x in base[i % 4]], 0) for i in range(40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1)
    books = ann_ops.fit_pq_codebooks(emb, m=4, k=4)
    enc = ann_ops.encode_pq_arrow(emb, books).cache()
    km, assigned = ann_ops.build_ivf_index(emb, n_clusters=2)
    assigned_enc = (
        assigned.select("vec_id", "cluster_id").join(enc, "vec_id").coalesce(1).cache()
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    yield emb, books, enc, km, assigned_enc, queries
    enc.unpersist()
    assigned_enc.unpersist()


def test_pq_batch_arrow_ties_match_single(tied):
    emb, books, enc, _, _, queries = tied
    batch = _by_query(ann_ops.pq_search_batch_arrow(enc, books, queries, k=7).collect())
    for r in queries.collect():
        single = [
            (x["vec_id"], x["dist"])
            for x in ann_ops.pq_search(enc, books, r["query_vec"], k=7).collect()
        ]
        assert batch[r["query_id"]] == single, r["query_id"]
        # the smallest ids win among the ties
        assert [i for i, _ in single[:7]] == sorted(i for i, _ in single[:7])


def test_ivfpq_batch_ties_match_single(tied):
    emb, books, _, km, assigned_enc, queries = tied
    batch = _by_query(
        ann_ops.ivfpq_search_batch(
            km, assigned_enc, emb, books, queries, k=5, nprobe=1, shortlist=6
        ).collect()
    )
    for r in queries.collect():
        single = [
            (x["vec_id"], x["dist"])
            for x in ann_ops.ivfpq_search(
                km, assigned_enc, emb, books, r["query_vec"], k=5, nprobe=1, shortlist=6
            ).collect()
        ]
        assert batch[r["query_id"]] == single, r["query_id"]


def test_ivfpq_batch_fewer_routed_than_shortlist(tied):
    """A shortlist longer than the routed cells hold: every routed row
    is a candidate, no unrouted row leaks in through the mask."""
    emb, books, _, km, assigned_enc, queries = tied
    batch = _by_query(
        ann_ops.ivfpq_search_batch(
            km, assigned_enc, emb, books, queries, k=50, nprobe=1, shortlist=1000
        ).collect()
    )
    cell_of = {r["vec_id"]: r["cluster_id"] for r in assigned_enc.collect()}
    for r in queries.collect():
        single = [
            (x["vec_id"], x["dist"])
            for x in ann_ops.ivfpq_search(
                km, assigned_enc, emb, books, r["query_vec"],
                k=50, nprobe=1, shortlist=1000,
            ).collect()
        ]
        got = batch[r["query_id"]]
        assert got == single, r["query_id"]
        cell = cell_of[r["query_id"]]
        assert {i for i, _ in got} == {i for i, c in cell_of.items() if c == cell}


def test_knn_batch_arrow_cosine_zero_norm_rows_rank_last(spark):
    """More zero-norm rows than the k leaves room for: the kernel's NaN
    distances (NULL once they leave it, as pandas NaN does) rank after
    every real one, by id, as knn_batch's NULLs do."""
    rows = [(i, [0.0, 0.0], 0) for i in (1, 3, 5, 7)] + [
        (2, [1.0, 0.0], 0),
        (4, [1.0, 1.0], 0),
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1)
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    arrow = knn_ops.knn_batch_arrow(vecs, queries, k=4, metric="cosine").collect()
    expr = knn_ops.knn_batch(vecs, queries, k=4, metric="cosine").collect()
    assert [r["vec_id"] for r in arrow] == [r["vec_id"] for r in expr] == [2, 4, 1, 3]
    assert [tuple(r) for r in arrow] == [tuple(r) for r in expr]
    assert [r["dist"] is None for r in arrow] == [False, False, True, True]
