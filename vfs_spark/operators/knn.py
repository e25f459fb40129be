"""Exact k-NN, the top-k every search operator shares, and result
hydration.

Reference: ``exact_search`` (rank.rs:119-186) loops batched scans,
computes a distance per vector, sorts, truncates to k with a
running-worst bound — i.e. a hand-rolled distributed-top-k. In Spark
the whole thing is one declarative plan::

    scan → project(distance expr) → orderBy(dist).limit(k)

which Catalyst executes as ``TakeOrderedAndProject``: a per-partition
bounded heap + single merge on the driver — strictly better than the
reference's sort-whole-buffer-per-batch, and it scales out (each of
1000 executors keeps only k candidates; the shuffle moves k·partitions
rows, not N).

The exact, IVF, PQ and IVFPQ operators (here and in operators/ann.py)
end in one of three shared pieces: ``topk_truncate`` for one query,
``rank_per_query`` (a row_number window per query id) for a batch, and
``serve_topk`` — the NumPy kernel that keeps a local top-k per Arrow
batch before ``rank_per_query`` merges them — for the batch kernels.

Determinism: ties broken by id ascending (SURVEY Q8 — the reference's
tie order is arrival order). Distances are rounded to DIST_DIGITS
BEFORE ordering so the Spark plan and the DuckDB oracle pick identical
boundary rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vfs_spark.functions.distance import Operand, cosine_distance, euclidean

DEFAULT_K = 5  # reference default result_limit (rank.rs:129)

# Every distance a search operator returns is rounded to this many
# decimals BEFORE ordering, so the Spark plans, the NumPy kernels and
# the DuckDB oracles pick identical boundary rows.
DIST_DIGITS = 6

# Ceiling on driver-side query-batch materialization in the serving
# kernels (knn_batch_arrow, ivf/pq batch search). 10k × dim-1024 float64
# ≈ 80 MB — comfortably broadcastable; anything bigger belongs on the
# join-form path, not the driver.
MAX_SERVING_BATCH = 10_000

_METRICS = {"euclidean": euclidean, "cosine": cosine_distance}


def collect_serving_batch(
    queries: DataFrame | list, query_id_col: str, query_vec_col: str
) -> list:
    """Materialize a SERVING batch of query vectors on the driver.

    The batch kernels ship the whole query set to every worker (BLAS
    matrices / broadcast ADC tables), so |Q| must stay serving-sized —
    the contract every call site documents. This guard ENFORCES it:
    `limit(cap+1)` means an oversized DataFrame is never materialized
    (the old failure mode was a silent driver OOM), and the error
    names the join-form operators as the overflow path for bulk
    workloads. ``queries`` may also be pre-collected (id, vec) pairs —
    serving paths that already hold the query on the driver skip a
    createDataFrame/collect round trip — and the cap holds the same."""
    cap = MAX_SERVING_BATCH
    rows = (
        queries
        if isinstance(queries, list)
        else queries.select(query_id_col, query_vec_col).limit(cap + 1).collect()
    )
    if len(rows) > cap:
        raise ValueError(
            f"serving batch exceeds MAX_SERVING_BATCH={cap}: batch ANN "
            "kernels broadcast the full query set to every executor, so "
            "they are for serving-sized batches only. For bulk query "
            "workloads use the join-form operators (knn_batch / "
            "approx_knn_join / similarity_join), which scale out instead "
            "of collecting."
        )
    return rows


def query_matrix(qrows: list):
    """(query ids as int64, queries as one (q × d) float64 matrix) of a
    collected serving batch."""
    import numpy as np

    qids = np.asarray([int(r[0]) for r in qrows], dtype=np.int64)
    return qids, np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])


def serving_schema(query_id_col: str, id_col: str) -> str:
    """The output schema of every batch search: (query id, id, dist)."""
    return f"{query_id_col} long, {id_col} long, dist double"


def distance_col(metric: str, vec_col: str, query: Operand) -> Column:
    """The ``dist`` column of an exact search, rounded to DIST_DIGITS.
    `+ 0.0` maps IEEE -0.0 (round of a tiny negative) to +0.0 so the
    value hash matches the oracle; NULL (zero-norm cosine, dim
    mismatch) ranks LAST in every tail, as knn_batch_arrow's NaN does."""
    try:
        fn = _METRICS[metric]
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; pick from {sorted(_METRICS)}")
    return (F.round(fn(vec_col, query), DIST_DIGITS) + F.lit(0.0)).alias("dist")


def topk_truncate(
    scored: DataFrame, k: int = DEFAULT_K, dist_col: str = "dist", id_col: str = "vec_id"
) -> DataFrame:
    """Sort by distance asc, keep k (rank.rs:170-178): the tail of the
    single-query searches, which Catalyst runs as TakeOrderedAndProject
    (a per-partition bounded heap + one merge)."""
    return scored.orderBy(
        F.col(dist_col).asc_nulls_last(), F.col(id_col).asc()
    ).limit(k)


def rank_per_query(
    scored: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """The tail of every batch search: per query, the k rows first in
    (dist asc nulls last, id asc) order — a row_number window
    partitioned by query id, so only scored rows shuffle."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= k)
        .drop("_rank")
    )


def _topk(dist, ids, k: int, allow=None):
    """(query index, row index) pairs of each query's k smallest
    (dist, id) rows in one batch; ``dist`` is (q × b). argpartition is
    O(b) but picks arbitrarily among rows tied at the k-th distance, so
    the whole boundary tie group is re-ranked by (dist, id) — NaN sorts
    last, and when NaNs must fill the k every row competes. ``allow``
    (q × b bool) keeps a query's masked-out rows from competing at all:
    a query with fewer allowed rows than k returns just those."""
    import numpy as np

    q_idx, rows = [], []
    for qi, col in enumerate(dist):
        pos = None if allow is None else np.flatnonzero(allow[qi])
        c = col if pos is None else col[pos]
        m = min(k, len(c))
        if m == 0:
            continue
        kth = c[np.argpartition(c, m - 1)[:m]].max()
        cand = np.arange(len(c)) if np.isnan(kth) else np.flatnonzero(c <= kth)
        if pos is not None:
            cand = pos[cand]
        rows.append(cand[np.lexsort((ids[cand], col[cand]))[:m]])
        q_idx.append(np.full(m, qi))
    return q_idx, rows


def serve_topk(
    frame: DataFrame,
    score,
    qids,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """The one batch serving kernel (knn_batch_arrow, the PQ and IVFPQ
    batch searches): a local top-k per partition, then one merge
    (REPOSE's distributed top-k). Per Arrow batch of ``frame``,
    ``score(pdf)`` gives the (q × b) rounded distance matrix of the
    batch against the queries ``qids`` and an optional (q × b) allow
    mask; only each query's k best rows leave the kernel, so the
    shuffle carries k·|Q|·batches rows, and rank_per_query merges
    them."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            dist, allow = score(pdf)
            ids = pdf[id_col].to_numpy()
            q_idx, rows = _topk(dist, ids, k, allow)
            if not rows:
                continue
            q_idx, rows = np.concatenate(q_idx), np.concatenate(rows)
            yield pd.DataFrame(
                {
                    query_id_col: qids[q_idx],
                    id_col: ids[rows],
                    "dist": dist[q_idx, rows],
                }
            )

    partial = frame.mapInPandas(kernel, serving_schema(query_id_col, id_col))
    return rank_per_query(partial, k, query_id_col, id_col)


def exact_knn(
    vectors: DataFrame,
    query: Sequence[float],
    k: int = DEFAULT_K,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest neighbors of one query vector (rank.rs:119-186 +
    truncate rank.rs:170-178). Returns (id, dist) rows ordered by
    (dist asc, id asc)."""
    return topk_truncate(
        vectors.select(F.col(id_col), distance_col(metric, vec_col, query)),
        k,
        id_col=id_col,
    )


def knn_batch(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = DEFAULT_K,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k per query for a whole DataFrame of query vectors — the
    many-queries form the reference serves one HTTP request at a time.

    Plan shape: broadcast the (small) query set against the (huge)
    vector set → per-(query, vector) distance → per-query top-k via a
    rank window partitioned by query_id. The broadcast avoids
    shuffling the N-row vector table; the window shuffles only
    N·Q/|partitions| distance rows, and at scale you bound that by
    pre-filtering with an ANN index (operators/ann.py)."""
    joined = vectors.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        distance_col(metric, vec_col, query_vec_col),
    )
    return rank_per_query(scored, k, query_id_col, id_col)


def hydrate(results: DataFrame, vectors: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Re-attach full vector rows to (id, dist) hits (tcp.rs:408-427).
    The reference does one point lookup per hit; here it's a single
    broadcast hash join (results side is ≤k rows → broadcast it, the
    big vector table never moves)."""
    return vectors.join(F.broadcast(results), on=id_col, how="inner")


def knn_batch_arrow(
    vectors: DataFrame,
    queries: DataFrame | list,
    k: int = DEFAULT_K,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch exact k-NN, the 100×-scale path: one BLAS matmul per Arrow
    batch + per-partition top-k BEFORE any shuffle (serve_topk).

    Why it exists: the expression form (`knn_batch`) pays two scale
    taxes — zip_with/aggregate distances are interpreted (higher-order
    functions sit outside whole-stage codegen, ~1µs·N·Q), and the
    rank window shuffles ALL N·Q distance rows into only Q partitions.
    Here each input partition emits just k rows per query (top-k of a
    (batch × Q) distance matrix from the gram-trick matmul), so the
    shuffle carries k·Q·partitions rows and the flops run in BLAS.
    Measured at 2M×64 vectors × 100 queries: 276s → single-digit
    seconds. Results are identical to `knn_batch` (same rounding, same
    id tiebreak). ``queries`` is a DataFrame or a pre-collected list of
    (id, vec) pairs (see collect_serving_batch); an empty batch returns
    an empty result with the output schema."""
    import numpy as np

    qrows = collect_serving_batch(queries, query_id_col, query_vec_col)
    if not qrows:
        return vectors.sparkSession.createDataFrame(
            [], serving_schema(query_id_col, id_col)
        )
    qids, Q = query_matrix(qrows)  # (q, d)
    q_sq = (Q * Q).sum(axis=1)  # (q,)
    q_nrm = np.sqrt(q_sq)  # (q,)

    def score(pdf):
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (b, d)
        if metric == "cosine":
            # 1 - dot/(|x||q|); zero-norm rows -> NaN -> sort last
            x_nrm = np.sqrt((X * X).sum(axis=1))  # (b,)
            with np.errstate(divide="ignore", invalid="ignore"):
                dist = 1.0 - (X @ Q.T) / (x_nrm[:, None] * q_nrm[None, :])
        else:
            dist = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ Q.T) + q_sq[None, :]
            np.maximum(dist, 0.0, out=dist)
            np.sqrt(dist, out=dist)
        # (q, b); +0.0 kills -0.0
        return (np.round(dist, DIST_DIGITS) + 0.0).T, None

    return serve_topk(
        vectors.select(id_col, vec_col), score, qids, k, query_id_col, id_col
    )


# Below this many queries the Catalyst broadcast-join form wins: the
# Arrow kernel pays a fixed Python-worker round trip (Arrow
# serialize + process hop) that the JVM expression path doesn't,
# while its BLAS advantage grows with |Q| (the matmul amortizes the
# per-row overhead across query columns). Measured crossover at
# sf0.1 / 64-dim (NOTES.md round-12 table): expression wins at
# |Q|=1-2, statistically tied by |Q|≈5, kernel ahead 1.4-2x at
# |Q|≥25 and ~25x at 2M vectors (tools/stress.py). The threshold
# sits at the tie point — below it the kernel has nothing to
# amortize; above it the kernel's advantage compounds with both |Q|
# and N, so a too-low threshold is the safe error side at scale.
KNN_BATCH_ARROW_MIN_QUERIES = 5

# N-axis escape hatch (r12 VERDICT task #8): the |Q| threshold alone
# is blind to store size, and the crossover table (NOTES.md r12) puts
# the REAL crossover in N — at 1M vectors the kernel wins at every
# batch size including |Q|=1 (0.78 s vs 0.96 s), and the expr form
# degrades to 36x worse at |Q|=100 because its rank window shuffles
# all N·|Q| distance rows. When the caller can supply a store size
# (Parquet footer row counts are metadata-only and nearly free —
# sources/parquet.parquet_row_count), any N at or above this routes
# to the kernel regardless of |Q|. 100k sits well below the measured
# 1M kernel-wins-everywhere point and well above the 6k
# expr-wins-small-batches point; in the uncertain middle both forms
# are ~sub-second, and the kernel is the safe error side because its
# cost is flat in |Q| while the expr form's grows.
KNN_BATCH_ARROW_MIN_VECTORS = 100_000


def knn_batch_auto(
    vectors: DataFrame,
    queries: DataFrame | list,
    k: int = DEFAULT_K,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    approx_vector_count: int | None = None,
) -> DataFrame:
    """Batch exact k-NN with the serving default picked by batch
    size (r11 verdict #7): the Arrow/BLAS kernel above
    KNN_BATCH_ARROW_MIN_QUERIES, the Catalyst broadcast-join form
    below it. Both produce identical output (same rounding, same id
    tiebreak — the kernel's contract), so the dispatch is purely a
    cost decision. The size probe is the capped limit-collect of the
    tiny query side, and its rows are what the kernel consumes, so the
    queries are collected once and the vector table is never probed.
    ``queries`` may also be a pre-collected list of (id, vec) pairs —
    what a serving caller already holds — which costs no job at all;
    a query DataFrame is built from it only for the small-|Q| join form.

    ``approx_vector_count`` is the N-axis escape hatch (r12 verdict
    #8): the operator itself deliberately never probes the vector
    side (it may be an arbitrary plan, not a table), but a caller
    that KNOWS the store size — engine.search_batch reads it from
    Parquet footers for pennies — passes it here, and any N ≥
    KNN_BATCH_ARROW_MIN_VECTORS routes tiny batches to the kernel
    too, where the expr form is measured up to 36x worse (NOTES.md
    crossover table). Left None, dispatch is |Q|-only, and serving a
    tiny-|Q|/huge-N workload EXACTLY should instead route to the IVF
    path (ann_ivf_partitioned / engine.search) whose partition-pruned
    plan is the real small-batch answer at scale."""
    qrows = collect_serving_batch(queries, query_id_col, query_vec_col)
    n_big = (
        approx_vector_count is not None
        and approx_vector_count >= KNN_BATCH_ARROW_MIN_VECTORS
    )
    if len(qrows) < KNN_BATCH_ARROW_MIN_QUERIES and not n_big:
        if isinstance(queries, list):
            queries = vectors.sparkSession.createDataFrame(
                qrows, f"{query_id_col} long, {query_vec_col} array<double>"
            )
        return knn_batch(
            vectors,
            queries,
            k=k,
            metric=metric,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )
    return knn_batch_arrow(
        vectors,
        qrows,
        k=k,
        metric=metric,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    )
