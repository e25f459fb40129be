"""Exact k-NN, top-k truncation, and result hydration.

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

Determinism: ties broken by id ascending (SURVEY Q8 — the reference's
tie order is arrival order). Distances are rounded BEFORE ordering so
the Spark plan and the DuckDB oracle pick identical boundary rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vfs_spark.functions.distance import Operand, cosine_distance, euclidean

DEFAULT_K = 5  # reference default result_limit (rank.rs:129)

# Ceiling on driver-side query-batch materialization in the serving
# kernels (knn_batch_arrow, ivf/pq batch search). 10k × dim-1024 float64
# ≈ 80 MB — comfortably broadcastable; anything bigger belongs on the
# join-form path, not the driver.
MAX_SERVING_BATCH = 10_000

_METRICS = {"euclidean": euclidean, "cosine": cosine_distance}


def collect_serving_batch(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    max_queries: int | None = None,
) -> list:
    """Materialize a SERVING batch of query vectors on the driver.

    The batch kernels ship the whole query set to every worker (BLAS
    matrices / broadcast ADC tables), so |Q| must stay serving-sized —
    the contract every call site documents. This guard ENFORCES it:
    `limit(cap+1)` means an oversized DataFrame is never materialized
    (the old failure mode was a silent driver OOM), and the error
    names the join-form twin (`knn_batch` / `ivf_search` per query /
    `pq_search_batch`'s broadcast-join shape) as the overflow path for
    bulk workloads."""
    cap = MAX_SERVING_BATCH if max_queries is None else int(max_queries)
    if isinstance(queries, list):
        # pre-collected (id, vec) pairs — serving paths that already
        # hold the query on the driver skip a createDataFrame/collect
        # round trip (r16); the cap contract is enforced identically
        if len(queries) > cap:
            raise ValueError(
                f"serving batch exceeds max_queries={cap}: batch ANN "
                "kernels broadcast the full query set to every "
                "executor — use the join-form twin for bulk workloads."
            )
        return queries
    qrows = queries.select(query_id_col, query_vec_col).limit(cap + 1).collect()
    if len(qrows) > cap:
        raise ValueError(
            f"serving batch exceeds max_queries={cap}: batch ANN kernels "
            "broadcast the full query set to every executor, so they are "
            "for serving-sized batches only. For bulk query workloads use "
            "the join-form twin (knn_batch / approx_knn_join / "
            "similarity_join), which scales out instead of collecting."
        )
    return qrows


def distance_col(metric: str, vec_col: str, query: Operand) -> Column:
    try:
        fn = _METRICS[metric]
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; pick from {sorted(_METRICS)}")
    return fn(vec_col, query)


def exact_knn(
    vectors: DataFrame,
    query: Sequence[float],
    k: int = DEFAULT_K,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Top-k nearest neighbors of one query vector (rank.rs:119-186 +
    truncate rank.rs:170-178). Returns (id, dist) rows ordered by
    (dist asc, id asc)."""
    # `+ 0.0` maps IEEE -0.0 (round of a tiny negative) to +0.0 so the
    # value hash matches the oracle; nulls (zero-norm cosine, dim
    # mismatch) rank LAST, consistent with knn_batch_arrow's NaN.
    dist = (
        F.round(distance_col(metric, vec_col, query), round_digits) + F.lit(0.0)
    ).alias("dist")
    return (
        vectors.select(F.col(id_col), dist)
        .orderBy(F.col("dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
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
    round_digits: int = 6,
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
    dist = (
        F.round(distance_col(metric, vec_col, query_vec_col), round_digits)
        + F.lit(0.0)
    ).alias("dist")
    ranked = joined.select(F.col(query_id_col), F.col(id_col), dist).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(query_id_col).orderBy(
                F.col("dist").asc_nulls_last(), F.col(id_col).asc()
            )
        ),
    )
    return ranked.where(F.col("rank") <= k).drop("rank")


def topk_truncate(
    scored: DataFrame, k: int = DEFAULT_K, dist_col: str = "dist", id_col: str = "vec_id"
) -> DataFrame:
    """Sort by distance asc, keep k (rank.rs:170-178) — exposed as its
    own operator for parity with the reference's inline truncation."""
    return scored.orderBy(
        F.col(dist_col).asc_nulls_last(), F.col(id_col).asc()
    ).limit(k)


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
    round_digits: int = 6,
    max_queries: int | None = None,
) -> DataFrame:
    """Batch exact k-NN, the 100×-scale path (euclidean): one BLAS
    matmul per Arrow batch + per-partition top-k BEFORE any shuffle.

    Why it exists: the expression form (`knn_batch`) pays two scale
    taxes — zip_with/aggregate distances are interpreted (higher-order
    functions sit outside whole-stage codegen, ~1µs·N·Q), and the
    rank window shuffles ALL N·Q distance rows into only Q partitions.
    Here each input partition emits just k rows per query (argpartition
    on a (batch × Q) distance matrix from the gram-trick matmul), so
    the shuffle carries k·Q·partitions rows and the flops run in BLAS.
    Measured at 2M×64 vectors × 100 queries: 276s → single-digit
    seconds. Results are identical to `knn_batch` (same rounding, same
    id tiebreak). ``queries`` is a DataFrame or a pre-collected list of
    (id, vec) pairs (see collect_serving_batch); an empty batch returns
    an empty result with the output schema."""
    import numpy as np
    import pandas as pd

    out_schema = f"{query_id_col} long, {id_col} long, dist double"
    qrows = collect_serving_batch(queries, query_id_col, query_vec_col, max_queries)
    if not qrows:
        return vectors.sparkSession.createDataFrame([], out_schema)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])  # (q, d)
    q_sq = (Q * Q).sum(axis=1)  # (q,)
    q_nrm = np.sqrt(q_sq)  # (q,)

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (b, d)
            ids = pdf[id_col].to_numpy()
            if metric == "cosine":
                # 1 - dot/(|x||q|); zero-norm rows -> NaN -> sort last
                x_nrm = np.sqrt((X * X).sum(axis=1))  # (b,)
                with np.errstate(divide="ignore", invalid="ignore"):
                    dist = 1.0 - (X @ Q.T) / (x_nrm[:, None] * q_nrm[None, :])
            else:
                dist = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ Q.T) + q_sq[None, :]
                np.maximum(dist, 0.0, out=dist)
                np.sqrt(dist, out=dist)
            dist = np.round(dist, round_digits) + 0.0  # (b, q); +0.0 kills -0.0
            m = min(k, len(ids))
            # Deterministic (dist, id) tiebreak: argpartition alone picks
            # arbitrarily among rows tied at the k-th distance, which can
            # drop a tied row with a smaller id. Re-rank the boundary tie
            # group per query column so output matches knn_batch exactly.
            out_ids = np.empty((len(qids), m), dtype=ids.dtype)
            out_dist = np.empty((len(qids), m), dtype=np.float64)
            for j in range(len(qids)):
                col = dist[:, j]
                part = np.argpartition(col, m - 1)[:m]  # O(b), arbitrary ties
                kth = col[part].max()  # NaN only if partition had to take NaNs
                cand = (
                    np.arange(len(ids))
                    if np.isnan(kth)
                    else np.flatnonzero(col <= kth)  # all boundary ties included
                )
                order = np.lexsort((ids[cand], col[cand]))[:m]  # NaN sorts last
                sel = cand[order]
                out_ids[j] = ids[sel]
                out_dist[j] = col[sel]
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(qids, m),
                    id_col: out_ids.ravel(),
                    "dist": out_dist.ravel(),
                }
            )

    partial = vectors.select(id_col, vec_col).mapInPandas(kernel, schema=out_schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .drop("rank")
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
    round_digits: int = 6,
    max_queries: int | None = None,
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
    qrows = collect_serving_batch(
        queries, query_id_col, query_vec_col, max_queries
    )
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
            round_digits=round_digits,
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
        round_digits=round_digits,
        max_queries=max_queries,
    )
