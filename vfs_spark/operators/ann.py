"""Approximate nearest-neighbor search — the Spark-first replacement
for the reference's HNSW (ann.rs:225-792).

The reference rebuilds its HNSW graph per query (rank.rs:214-239,
SURVEY Q3) — the canonical "doesn't fit Spark" design. Here the
index-building phase is an MLlib Estimator fit (a batch job that
scales out), and the model is persisted and reused across queries:

- ``build_lsh_index``  — BucketedRandomProjectionLSH.fit (euclidean);
  cosine via L2-normalization first (cosine order ≡ euclidean order
  on the unit sphere: ‖a−b‖² = 2−2·a·b for unit vectors).
- ``approx_knn``       — model.approxNearestNeighbors (single key).
- ``approx_knn_join``  — approxSimilarityJoin (many queries at once;
  the join form generalizes VFS /search to a whole query table).
- ``build_ivf_index`` / ``ivf_search`` — KMeans coarse quantizer +
  cluster-pruned brute force: the classic IVF layout; at 100 TB the
  vectors live Hive-partitioned by cluster id so a query scans only
  nprobe/k of the data (partition pruning does the index's job).
- ``pq_search`` / ``pq_search_rerank`` / ``ivfpq_search`` and their
  batch forms — product-quantized ADC shortlists, exact rerank.

Every search here ends in operators/knn.py's shared top-k; the IVF
forms route through one centroid router (``_route``), and the PQ forms
share one ADC table builder (``_pq_luts``) and one rerank stage per
form (``_rerank``, ``_rerank_batch``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vfs_spark.functions.distance import (
    euclidean,
    l2_norm,
    sq_l2_sql,
    sql_array,
    sql_ident,
)
from vfs_spark.operators.knn import (
    DIST_DIGITS,
    collect_serving_batch,
    query_matrix,
    rank_per_query,
    serve_topk,
    serving_schema,
    topk_truncate,
)

DEFAULT_BUCKET_LENGTH = 2.0
# plays the role of HNSW ef/M recall knobs. tools/lsh_sweep.py on the
# dim-64 fixture: recall@10 = 0.69 / 0.94 / 1.00 at 1 / 3 / 5 tables
# with flat per-query cost (bucketLength saturated 1.0-8.0) — so 5.
DEFAULT_NUM_HASH_TABLES = 5
SEED = 42


def _to_vector_df(
    df: DataFrame, vec_col: str = "embedding", normalize: bool = False
) -> DataFrame:
    """Attach an MLlib `features` vector column, optionally L2-
    normalized. The norm is computed ONCE into its own column (inlining
    it in the per-element lambda would be O(d²) per row), and zero-norm
    vectors pass through unscaled — dividing by zero would yield NULL
    elements, which break array_to_vector on legal all-zeros inserts."""
    from pyspark.ml.functions import array_to_vector

    arr = F.col(vec_col).cast("array<double>")
    if not normalize:
        return df.withColumn("features", array_to_vector(arr))
    out = df.withColumn("_nrm", l2_norm(vec_col))
    scaled = F.when(
        F.col("_nrm") != 0.0,
        F.transform(arr, lambda x: x / F.col("_nrm")),
    ).otherwise(arr)
    return out.withColumn("features", array_to_vector(scaled)).drop("_nrm")


def build_lsh_index(
    df: DataFrame,
    vec_col: str = "embedding",
    bucket_length: float = DEFAULT_BUCKET_LENGTH,
    num_hash_tables: int = DEFAULT_NUM_HASH_TABLES,
    metric: str = "euclidean",
):
    """Fit the LSH index over the full collection — the batch analogue
    of HNSW construction (ann.rs:432-509), done ONCE, not per query.
    Returns (model, indexed_df). Models are saved, loaded and kept
    across applications by operators/index_store.py (≈ snapshot_state
    #15)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    vdf = _to_vector_df(df, vec_col, normalize=(metric == "cosine"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=SEED,
    )
    model = lsh.fit(vdf)
    return model, vdf


def approx_knn(
    model,
    indexed_df: DataFrame,
    query: Sequence[float],
    k: int = 5,
    id_col: str = "vec_id",
    metric: str = "euclidean",
) -> DataFrame:
    """Approximate top-k for one query vector (rank.rs:189-268 →
    model.approxNearestNeighbors). Distance returned is euclidean in
    the (possibly normalized) index space."""
    from pyspark.ml.linalg import Vectors

    import numpy as np

    q = np.asarray(list(query), dtype=float)
    if metric == "cosine":
        n = np.linalg.norm(q)
        if n > 0:
            q = q / n
    res = model.approxNearestNeighbors(indexed_df, Vectors.dense(q), k, distCol="dist")
    return res.select(
        F.col(id_col), F.round(F.col("dist"), DIST_DIGITS).alias("dist")
    )


def approx_knn_multiprobe(
    model,
    indexed_df: DataFrame,
    query: Sequence[float],
    k: int = 5,
    probe_width: int = 1,
    id_col: str = "vec_id",
    metric: str = "euclidean",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH top-k — the per-QUERY recall knob the reference
    exposes as ``ef_search`` (tcp.rs:397-398): widen the candidate set
    at query time without refitting the index.

    ``probe_width=1`` probes only the query's own bucket per hash
    table (MLlib approxNearestNeighbors' single-probe semantics);
    ``probe_width=w`` also probes the w-1 adjacent buckets on each
    side. The candidate set grows monotonically with w, so recall is
    monotone in the knob (asserted in tests/test_ann.py); at large w
    it degrades gracefully to exact brute force.

    Plan shape: the bucket predicate is a scan-stage OR over the
    table hashes (no shuffle — candidates never leave their
    partitions), then exact distance + TakeOrderedAndProject on the
    survivors. At 100 TB the hashed table is written once at index
    build (fit-once / transform-once) and this probe is a pruned scan
    of it."""
    from pyspark.ml.feature import BucketedRandomProjectionLSHModel
    from pyspark.ml.functions import vector_to_array
    from pyspark.ml.linalg import Vectors

    import numpy as np

    # adjacent-bucket arithmetic (|bucket - q_bucket| <= w-1) only
    # means anything for scalar projection buckets: a MinHashLSH model
    # would "probe" meaningless hash-value neighborhoods silently.
    if not isinstance(model, BucketedRandomProjectionLSHModel):
        raise TypeError(
            "approx_knn_multiprobe requires a BucketedRandomProjectionLSH "
            f"model (got {type(model).__name__}): adjacent-bucket probing "
            "is defined on scalar projection buckets only"
        )

    q = np.asarray(list(query), dtype=float)
    if metric == "cosine":
        n = np.linalg.norm(q)
        if n > 0:
            q = q / n

    hashed = model.transform(indexed_df)
    spark = indexed_df.sparkSession
    q_row = spark.createDataFrame([(Vectors.dense(q),)], ["features"])
    # collect, not first(): one job over every slice of the one-row
    # frame, where first() scans slices in growing rounds until it
    # reaches the row (2-3 jobs)
    q_hashes = [
        float(v[0]) for v in model.transform(q_row).collect()[0]["hashes"]
    ]
    if not q_hashes:
        raise ValueError(
            "LSH model produced no hash tables (numHashTables=0?) — "
            "multiprobe needs at least one bucket predicate"
        )

    within = None
    for i, qh in enumerate(q_hashes):
        cond = (
            F.abs(vector_to_array(F.col("hashes")[i])[0] - F.lit(qh))
            <= probe_width - 1
        )
        within = cond if within is None else (within | cond)

    # cosine ranks in the normalized index space: its operand is the
    # `features` vector, projected under a name for the distance
    if metric == "cosine":
        hashed = hashed.withColumn("_fv", vector_to_array("features"))
    dist = F.round(
        euclidean("_fv" if metric == "cosine" else vec_col, q), DIST_DIGITS
    ).alias("dist")
    cand = hashed.where(within).select(F.col(id_col), dist)
    return topk_truncate(cand, k, id_col=id_col)


def approx_knn_join(
    model,
    indexed_df: DataFrame,
    indexed_queries: DataFrame,
    threshold: float,
) -> DataFrame:
    """Bulk form: all (query, candidate) pairs within `threshold`
    euclidean distance via LSH bucket join — sub-quadratic candidate
    generation (the 100 TB path for batch re-ranking pipelines)."""
    return model.approxSimilarityJoin(
        indexed_queries, indexed_df, threshold, distCol="dist"
    )


def approx_knn_join_multiprobe(
    model,
    indexed_df: DataFrame,
    indexed_queries: DataFrame,
    threshold: float,
    probe_width: int = 1,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Bulk multi-probe: the per-query recall knob
    (approx_knn_multiprobe) applied to the JOIN form — per-PAIR probe
    width for batch re-ranking pipelines.

    The trick that keeps it an EQUI-join (no range-join explosion):
    only the QUERY side expands — each query hash bucket explodes to
    the 2·(w-1)+1 buckets of its probe window — then (table_idx,
    bucket) equi-joins against the data side's exact buckets. The
    collection side stays one row per (vector, table); the query side
    grows (2w-1)×, which is fine because queries are the small side.
    probe_width=1 reproduces the single-probe bucket-join candidate
    set; recall grows monotonically with w (asserted in tests).
    Candidates are deduped on ids, then exact distance filters to
    `threshold` — output (query_id, vec_id, dist), distances exact."""
    from pyspark.ml.feature import BucketedRandomProjectionLSHModel
    from pyspark.ml.functions import vector_to_array

    if not isinstance(model, BucketedRandomProjectionLSHModel):
        raise TypeError(
            "approx_knn_join_multiprobe requires a "
            f"BucketedRandomProjectionLSH model (got {type(model).__name__})"
        )
    n_tables = model.getNumHashTables()
    if n_tables < 1:
        raise ValueError("LSH model has no hash tables")
    w = probe_width - 1

    def buckets(df, keep_id):
        hashed = model.transform(df)
        return hashed.select(
            F.col(keep_id),
            F.col("features"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("t"),
                            vector_to_array(F.col("hashes")[i])[0]
                            .cast("long")
                            .alias("b"),
                        )
                        for i in range(n_tables)
                    ]
                )
            ).alias("tb"),
        ).select(keep_id, "features", "tb.t", "tb.b")

    d = buckets(indexed_df, id_col)
    q = buckets(indexed_queries, query_id_col).withColumn(
        "b", F.explode(F.sequence(F.col("b") - w, F.col("b") + w))
    )
    cand = (
        q.select(query_id_col, F.col("features").alias("_qf"), "t", "b")
        .join(d, ["t", "b"])
        .select(query_id_col, id_col, "_qf", "features")
        .dropDuplicates([query_id_col, id_col])
        .select(
            query_id_col,
            id_col,
            vector_to_array("features").alias("_fa"),
            vector_to_array("_qf").alias("_qa"),
        )
    )
    dist = F.round(euclidean("_fa", "_qa"), DIST_DIGITS).alias("dist")
    return cand.select(F.col(query_id_col), F.col(id_col), dist).where(
        F.col("dist") <= threshold
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) index: KMeans coarse quantizer + cluster pruning


def build_ivf_index(
    df: DataFrame,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = SEED,
    fit_sample_rows: int | None = 200_000,
    n_rows: int | None = None,
):
    """Coarse-quantize the collection with KMeans; returns
    (kmeans_model, df + cluster_id). At scale, write the result
    partitioned by cluster_id so ivf_search prunes partitions.

    The KMeans FIT runs on a bounded seeded sample (`fit_sample_rows`
    cap, same policy as fit_pq_codebooks): a coarse quantizer with
    n_clusters ≤ a few thousand converges on a sample orders of
    magnitude smaller than the collection, so at 100 TB index
    construction stays a constant-cost step while the ASSIGN pass
    (one transform over the full collection) scales with the cluster.
    Collections at or under the cap fit on every row — unchanged
    behavior at test scale. ``n_rows``, when the caller knows the row
    count (a Parquet footer sum), saves the count job."""
    from pyspark.ml.clustering import KMeans

    vdf = _to_vector_df(df, vec_col)
    fit_df = vdf
    if fit_sample_rows is not None:
        n = df.count() if n_rows is None else n_rows
        if n > fit_sample_rows:
            frac = min(1.0, 1.2 * fit_sample_rows / n)
            fit_df = vdf.sample(fraction=frac, seed=seed).limit(fit_sample_rows)
    km = KMeans(k=n_clusters, seed=seed, featuresCol="features")
    model = km.fit(fit_df)
    return model, assign_ivf(model, df, vec_col)


def assign_ivf(km_model, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """The IVF encode: df + features + the cluster_id of each row's
    nearest centroid under a fitted coarse quantizer. One transform,
    no fit — rows added after the fit are assigned the same way."""
    return km_model.transform(_to_vector_df(df, vec_col)).withColumnRenamed(
        "prediction", "cluster_id"
    )


def auto_nprobe(
    km_model,
    assigned_df: DataFrame,
    recall_target: float = 0.9,
    k: int = 10,
    n_val: int = 32,
    seed: int = SEED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    approx_vector_count: int | None = None,
) -> int:
    """Pick the smallest ``nprobe`` whose measured routing recall meets
    ``recall_target`` — the IVF analogue of the band_bits auto rule
    (dedup.py's ``band_bits="auto"``): one bounded measurement job at
    fit time instead of a hand-tuned constant (the reference ships a
    fixed ef knob, ann.rs:754-792, with no sizing rule at all).

    The trick that makes this one cheap job instead of an nprobe sweep:
    IVF recall is PURELY routing — in-cell scoring is exact, so a true
    neighbor is found iff its cell is among the query's nprobe nearest
    centroids. One batch exact-kNN scan over the collection (n_val
    seeded validation queries, drawn FROM the collection) plus one
    small join (truth ids → cluster_id, ≤ n_val·k rows) yields every
    neighbor's cell rank, and the whole recall-vs-nprobe curve falls
    out driver-side with no further scans. Cost is O(one scan) at
    index build, amortized across every later query (the index store
    caches the chosen value next to the model).

    Validation queries are collection members, so their rank-1 hit is
    themselves — routing recall for them is what a real near-duplicate
    query would see. Returns n_clusters (exact scan) when even full
    probing is what the target demands."""
    import numpy as np

    centers = _centers_np(km_model)
    n_clusters = len(centers)
    # deterministic bounded validation draw: xxhash64(id, seed) is a
    # seeded uniform scramble of the id space, so the first n_val by
    # hash order are an unbiased sample regardless of how ids correlate
    # with ingest order, and the draw is stable across partitionings
    val = (
        assigned_df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(n_val)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("query_vec"),
        )
    )
    # N-aware truth scan (r14 VERDICT #6): at ladder-scale stores the
    # expr/window form shuffles N·n_val distance rows; the auto
    # dispatch routes to the Arrow/BLAS kernel (byte-identical output
    # by the kernel's contract, so the chosen nprobe is unchanged)
    # whenever the caller knows N is big.
    from vfs_spark.operators.knn import knn_batch_auto

    truth = knn_batch_auto(
        assigned_df,
        val,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        approx_vector_count=approx_vector_count,
    )
    hits = (
        truth.join(
            assigned_df.select(F.col(id_col), F.col("cluster_id")), id_col
        )
        .join(
            val.select("query_id", F.col("query_vec").alias("_qv")),
            "query_id",
        )
        .select("query_id", "_qv", "cluster_id")
        .collect()
    )
    if not hits:
        return max(1, min(4, n_clusters))
    # cell rank of each neighbor's cluster in its query's centroid order
    ranks = []
    rank_cache: dict[int, "np.ndarray"] = {}
    for r in hits:
        qid = r["query_id"]
        if qid not in rank_cache:
            q = np.asarray(r["_qv"], dtype=np.float64)
            order = np.argsort(((centers - q) ** 2).sum(axis=1))
            pos = np.empty(n_clusters, dtype=np.int64)
            pos[order] = np.arange(n_clusters)
            rank_cache[qid] = pos
        ranks.append(int(rank_cache[qid][r["cluster_id"]]))
    ranks_arr = np.asarray(ranks)
    n_obs = len(ranks_arr)
    for nprobe in range(1, n_clusters + 1):
        p = (ranks_arr < nprobe).mean()
        # one-sided sampling margin (1σ of a binomial proportion over
        # n_val·k neighbor observations): the validation estimate must
        # clear the target BY its own noise, so held-out queries land
        # at-or-above the target instead of coin-flipping around it
        margin = float(np.sqrt(max(p * (1.0 - p), 1e-12) / n_obs))
        if p - margin >= recall_target:
            return nprobe
    return n_clusters


def _centers_np(km_model):
    """Cluster centers as one float64 matrix, memoized on the model:
    serving paths re-read the centers on EVERY query, and the py4j
    round trip per center dominated ivfpq plan-build time (r16). The
    model is a fit-once serving structure, so the memo has index,
    not result, lifetime."""
    import numpy as np

    c = getattr(km_model, "_vfs_centers_np", None)
    if c is None:
        c = np.stack([np.asarray(x) for x in km_model.clusterCenters()])
        try:
            km_model._vfs_centers_np = c
        except Exception:  # noqa: BLE001 — memo is best-effort
            pass
    return c


def _route(km_model, Q, nprobe: int):
    """The one centroid router: the (q × nprobe) cluster ids nearest
    each query row of ``Q`` — a driver-side argsort over ≤n_clusters
    squared distances per query. One query at a time, so memory stays
    n_clusters × d, not |Q| × n_clusters × d."""
    import numpy as np

    centers = _centers_np(km_model)
    return np.stack(
        [
            np.argsort(((centers - q) ** 2).sum(axis=1))[:nprobe]
            for q in np.asarray(Q, dtype=np.float64)
        ]
    )


def _in_cells(df: DataFrame, cells) -> DataFrame:
    """``df`` restricted to the routed clusters ``cells`` — on the
    cluster-partitioned store, partition pruning."""
    return df.where(F.col("cluster_id").isin([int(c) for c in cells]))


def ivf_search(
    km_model,
    assigned_df: DataFrame,
    query: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search only the nprobe clusters whose centroids are nearest the
    query (driver-side argsort over ≤n_clusters centroids), then exact
    top-k within them. Scans nprobe/n_clusters of the data. Over the
    cluster-partitioned store (``read_parquet(spark, path)`` of a
    write_ivf_partitioned directory) the cluster_id IN (...) filter is
    partition pruning: only nprobe directories are opened."""
    q = [float(x) for x in query]
    cand = _in_cells(assigned_df, _route(km_model, [q], nprobe)[0])
    dist = F.round(euclidean(vec_col, q), DIST_DIGITS).alias("dist")
    return topk_truncate(cand.select(F.col(id_col), dist), k, id_col=id_col)


def ivf_search_batch(
    km_model,
    assigned_df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch IVF: route EVERY query to its nprobe nearest clusters in
    one driver-side pass over the (tiny) centroid table, then ONE scan
    of only the union of routed clusters, broadcast-joined against the
    (query, cluster) routing table so each candidate row is scored
    only against the queries routed to its cluster. Per-query top-k
    via rank window.

    Scale shape: with the cluster-partitioned store the IN-filter
    prunes to |∪ routed clusters| partitions; the broadcast side is
    |queries|·nprobe rows; the window shuffles only scored candidates
    (n·nprobe/n_clusters·|overlapping queries|), never the collection.
    This is the serving path for query BATCHES — `ivf_search` is the
    single-query form (rank.rs:189-268's batch analogue)."""
    import numpy as np

    spark = assigned_df.sparkSession
    qrows = collect_serving_batch(queries, query_id_col, query_vec_col)
    if not qrows:
        # schema must match the non-empty path (query_id included)
        return spark.createDataFrame([], serving_schema(query_id_col, id_col))
    qids, Q = query_matrix(qrows)
    routed = _route(km_model, Q, nprobe)
    routing = [
        (int(qid), int(c), [float(x) for x in r[1]])
        for qid, r, cells in zip(qids, qrows, routed)
        for c in cells
    ]
    route_df = spark.createDataFrame(
        routing, f"{query_id_col} long, cluster_id int, {query_vec_col} array<double>"
    )
    scored = (
        _in_cells(assigned_df, np.unique(routed))
        .join(F.broadcast(route_df), "cluster_id")
        .select(
            query_id_col,
            id_col,
            F.round(euclidean(vec_col, query_vec_col), DIST_DIGITS).alias("dist"),
        )
    )
    return rank_per_query(scored, k, query_id_col, id_col)


def recall_at_k(approx: DataFrame, exact: DataFrame, id_col: str = "vec_id") -> float:
    """Recall of an approximate result set vs the exact top-k — the
    correctness criterion for ANN (SURVEY §5.2: assert recall, don't
    compare to the reference's degenerate 1-result HNSW, Q2)."""
    a = {r[0] for r in approx.select(id_col).collect()}
    e = {r[0] for r in exact.select(id_col).collect()}
    return len(a & e) / max(1, len(e))


def write_ivf_partitioned(
    assigned_df: DataFrame, path: str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> None:
    """Persist the IVF layout: one Hive partition per cluster_id. This
    IS the index at rest — a query that probes nprobe clusters reads
    only those directories (partition pruning), the distributed
    analogue of an inverted-file's posting lists."""
    assigned_df.select(id_col, vec_col, "cluster_id").write.mode(
        "overwrite"
    ).partitionBy("cluster_id").parquet(path)


# ---------------------------------------------------------------------------
# Product quantization (PQ): m sub-codebooks, Catalyst encode, ADC search


def fit_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 16,
    k: int = 16,
    sample_rows: int = 100_000,
    iters: int = 20,
    seed: int = SEED,
    n_rows: int | None = None,
):
    """Train m product-quantizer codebooks (k centroids each) over the
    d/m-dim subvector blocks — the compression stage FAISS calls
    IndexPQ, and the vector-engine step past the reference's flat int8
    quantization (vector.rs:94-125): int8 keeps d bytes/vector, PQ
    keeps m bytes at a comparable recall point once ADC+rerank is
    applied. Defaults (m=16, k=16 on the dim-64 fixtures) measured
    rerank recall@10 = 0.975 with a 100-row shortlist (sweep in
    tests/test_ann.py's gate; m=8 → 0.86-0.90).

    The fit deliberately runs on a BOUNDED driver-side sample
    (`sample_rows` cap): codebook estimation converges on samples
    orders of magnitude smaller than the collection, so at 100 TB this
    stays a constant-cost step while ENCODE and SEARCH — the per-row
    work — are pure Catalyst expressions that scale with the cluster.
    When the collection exceeds the cap, rows are drawn by a SEEDED
    Bernoulli sample across all partitions (not a first-partitions
    take, which would train biased codebooks on a store clustered by
    label/time/ingest order); at or under the cap every row is used.
    ``n_rows`` is the row count when the caller knows it, as in
    build_ivf_index. Returns a list of m (k × d/m) float lists."""
    import numpy as np

    sample = df.select(F.col(vec_col).cast("array<double>").alias("v"))
    n = df.count() if n_rows is None else n_rows
    if n > sample_rows:
        frac = min(1.0, 1.2 * sample_rows / n)
        sample = sample.sample(fraction=frac, seed=seed)
    rows = sample.limit(sample_rows).collect()
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m != 0:
        # auto-shrink to the largest divisor of d (a dim-8 store can't
        # take 16 blocks); explicit m that divides d is never changed
        m = next(mm for mm in range(min(m, d), 0, -1) if d % mm == 0)
    sub = d // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        # k-means++ style init: distinct sampled rows, then Lloyd
        idx = rng.choice(len(Xj), size=min(k, len(Xj)), replace=False)
        C = Xj[idx].copy()
        for _ in range(iters):
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                mask = assign == c
                if mask.any():
                    C[c] = Xj[mask].mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def encode_pq(
    df: DataFrame, codebooks, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Assign every vector its m nearest-centroid codes — entirely in
    Catalyst (no Python in the row path): for each block, an argmin
    over the k centroid distances via array_position(dists, min).
    Output: (id, codes ARRAY<INT>) — m small ints per vector, the
    compressed store (8 bytes vs 256 for a dim-64 float32 row)."""
    sub = len(codebooks[0][0])
    arr = f"CAST({sql_ident(vec_col)} AS ARRAY<DOUBLE>)"
    codes = []
    for j, book in enumerate(codebooks):
        block = f"slice({arr}, {j * sub + 1}, {sub})"
        dists = f"array({', '.join(sq_l2_sql(block, sql_array(c)) for c in book)})"
        codes.append(f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)")
    codes_sql = f"array({', '.join(codes)})"
    return df.select(F.col(id_col), F.expr(codes_sql).alias("codes"))


def _pq_luts(codebooks, Q):
    """The ADC tables of the query rows ``Q``: lut[q, j, c] =
    ‖q_block_j − centroid_jc‖², |Q|·m·k floats as one NumPy array
    (constant-sized for a serving batch)."""
    import numpy as np

    books = np.asarray(codebooks, dtype=np.float64)  # (m, kcent, sub)
    m, kcent, sub = books.shape
    Q = np.asarray(Q, dtype=np.float64)
    lut = np.empty((len(Q), m, kcent), dtype=np.float64)
    for j in range(m):
        diff = Q[:, None, j * sub : (j + 1) * sub] - books[j][None, :, :]
        lut[:, j, :] = (diff * diff).sum(axis=2)
    return lut


def pq_search(
    encoded_df: DataFrame,
    codebooks,
    query,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the driver
    precomputes the m×k table of ‖q_block − centroid‖² (m·k floats —
    constant), ships it as a literal, and each row's approximate
    distance is m table lookups + a sum (zip_with codes against table
    rows, aggregate) — no decode, no float vectors read. The scan side
    touches only the 8-byte code column; TakeOrderedAndProject keeps
    per-partition top-k before the single tiny shuffle."""
    table = _pq_luts(codebooks, [list(query)])[0].tolist()
    tbl = "array(" + ", ".join(sql_array(row) for row in table) + ")"
    look = f"zip_with(codes, {tbl}, (c, r) -> element_at(r, CAST(c AS INT) + 1))"
    adc = F.expr(f"sqrt(aggregate({look}, 0D, (acc, x) -> acc + x))")
    return topk_truncate(
        encoded_df.select(F.col(id_col), F.round(adc, DIST_DIGITS).alias("dist")),
        k,
        id_col=id_col,
    )


def _rerank(
    full_df: DataFrame, short: DataFrame, query, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """The single-query rerank stage: only the shortlist's rows hydrate
    their float vectors (broadcast semi join — the shortlist is the
    only full-vector read) and are re-scored exactly."""
    exact = full_df.join(F.broadcast(short.select(id_col)), id_col)
    dist = F.round(euclidean(vec_col, query), DIST_DIGITS).alias("dist")
    return topk_truncate(exact.select(F.col(id_col), dist), k, id_col=id_col)


def _rerank_batch(
    full_df: DataFrame,
    pairs: DataFrame,
    qrows: list,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """The batch rerank stage: only the shortlisted (query, candidate)
    ``pairs`` hydrate float vectors (broadcast of |Q|·shortlist id
    pairs — the big table never shuffles) and are re-scored exactly
    against their own query, taken from the collected serving batch
    ``qrows`` rather than a second read of the query table."""
    qids, Q = query_matrix(qrows)
    qv = full_df.sparkSession.createDataFrame(
        list(zip(qids.tolist(), Q.tolist())), f"{query_id_col} long, _qv array<double>"
    )
    exact = (
        full_df.select(id_col, vec_col)
        .join(F.broadcast(pairs.select(query_id_col, id_col)), id_col)
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(euclidean(vec_col, "_qv"), DIST_DIGITS).alias("dist"),
        )
    )
    return rank_per_query(exact, k, query_id_col, id_col)


def pq_search_rerank(
    encoded_df: DataFrame,
    full_df: DataFrame,
    codebooks,
    query,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC shortlist → exact rerank: ADC ranks a `shortlist` of
    candidates from codes alone, then ONLY those rows' float vectors
    are read and re-scored exactly. The standard two-stage serving
    shape: at 100 TB the 97% cheaper code scan does the winnowing and
    the expensive column is read for ~100 rows."""
    q = [float(x) for x in query]
    cand = pq_search(encoded_df, codebooks, q, k=shortlist, id_col=id_col)
    return _rerank(full_df, cand, q, k, id_col, vec_col)


def _adc_dist(lut, codes_col):
    """(q × b) rounded ADC distances of one Arrow batch's codes: m
    vectorized gathers from the ADC tables + a matrix sum."""
    import numpy as np

    codes = np.stack(codes_col.to_numpy()).astype(np.int64)
    D = np.zeros((lut.shape[0], len(codes)), dtype=np.float64)
    for j in range(lut.shape[1]):
        D += lut[:, j, :][:, codes[:, j]]
    return np.sqrt(D).round(DIST_DIGITS)


def pq_search_batch_arrow(
    encoded_df: DataFrame,
    codebooks,
    queries_df: DataFrame | list,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch ADC — the many-queries form of pq_search with the same
    per-query output (asserted in tests). The |Q| ADC tables ship to
    each worker once and each Arrow batch is scored as m vectorized
    gathers + a matrix sum in serve_topk; only per-batch top-k rows
    leave the kernel, so the collection is scanned ONCE for the whole
    batch, reading only the code column, and the shuffle stays
    k·|Q|·batches rows. Scoring every (row, query) pair with
    interpreted Catalyst lookups instead measured 94.8 s against 3.4 s
    for this kernel at 2M codes × 100 queries (warm, idle host)."""
    qrows = collect_serving_batch(queries_df, query_id_col, query_vec_col)
    if not qrows:
        return encoded_df.sparkSession.createDataFrame(
            [], serving_schema(query_id_col, id_col)
        )
    qids, Q = query_matrix(qrows)
    lut = _pq_luts(codebooks, Q)
    return serve_topk(
        encoded_df.select(id_col, "codes"),
        lambda pdf: (_adc_dist(lut, pdf["codes"]), None),
        qids,
        k,
        query_id_col,
        id_col,
    )


def pq_search_rerank_batch(
    encoded_df: DataFrame,
    full_df: DataFrame,
    codebooks,
    queries_df: DataFrame | list,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch two-stage serving: the ADC kernel shortlists `shortlist`
    candidates per query from codes alone, then only those (query,
    candidate) pairs are reranked exactly. The batch twin of
    pq_search_rerank with the same output per query. The queries are
    collected once (or passed pre-collected, see collect_serving_batch)
    and feed both stages."""
    qrows = collect_serving_batch(queries_df, query_id_col, query_vec_col)
    if not qrows:
        return encoded_df.sparkSession.createDataFrame(
            [], serving_schema(query_id_col, id_col)
        )
    cand = pq_search_batch_arrow(
        encoded_df, codebooks, qrows, k=shortlist, id_col=id_col,
        query_id_col=query_id_col,
    )
    return _rerank_batch(full_df, cand, qrows, k, id_col, vec_col, query_id_col)


def ivfpq_search(
    km_model,
    assigned_encoded_df: DataFrame,
    full_df: DataFrame,
    codebooks,
    query,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ hybrid (the FAISS IVFPQ layout): the coarse quantizer
    prunes to nprobe clusters — with the Hive-partitioned store that
    is PARTITION pruning, nprobe/n_clusters of the files — and within
    the probed cells only the 16-byte CODE column is ADC-scored, by
    the batch ADC kernel on a one-row query batch; float vectors are
    read for the `shortlist` rerank rows alone. Compounding reductions
    at 100 TB: read nprobe/k of the partitions × 1/16 of the bytes,
    then hydrate ~100 rows. Input `assigned_encoded_df` carries (id,
    cluster_id, codes) — built by build_ivf_index + encode_pq_arrow,
    both constant-cost fits."""
    q = [float(x) for x in query]
    cand = _in_cells(assigned_encoded_df, _route(km_model, [q], nprobe)[0])
    # pre-collected one-row serving batch: no createDataFrame →
    # collect round trip just to get the vector back (r16)
    short = pq_search_batch_arrow(cand, codebooks, [(0, q)], k=shortlist, id_col=id_col)
    return _rerank(full_df, short, q, k, id_col, vec_col)


def ivfpq_search_batch(
    km_model,
    assigned_encoded_df: DataFrame,
    full_df: DataFrame,
    codebooks,
    queries_df: DataFrame | list,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch IVFPQ serving — the many-queries form of ivfpq_search,
    composing ivf_search_batch's driver-side routing with the batch
    ADC kernel plus exact rerank.

    One driver pass routes every query to its nprobe nearest
    centroids (≤ n_clusters rows — constant); ONE scan covers the
    UNION of all routed cells (with the cluster-partitioned store
    that is partition pruning to |∪ routed| partitions) reading only
    the code column; inside the kernel a per-query routing mask keeps
    each row competing only for queries routed to its cell, so the
    per-query candidate semantics match the single-query form while
    the scan cost is shared by the whole batch. Only per-batch
    shortlists (≤ shortlist·|Q| rows per partition) leave the kernel;
    float vectors hydrate for the |Q|·shortlist rerank pairs alone.
    ``queries_df`` may be a pre-collected list (see
    collect_serving_batch)."""
    import numpy as np

    qrows = collect_serving_batch(queries_df, query_id_col, query_vec_col)
    if not qrows:
        return assigned_encoded_df.sparkSession.createDataFrame(
            [], serving_schema(query_id_col, id_col)
        )
    qids, Q = query_matrix(qrows)
    lut = _pq_luts(codebooks, Q)
    routed = _route(km_model, Q, nprobe)  # (q, nprobe)
    allow = np.zeros((len(qids), len(_centers_np(km_model))), dtype=bool)
    np.put_along_axis(allow, routed, True, axis=1)

    def score(pdf):
        cells = pdf["cluster_id"].to_numpy().astype(np.int64)
        return _adc_dist(lut, pdf["codes"]), allow[:, cells]

    short = serve_topk(
        _in_cells(assigned_encoded_df, np.unique(routed)).select(
            id_col, "cluster_id", "codes"
        ),
        score,
        qids,
        shortlist,
        query_id_col,
        id_col,
    )
    return _rerank_batch(full_df, short, qrows, k, id_col, vec_col, query_id_col)


def pq_codes(X, codebooks):
    """The (rows × m) int32 PQ codes of the float64 rows ``X``: per
    block, a (rows × k) squared-distance matrix by BLAS broadcasting
    and its argmin. The one NumPy encode kernel, run per Arrow batch by
    encode_pq_arrow and on the driver by the engine's insert fold, so
    both give identical codes."""
    import numpy as np

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    codes = np.empty((len(X), len(books)), dtype=np.int32)
    if len(X):
        sub = books[0].shape[1]
        for j, C in enumerate(books):
            Xj = X[:, j * sub : (j + 1) * sub]
            d2 = ((Xj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
    return codes


def encode_pq_arrow(
    df: DataFrame, codebooks, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Arrow/NumPy PQ encode — the SCALE twin of encode_pq with the
    identical output contract (asserted equal in tests): per Arrow
    batch, each block computes a (rows × k) squared-distance matrix by
    BLAS broadcasting and argmins it. encode_pq's m·k interpreted HOF
    expressions cost ~107 µs/row at 2M vectors (stress-measured
    214 s); this kernel is the knn_batch_arrow move applied to the
    write path. Ties: np.argmin and array_position(min) both take the
    FIRST minimal centroid, so codes agree exactly."""
    import numpy as np
    import pandas as pd

    C = [np.asarray(b, dtype=np.float64) for b in codebooks]

    def kernel(batches):
        for pdf in batches:
            X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            codes = pq_codes(X, C)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return df.select(id_col, vec_col).mapInPandas(
        kernel, f"{id_col} long, codes array<int>"
    )
