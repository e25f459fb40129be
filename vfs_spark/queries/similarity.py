"""⊕ Similarity-search + scalable-dedup queries: brute-force batch ANN
(oracle-checked), LSH approximate k-NN, IVF search, MinHash/SimHash
near-dedup, and the multimodal extraction pipeline.

Approximate ops are registered WITHOUT oracles (driver records
rows-only) — their correctness gate is recall-vs-exact, asserted in
tests/test_ann.py (SURVEY §5.2: assert recall, not hash equality).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vfs_spark import dispatch
from vfs_spark.functions.distance import euclidean
from vfs_spark.operators import ann as ann_ops
from vfs_spark.operators import dedup as dedup_ops
from vfs_spark.operators import index_store
from vfs_spark.operators import multimodal
from vfs_spark.operators.knn import DIST_DIGITS, rank_per_query
from vfs_spark.queries.core import _query_vec
from vfs_spark.queries.registry import query
from vfs_spark.sources.parquet import load_table, read_parquet


def _query_batch(
    spark: SparkSession, sf_dir: str, as_double: bool = False
) -> DataFrame:
    """The batch slugs' query side: embeddings ``vec_id < 5`` as
    (query_id, query_vec). Read without fan-out, so the predicate
    reaches the scan; over a fan-out read it would sit above a
    repartition of the whole table."""
    vec = F.col("embedding")
    if as_double:
        vec = vec.cast("array<double>")
    return (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), vec.alias("query_vec"))
    )


@query(
    "knn_batch_bruteforce",
    oracle="""
SELECT query_id, vec_id, dist FROM (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         ROUND(sqrt(list_sum(list_transform(list_zip(e.embedding, q.embedding),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2))), 6) AS dist,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(sqrt(list_sum(list_transform(list_zip(e.embedding, q.embedding),
                 p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2))), 6) ASC,
                 e.vec_id ASC) AS rnk
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
) WHERE rnk <= 3
""",
)
def q_knn_batch_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine/euclidean top-k for a batch of query vectors
    — the exact baseline every ANN variant is measured against.
    Plan: broadcast the query set (tiny) against the collection, rank
    per query. At 100 TB the broadcast side stays small (queries) so
    the big table never shuffles; only k rows per query survive."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    queries_df = _query_batch(spark, sf_dir)
    joined = emb.crossJoin(F.broadcast(queries_df))
    dist = F.round(euclidean("embedding", "query_vec"), DIST_DIGITS).alias("dist")
    return rank_per_query(joined.select("query_id", "vec_id", dist), 3)


@query("approx_knn")  # rows-only: gated on recall vs exact (tests/test_ann.py)
def q_approx_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#6 approximate k-NN via BucketedRandomProjectionLSH — the
    Spark-first HNSW replacement (SURVEY §3.2): fit once (batch index
    build), query the model. The reference rebuilds its graph per
    query (Q3); here the fit is amortized across queries AND across
    applications: the fitted model persists in the index store
    (operators/index_store.py), so a restarted session loads it —
    the query-surface analogue of the reference persisting its index
    map in the manager snapshot (storage_manager.rs:367-427)."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    model, vdf = index_store.load_or_fit(spark, emb, sf_dir, "approx")
    return ann_ops.approx_knn(model, vdf, _query_vec(spark, sf_dir), k=5)


@query("approx_knn_multiprobe")  # rows-only: recall monotone in knob (tests)
def q_approx_knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k with the per-QUERY recall knob — the
    reference's ef_search (tcp.rs:397-398) re-expressed for a
    fit-once index: probe_width widens the bucket predicate at query
    time (no refit), recall rises monotonically with it
    (tests/test_ann.py::test_lsh_multiprobe_recall_monotone)."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    model, vdf = index_store.load_or_fit(spark, emb, sf_dir, "approx")
    return ann_ops.approx_knn_multiprobe(
        model, vdf, _query_vec(spark, sf_dir), k=5, probe_width=2
    )


@query("ann_ivf")  # rows-only: recall-gated in tests
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: KMeans coarse quantizer, probe the nearest cells,
    exact top-5 within — with cluster-partitioned storage that's
    physical partition pruning. nprobe is NOT a hand constant: the
    index store calibrates it at fit time to a ≥0.9 routing-recall
    target (ann_ops.auto_nprobe — one batch exact-kNN job whose
    neighbor→cell ranks yield the whole recall-vs-nprobe curve) and
    caches the chosen value next to the model, so a restarted
    application loads both instead of refitting or re-measuring."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    km, assigned, nprobe = index_store.ivf_nprobe(
        spark, emb, sf_dir, n_clusters=16, recall_target=0.9
    )
    return ann_ops.ivf_search(
        km, assigned, _query_vec(spark, sf_dir), k=5, nprobe=nprobe
    )


@query("ann_ivf_partitioned")  # rows-only: asserted equal to ann_ivf in tests
def q_ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search against the index AT REST: the Hive-partitioned
    store (one directory per cluster, written once into the index
    store) is scanned with a cluster_id IN (...) predicate that
    prunes to nprobe partition DIRECTORIES before any file opens —
    the physical form of ann_ivf's logical pruning, and the layout
    the streaming maintenance path (stream_append_ivf +
    compact_ivf_store) keeps current at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    _, _, nprobe = index_store.ivf_nprobe(
        spark, emb, sf_dir, n_clusters=16, recall_target=0.9
    )
    km, store = index_store.ivf_store(spark, emb, sf_dir, n_clusters=16)
    return ann_ops.ivf_search(
        km, read_parquet(spark, store), _query_vec(spark, sf_dir), k=5, nprobe=nprobe
    )


@query("dedup_minhash")  # rows-only: recall vs exact jaccard in tests
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dedup candidates (jaccard ≥ 0.3) — the
    sub-quadratic production path for dedup_ngram_jaccard. Delegates
    to the pure-Catalyst implementation: exploded shingles → seeded
    xxhash64 min-AGGREGATES (map-side combined codegen, no corpus
    cache) → OR-banding equi-join → exact-Jaccard verify recomputed
    for candidate docs only. Same contract as the MLlib form
    (registered as dedup_minhash_mllib). Round-3's recorded 5.8 s was
    bench-host CONTENTION plus a cache-hit lottery in the old
    cached-shingle form; the redesign has deterministic cost with no
    corpus-sized cache: ~2 s at sf0.1, 13-18 s at 200k docs (the old
    form measured 45.7 s there)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return dedup_ops.minhash_native_pairs(docs, jaccard_threshold=0.3)


@query("dedup_minhash_mllib")  # rows-only: recall vs exact jaccard in tests
def q_dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH comparison variant (approxSimilarityJoin over
    vector-UDT shingle sets) — kept for parity benchmarking against
    the native default; same banding asymptotics, higher constant."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return dedup_ops.minhash_near_dup_pairs(docs, jaccard_threshold=0.3)


@query("dedup_simhash")  # rows-only: determinism + banding checked in tests
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) via pigeonhole banding —
    shuffle is O(n·bands). Default fingerprint impl is the `agg`
    codegen twin (explode tokens → 64 map-side-combined SUMs): no
    Python worker AND no interpreted higher-order-function tax, so
    it's the 100 TB default. The pandas-UDF (`dedup_simhash_udf`) and
    in-row-HOF (`dedup_simhash_jvm`) twins stay registered for
    comparison; agg/jvm value equality is asserted in
    tests/test_dedup.py. Measured sf0.1 idle-host deltas: agg 1.63 s,
    jvm 1.44 s, udf 0.48 s — the memoized Arrow UDF wins at this tiny
    corpus (per-token Python dict hit), but it serializes the corpus
    through Python workers; the agg plan stays whole-stage-codegen
    with map-side combine, which is the property that survives a
    1000-executor scale-up."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return dedup_ops.simhash_near_dup_pairs(docs, max_hamming=3, impl="agg")


@query("dedup_simhash_udf")  # rows-only: md5-hash-family pairs
def q_dedup_simhash_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with the Arrow pandas-UDF fingerprint (md5
    hash family) — the Python-kernel comparison variant for the
    codegen default above; same banding + hamming verify."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return dedup_ops.simhash_near_dup_pairs(docs, max_hamming=3, impl="udf")


@query(
    "multimodal_extract",
    oracle="""
SELECT doc_id AS media_id,
       CAST(strlen(text) AS BIGINT) AS byte_len,
       md5(text) AS content_md5
FROM documents
""",
)
def q_multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline plumbing: binary payload column →
    mapInPandas feature kernel (byte length + content digest). The
    kernel is deterministic, so the Arrow round-trip is fully
    oracle-checked — proving the batch contract, schema, and
    binary-column handling end to end."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    media = multimodal.as_media(docs, "doc_id", F.encode(F.col("text"), "utf-8"))
    return multimodal.extract_features(media)


@query("similarity_join")  # rows-only: candidate set is LSH-approximate
def q_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk ANN: approxSimilarityJoin of a query subset against the
    collection — the join form of /search (one LSH bucket join instead
    of per-query scans; the 100 TB batch re-ranking path). Pairs
    within euclidean distance 3.0, exact distance attached. The LSH
    model is approx_knn's, from the index store."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    model, vdf = index_store.load_or_fit(spark, emb, sf_dir, "approx")
    queries_df = vdf.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("features")
    )
    pairs = ann_ops.approx_knn_join(model, vdf, queries_df, threshold=3.0)
    return pairs.select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("vec_id"),
        F.round(F.col("dist"), 6).alias("dist"),
    ).where(F.col("query_id") != F.col("vec_id"))


@query("similarity_join_multiprobe")  # rows-only: recall monotone in knob
def q_similarity_join_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk ANN with the per-pair recall knob: the multiprobe bucket
    expansion applied to the JOIN form (probe_width=2 widens each
    query's bucket window; only the tiny query side expands, the
    collection side joins on exact buckets — still an equi-join).
    The batch re-ranking path when single-probe similarity_join
    misses cross-bucket neighbors."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    model, vdf = index_store.load_or_fit(spark, emb, sf_dir, "approx")
    queries_df = vdf.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("features")
    )
    return ann_ops.approx_knn_join_multiprobe(
        model, vdf, queries_df, threshold=3.0, probe_width=2
    ).where(F.col("query_id") != F.col("vec_id"))


@query(
    "multimodal_embed",
    oracle="""
SELECT doc_id AS media_id, CAST(i AS INTEGER) AS i,
       ROUND(CAST(('0x' || substr(sha256(text), 4*i + 1, 4)) AS INTEGER)
             / 65535.0, 6) AS value
FROM documents CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
""",
)
def q_multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-kernel plumbing: payload → mapInPandas model-stub
    (sha256-derived deterministic vector) — the shape of a real
    model-forward-pass stage. Deterministic kernel → fully
    oracle-checked (per-element vs DuckDB's sha256). The vector is
    returned EXPLODED to (media_id, i, value) rows: the driver's
    pandas canonicalizer can't hash array cells."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    media = multimodal.as_media(docs, "doc_id", F.encode(F.col("text"), "utf-8"))
    emb = multimodal.fake_embed(media, dim=8, dtype="double")
    return emb.select(
        "media_id", F.posexplode("embedding").alias("i", "value")
    ).select(
        "media_id",
        F.col("i").cast("int").alias("i"),
        F.round("value", 6).alias("value"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
SELECT doc_id AS media_id, CAST(unnest(range(0, (n_chars % 120) + 1, 10)) AS INTEGER) AS frame_no
FROM documents
WHERE (n_chars % 120) + 1 > 0
""",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over typed media metadata (meta['n_frames'],
    synthesized from n_chars here): every-10th frame index, expanded
    with explode(sequence(...)) — zero Python, zero decode."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.as_media(
        docs,
        "doc_id",
        F.encode(F.col("text"), "utf-8"),
        media_type="video",
        meta=F.create_map(
            F.lit("n_frames"), ((F.col("n_chars") % 120) + 1).cast("string")
        ),
    )
    return multimodal.frame_sample(media, every_k=10)


@query("dedup_simhash_jvm")  # rows-only: hash-family-specific pairs
def q_dedup_simhash_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with the in-row-HOF fingerprint (xxhash64 +
    F.aggregate bit accumulation — zero Python workers but the HOF
    runs interpreted, the measured ~2 s tax at sf0.1): same banding
    and hamming verification as dedup_simhash, identical VALUES to
    the agg default (asserted in tests). Kept as the plan-shape
    comparison variant."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return dedup_ops.simhash_near_dup_pairs(docs, max_hamming=3, impl="jvm")


@query(
    "knn_batch_arrow",
    oracle="""
SELECT query_id, vec_id, dist FROM (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         ROUND(sqrt(list_sum(list_transform(list_zip(e.embedding, q.embedding),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2))), 6) AS dist,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(sqrt(list_sum(list_transform(list_zip(e.embedding, q.embedding),
                 p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2))), 6) ASC,
                 e.vec_id ASC) AS rnk
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
) WHERE rnk <= 3
""",
)
def q_knn_batch_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100×-scale batch k-NN: BLAS matmul per Arrow batch with
    per-partition top-k before the (tiny) shuffle — 25× faster than
    the expression path at 2M vectors (tools/stress.py), value-
    identical output (same oracle as knn_batch_bruteforce)."""
    from vfs_spark.operators.knn import knn_batch_arrow

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    queries_df = _query_batch(spark, sf_dir)
    return knn_batch_arrow(emb, queries_df, k=3)


@query(
    "knn_batch_auto",
    oracle="""
SELECT query_id, vec_id, dist FROM (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         ROUND(sqrt(list_sum(list_transform(list_zip(e.embedding, q.embedding),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2))), 6) AS dist,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(sqrt(list_sum(list_transform(list_zip(e.embedding, q.embedding),
                 p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2))), 6) ASC,
                 e.vec_id ASC) AS rnk
  FROM embeddings e
  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
) WHERE rnk <= 3
""",
)
def q_knn_batch_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ The batch-serving DEFAULT (r11 verdict #7): knn_batch_auto
    dispatches by batch size — Catalyst broadcast-join form below
    KNN_BATCH_ARROW_MIN_QUERIES (the measured tie point, NOTES.md
    round-12 crossover table), the Arrow/BLAS kernel above it. Both
    forms share one output contract (same rounding, same id
    tiebreak), so this slug's oracle is the same SQL that checks
    knn_batch_bruteforce and knn_batch_arrow; at |Q|=5 the dispatch
    lands on the kernel, making this the driver-checked proof the
    DEFAULT path is value-identical to the Catalyst twin."""
    from vfs_spark.operators.knn import knn_batch_auto

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    queries_df = _query_batch(spark, sf_dir)
    return knn_batch_auto(emb, queries_df, k=3)


@query(
    "embedding_truncate_renorm",
    oracle="""
WITH cut AS (
  SELECT vec_id,
         list_transform(embedding[1:32], x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
nrm AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS n
  FROM cut
),
ren AS (
  SELECT vec_id, n,
         CASE WHEN n = 0 THEN v ELSE list_transform(v, x -> x / n) END AS u
  FROM nrm
),
mu AS (
  SELECT vec_id, n, u,
         list_transform(u, x -> CAST(ROUND(x * 1000000) AS BIGINT)) AS ue6
  FROM ren
)
SELECT vec_id,
       CAST(ROUND(n * 1000000) AS BIGINT) AS n_u6,
       CAST(list_sum(ue6) AS BIGINT) AS sum_u6,
       CAST(list_sum([ue6[i] * i FOR i IN range(1, len(ue6) + 1)])
            AS BIGINT) AS posw_u6,
       ue6[1] AS first_u6,
       ue6[len(ue6)] AS last_u6,
       CAST(ROUND(list_sum(list_transform(u, x -> x * x)) * 1000000)
            AS BIGINT) AS norm2_u6
FROM mu
""",
)
def q_embedding_truncate_renorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Matryoshka-style prefix truncation (Kusupati et al. 2022,
    arXiv:2205.13147): keep the first 32 of 64 dims and L2-renormalize
    — the embedding-compression step MRL-trained models support
    natively, halving every downstream scan/shuffle byte count (a
    64→32 cut halves the ANN index and doubles effective cache).
    Cosine on the truncated prefix approximates full-dim cosine FOR
    MRL-TRAINED embeddings (information concentrated in the prefix —
    the operator's deployment precondition). RECALL_r09/r11 measure
    the worst case on this fixture's isotropic-random vectors (every
    dim equally informative → truncated top-10 recall 0.26, the floor
    an untrained embedding pays), and RECALL_r11 now also measures
    the TRAINED-prefix regime on an anisotropic fixture (spectrum
    i^-0.75 mixed by a random rotation): naive prefix of the rotated
    coords recalls 0.55, while rotating through
    embedding_pca_project's eigenbasis BEFORE truncating recalls
    0.9375 — the regime MRL training buys, reproduced by the repo's
    own PCA operator (tools/recallcheck.py, anisotropic section).

    Driver contract: array columns stay out of the hash compare
    (queries/core.py quantize_vec precedent), so the renormalized
    prefix is summarized as integer micro-unit scalars — pre-renorm
    norm `n_u6`, element micro-units summed exactly as integers
    (`sum_u6`), the POSITION-WEIGHTED sum `posw_u6` = Σ i·ue6[i]
    (code-review r11: sum_u6 alone is permutation-blind — an element
    swap or compensating ±1-microunit divergences would still
    hash-match; the weighted sum pins element order and per-position
    values inside the driver hash), the first/last elements
    (`first_u6`/`last_u6`), and
    the post-renorm squared norm `norm2_u6` (= 1_000_000 whenever
    n > 0 — the unit-norm property evaluated in-plan; 0 for a legal
    all-zeros head, which passes through unscaled, never NULLs).

    Shape: pure scan-stage Catalyst — slice + one sequential fold for
    the norm + transform for the scale; no shuffle, no Python. Every
    fold runs left-to-right in BOTH engines (F.aggregate / list_sum
    over identical element order), and the per-element micro-unit
    rounding happens BEFORE the sum, so the compare is exact integer
    arithmetic."""
    from vfs_spark.functions.distance import l2_norm

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    v = F.slice(F.col("embedding").cast("array<double>"), 1, 32)
    out = emb.select("vec_id", v.alias("v")).withColumn("_n", l2_norm("v"))
    u = F.when(F.col("_n") == 0.0, F.col("v")).otherwise(
        F.transform(F.col("v"), lambda x: x / F.col("_n"))
    )
    out = out.withColumn("u", u).withColumn(
        "ue6",
        F.transform(
            F.col("u"), lambda x: F.round(x * F.lit(1e6)).cast("bigint")
        ),
    )
    return out.select(
        "vec_id",
        F.round(F.col("_n") * F.lit(1e6)).cast("bigint").alias("n_u6"),
        F.aggregate(
            F.col("ue6"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_u6"),
        F.aggregate(
            F.zip_with(
                F.col("ue6"),
                F.sequence(F.lit(1), F.size("ue6")).cast("array<bigint>"),
                lambda x, i: x * i,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("posw_u6"),
        F.element_at(F.col("ue6"), 1).alias("first_u6"),
        F.element_at(F.col("ue6"), -1).alias("last_u6"),
        F.round(
            F.aggregate(
                F.col("u"), F.lit(0.0), lambda acc, x: acc + x * x
            )
            * F.lit(1e6)
        )
        .cast("bigint")
        .alias("norm2_u6"),
    )


@query(
    "embedding_centroid",
    oracle="""
SELECT label, CAST(i AS INTEGER) AS i,
       ROUND(AVG(CAST(embedding[i + 1] AS DOUBLE)), 6) AS c
FROM embeddings CROSS JOIN (SELECT unnest(range(0, 512)) AS i)
WHERE i < len(embedding)
GROUP BY label, i
""",
)
def q_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding collection — the class-mean
    building block (cluster seeding, nearest-class-mean classification,
    label-conditioned near-dup blocking). Shape: posexplode in the scan
    stage, then ONE map-side-combined aggregate on (label, i) — the
    shuffle carries |labels|·dim partial sums per partition, never the
    vectors. The 100 TB-safe way to average arrays (an in-row
    zip_with-accumulator would need a single reducer per label)."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    return (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", F.col("i").cast("int").alias("i"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("c"))
    )


@query(
    "embedding_outlier_scores",
    oracle="""
WITH mu AS (
  SELECT CAST(i AS INTEGER) AS i,
         CAST(ROUND(AVG(CAST(embedding[i + 1] AS DOUBLE)) * 1000000)
              AS BIGINT) AS mu_e6
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 512)) AS i)
  WHERE i < len(embedding)
  GROUP BY i
),
px AS (
  SELECT vec_id, CAST(i AS INTEGER) AS i,
         CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1000000)
              AS BIGINT) AS x_e6
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 512)) AS i)
  WHERE i < len(embedding)
)
SELECT px.vec_id AS vec_id,
       CAST(SUM((x_e6 - mu_e6) * (x_e6 - mu_e6)) AS BIGINT) AS sq_dist_e12
FROM px JOIN mu USING (i)
GROUP BY px.vec_id
""",
)
def q_embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Embedding outlier score: squared distance to the GLOBAL
    centroid, per vector — the curation gate that drops mislabeled /
    corrupted / off-distribution embeddings before dedup and index
    builds (high score = far from the collection's mass). Quantize
    once (x·10⁶ as int64), then the distance is EXACT integer
    arithmetic — order-independent, so the map-side-combined SUM
    cannot disagree with DuckDB in the last ulp the way a 64-term
    double sum can (NOTES float discipline); only the per-dim mean
    crosses the float boundary, through the same ROUND(AVG)·10⁶ the
    proven embedding_centroid oracle uses.

    100 TB shape: two passes — the centroid is a posexplode +
    (dim)-key map-side-combined aggregate (the shuffle carries
    dim·partitions partial sums, never vectors), broadcast back as
    dim rows; the score pass is scan-stage arithmetic + one
    aggregate on vec_id, co-partitioned with the explode."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "v")
    ).select(
        "vec_id",
        F.col("i").cast("int").alias("i"),
        F.col("v").cast("double").alias("v"),
    )
    mu = ex.groupBy("i").agg(
        F.round(F.avg("v") * 1_000_000).cast("bigint").alias("mu_e6")
    )
    scored = ex.select(
        "vec_id", "i", F.round(F.col("v") * 1_000_000).cast("bigint").alias("x_e6")
    ).join(F.broadcast(mu), "i")
    d = F.col("x_e6") - F.col("mu_e6")
    return scored.groupBy("vec_id").agg(
        F.sum(d * d).alias("sq_dist_e12")
    )


@query("ann_ivf_batch")  # rows-only: cluster-probe candidate set; recall-gated
def q_ann_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF serving: 5 query vectors routed to their recall-
    calibrated nprobe nearest of 16 clusters, one pruned scan +
    broadcast routing join, per-query exact top-5 within the probed
    cells. The many-queries form of ann_ivf (recall vs exact gated in
    tests/test_ann.py), at the same auto-nprobe operating point."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    km, assigned, nprobe = index_store.ivf_nprobe(
        spark, emb, sf_dir, n_clusters=16, recall_target=0.9
    )
    queries_df = _query_batch(spark, sf_dir, as_double=True)
    return ann_ops.ivf_search_batch(km, assigned, queries_df, k=5, nprobe=nprobe)


@query(
    "multimodal_resize",
    oracle="""
WITH px AS (
  SELECT doc_id,
         CAST((p // 32) // 4 AS INTEGER) AS ci,
         CAST((p % 32) // 4 AS INTEGER) AS cj,
         CASE WHEN p + 1 <= strlen(text)
              THEN ascii(substr(text, CAST(p + 1 AS INTEGER), 1))
              ELSE 0 END AS v
  FROM documents CROSS JOIN (SELECT unnest(range(0, 1024)) AS p)
)
SELECT doc_id AS media_id, ci, cj, ROUND(AVG(CAST(v AS DOUBLE)), 6) AS gray
FROM px GROUP BY doc_id, ci, cj
""",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-pool resize of a fake-decoded 32×32 byte grid to 8×8 —
    the real arithmetic of an image thumbnail stage, NumPy-vectorized
    per Arrow batch (operators/multimodal.resize_blocks). ASCII
    payload bytes double as pixel values, so DuckDB reproduces every
    cell from ascii(substr(...)): a fully value-checked media kernel.
    Each cell mean is an exact small-int sum / 16 — bit-identical
    across engines."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    media = multimodal.as_media(docs, "doc_id", F.encode(F.col("text"), "utf-8"))
    return multimodal.resize_blocks(media, src=(32, 32), dst=(8, 8))


# PQ and IVFPQ serving tables: fit-once/query-many, same policy as
# VFSEngine's _lsh/_ivf/_pq caches (SURVEY Q3 — refitting per search
# call is the reference's anti-pattern). Keyed by (application id,
# sf_dir) so a fresh SparkSession never reuses another session's
# table. The encoded tables are local checkpoints, not CacheManager
# entries, so a session-wide clearCache does not make the next search
# re-encode. Each entry remembers the models it was encoded with.
_PQ_INDEX_CACHE: dict[tuple[str, str], tuple] = {}
_IVFPQ_INDEX_CACHE: dict[tuple[str, str], tuple] = {}


def _encoded(cache: dict, spark: SparkSession, sf_dir: str, models: tuple, plan):
    """The checkpointed serving table of ``sf_dir`` while ``models`` are
    the very objects it was encoded with. index_store memoizes one
    model per fingerprint, so a rewritten ``embeddings`` table hands
    back new models: then ``plan`` is checkpointed in its place and
    the replaced checkpoint is released."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = cache.get(key)
    if hit is not None and all(a is b for a, b in zip(hit[0], models)):
        return hit[1]
    table = plan.localCheckpoint(eager=True)
    if hit is not None:
        dispatch.release(hit[1])
    cache[key] = (models, table)
    return table


def _pq_index(spark: SparkSession, sf_dir: str):
    """Fitted PQ codebooks + the encoded codes table, cached. The
    encode runs through the Arrow/NumPy kernel (encode_pq_arrow, 31×
    the Catalyst form at 2M vectors — byte-identical output asserted
    in tests/test_ann.py); at 100 TB the codes table would be a
    persisted parquet column written once at ingest."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    books, enc = index_store.load_or_fit(spark, emb, sf_dir, "pq")
    return books, _encoded(_PQ_INDEX_CACHE, spark, sf_dir, (books,), enc)


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """(kmeans_model, codebooks, (id, cluster_id, codes) table,
    nprobe): the IVFPQ index at rest — coarse routing + compressed
    codes, both from bounded constant-cost fits, cached fit-once/
    query-many. The routing operating point is calibrated to a ≥0.95
    ROUTING-recall target (stricter than IVF's 0.9: the PQ shortlist
    stage multiplies in its own ~0.95+ conditional recall, so the
    end-to-end product stays ≥0.9 — gated in RECALL_r09 and
    tests/test_ann.py)."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    # finer codebooks than the flat-PQ slugs (k=64 vs 16): IVFPQ's
    # end-to-end recall is routing × shortlist-stage recall, so the
    # ADC stage must waste less of the routing budget — measured
    # 0.95 end-to-end at (nprobe auto→13, shortlist 200) vs 0.875
    # with k=16 codebooks at the same routing point
    books, enc = index_store.load_or_fit(spark, emb, sf_dir, "pq", m=16, k=64)
    km, assigned, nprobe = index_store.ivf_nprobe(
        spark, emb, sf_dir, n_clusters=16, recall_target=0.95
    )
    # enc stays unpinned: its only consumer is this join, which is
    # itself checkpointed — a second copy of the codes table would sit
    # in executor memory for the whole application
    plan = assigned.select("vec_id", "cluster_id").join(enc, "vec_id")
    assigned_enc = _encoded(_IVFPQ_INDEX_CACHE, spark, sf_dir, (km, books), plan)
    return km, books, assigned_enc, nprobe


@query("ann_ivfpq")  # rows-only: recall-gated in tests/test_ann.py
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ: coarse-quantizer routing prunes to the recall-calibrated
    nprobe of 16 clusters (auto rule at the 0.95 routing target — on
    this unclustered fixture that measures ~13/16; on real clustered
    embeddings the fraction is small), ADC scores only the probed
    cells' 16-byte codes, exact rerank hydrates a 200-row shortlist.
    The compounding form of ann_ivf × ann_pq — at 100 TB this reads
    nprobe/n_clusters of the partitions × 1/16 of the bytes, with
    nprobe bought by measured recall, not guessed."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    km, books, assigned_enc, nprobe = _ivfpq_index(spark, sf_dir)
    return ann_ops.ivfpq_search(
        km, assigned_enc, emb, books, _query_vec(spark, sf_dir),
        k=10, nprobe=nprobe, shortlist=200,
    )


@query("ann_ivfpq_batch")  # rows-only: recall-gated + matches-single in tests
def q_ann_ivfpq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVFPQ serving: 5 queries routed driver-side to their
    recall-calibrated nprobe cells each, ONE scan of the union of
    routed cells reading only the code column, per-query routing mask
    inside the Arrow ADC kernel, exact rerank on |Q|·shortlist
    hydrated pairs. The
    compounding form of ann_ivf_batch × ann_pq_batch — at 100 TB the
    whole batch reads |∪ routed|/n_clusters of the partitions × 1/16
    of the bytes, once."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    km, books, assigned_enc, nprobe = _ivfpq_index(spark, sf_dir)
    queries_df = _query_batch(spark, sf_dir, as_double=True)
    return ann_ops.ivfpq_search_batch(
        km, assigned_enc, emb, books, queries_df,
        k=10, nprobe=nprobe, shortlist=200,
    )


@query("ann_pq_batch")  # rows-only: recall-gated in tests/test_ann.py
def q_ann_pq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch PQ serving: 5 query vectors ADC-scored against the cached
    code table in ONE scan (all m×k lookup tables shipped to the Arrow
    kernel together), 100-row shortlist per query, exact rerank on the
    hydrated pairs only. The many-queries form of ann_pq — at 100 TB
    a serving batch amortizes the code scan across the whole query
    set, the same move knn_batch/ivf_search_batch make for their
    families."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    books, enc = _pq_index(spark, sf_dir)
    queries_df = _query_batch(spark, sf_dir, as_double=True)
    return ann_ops.pq_search_rerank_batch(
        enc, emb, books, queries_df, k=5, shortlist=100
    )


@query("ann_pq")  # rows-only: recall-gated in tests/test_ann.py
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized search: m=16 sub-codebooks compress dim-64
    floats to 16 bytes/vector; ADC ranks a 100-row shortlist from the
    code column alone (m table lookups per row, pure Catalyst), then
    only the shortlist's float vectors are read for the exact rerank
    (recall@10 = 0.975 measured). The compression step the reference's
    flat int8 quantization (vector.rs:94-125) points toward — at
    100 TB the code scan reads 1/16th the bytes, and the codebook fit
    is a bounded-sample constant cost. The Arrow encode is cached for
    as long as the index store hands back the same codebooks
    (fit-once/query-many); encode_pq is the Catalyst twin of the
    encode kernel, kept for the oracle-style byte-identity check."""
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    books, enc = _pq_index(spark, sf_dir)
    return ann_ops.pq_search_rerank(
        enc, emb, books, _query_vec(spark, sf_dir), k=10, shortlist=100
    )


# The synthetic media population: docs with doc_id below this carry a
# synthesized WAV or image payload (the audio and image slugs, and the
# image stage of pipeline_multimodal_curation).
SYNTH_MEDIA_DOCS = 64


def _synth_wav_media(spark: SparkSession, sf_dir: str):
    """Deterministic FAKE audio ingest for the audio slugs: each doc
    becomes a 0.1 s 8 kHz 16-bit PCM WAV of a pure tone whose
    frequency is a function of doc_id (500 + 250·(doc_id mod 8) Hz).
    Clearly-marked synthesis — the container lacks audio fixtures and
    codec libraries — but everything downstream of the payload column
    (RIFF parse, PCM decode, resample, STFT) is the REAL kernel path,
    so the slug exercises the production plumbing end to end."""
    import io
    import wave

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    sr, dur = 8000, 0.1

    @pandas_udf("binary")
    def _wav(doc_ids: pd.Series) -> pd.Series:
        out = []
        t = np.arange(int(sr * dur)) / sr
        for d in doc_ids:
            f = 500.0 + 250.0 * (int(d) % 8)
            x = (0.5 * np.sin(2 * np.pi * f * t) * 32767).astype("<i2")
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(sr)
                w.writeframes(x.tobytes())
            out.append(buf.getvalue())
        return pd.Series(out)

    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("doc_id") < SYNTH_MEDIA_DOCS
    )
    return multimodal.as_media(docs, "doc_id", _wav(F.col("doc_id")))


@query("multimodal_spectrogram")  # rows-only: FFT is outside SQL oracles
def q_multimodal_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio STFT spectrogram over the multimodal binary-column
    contract: synthesized WAV payloads (deterministic tones — see
    _synth_wav_media) through the REAL RIFF/PCM decode + Hann-window
    rfft kernel chain (operators/multimodal.spectrogram). Output is
    one row per (clip, frame) with n_fft/2+1 magnitude bins; the
    peak-bin-matches-tone-frequency property is asserted in
    tests/test_multimodal.py. Summary projection keeps the driver
    compare bounded: per clip, frame count + argmax bin of frame 0."""
    media = _synth_wav_media(spark, sf_dir)
    spec = multimodal.spectrogram(media, n_fft=256, hop=128, sample_rate=8000)
    # Single pass over the decode+STFT chain: both aggregates (frame
    # count, frame-0 peak bin) come from ONE groupBy over frame rows —
    # a two-branch plan would execute the WAV synthesis + RIFF decode +
    # mapInPandas FFT twice (ADVICE r5).
    per_frame = spec.select(
        "media_id",
        "frame_idx",
        F.expr("array_position(mag, array_max(mag))")
        .cast("int")
        .alias("_pb1"),
    )
    return per_frame.groupBy("media_id").agg(
        F.count("*").cast("bigint").alias("n_frames"),
        (F.min_by("_pb1", "frame_idx") - 1).alias("peak_bin"),
    )


@query("multimodal_audio_features")  # rows-only: decode+FFT outside SQL oracles
def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip audio quality/content summary (duration, RMS,
    zero-crossing rate, spectral centroid) over the same synthesized
    WAV payloads — the silence/clipping/content gates an audio corpus
    pipeline runs at ingest, in integer micro-units
    (operators/multimodal.audio_features)."""
    media = _synth_wav_media(spark, sf_dir)
    return multimodal.audio_features(media, sample_rate=8000)


@query("embedding_pca_project")  # rows-only: eigenbasis floats are engine-specific
def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ PCA-reduce the embedding column to 16 dims (exact
    distributed-moment fit, driver eig on the 64×64 covariance, BLAS
    projection per Arrow batch — operators/pca.py). The compression
    pre-step that improves PQ codebooks and LSH contrast; summary
    output keeps the driver compare bounded: per vector, the reduced
    dim and the squared norm of the projection in micro-units
    (Parseval: ≤ the centered vector's squared norm, asserted with
    variance-ordering + reconstruction properties in
    tests/test_pca.py)."""
    from vfs_spark.operators import pca

    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    model = pca.fit_pca(emb, n_components=16)
    proj = pca.project_pca(emb, model)
    return proj.select(
        "vec_id",
        F.size("reduced").alias("k"),
        F.expr(
            "cast(round(1e6 * aggregate(reduced, 0.0D, (a, x) -> a + x * x)) as bigint)"
        ).alias("sq_norm_e6"),
    )


def _synth_bmp_media(spark: SparkSession, sf_dir: str):
    """Deterministic FAKE image ingest for the image-dedup slug: each
    doc (doc_id < SYNTH_MEDIA_DOCS) becomes a 32×32 image. Images come in 8
    GROUPS of 8 (group = doc_id div 8): one seeded base pattern per
    group plus per-id low-amplitude noise — so within-group images are
    perceptual near-dups and cross-group images are unrelated.
    Clearly-marked synthesis (no image fixtures in the container),
    but everything downstream of the payload column — container
    parse, pixel decode, block-mean pooling, bit packing — is the
    REAL kernel path (operators/multimodal._decode_gray → phash).

    Round 14: the corpus is MIXED-CODEC — even ids encode as 24-bit
    BMP, odd ids as 8-bit PNG (the r13 task-#8 deflate decoder), so
    every within-group near-dup pair crosses containers half the
    time: the recall gate now proves the PNG path is pixel-exact
    against the BMP path, not just self-consistent."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from vfs_spark.operators.multimodal import encode_bmp24, encode_png

    @pandas_udf("binary")
    def _bmp(doc_ids: pd.Series) -> pd.Series:
        # same seed recipe as multimodal.synth_group_bmps (the scale
        # probe's generator), so ids 0..63 produce identical payloads
        out = []
        for d in doc_ids:
            g = int(d) // 8
            base_rng = np.random.default_rng(1000 + g)
            yy, xx = np.mgrid[0:32, 0:32]
            base = 0.5 + 0.25 * np.sin(
                2 * np.pi * (base_rng.uniform(1, 4) * xx / 32)
            ) * np.cos(2 * np.pi * (base_rng.uniform(1, 4) * yy / 32))
            base += 0.15 * base_rng.standard_normal((32, 32))
            noise_rng = np.random.default_rng(5000 + int(d))
            img = np.clip(
                base + 0.02 * noise_rng.standard_normal((32, 32)), 0, 1
            )
            out.append(
                encode_bmp24(img)
                if int(d) % 2 == 0
                else encode_png(img, filter_type=int(d) % 5)
            )
        return pd.Series(out)

    docs = load_table(spark, sf_dir, "documents", fan_out=True).where(
        F.col("doc_id") < SYNTH_MEDIA_DOCS
    )
    return multimodal.as_media(docs, "doc_id", _bmp(F.col("doc_id")))


@query("dedup_image_phash")  # rows-only: perceptual-hash pairs outside SQL oracles
def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ IMAGE near-dup via perceptual hash: synthesized BMP payloads
    (8 groups of 8 perceptual near-dups — see _synth_bmp_media)
    through the REAL decode → block-mean → 64-bit average-hash kernel
    (operators/multimodal.phash), then the SAME banded hamming join
    text SimHash uses (dedup.hamming_pairs_banded, pigeonhole-
    complete for the budget, exact bit_count verify). The image-side
    member of the dedup family: re-encodes / mild-noise copies
    collapse, unrelated images stay ~32 bits apart.

    100 TB shape: images become 8-byte fingerprints in the scan
    stage; only (band, fingerprint, id) rows ever shuffle. The budget
    sets the band width and THAT decides scale (SCALE.md round-8
    probe, 100k images): max_hamming=10 forces 11×5-bit single
    bands — 32 buckets/band, 2.6 B candidates at 100k rows, Θ(n²)
    growth. Round 12 therefore registers the AND-composed band-PAIR
    keying (dedup.hamming_pairs_banded_and) as the default: both
    forms are pigeonhole-COMPLETE for the budget and exact-verified,
    so the OUTPUT is identical — the pair keys only shrink the
    candidate set (~11-bit composite keys vs 5-bit singles at h=10;
    measured 3.9× fewer candidates at 400k images, candidate-ladder
    exponent ~1.05 vs the single-band form's convergence to 2 past
    n≈2^16, SCALE.md round-11 tables). At corpus scale ALSO keep
    max_hamming ≤ 3-4 for a 64-bit phash (wider budgets shrink every
    key space); the wide h=10 budget here is the fixture's planted
    noise level, not a scale recommendation."""
    from vfs_spark.operators.dedup import hamming_pairs_banded_and

    media = _synth_bmp_media(spark, sf_dir)
    fp = multimodal.phash(media)
    return hamming_pairs_banded_and(
        fp,
        id_col="media_id",
        hash_col="phash",
        max_hamming=10,
        out_a="media_a",
        out_b="media_b",
    )
