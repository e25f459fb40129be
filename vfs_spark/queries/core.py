"""Core vector-engine queries — the reference's full operator surface
(SURVEY.md §2.1) as registered, oracle-checked queries over the
``embeddings`` fixture (vec_id LONG, embedding ARRAY<FLOAT>, label INT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vfs_spark.functions.distance import cosine_distance, euclidean
from vfs_spark.functions.quantize import dequantize, quantize
from vfs_spark.operators.knn import exact_knn, hydrate
from vfs_spark.queries.registry import query
from vfs_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB oracle side). All math in DOUBLE with a
# sequential fold — mirrors the Spark column expressions exactly.

def _sq_l2(a: str, b: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2)))"
    )


def _dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def _norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE)^2)))"


def _cos_dist(a: str, b: str) -> str:
    # trailing `+ 0.0` normalizes IEEE -0.0 (ROUND of a tiny negative)
    # to +0.0 so the driver's value hash agrees with the Spark side
    return f"(1.0 - {_dot(a, b)} / ({_norm(a)} * {_norm(b)}))"


_Q0 = "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)"
_QV = "(SELECT qv FROM q)"

# quantize: round(clamp(v,-1,1) * 127) → int8  (vector.rs:94-108)
_QUANT = (
    "list_transform(embedding, x -> CAST(round(greatest(-1.0, "
    "least(1.0, CAST(x AS DOUBLE))) * 127) AS INTEGER))"
)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _query_vec(spark: SparkSession, sf_dir: str, vid: int = 0) -> list[float]:
    """Driver-side point lookup of one query vector (≤1 row; the
    analogue of the reference receiving a query over HTTP)."""
    # collect, not first(): first() takes incrementally and runs a
    # second job whenever the row is not in the first partition
    rows = (
        _emb(spark, sf_dir)
        .where(F.col("vec_id") == vid)
        .select("embedding")
        .collect()
    )
    return list(rows[0][0])


# ---------------------------------------------------------------------------
# 2.1 #5 exact_knn (+ #7 + #13 fused) — the flagship query


@query(
    "exact_knn",
    oracle=f"""
{_Q0}
SELECT e.vec_id AS vec_id, ROUND({_sq_l2('e.embedding', _QV)}, 6) AS dist
FROM embeddings e
ORDER BY dist ASC, vec_id ASC
LIMIT 5
""",
)
def q_exact_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 euclidean neighbors of vector 0 (rank.rs:119-186).
    Physical plan: Parquet scan → codegen'd distance expr →
    TakeOrderedAndProject (per-partition heap, k rows shuffled)."""
    return exact_knn(_emb(spark, sf_dir), _query_vec(spark, sf_dir), k=5)


@query(
    "topk_truncate",
    oracle=f"""
{_Q0}
SELECT e.vec_id AS vec_id, ROUND({_cos_dist('e.embedding', _QV)}, 6) + 0.0 AS dist
FROM embeddings e
ORDER BY dist ASC, vec_id ASC
LIMIT 10
""",
)
def q_topk_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#13 top-k truncation shown on the cosine path, k=10
    (rank.rs:170-178; ties → id asc per SURVEY Q8)."""
    return exact_knn(
        _emb(spark, sf_dir), _query_vec(spark, sf_dir), k=10, metric="cosine"
    )


# ---------------------------------------------------------------------------
# 2.1 #7 / #8 distance functions over the whole collection


@query(
    "dist_euclidean",
    oracle=f"""
{_Q0}
SELECT e.vec_id AS vec_id, ROUND({_sq_l2('e.embedding', _QV)}, 6) AS dist
FROM embeddings e
""",
)
def q_dist_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#7 euclidean distance (rank.rs:271-287) evaluated for every
    stored vector against query 0 — pure column expression."""
    q = _query_vec(spark, sf_dir)
    return _emb(spark, sf_dir).select(
        "vec_id", F.round(euclidean("embedding", q), 6).alias("dist")
    )


@query(
    "dist_cosine",
    oracle=f"""
{_Q0}
SELECT e.vec_id AS vec_id, ROUND({_cos_dist('e.embedding', _QV)}, 6) + 0.0 AS dist
FROM embeddings e
""",
)
def q_dist_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#8 cosine distance 1 − dot/(‖a‖·‖b‖) (rank.rs:290-300)."""
    q = _query_vec(spark, sf_dir)
    return _emb(spark, sf_dir).select(
        "vec_id",
        (F.round(cosine_distance("embedding", q), 6) + F.lit(0.0)).alias("dist"),
    )


# ---------------------------------------------------------------------------
# 2.1 #3 point lookup, #4 batch scan, #18 dim filter


@query(
    "point_lookup_id",
    oracle="""
SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e0
FROM embeddings WHERE vec_id = 42
""",
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#3 get-by-id (storage_manager.rs:235-296). The reference's
    memtable → B-tree → linear-scan tiers collapse into one filter
    with Parquet predicate pushdown doing the index's job."""
    return _emb(spark, sf_dir).where(F.col("vec_id") == 42).select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
    )


@query(
    "batch_scan",
    oracle="""
SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e0
FROM embeddings
""",
)
def q_batch_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#4 full sequential scan (load_batch, storage_manager.rs:166-217).
    Batching/cursor become Spark partition iteration; column pruning
    means only referenced columns are read from Parquet."""
    return _emb(spark, sf_dir).select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("e0"),
    )


@query(
    "filter_dim_check",
    oracle="""
SELECT vec_id FROM embeddings
WHERE len(embedding) = (SELECT len(embedding) FROM embeddings WHERE vec_id = 0)
""",
)
def q_filter_dim_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#18 dimension-check filter (tcp.rs:306-311,370-375)."""
    emb = _emb(spark, sf_dir)
    dim = len(_query_vec(spark, sf_dir, 0))
    return emb.where(F.size("embedding") == dim).select("vec_id")


# ---------------------------------------------------------------------------
# 2.1 #1 id assignment, #15 snapshot state


@query(
    "insert_assign_ids",
    oracle="""
SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS new_id,
       vec_id, label
FROM embeddings
""",
)
def q_insert_assign_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#1 monotonically-increasing dense id assignment at insert
    (storage_manager.rs:126-130,317-335). Uses the SCALE-TRUE
    range-partitioned two-pass (operators/ids.assign_dense_ids_ranged):
    output is identical to row_number() OVER (ORDER BY vec_id) — the
    oracle hash-checks that — but the plan has no single-partition
    global-sort window: one range exchange, per-partition counts,
    partition-local row_number."""
    from vfs_spark.operators.ids import assign_dense_ids_ranged

    out = assign_dense_ids_ranged(
        _emb(spark, sf_dir), order_col="vec_id", id_name="new_id"
    )
    return out.select("new_id", "vec_id", "label")


@query(
    "snapshot_state",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(max(vec_id) + 1 AS BIGINT) AS next_id
FROM embeddings
""",
)
def q_snapshot_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#15 snapshot: VFSState's next_id/current_offset are derived
    state in Spark — recomputed, not persisted (SURVEY §1.5)."""
    return _emb(spark, sf_dir).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        (F.max("vec_id") + 1).cast("bigint").alias("next_id"),
    )


# ---------------------------------------------------------------------------
# 2.1 #17 result hydration


@query(
    "result_hydrate",
    oracle=f"""
{_Q0}
SELECT e.vec_id AS vec_id, e.label AS label, hits.dist AS dist
FROM (
  SELECT e2.vec_id, ROUND({_sq_l2('e2.embedding', _QV)}, 6) AS dist
  FROM embeddings e2 ORDER BY dist ASC, vec_id ASC LIMIT 5
) hits JOIN embeddings e USING (vec_id)
""",
)
def q_result_hydrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#17 hydrate (id,dist) hits with their stored rows
    (tcp.rs:408-427) — per-hit point lookups become one broadcast
    hash join (k rows broadcast; the vector table never shuffles)."""
    emb = _emb(spark, sf_dir)
    hits = exact_knn(emb, _query_vec(spark, sf_dir), k=5)
    return hydrate(hits, emb).select("vec_id", "label", "dist")


# ---------------------------------------------------------------------------
# 2.1 #11 / #12 quantization


@query(
    "quantize_vec",
    oracle=f"""
SELECT vec_id,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_aggregate(qv, 'min') AS INTEGER) AS q_min,
       CAST(list_aggregate(qv, 'max') AS INTEGER) AS q_max
FROM (SELECT vec_id, {_QUANT} AS qv FROM embeddings)
""",
)
def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#11 f32→i8 quantization (vector.rs:94-125): round(clamp(v,-1,1)
    ·127). Summarized as (sum, min, max) of the int8 codes — array
    columns stay out of the hash compare, the arithmetic is fully
    checked."""
    qv = quantize("embedding")
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.aggregate(
            qv, F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint")
        ).alias("q_sum"),
        F.array_min(qv).cast("int").alias("q_min"),
        F.array_max(qv).cast("int").alias("q_max"),
    )


@query(
    "dequantize_vec",
    oracle=f"""
SELECT vec_id,
       ROUND(list_sum(list_transform(qv, q -> CAST(q AS DOUBLE) / 127.0)), 6) + 0.0 AS dq_sum,
       CAST(list_aggregate(list_transform(list_zip(qv, embedding),
            p -> abs(CAST(p[1] AS DOUBLE) / 127.0
                 - greatest(-1.0, least(1.0, CAST(p[2] AS DOUBLE))))), 'max')
            <= 1.0/254 + 1e-9 AS BOOLEAN) AS roundtrip_ok
FROM (SELECT vec_id, embedding, {_QUANT} AS qv FROM embeddings)
""",
)
def q_dequantize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#12 dequantize q/scale (vector.rs:135-154) + the round-trip
    property |dequantize(quantize(v)) − clamp(v,−1,1)| ≤ 1/254
    (SURVEY §5.2.3) evaluated in-plan."""
    qv = quantize("embedding")
    dq = dequantize(qv)
    clamped = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x)),
    )
    err = F.array_max(F.zip_with(dq, clamped, lambda a, b: F.abs(a - b)))
    return _emb(spark, sf_dir).select(
        "vec_id",
        (
            F.round(F.aggregate(dq, F.lit(0.0), lambda acc, x: acc + x), 6)
            + F.lit(0.0)
        ).alias("dq_sum"),
        (err <= F.lit(1.0 / 254 + 1e-9)).alias("roundtrip_ok"),
    )


@query(
    "exact_knn_quantized",
    oracle=f"""
{_Q0}
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(
           list_zip(list_transform({_QUANT}, q -> CAST(q AS DOUBLE) / 127.0),
                    {_QV}),
           p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2))), 6) AS dist
FROM embeddings
ORDER BY dist ASC, vec_id ASC
LIMIT 5
""",
)
def q_exact_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 over QUANTIZED storage — the reference's transparent
    quantized-read path (quantize flag at flush, dequantize on load;
    storage_manager.rs:143-151, 202-210) as one plan: int8 codes →
    dequantize column expr → distance → top-k. At scale the scan reads
    4× fewer bytes (ARRAY<TINYINT> vs ARRAY<FLOAT>) at ~1/254 recall-
    neutral noise per element; the dequantize math fuses into the same
    codegen stage as the distance."""
    emb = _emb(spark, sf_dir)
    stored_q = emb.select("vec_id", quantize("embedding").alias("qv"))
    dq = stored_q.select("vec_id", dequantize("qv").alias("dq"))
    q = _query_vec(spark, sf_dir)
    return (
        dq.select("vec_id", F.round(euclidean("dq", q), 6).alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
        .limit(5)
    )


# exact_knn_quantized also belongs in the bench headline set; keep the
# registry authoritative there (bench.py imports by slug).


# ---------------------------------------------------------------------------
# ⊕ CDC upsert — the write-path operation the reference lacks


@query(
    "merge_upsert_vectors",
    oracle="""
WITH upd AS (
  SELECT vec_id, label + 100 AS label,
         CAST(len(embedding) AS INTEGER) AS dim
  FROM embeddings WHERE vec_id % 10 = 0
)
SELECT vec_id, CAST(label AS INTEGER) AS label, dim, 'upd' AS src
FROM upd
UNION ALL
SELECT b.vec_id, CAST(b.label AS INTEGER) AS label,
       CAST(len(b.embedding) AS INTEGER) AS dim, 'base' AS src
FROM embeddings b
WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.vec_id = b.vec_id)
""",
)
def q_merge_upsert_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ CDC MERGE (upsert) into the vector store: an update batch
    (here: every 10th vector re-labeled, standing in for re-embedded
    rows) replaces matching ids and new ids append — the reference's
    insert path (storage_manager.rs:120-141) is append-only with
    engine-assigned ids, so updates-by-key are the capability a
    production feed adds on top. Spark shape: MERGE = anti-join the
    base against the update keys, union the updates — the update
    batch is small → broadcast anti join, the base never shuffles;
    at 100 TB this is the standard copy-on-write merge (rewrite only
    matched files when partitioned by id range). Output is
    scalarized (id, label, dim, provenance) — embedding arrays stay
    out of the hash compare."""
    emb = _emb(spark, sf_dir)
    upd = emb.where(F.col("vec_id") % 10 == 0).select(
        "vec_id",
        (F.col("label") + 100).alias("label"),
        F.size("embedding").alias("dim"),
    )
    base = emb.join(
        F.broadcast(upd.select("vec_id")), "vec_id", "left_anti"
    ).select("vec_id", "label", F.size("embedding").alias("dim"))
    return (
        upd.withColumn("src", F.lit("upd"))
        .unionByName(base.withColumn("src", F.lit("base")))
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.col("dim").cast("int").alias("dim"),
            "src",
        )
    )


@query(
    "exact_knn_filtered",
    oracle=f"""
{_Q0}
SELECT e.vec_id AS vec_id, e.label AS label,
       ROUND({_sq_l2('e.embedding', _QV)}, 6) AS dist
FROM embeddings e
WHERE e.label = 1
ORDER BY dist ASC, vec_id ASC
LIMIT 5
""",
)
def q_exact_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ Metadata-filtered vector search: exact top-5 among vectors
    with label = 1 — the filtered-ANN query every vector store serves
    (the reference stores tags, vector.rs:15, but never filters on
    them; filter_by_tag + this closes that gap). PRE-filtering is free
    in Spark: the label predicate pushes to the Parquet scan, so the
    distance expression runs only on survivors — unlike post-filter
    designs that over-fetch k then discard. With label-partitioned
    layout the filter becomes partition pruning."""
    emb = _emb(spark, sf_dir).where(F.col("label") == 1)
    q = _query_vec(spark, sf_dir)
    dist = F.round(euclidean("embedding", q), 6).alias("dist")
    return (
        emb.select("vec_id", "label", dist)
        .orderBy(F.col("dist").asc_nulls_last(), F.col("vec_id").asc())
        .limit(5)
    )


@query(
    "range_search_radius",
    oracle=f"""
{_Q0}
SELECT e.vec_id AS vec_id, ROUND({_sq_l2('e.embedding', _QV)}, 6) AS dist
FROM embeddings e
WHERE ROUND({_sq_l2('e.embedding', _QV)}, 6) <= 1.8
""",
)
def q_range_search_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """⊕ RANGE search — all vectors within squared-L2 radius 1.8 of
    query 0, the fixed-radius companion to top-k (#5/#13): radius
    semantics are what dedup thresholds, spatial joins, and
    recall-complete retrieval need, where top-k's result size is
    wrong by construction (k misses at high density, pads at low).
    The threshold compares the ROUNDED distance on both engines (the
    dedup_embedding_cosine discipline).

    100 TB shape: a pure scan-stage column predicate — no shuffle at
    all (the filter IS the operator), embarrassingly parallel, and
    composable with the same LSH/IVF pruning as approx_knn because
    radius ≤ bucket geometry bounds which cells can contain matches.
    Plan-asserted filter-only in tests/test_plans.py."""
    q = _query_vec(spark, sf_dir)
    d = F.round(euclidean("embedding", q), 6)
    return (
        _emb(spark, sf_dir)
        .select("vec_id", d.alias("dist"))
        .where(F.col("dist") <= 1.8)
    )
