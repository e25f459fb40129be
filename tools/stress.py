"""Scale-stress harness: synthesize data 100-1000× the sf0.1 fixtures
IN SPARK (seeded rand; nothing read from /root/testdata) and time the
headline operators on it. This is the empirical check behind SCALE.md
— fixture timings are overhead-dominated; here the input is big
enough that the plan shape is what you measure. Usage:

    python tools/stress.py [n_vectors] [n_docs]   # default 2M / 200k

Writes its temp store under .stress_tmp/ (gitignored), removes it on
exit.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

DIM = 64
WORDS = [f"w{i}" for i in range(500)]


def main() -> None:
    n_vec = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_doc = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    from vfs_spark.session import get_spark
    from vfs_spark.functions.distance import euclidean
    from vfs_spark.operators import dedup
    from vfs_spark.operators.knn import exact_knn, knn_batch, knn_batch_arrow

    spark = get_spark("vfs-stress")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".stress_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    times: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        times[name] = round(time.time() - t0, 2)
        return out

    try:
        # ---- synthesize + persist (parquet, like a real store) ----
        vecs = spark.range(n_vec).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.rand(seed=i) for i in range(DIM)])
            .cast("array<float>")
            .alias("embedding"),
        )
        timed("write_vectors", lambda: vecs.write.mode("overwrite").parquet(f"{tmp}/vec"))
        emb = spark.read.parquet(f"{tmp}/vec")

        word = lambda c: F.element_at(  # noqa: E731
            F.array(*[F.lit(w) for w in WORDS]),
            (F.pmod(F.hash(c), F.lit(len(WORDS))) + 1).cast("int"),
        )
        docs = spark.range(n_doc).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ", *[word(F.col("id") * 97 + i * 13) for i in range(60)]
            ).alias("text"),
        )
        # plant exact near-dups: every 1000th doc duplicates its neighbor
        timed("write_docs", lambda: docs.write.mode("overwrite").parquet(f"{tmp}/doc"))
        docs = spark.read.parquet(f"{tmp}/doc")

        q = [0.5] * DIM

        timed("exact_knn_top5", lambda: exact_knn(emb, q, k=5).collect())
        queries_df = emb.where(F.col("vec_id") < 100).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        timed(
            "knn_batch100_arrow",
            lambda: knn_batch_arrow(emb, queries_df, k=5)
            .write.mode("overwrite")
            .format("noop")
            .save(),
        )
        if os.environ.get("STRESS_EXPR_KNN"):
            timed(
                "knn_batch100_expr",
                lambda: knn_batch(emb, queries_df, k=5)
                .write.mode("overwrite")
                .format("noop")
                .save(),
            )
        timed(
            "filter_agg_scan",
            lambda: emb.where(euclidean("embedding", q) < 2.0)
            .agg(F.count("*"))
            .collect(),
        )
        # ---- PQ: encode once, ADC-search the code column ----
        from vfs_spark.operators.ann import (
            encode_pq,
            fit_pq_codebooks,
            pq_search,
            pq_search_rerank,
        )

        books = timed("pq_fit_sampled", lambda: fit_pq_codebooks(emb, sample_rows=50_000))
        if os.environ.get("STRESS_EXPR_PQ"):
            timed(
                "pq_encode_expr",
                lambda: encode_pq(emb, books)
                .write.mode("overwrite")
                .format("noop")
                .save(),
            )
        from vfs_spark.operators.ann import encode_pq_arrow

        timed(
            "pq_encode_write",
            lambda: encode_pq_arrow(emb, books)
            .write.mode("overwrite")
            .parquet(f"{tmp}/pq"),
        )
        enc = spark.read.parquet(f"{tmp}/pq")
        timed("pq_adc_search", lambda: pq_search(enc, books, q, k=10).collect())
        timed(
            "pq_rerank_search",
            lambda: pq_search_rerank(enc, emb, books, q, k=10, shortlist=100).collect(),
        )
        from vfs_spark.operators.ann import pq_search_rerank_batch

        # batch serving comparison vs knn_batch100_arrow: same 100
        # queries, ADC shortlist + rerank instead of full float matmul
        timed(
            "pq_batch100_rerank",
            lambda: pq_search_rerank_batch(
                enc, emb, books, queries_df, k=5, shortlist=100
            )
            .write.mode("overwrite")
            .format("noop")
            .save(),
        )

        timed(
            "dedup_minhash_native",
            lambda: dedup.minhash_native_pairs(docs).count(),
        )
        timed(
            "dedup_simhash_jvm",
            lambda: dedup.simhash_near_dup_pairs(docs, impl="jvm").count(),
        )
        timed(
            "dedup_simhash_agg",
            lambda: dedup.simhash_near_dup_pairs(docs, impl="agg").count(),
        )
        print(
            json.dumps(
                {"n_vectors": n_vec, "n_docs": n_doc, "dim": DIM, "times_s": times}
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
