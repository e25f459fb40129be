"""Exact-vs-approx crossover benchmark — the Spark inversion of the
reference's headline chart (benchmarks/benchmarks.py:100-121 plots
exact vs approx /search latency at growing N; its approx path REBUILDS
the index per query, so approx is strictly slower there).

Here the index is fit ONCE and amortized: for each collection size N
this measures
  - exact single-query latency (TakeOrderedAndProject full scan),
  - LSH build-once cost + per-query latency,
  - IVF (KMeans + cluster-partitioned parquet) build cost + per-query
    partition-pruned latency,
and reports the break-even query count: after how many queries the
fit-once ANN path is cheaper than repeated exact scans. Results are
recorded in SCALE.md §crossover.

Usage: python tools/crossover.py [N ...]   # default 20k 200k 1M
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
N_QUERY_REPS = 3


def _best(fn, reps=N_QUERY_REPS) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [20_000, 200_000, 1_000_000]
    from vfs_spark.session import get_spark
    from vfs_spark.operators import ann as ann_ops
    from vfs_spark.operators.knn import exact_knn
    from vfs_spark.sources.parquet import read_parquet

    spark = get_spark("vfs-crossover")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".crossover_tmp"
    )
    shutil.rmtree(tmp, ignore_errors=True)
    rows = []
    try:
        for n in sizes:
            vecs = spark.range(n).select(
                F.col("id").alias("vec_id"),
                F.array(*[F.rand(seed=i) for i in range(DIM)])
                .cast("array<float>")
                .alias("embedding"),
            )
            vecs.write.mode("overwrite").parquet(f"{tmp}/vec_{n}")
            emb = spark.read.parquet(f"{tmp}/vec_{n}")
            emb.count()  # warm the file listing
            q = [0.5] * DIM

            exact_q = _best(lambda: exact_knn(emb, q, k=10).collect())

            t0 = time.time()
            model, vdf = ann_ops.build_lsh_index(emb)
            vdf = vdf.cache()
            vdf.count()
            lsh_build = time.time() - t0
            lsh_q = _best(
                lambda: ann_ops.approx_knn(model, vdf, q, k=10).collect()
            )

            t0 = time.time()
            km, assigned = ann_ops.build_ivf_index(emb, n_clusters=32)
            ann_ops.write_ivf_partitioned(assigned, f"{tmp}/ivf_{n}")
            ivf_build = time.time() - t0
            ivf_q = _best(
                lambda: ann_ops.ivf_search(
                    km, read_parquet(spark, f"{tmp}/ivf_{n}"), q, k=10, nprobe=4
                ).collect()
            )
            vdf.unpersist()

            def breakeven(build: float, per_q: float) -> float | None:
                return round(build / (exact_q - per_q), 1) if per_q < exact_q else None

            rows.append(
                {
                    "n": n,
                    "exact_q_s": round(exact_q, 3),
                    "lsh_build_s": round(lsh_build, 3),
                    "lsh_q_s": round(lsh_q, 3),
                    "lsh_breakeven_queries": breakeven(lsh_build, lsh_q),
                    "ivf_build_s": round(ivf_build, 3),
                    "ivf_q_s": round(ivf_q, 3),
                    "ivf_breakeven_queries": breakeven(ivf_build, ivf_q),
                }
            )
            print(json.dumps(rows[-1]), flush=True)
        print(json.dumps({"dim": DIM, "rows": rows}))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
