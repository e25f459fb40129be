"""Head-to-head probe of the three semantic-dedup strategies on
planted near-dup geometry (isotropic unit vectors + 1% planted dups
at cos ≈ 0.95, threshold 0.9) — the SCALE.md comparison table's
generator. Usage:

    python tools/semantic_probe.py [N] [strategies...]

Strategies: simhash (AND-banded hyperplane), semdedup (KMeans cells,
k scaled ~N/4000), brp (MLlib BRP self-join — known DNF beyond ~10k,
off by default). All run in ONE session, interleaved with nothing
else, so walls are comparable (NOTES: host noise is 10-20× across
sessions).

The corpus is generated DISTRIBUTED and persisted to parquet first
(seeded randn columns; planted dups derive from the persisted base so
both copies share bits exactly) — no driver materialization, same
discipline as tools/stress.py.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

DIM = 64
COS = 0.95  # planted pair similarity (approx; noise sigma derived)
THRESH = 0.9


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    strategies = sys.argv[2:] or ["simhash", "semdedup"]
    p = n // 100

    from vfs_spark.session import get_spark

    spark = get_spark("semantic-probe")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".semantic_probe_tmp",
    )
    shutil.rmtree(tmp, ignore_errors=True)

    # base corpus: isotropic gaussians (unnormalized — cosine is
    # norm-invariant), persisted so planted copies share exact bits
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.randn(seed=j) for j in range(DIM)])
        .cast("array<float>")
        .alias("embedding"),
    )
    base.write.mode("overwrite").parquet(f"{tmp}/base")
    base = spark.read.parquet(f"{tmp}/base")
    # planted dups: ids [n, n+p) copy ids [0, p) + sigma*noise; at
    # sigma=0.33/sqrt(dim)·|x| the expected cosine is ~0.95
    sigma = 0.33
    dup = (
        base.where(F.col("vec_id") < p)
        .select(
            (F.col("vec_id") + n).alias("vec_id"),
            F.expr(
                f"transform(embedding, (x, j) -> "
                f"cast(x + {sigma} * randn({4242}) as float))"
            ).alias("embedding"),
        )
    )
    dup.write.mode("overwrite").parquet(f"{tmp}/dup")
    corpus = spark.read.parquet(f"{tmp}/base").unionByName(
        spark.read.parquet(f"{tmp}/dup")
    )
    corpus.write.mode("overwrite").parquet(f"{tmp}/corpus")
    corpus = spark.read.parquet(f"{tmp}/corpus")

    # truth = planted pairs that actually sit >= THRESH (noise tail
    # falls below); exact cosine on the planted pairs only (p rows)
    from vfs_spark.functions.distance import dot, l2_norm

    a = spark.read.parquet(f"{tmp}/base").where(F.col("vec_id") < p).alias("a")
    b = (
        spark.read.parquet(f"{tmp}/dup")
        .select((F.col("vec_id") - n).alias("src"), F.col("embedding").alias("e2"))
        .alias("b")
    )
    planted = (
        a.join(b, F.col("a.vec_id") == F.col("b.src"))
        .select(
            F.col("a.vec_id").alias("va"),
            (F.col("b.src") + n).alias("vb"),
            (
                dot("a.embedding", "e2")
                / (l2_norm("a.embedding") * l2_norm("e2"))
            ).alias("cs"),
        )
        .where(F.col("cs") >= THRESH)
    )
    truth = {(r["va"], r["vb"]) for r in planted.collect()}
    print(f"N={n} planted={p} truth_pairs={len(truth)}")

    from vfs_spark.operators import dedup as D

    def run(name, fn):
        t0 = time.time()
        got = {(r["vec_a"], r["vec_b"]) for r in fn().collect()}
        wall = time.time() - t0
        rec = len(got & truth) / max(1, len(truth))
        print(
            f"{name:10s} wall={wall:7.1f}s pairs={len(got):7d} "
            f"recall_vs_planted={rec:.3f}"
        )

    try:
        if "simhash" in strategies:
            # band_bits='auto' = the operator's own sizing rule, so the
            # probe always measures the production configuration
            run(
                "simhash auto x48",
                lambda: D.embedding_simhash_pairs(
                    corpus, cos_threshold=THRESH, n_bands=48,
                    band_bits="auto",
                ),
            )
        if "semdedup" in strategies:
            k = max(16, (n + p) // 4000)
            run(
                f"semdedup k={k}",
                lambda: D.semdedup_pairs(
                    corpus, cos_threshold=THRESH, n_clusters=k
                ),
            )
        if "pipeline" in strategies:
            # pipeline_semantic_corpus composed end-to-end at scale:
            # banded edges -> exact verify -> connected components over
            # the touched subgraph -> keep/drop manifest. Wall covers
            # the full manifest materialization; recall = fraction of
            # true planted pairs whose endpoints share a cluster label
            # (computed DISTRIBUTED — labels never collect).
            from vfs_spark.operators.dedup import connected_components

            t0 = time.time()
            edges = (
                D.embedding_simhash_pairs(
                    corpus, cos_threshold=THRESH, n_bands=48,
                    band_bits="auto",
                )
                .select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
                .localCheckpoint(eager=True)
            )
            touched = (
                edges.select(F.col("src").alias("vec_id"))
                .union(edges.select(F.col("dst").alias("vec_id")))
                .distinct()
            )
            cc = connected_components(touched, edges, id_col="vec_id")
            labels = (
                corpus.select("vec_id")
                .join(F.broadcast(cc), "vec_id", "left")
                .select(
                    "vec_id",
                    F.coalesce("cluster_id", F.col("vec_id"))
                    .cast("bigint")
                    .alias("cluster_id"),
                )
            )
            labels.write.mode("overwrite").parquet(f"{tmp}/labels")
            wall = time.time() - t0
            labels = spark.read.parquet(f"{tmp}/labels")
            n_total = labels.count()
            n_keep = labels.where(
                F.col("vec_id") == F.col("cluster_id")
            ).count()
            tr = spark.createDataFrame(
                list(truth), "va bigint, vb bigint"
            )
            la = labels.select(
                F.col("vec_id").alias("va"), F.col("cluster_id").alias("ca")
            )
            lb = labels.select(
                F.col("vec_id").alias("vb"), F.col("cluster_id").alias("cb")
            )
            same = (
                tr.join(la, "va")
                .join(lb, "vb")
                .where(F.col("ca") == F.col("cb"))
                .count()
            )
            rec = same / max(1, len(truth))
            print(
                f"pipeline   wall={wall:7.1f}s labeled={n_total} "
                f"keep={n_keep} drop={n_total - n_keep} "
                f"recall_vs_planted={rec:.3f}"
            )
        if "brp" in strategies:
            run(
                "brp 8x0.75",
                lambda: D.embedding_banded_pairs(
                    corpus, cos_threshold=THRESH, num_hash_tables=8,
                    bucket_length=0.75,
                    max_candidate_ratio=None,  # probe the RAW BRP twin
                ),
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
