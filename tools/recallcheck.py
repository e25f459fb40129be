#!/usr/bin/env python
"""Per-round recall artifact (VERDICT r5 #5): measure every approximate
operator family against its exact ground truth and write
RECALL_r{N}.json — machine-readable, diffable round over round, like
CORRECTNESS. Previously these gates lived only inside pytest asserts
and SCALE.md prose.

Usage:  python tools/recallcheck.py [round] [ann_sf_dir] [dedup_sf_dir]
        [ladder=N1,N2]   (opt-in: auto_nprobe validity on synthetic
                          ladder stores, r14 VERDICT #6 — builds the
                          stores under .ann_ladder_tmp/ on first use)
Defaults: round=06, ANN at /root/testdata/sf0.1 (2k vectors),
dedup truth at /root/testdata/sf0.01 (all-pairs truth is O(N²) — the
larger fixture would dominate the tool's runtime for no extra signal).

Every entry records the op, dataset, operating-point params, truth
size, and measured recall; precision is structural (exact verify) for
every dedup family and noted as such.
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _walled(fn) -> float:
    """Wall seconds of one call — the ladder's serving-latency probe
    (r15 VERDICT #7); callers take best-of-3."""
    t0 = time.time()
    fn()
    return time.time() - t0


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: recallcheck.py ROUND   (e.g. 08 — writes "
                 "RECALL_r{ROUND}.json; no silent default: a stale "
                 "default once overwrote a historical round's artifact)")
    # optional ladder=N1,N2 anywhere after ROUND: also validate the
    # auto_nprobe operating point on synthetic ladder-scale stores
    # (r14 VERDICT #6) — expensive (builds the stores), so opt-in
    args = [a for a in sys.argv[1:] if not a.startswith("ladder=")]
    ladder = next(
        (a.split("=", 1)[1] for a in sys.argv[1:]
         if a.startswith("ladder=")),
        None,
    )
    rnd = args[0]
    ann_sf = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    dedup_sf = args[2] if len(args) > 2 else "/root/testdata/sf0.01"

    import warnings

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    import vfs_spark.queries  # noqa: F401  (registers slugs)
    from vfs_spark.functions.distance import dot, l2_norm
    from vfs_spark.operators import ann as A
    from vfs_spark.sources.parquet import load_table, read_parquet
    from vfs_spark.operators import dedup as D
    from vfs_spark.operators.knn import exact_knn
    from vfs_spark.queries.registry import QUERIES
    from vfs_spark.session import get_spark

    warnings.simplefilter("ignore")
    spark = get_spark()
    entries: list[dict] = []
    gate_misses: list[tuple] = []

    def add(op, dataset, params, n_truth, recall, wall, note=None,
            role=None, gate=None):
        # role (r13 VERDICT #6): "registered" = the operating point a
        # registry slug actually serves — MUST carry a gate and clear
        # it (tests/test_contract.py pins this on the committed
        # artifact); "sweep" = operating-point calibration evidence;
        # "control" = documented negative demonstration (e.g. the
        # isotropic-prefix anisotropy floor) that a reader must NOT
        # mistake for a failing registered default.
        assert role in ("registered", "sweep", "control"), (op, role)
        assert (gate is not None) == (role == "registered"), (op, role)
        if role == "registered" and recall < gate:
            print(f"!! GATE MISS: {op} recall {recall:.4f} < gate {gate}")
            gate_misses.append((op, recall, gate))
        e = {
            "op": op,
            "dataset": dataset,
            "params": params,
            "n_truth": int(n_truth),
            "recall": round(float(recall), 4),
            "wall_s": round(wall, 2),
            "role": role,
        }
        if gate is not None:
            e["gate"] = gate
        if note:
            e["note"] = note
        entries.append(e)
        print(f"{op:34s} {dataset:18s} recall={recall:.4f} "
              f"truth={n_truth} ({wall:.1f}s) [{role}]")

    emb = spark.read.parquet(f"{ann_sf}/embeddings.parquet").cache()
    emb.count()
    qrows = emb.where(F.col("vec_id") < 8).collect()
    exacts = {r["vec_id"]: exact_knn(emb, r["embedding"], k=10)
              for r in qrows}

    # ---- LSH single-probe ----
    t = time.time()
    model, vdf = A.build_lsh_index(emb, num_hash_tables=5, bucket_length=2.0)
    rec = [A.recall_at_k(A.approx_knn(model, vdf, r["embedding"], k=10),
                         exacts[r["vec_id"]]) for r in qrows]
    add("approx_knn (lsh)", os.path.basename(ann_sf),
        {"k": 10, "num_hash_tables": 5, "bucket_length": 2.0,
         "n_queries": len(qrows)},
        10 * len(qrows), sum(rec) / len(rec), time.time() - t,
        role="registered", gate=0.7)

    # ---- LSH multiprobe sweep ----
    for w in (1, 2, 4):
        t = time.time()
        rec = [A.recall_at_k(
            A.approx_knn_multiprobe(model, vdf, r["embedding"], k=10,
                                    probe_width=w),
            exacts[r["vec_id"]]) for r in qrows]
        add("approx_knn_multiprobe", os.path.basename(ann_sf),
            {"k": 10, "probe_width": w, "num_hash_tables": 5,
             "n_queries": len(qrows)},
            10 * len(qrows), sum(rec) / len(rec), time.time() - t,
            # probe_width=2 is the registered slug's operating point
            # (queries/similarity.py q_approx_knn_multiprobe)
            role="registered" if w == 2 else "sweep",
            gate=0.7 if w == 2 else None)

    # ---- Matryoshka prefix truncation: top-10 on 32 of 64 dims ----
    t = time.time()
    emb32 = emb.select(
        "vec_id",
        F.slice(F.col("embedding").cast("array<double>"), 1, 32).alias(
            "embedding"
        ),
    ).cache()
    emb32.count()
    rec = [A.recall_at_k(
        exact_knn(emb32, list(r["embedding"])[:32], k=10),
        exacts[r["vec_id"]]) for r in qrows]
    add("embedding_truncate_renorm (knn@32d)", os.path.basename(ann_sf),
        {"k": 10, "dims": "32 of 64", "n_queries": len(qrows)},
        10 * len(qrows), sum(rec) / len(rec), time.time() - t,
        role="control",
        note="exact top-10 on the truncated prefix vs full-dim exact "
             "top-10 — the recall cost of halving every scan byte; "
             "NEGATIVE CONTROL: the parquet fixture is isotropic, the "
             "regime the operator's docstring excludes (deployment "
             "precondition is a trained/PCA-rotated prefix)")
    emb32.unpersist()

    # ---- Matryoshka on an ANISOTROPIC fixture (VERDICT r10 #8) ----
    # The parquet fixture is isotropic-random — every dim equally
    # informative — so prefix recall floors at ~0.26, the regime the
    # operator is NOT deployed in. MRL-trained embeddings concentrate
    # information in a learned prefix; emulate that spectrum here:
    # z ~ N(0,1)^64 scaled by sigma_i = i^-0.75 (so ~95% of variance
    # lives in the first 32 eigendirections), then mixed by a fixed
    # random ROTATION so no raw coordinate is privileged — the
    # high-variance prefix must be RECOVERED by fit_pca's eigenbasis,
    # not read off the axes. Two measurements on the same data:
    # (a) naive first-32 prefix of the ROTATED coords — stays near
    #     the isotropic floor (rotation smears variance evenly);
    # (b) PCA-rotate-then-truncate (embedding_pca_project's basis,
    #     32 components) — the trained-prefix regime.
    import numpy as _np

    from vfs_spark.operators.pca import fit_pca, project_pca

    t = time.time()
    rng = _np.random.default_rng(11)
    dim = 64
    n_aniso = emb.count()
    spec = _np.arange(1, dim + 1, dtype=_np.float64) ** -0.75
    rot, _ = _np.linalg.qr(rng.standard_normal((dim, dim)))
    xa = (rng.standard_normal((n_aniso, dim)) * spec) @ rot.T
    adf = spark.createDataFrame(
        [(int(i), [float(v) for v in xa[i]]) for i in range(n_aniso)],
        "vec_id long, embedding array<double>",
    ).cache()
    adf.count()
    aq = adf.where(F.col("vec_id") < 8).collect()
    a_exact = {r["vec_id"]: exact_knn(adf, r["embedding"], k=10)
               for r in aq}
    a32 = adf.select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding")
    ).cache()
    a32.count()
    rec_naive = [A.recall_at_k(
        exact_knn(a32, list(r["embedding"])[:32], k=10),
        a_exact[r["vec_id"]]) for r in aq]
    add("embedding_truncate_renorm (anisotropic naive prefix)",
        f"synthetic-aniso-{n_aniso}",
        {"k": 10, "dims": "32 of 64", "spectrum": "i^-0.75 rotated",
         "n_queries": len(aq)},
        10 * len(aq), sum(rec_naive) / len(rec_naive), time.time() - t,
        role="control",
        note="rotated coords: naive prefix stays at the isotropic "
             "floor — truncation without the basis is blind "
             "(NEGATIVE CONTROL for the pca-rotated row below)")
    t = time.time()
    pca = fit_pca(adf, n_components=32)
    apdf = project_pca(adf, pca, out_col="emb32").select(
        "vec_id", F.col("emb32").cast("array<double>").alias("embedding")
    ).cache()
    apdf.count()
    pq = {r["vec_id"]: r["embedding"]
          for r in apdf.where(F.col("vec_id") < 8).collect()}
    rec_pca = [A.recall_at_k(
        exact_knn(apdf, pq[r["vec_id"]], k=10),
        a_exact[r["vec_id"]]) for r in aq]
    add("embedding_truncate_renorm (anisotropic pca-rotated)",
        f"synthetic-aniso-{n_aniso}",
        {"k": 10, "dims": "32 of 64", "spectrum": "i^-0.75 rotated",
         "explained_var": round(float(pca.explained.sum()
                                      / max(pca.total_var, 1e-12)), 4),
         "n_queries": len(aq)},
        10 * len(aq), sum(rec_pca) / len(rec_pca), time.time() - t,
        role="registered", gate=0.8,
        note="embedding_pca_project's eigenbasis recovers the "
             "high-variance prefix: rotate-then-truncate is the "
             "trained-prefix (MRL) deployment regime")
    for c in (adf, a32, apdf):
        c.unpersist()

    # ---- bulk similarity-join multiprobe sweep (VERDICT r8 #6) ----
    # pair recall vs the exact within-threshold truth set: every
    # (query, vector) pair at euclidean dist <= threshold counts
    from vfs_spark.functions.distance import euclidean as _eucl

    q_df = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    thr = 3.0
    truth_pairs = {
        (r["query_id"], r["vec_id"])
        for r in emb.crossJoin(F.broadcast(q_df))
        .where(_eucl("embedding", "query_vec") <= thr)
        .select("query_id", "vec_id").collect()
    }
    model_j, vdf_j = A.build_lsh_index(emb, num_hash_tables=5,
                                       bucket_length=2.0)
    vdf_j = vdf_j.cache(); vdf_j.count()
    iq = vdf_j.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "features")
    for w in (1, 2):
        t = time.time()
        got = {
            (r["query_id"], r["vec_id"])
            for r in A.approx_knn_join_multiprobe(
                model_j, vdf_j, iq, threshold=thr, probe_width=w).collect()
        }
        add("similarity_join_multiprobe", os.path.basename(ann_sf),
            {"threshold": thr, "probe_width": w, "num_hash_tables": 5,
             "n_queries": 8},
            len(truth_pairs),
            len(got & truth_pairs) / max(1, len(truth_pairs)),
            time.time() - t,
            role="registered" if w == 2 else "sweep",
            gate=0.9 if w == 2 else None,
            note="pair recall vs exact within-threshold set; "
                 "precision structural (exact distance filter)")
    vdf_j.unpersist()

    # ---- IVF nprobe sweep ----
    km, assigned = A.build_ivf_index(emb, n_clusters=8)
    assigned = assigned.cache()
    assigned.count()
    for nprobe in (2, 4):
        t = time.time()
        rec = [A.recall_at_k(
            A.ivf_search(km, assigned, r["embedding"], k=10, nprobe=nprobe),
            exacts[r["vec_id"]]) for r in qrows]
        add("ann_ivf", os.path.basename(ann_sf),
            {"k": 10, "n_clusters": 8, "nprobe": nprobe,
             "n_queries": len(qrows)},
            10 * len(qrows), sum(rec) / len(rec), time.time() - t,
            role="sweep")

    # ---- PQ rerank ----
    t = time.time()
    books = A.fit_pq_codebooks(emb, m=16, k=16, seed=42)
    enc = A.encode_pq(emb, books).cache()
    enc.count()
    rec = [A.recall_at_k(
        A.pq_search_rerank(enc, emb, books, r["embedding"], k=10,
                           shortlist=100),
        exacts[r["vec_id"]]) for r in qrows[:4]]
    add("pq_search_rerank", os.path.basename(ann_sf),
        {"k": 10, "m": 16, "codebook_k": 16, "shortlist": 100,
         "n_queries": 4},
        40, sum(rec) / len(rec), time.time() - t,
        role="sweep")  # codebook_k=16 calibration; registered ann_pq
        # serves k=64 codebooks via index_store

    # ---- IVFPQ ----
    t = time.time()
    assigned_enc = assigned.select("vec_id", "cluster_id").join(enc, "vec_id")
    rec = [A.recall_at_k(
        A.ivfpq_search(km, assigned_enc, emb, books, r["embedding"], k=10,
                       nprobe=4, shortlist=100),
        exacts[r["vec_id"]]) for r in qrows[:4]]
    add("ann_ivfpq", os.path.basename(ann_sf),
        {"k": 10, "n_clusters": 8, "nprobe": 4, "shortlist": 100,
         "n_queries": 4},
        40, sum(rec) / len(rec), time.time() - t,
        role="sweep")
    enc.unpersist()
    assigned.unpersist()

    # ---- REGISTERED defaults (VERDICT r8 #2): the exact operating
    # points the ann_ivf / ann_ivfpq slugs serve — auto_nprobe
    # calibrated to 0.9 / 0.95 routing-recall targets via the index
    # store, IVFPQ with its k=64 codebooks + shortlist 200 ----
    from vfs_spark.operators import index_store

    t = time.time()
    km16, asg16, np90 = index_store.ivf_nprobe(
        spark, emb, ann_sf, n_clusters=16, recall_target=0.9)
    asg16 = asg16.cache(); asg16.count()
    rec = [A.recall_at_k(
        A.ivf_search(km16, asg16, r["embedding"], k=10, nprobe=np90),
        exacts[r["vec_id"]]) for r in qrows]
    add("ann_ivf (registered default)", os.path.basename(ann_sf),
        {"k": 10, "n_clusters": 16, "nprobe": f"auto->{np90}",
         "recall_target": 0.9, "n_queries": len(qrows)},
        10 * len(qrows), sum(rec) / len(rec), time.time() - t,
        role="registered", gate=0.85)

    t = time.time()
    _, _, np95 = index_store.ivf_nprobe(
        spark, emb, ann_sf, n_clusters=16, recall_target=0.95)
    books64, enc64 = index_store.load_or_fit(
        spark, emb, ann_sf, "pq", m=16, k=64)
    enc64 = enc64.cache(); enc64.count()
    ae64 = asg16.select("vec_id", "cluster_id").join(enc64, "vec_id").cache()
    ae64.count()
    rec = [A.recall_at_k(
        A.ivfpq_search(km16, ae64, emb, books64, r["embedding"], k=10,
                       nprobe=np95, shortlist=200),
        exacts[r["vec_id"]]) for r in qrows]
    add("ann_ivfpq (registered default)", os.path.basename(ann_sf),
        {"k": 10, "n_clusters": 16, "nprobe": f"auto->{np95}",
         "recall_target": 0.95, "m": 16, "codebook_k": 64,
         "shortlist": 200, "n_queries": len(qrows)},
        10 * len(qrows), sum(rec) / len(rec), time.time() - t,
        role="registered", gate=0.9)
    ae64.unpersist()
    enc64.unpersist()
    asg16.unpersist()
    emb.unpersist()

    # ---- MinHash (native banded) vs exact n-gram jaccard ----
    t = time.time()
    truth = {(r["doc_a"], r["doc_b"])
             for r in QUERIES["dedup_ngram_jaccard"](spark, dedup_sf).collect()}
    got = {(r["doc_a"], r["doc_b"])
           for r in QUERIES["dedup_minhash"](spark, dedup_sf).collect()}
    add("dedup_minhash", os.path.basename(dedup_sf),
        {"jaccard_threshold": 0.3, "n_hashes": 5},
        len(truth), (sum(1 for p in truth if p in got) / len(truth))
        if truth else 1.0, time.time() - t,
        role="registered", gate=0.9,
        note="precision structural (exact verify); truth is lang-blocked, "
             "op is unblocked")

    # ---- incremental MinHash (batch-vs-history) vs exact cross truth ----
    t = time.time()
    docs = load_table(spark, dedup_sf, "documents", fan_out=True)
    from vfs_spark.functions.text import word_shingles as _ws

    nw = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("new_id"), _ws("text").alias("sh_a"))
    hs = docs.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("hist_id"), _ws("text").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jacc = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    truth = {(r["new_id"], r["hist_id"])
             for r in nw.crossJoin(hs)
             .select("new_id", "hist_id", jacc.alias("j"))
             .where(F.col("j") >= 0.3).collect()}
    got = {(r["new_id"], r["hist_id"])
           for r in QUERIES["dedup_incremental_minhash"](
               spark, dedup_sf).collect()}
    add("dedup_incremental_minhash", os.path.basename(dedup_sf),
        {"jaccard_threshold": 0.3, "n_hashes": 5},
        len(truth), (sum(1 for p in truth if p in got) / len(truth))
        if truth else 1.0, time.time() - t,
        role="registered", gate=0.9,
        note="precision structural (exact verify); truth is the exact "
             "batch-x-history cross jaccard (fixture-sized cross join, "
             "truth-side only)")

    # ---- anchored containment vs blocked exact truth (VERDICT r6 #2) ----
    t = time.time()
    truth = {(r["doc_a"], r["doc_b"])
             for r in QUERIES["dedup_containment"](spark, dedup_sf).collect()}
    got = {(r["doc_a"], r["doc_b"])
           for r in QUERIES["dedup_containment_anchored"](
               spark, dedup_sf).collect()}
    add("dedup_containment_anchored", os.path.basename(dedup_sf),
        {"containment_threshold": 0.6, "anchor_rate": 4},
        len(truth), (sum(1 for p in truth if p in got) / len(truth))
        if truth else 1.0, time.time() - t,
        role="registered", gate=0.9,
        note="precision structural (exact integer verify); truth is the "
             "lang-blocked dedup_containment oracle, op is unblocked "
             "(superset allowed); anchor miss prob (3/4)^|A∩B|")

    # ---- embedding all-pairs truth at the fixture operating point ----
    t0 = time.time()
    e = spark.read.parquet(f"{dedup_sf}/embeddings.parquet").select(
        "vec_id", "embedding", l2_norm("embedding").alias("nrm"))
    a, b = e.alias("a"), e.alias("b")
    sim = (dot("a.embedding", "b.embedding")
           / (F.col("a.nrm") * F.col("b.nrm")))
    pair_truth = {(r["va"], r["vb"]) for r in
                  a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
                  .select(F.col("a.vec_id").alias("va"),
                          F.col("b.vec_id").alias("vb"), sim.alias("cs"))
                  .where(F.col("cs") >= 0.35).collect()}
    truth_wall = time.time() - t0

    for slug, params in (
        ("dedup_embedding_simhash",
         {"cos_threshold": 0.35, "n_bands": 24, "band_bits": 4}),
        ("dedup_embedding_banded",
         {"cos_threshold": 0.35, "guard": "auto-fallback to simhash",
          "fallback_band_bits": 4}),
        ("dedup_semdedup",
         {"cos_threshold": 0.35, "n_clusters": "auto (k~N/target, r6 #5)"}),
    ):
        t = time.time()
        got = {(r["vec_a"], r["vec_b"])
               for r in QUERIES[slug](spark, dedup_sf).collect()}
        note = "precision structural (exact verify)"
        if slug == "dedup_semdedup":
            note += ("; auto rule puts this fixture in one exact cell "
                     "(N << target_cluster_rows) — fixed small k on the "
                     "0.35 bulk point was the ADVERSARIAL geometry r6 "
                     "flagged; planted entry covers real near-dup geometry "
                     "at paper-scale k")
        add(slug, os.path.basename(dedup_sf), params, len(pair_truth),
            len(got & pair_truth) / len(pair_truth) if pair_truth else 1.0,
            time.time() - t + (truth_wall if slug.endswith("simhash") else 0),
            role="registered", gate=0.9, note=note)

    # ---- planted near-dup geometry (the regime the defaults target) ----
    n, dim, p = 2000, 64, 20
    rng = np.random.default_rng(101)
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    src = rng.choice(n, size=p, replace=False)
    dups = base[src] + 0.04 * rng.standard_normal((p, dim))
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    planted = {(int(s), n + i) for i, s in enumerate(src)}
    pdf = pd.DataFrame({
        "vec_id": list(range(n)) + [n + i for i in range(p)],
        "embedding": list(np.vstack([base, dups])),
    })
    df = spark.createDataFrame(pdf)
    for name, fn, params in (
        ("embedding_simhash_pairs (planted)",
         lambda: D.embedding_simhash_pairs(df, cos_threshold=0.9),
         {"cos_threshold": 0.9, "defaults": True, "planted": p}),
        ("semdedup_pairs (planted)",
         lambda: D.semdedup_pairs(df, cos_threshold=0.8, n_clusters=16),
         {"cos_threshold": 0.8, "n_clusters": 16, "planted": p}),
    ):
        t = time.time()
        got = {(r["vec_a"], r["vec_b"]) for r in fn().collect()}
        add(name, f"synthetic n={n + p} dim={dim}", params, len(planted),
            len(got & planted) / len(planted), time.time() - t,
            role="registered", gate=0.8,
            note="precision structural (exact verify)")

    # ---- image perceptual-hash dedup (planted BMP groups) ----
    t = time.time()
    got = {(r["media_a"], r["media_b"])
           for r in QUERIES["dedup_image_phash"](spark, dedup_sf).collect()}
    planted_img = {(a, b) for g in range(8)
                   for a in range(g * 8, g * 8 + 8)
                   for b in range(a + 1, g * 8 + 8)}
    add("dedup_image_phash", os.path.basename(dedup_sf),
        {"max_hamming": 10, "groups": 8, "per_group": 8},
        len(planted_img), len(got & planted_img) / len(planted_img),
        time.time() - t,
        role="registered", gate=0.9,
        note="precision structural (exact bit_count verify); cross-group "
             f"pairs emitted: {len(got - planted_img)}; corpus is "
             "mixed-codec (even ids BMP, odd ids PNG) since r14")

    # ---- r14 VERDICT #6: auto_nprobe at ladder scale (opt-in) ----
    # Routing recall IS end recall for IVF (in-cell scoring exact),
    # so held-out validity of the fit-time operating point is: draw
    # 32 queries by a DIFFERENT hash seed than auto_nprobe's
    # validation draw, exact-truth them once (Arrow kernel), and read
    # each target's recall off the neighbor→cell-rank array — no
    # per-nprobe scans. The sf0.1-cached values ride along as the
    # transfer CONTROL (what blind reuse across N would serve).
    if ladder:
        from vfs_spark.operators import index_store
        from vfs_spark.operators.knn import knn_batch_auto

        LDIM = 64
        HELDOUT_SEED = 424242
        ltmp = os.path.join(REPO, ".ann_ladder_tmp")
        cached = {}
        emb_sf = spark.read.parquet(f"{ann_sf}/embeddings.parquet")
        for target in (0.9, 0.95):
            _, _, np_sf = index_store.ivf_nprobe(
                spark, emb_sf, ann_sf, recall_target=target, k=10
            )
            cached[target] = np_sf
        for n in (int(x) for x in ladder.split(",")):
            path = os.path.join(ltmp, f"vec_{n}")
            if not os.path.isdir(path):
                spark.range(n).select(
                    F.col("id").alias("vec_id"),
                    F.array(*[F.rand(seed=i) for i in range(LDIM)])
                    .cast("array<float>")
                    .alias("embedding"),
                ).write.mode("overwrite").parquet(path)
            emb_n = spark.read.parquet(path)
            t_fit = time.time()
            km, assigned = A.build_ivf_index(emb_n, n_clusters=16)
            assigned = assigned.persist()
            assigned.count()
            centers = np.stack(
                [np.asarray(c) for c in km.clusterCenters()]
            )
            val = (
                assigned.select("vec_id", "embedding")
                .orderBy(
                    F.xxhash64(F.col("vec_id"), F.lit(HELDOUT_SEED)),
                    "vec_id",
                )
                .limit(32)
                .select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec"),
                )
            )
            truth = knn_batch_auto(
                assigned, val, k=10, approx_vector_count=n
            )
            hits = (
                truth.join(
                    assigned.select("vec_id", "cluster_id"), "vec_id"
                )
                .join(
                    val.select(
                        "query_id", F.col("query_vec").alias("_qv")
                    ),
                    "query_id",
                )
                .select("query_id", "_qv", "cluster_id")
                .collect()
            )
            rank_cache = {}
            ranks = []
            for r in hits:
                qid = r["query_id"]
                if qid not in rank_cache:
                    q = np.asarray(r["_qv"], dtype=np.float64)
                    order = np.argsort(((centers - q) ** 2).sum(axis=1))
                    pos = np.empty(len(centers), dtype=np.int64)
                    pos[order] = np.arange(len(centers))
                    rank_cache[qid] = pos
                ranks.append(int(rank_cache[qid][r["cluster_id"]]))
            ranks_arr = np.asarray(ranks)
            fit_wall = time.time() - t_fit
            # r15 VERDICT #7: the ladder validated RECALL at the
            # operating point but never the serving WALL it buys —
            # persist the rung's store in the production layout (one
            # Hive partition per cluster, the partition-pruned
            # serving path) and time a single-query search at the
            # calibrated nprobe vs the exact scan over the same rung,
            # best-of-3 each, so RECALL_r16+ rows carry latency next
            # to recall
            ppath = os.path.join(ltmp, f"ivf_{n}")
            A.write_ivf_partitioned(assigned, ppath)
            q0 = [float(x) for x in hits[0]["_qv"]]
            exact_wall = min(
                _walled(
                    lambda: knn_batch_auto(
                        assigned,
                        val.limit(1),
                        k=10,
                        approx_vector_count=n,
                    ).collect()
                )
                for _ in range(3)
            )
            for target in (0.9, 0.95):
                t = time.time()
                np_n = A.auto_nprobe(
                    km,
                    assigned,
                    recall_target=target,
                    k=10,
                    approx_vector_count=n,
                )
                rec = float((ranks_arr < np_n).mean())
                serve_wall = min(
                    _walled(
                        lambda: A.ivf_search(
                            km, read_parquet(spark, ppath), q0, k=10, nprobe=np_n
                        ).collect()
                    )
                    for _ in range(3)
                )
                add(
                    f"ann_ivf auto_nprobe n={n} target={target}",
                    f"synthetic n={n} dim={LDIM}",
                    {"n_clusters": 16, "recall_target": target,
                     "nprobe": np_n, "heldout_queries": 32,
                     "store_fit_wall_s": round(fit_wall, 1),
                     # single-query serving wall at the registered
                     # operating point (partition-pruned store) vs
                     # the exact scan of the same rung, best-of-3
                     "serve_wall_s": round(serve_wall, 3),
                     "exact_scan_wall_s": round(exact_wall, 3)},
                    len(ranks_arr), rec, time.time() - t,
                    role="registered", gate=0.9,
                    note="held-out ROUTING recall (== end recall: "
                         "in-cell scoring exact) at the fit-time "
                         "auto_nprobe point, crossover-ladder "
                         "generator (VERDICT r14 #6)")
                rec_sf = float((ranks_arr < cached[target]).mean())
                add(
                    f"ann_ivf sf0.1-cached nprobe at n={n} "
                    f"target={target}",
                    f"synthetic n={n} dim={LDIM}",
                    {"n_clusters": 16, "recall_target": target,
                     "nprobe": cached[target]},
                    len(ranks_arr), rec_sf, 0.0,
                    role="sweep",
                    note="transfer CONTROL: the fixture-calibrated "
                         "nprobe blindly reused at ladder scale — "
                         "evidence for/against N-conditional "
                         "calibration")
            assigned.unpersist()

    # ---- multimodal curation pipeline (image stage recall) ----
    t = time.time()
    man = {r["doc_id"]: r for r in QUERIES["pipeline_multimodal_curation"](
        spark, dedup_sf).collect()}
    planted_dups = {m for g in range(1, 8)
                    for m in range(8 * g, 8 * g + 8)
                    if 10 <= m < 64
                    and m != min(i for i in range(8 * g, 8 * g + 8)
                                 if 10 <= i < 64)}
    hit = sum(1 for m in planted_dups if man[m]["image_dup"])
    false_flags = sum(1 for d, r in man.items()
                      if r["image_dup"] and d not in planted_dups)
    add("pipeline_multimodal_curation (image stage)",
        os.path.basename(dedup_sf),
        {"max_hamming": 10, "groups_in_corpus": 7, "per_group": 8},
        len(planted_dups), hit / len(planted_dups), time.time() - t,
        role="registered", gate=0.9,
        note="recall of planted non-canonical group members flagged "
             f"image_dup in the composed manifest; false flags: "
             f"{false_flags} (cross-group merges)")

    dest = os.path.join(REPO, f"RECALL_r{rnd}.json")
    with open(dest, "w") as fh:
        json.dump({"entries": entries,
                   "ann_sf": ann_sf, "dedup_sf": dedup_sf}, fh, indent=1)
    print(f"wrote {dest}: {len(entries)} entries")
    # ADVICE r14: a registered-entry gate miss must fail the RUN, not
    # just print — a ladder script that skips pytest would otherwise
    # commit a below-gate artifact without noticing. The artifact is
    # still written above (the evidence of the miss belongs on disk);
    # the nonzero exit is the loud part.
    if gate_misses:
        sys.exit(
            "GATE MISSES: "
            + "; ".join(
                f"{op} {recall:.4f} < {gate}"
                for op, recall, gate in gate_misses
            )
        )


if __name__ == "__main__":
    main()
