"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value" (total sec), "unit", "queries"
(per-query sec), "sf"}.

Comparison protocol vs BASELINE.md: the reference's numbers are
tiny-N per-HTTP-request latencies (3,155 vectors max, debug build).
`exact_knn_amortized_per_query` therefore reports wall/queries for a
100-vector batch over the embeddings table — the amortized per-query
cost that corresponds to the reference's per-request cost at its
largest N. Everything else is end-to-end wall for one batch job.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from vfs_spark.metrics import cpu_delta_s, cpu_snapshot  # noqa: E402


def _run(df) -> None:
    """Force full computation without a real sink."""
    df.write.mode("overwrite").format("noop").save()


# Host-weather calibration reference (r15 VERDICT #2). Values are the
# probe pair measured on the round-16 host at suite-idle (commit
# stamped in NOTES.md §host-weather); a later run's host_factor is
# its probe divided by these, so cross-day suite walls can be
# normalized (wall_normalized = wall / host_factor_wall) instead of
# paying a same-day worktree A/B to adjudicate every weather swing.
# The probes are FIXED work: re-pinning these constants is only valid
# together with a NOTES.md entry naming the new anchor day.
CALIBRATION_REF = {
    "numpy_sort_wall_s": 0.2453,
    "spark_shuffle_wall_s": 0.6553,
    "spark_shuffle_cpu_s": 7.57,
}


def _calibration_probe(spark) -> dict:
    """Fixed synthetic work pair measuring the HOST, not the engine
    (r15 VERDICT #2): a pinned single-threaded NumPy kernel (sort of
    a seeded 16M-float array — deliberately NOT a BLAS matmul, whose
    thread pool made the probe itself weather-noisy when measured)
    and a pinned 32-partition Spark shuffle+agg (JVM + shuffle + task
    scheduling path), each best-of-3. Identical work every run, so
    the ratio to CALIBRATION_REF is the day's host factor. Runs at
    suite start AND end (BENCH_DETAIL.calibration) so within-suite
    drift is visible too. Single-core wall vs cpu separation is the
    co-tenancy diagnostic: contention inflates the wall while
    process_time stays flat."""
    import numpy as np

    out = {}
    rng = np.random.default_rng(42)
    a = rng.standard_normal(16_000_000)
    best_w, best_c = float("inf"), float("inf")
    for _ in range(3):
        c0, t0 = time.process_time(), time.time()
        np.sort(a)
        best_w = min(best_w, time.time() - t0)
        best_c = min(best_c, time.process_time() - c0)
    out["numpy_sort_wall_s"] = round(best_w, 4)
    out["numpy_sort_cpu_s"] = round(best_c, 4)
    best_w, best_c = float("inf"), float("inf")
    for _ in range(3):
        s0, t0 = cpu_snapshot(spark), time.time()
        (
            spark.range(0, 4_000_000, 1, 32)
            .select(
                (F.col("id") % 997).alias("k"),
                (F.col("id") * 2654435761 % 1_000_003).alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        best_w = min(best_w, time.time() - t0)
        best_c = min(best_c, cpu_delta_s(s0, cpu_snapshot(spark)))
    out["spark_shuffle_wall_s"] = round(best_w, 4)
    out["spark_shuffle_cpu_s"] = round(best_c, 4)
    for k, ref in CALIBRATION_REF.items():
        if ref and k in out:
            out[f"host_factor_{k}"] = round(out[k] / ref, 3)
    return out


# Registry slugs timed by the headline suite (module-level so
# tests/test_contract.py can assert none have drifted from queries()).
BENCH_QUERIES = [
    "exact_knn",
    "exact_knn_quantized",
    "dist_cosine",
    "quantize_vec",
    "agg_pricing_summary",
    "join_order_revenue",
    "join_region_revenue",
    "window_topn_orders",
    "agg_distinct_customers",
    "event_window_counts",
    "text_quality_score",
    "text_fingerprint",
    "dedup_exact",
    "dedup_minhash",
    "dedup_minhash_mllib",
    "dedup_simhash",
    "dedup_simhash_udf",
    "dedup_simhash_jvm",
    "multimodal_extract",
    "knn_batch_bruteforce",
    "similarity_join",
    "asof_join_events",
    "sessionize_events",
    "agg_rollup_revenue",
    "agg_cube_status_priority",
    "agg_percentiles",
    "agg_revenue_filter",
    "agg_having_customers",
    "agg_approx_distinct",
    "join_left_order_counts",
    "sql_exists_customers",
    "pivot_event_values",
    "text_token_bpe",
    "text_rolling_fingerprint",
    "text_bigram_top",
    "funnel_view_purchase",
    "multimodal_embed",
    "multimodal_frame_sample",
    "multimodal_resize",
    "join_min_cost_supplier",
    "agg_grouping_sets",
    "text_repetition_score",
    "embedding_centroid",
    "range_join_view_attribution",
    "agg_time_bucket_cascade",
    "agg_shipmode_priority",
    "agg_promo_revenue_pct",
    "agg_disjunctive_revenue",
    "fuzzy_join_names",
    "decontaminate_against_eval",
    "sample_stable_split",
    "sample_shuffle_order",
    "text_pack_blocks",
    "window_ntile_orders",
    "pipeline_quality_filter",
    "pipeline_pretraining_corpus",
    "sample_token_mixture",
    "join_nation_volume",
    "agg_market_share",
    "join_returned_items",
    "window_top_supplier",
    "agg_small_qty_revenue",
    "join_large_orders",
    "agg_priority_exists",
    "agg_idle_customers",
    "text_chunk_overlap",
    "text_vocab_coverage",
    "merge_upsert_vectors",
    "agg_retention_cohorts",
    "agg_value_histogram",
    "dedup_chunk_hash",
    "window_moving_avg",
    "unpivot_user_metrics",
    "ann_pq",
    "ann_pq_batch",
    "ann_ivfpq",
    "window_order_share",
    "set_except_all_parts",
    "text_tfidf_top_terms",
    "exact_knn_filtered",
    "window_percent_rank",
    "window_trailing_hour",
    "event_session_windows",
    "ann_ivfpq_batch",
    "decontaminate_bloom",
    "sample_source_cap",
    "sample_source_cap_twopass",
    "corpus_mixture_stats",
    "dedup_embedding_simhash",
    "dedup_clusters_semantic",
    "dedup_semdedup",
    "dedup_window_exact",
    "text_strip_dup_spans",
    "text_perplexity_buckets",
    "multimodal_spectrogram",
    "multimodal_audio_features",
    "corpus_quality_report",
    "embedding_pca_project",
    "bpe_train_merges",
    "text_trigram_logprob",
    "export_training_shards",
    "text_quality_classifier",
    "pipeline_semantic_corpus",
    # streaming slugs (availableNow drains)
    "stream_window_counts",
    "stream_cdc_upsert",
    # round-6 coverage closure (VERDICT r5 #4): every registry slug is
    # timed unless listed in BENCH_EXCLUDED with a reason
    "agg_approx_percentiles",
    "ann_ivf",
    "ann_ivf_batch",
    "ann_ivf_partitioned",
    "approx_knn",
    "approx_knn_multiprobe",
    "batch_scan",
    "dedup_clusters",
    "dedup_clusters_banded",
    "dedup_embedding_cosine",
    "dedup_ngram_jaccard",
    "dequantize_vec",
    "dist_euclidean",
    "filter_by_tag",
    "filter_dim_check",
    "insert_assign_ids",
    "join_anti_customers",
    "join_semi_customers",
    "knn_batch_arrow",
    "knn_batch_auto",
    "parse_event_props",
    "point_lookup_id",
    "result_hydrate",
    "sample_stratified",
    "set_except_customers",
    "set_intersect_customers",
    "set_union_segments",
    "similarity_join_multiprobe",
    "snapshot_state",
    "text_bigram_logprob",
    "text_lang_id",
    "text_redact_pii",
    "text_token_count",
    "topk_truncate",
    "window_lag_events",
    "window_user_events",
    # round-6 additions
    "join_waiting_suppliers",
    "dedup_containment",
    "text_heavy_hitters",
    "range_search_radius",
    "embedding_outlier_scores",
    "dedup_image_phash",
    # round-7 gating closure (VERDICT r6 #2)
    "dedup_containment_anchored",
    # round-8 additions (VERDICT r7 #8)
    "dedup_url",
    "corpus_domain_stats",
    "text_chunk_provenance",
    "text_gopher_rules",
    "sample_temperature",
    "decontaminate_report",
    "pipeline_curation_full",
    "text_bm25_retrieval",
    "sample_dsir",
    "pipeline_rag_retrieval",
    "sample_weighted",
    "dedup_incremental",
    "corpus_snapshot_diff",
    "sample_dsir_fitsample",
    "dedup_keep_best",
    "sample_mixture_epochs",
    "pipeline_hybrid_retrieval",
    "dedup_incremental_minhash",
    # round-9 additions
    "graph_pagerank_urls",
    "asof_join_forward_tolerance",
    "embedding_truncate_renorm",
    "retrieval_eval_mrr",
    # round-11 additions (VERDICT r10 #6, #7)
    "pipeline_curation_ranked",
    "retrieval_eval_ndcg",
    # round-15 addition (VERDICT r14 #7)
    "pipeline_multimodal_curation",
]

# Registry slugs deliberately NOT in the timed suite — every exclusion
# names its reason so coverage is auditable (tests/test_contract.py
# asserts BENCH_QUERIES + BENCH_EXCLUDED tile the whole registry).
BENCH_EXCLUDED = {
    "dedup_embedding_banded": (
        "the candidate guard (VERDICT r5 #3) detects that the fixture's "
        "adversarial operating point gives BRP no LSH contrast and "
        "diverts to the AND-banded SimHash path — so timing this slug "
        "double-counts dedup_embedding_simhash (which IS timed) plus a "
        "constant sample-histogram overhead; the raw BRP twin is "
        "measured in SCALE.md via tools/semantic_probe.py "
        "(max_candidate_ratio=None)"
    ),
    "stream_ingest_corpus": (
        "full-corpus streaming drain (quality+dedup+decontam) — belongs "
        "to CORRECTNESS and STREAMCHECK artifacts, not a per-round "
        "latency suite; its batch twin pipeline_pretraining_corpus IS "
        "timed"
    ),
    "stream_curation_full": (
        "full-corpus streaming drain of the curation stack (URL dedup + "
        "Gopher + fp dedup + decontam + mixture view) — CORRECTNESS and "
        "STREAMCHECK territory; its batch twin pipeline_curation_full "
        "IS timed"
    ),
    "stream_curation_ranked": (
        "full-corpus streaming drain finished with the rank-weighted "
        "mixture view — CORRECTNESS territory; its batch twin "
        "pipeline_curation_ranked IS timed"
    ),
}


def main() -> None:
    # FAULT ISOLATION CONTRACT: one broken query must cost exactly its
    # own number, never the artifact. Round 3's bench crashed on query
    # 22 of 88 and the round recorded ZERO numbers; every section below
    # is therefore guarded, failures land in `errors`, and the JSON
    # line prints unconditionally (even if the session itself dies).
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    times: dict[str, float] = {}
    times_cold: dict[str, float] = {}
    times_cpu: dict[str, float] = {}
    errors: dict[str, str] = {}
    flags: dict[str, object] = {}

    def guarded(name, fn):
        try:
            fn()
        except Exception as e:  # noqa: BLE001 — isolation is the point
            errors[name] = f"{type(e).__name__}: {e}"[:300]

    def timed(name, fn):
        # First run is recorded as COLD (plan compile, Python/Arrow
        # worker spawn, one-time index fits), then best-of-2 as WARM.
        # The headline stays warm — the plan's cost, not process churn
        # (r2's driver numbers recorded worker cold start:
        # multimodal_embed 15.2 s vs 1.4 s idle) — but the cold column
        # in BENCH_DETAIL keeps warm-up visible so a cold-path
        # regression (e.g. an index refit sneaking into a query) can't
        # hide behind the warm best-of-2.
        def run():
            if name == "retrieval_eval_ndcg":
                # The slug's qrels mining reuses the session cluster
                # manifest when one is published, so its timings mean
                # "serving-only" on a hit and "full recompute" on a
                # miss — record which, so round-over-round deltas
                # can't conflate the two protocols (r12 ADVICE #3).
                try:
                    from pyspark.sql import SparkSession

                    from vfs_spark.queries.text import (
                        cluster_manifest_cached,
                    )

                    ss0 = SparkSession.getActiveSession()
                    if ss0 is not None:
                        flags[
                            "retrieval_eval_ndcg_manifest_cached_at_cold"
                        ] = cluster_manifest_cached(ss0, sf_dir)
                except Exception:  # noqa: BLE001 — flag is best-effort
                    pass
            t0 = time.time()
            fn()
            times_cold[name] = round(time.time() - t0, 3)
            best = float("inf")
            best_cpu = float("inf")
            for _ in range(2):
                # drop CacheManager entries between runs: a slug that
                # persist()s an intermediate (pipeline_curation_full's
                # d2) would otherwise have its cached subtree
                # plan-matched into the rebuilt DataFrame, so its warm
                # number would time only the post-cache stages —
                # a different protocol from every other slug. Clearing
                # only affects persist/cache entries; localCheckpoints
                # (among them the PQ/IVFPQ serving tables in
                # queries/similarity.py) and the index store's model
                # memo are untouched, so warm runs neither refit a
                # model nor rebuild a serving table.
                from pyspark.sql import SparkSession

                ss = SparkSession.getActiveSession()
                if ss is not None:
                    ss.catalog.clearCache()
                # CPU seconds ride along with each warm wall sample
                # (vfs_spark.metrics process-tree meter): the
                # contention-robust number ladder exponents and
                # cross-round comparisons gate on — a co-tenant
                # inflates wall, not the CPU the query consumed.
                # Snapshot/delta form (r12 VERDICT task #1), NOT a
                # sum-difference: worker-pool reaping between samples
                # made the old difference go negative (−689 cpu-s in
                # the committed r12 BENCH_DETAIL).
                s0 = cpu_snapshot(ss) if ss is not None else None
                t0 = time.time()
                fn()
                best = min(best, time.time() - t0)
                if s0 is not None:
                    best_cpu = min(
                        best_cpu, cpu_delta_s(s0, cpu_snapshot(ss))
                    )
            times[name] = round(best, 3)
            if best_cpu != float("inf"):
                assert best_cpu >= 0.0, (
                    f"CPU meter emitted a negative delta for {name}: "
                    f"{best_cpu} — churn-safety regression"
                )
                times_cpu[name] = round(best_cpu, 3)

        guarded(name, run)

    calibration: dict[str, dict] = {}
    try:
        _suite(sf_dir, times, errors, timed, guarded, calibration)
    except Exception as e:  # noqa: BLE001 — report, don't crash
        errors["__suite__"] = f"{type(e).__name__}: {e}"[:300]
    _report(sf_dir, times, errors, times_cold, times_cpu, flags, calibration)


def _suite(sf_dir, times, errors, timed, guarded, calibration=None) -> None:
    from vfs_spark.session import get_spark
    from vfs_spark.queries import QUERIES
    from vfs_spark.operators import ann as ann_ops
    from vfs_spark.operators.knn import knn_batch
    from vfs_spark.sources.parquet import load_table

    spark = get_spark("vfs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/session so query 1 doesn't pay startup, and spawn
    # the Python/Arrow worker pool once ahead of every pandas kernel
    guarded("__warmup__", lambda: (
        load_table(spark, sf_dir, "embeddings").count(),
        spark.range(32).repartition(32).mapInPandas(
            lambda it: (pdf for pdf in it), "id long"
        ).write.mode("overwrite").format("noop").save(),
    ))

    if calibration is not None:
        # host-weather probe (r15 VERDICT #2): after warmup so the
        # start probe doesn't time JVM cold start
        guarded("__calibration_start__", lambda: calibration.__setitem__(
            "start", _calibration_probe(spark)
        ))

    # -- vector engine ------------------------------------------------------
    emb = load_table(spark, sf_dir, "embeddings", fan_out=True)
    n_q = 100
    queries_df = emb.where(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def batch_knn():
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            _run(knn_batch(emb, queries_df, k=5))
            best = min(best, time.time() - t0)
        times["exact_knn_batch100"] = round(best, 3)

    guarded("exact_knn_batch100", batch_knn)

    def batch_knn_arrow():
        from vfs_spark.operators.knn import knn_batch_arrow

        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            _run(knn_batch_arrow(emb, queries_df, k=5))
            best = min(best, time.time() - t0)
        times["exact_knn_batch100_arrow"] = round(best, 3)

    guarded("exact_knn_batch100_arrow", batch_knn_arrow)
    walls = [
        times[k]
        for k in ("exact_knn_batch100", "exact_knn_batch100_arrow")
        if k in times
    ]
    if walls:
        times["exact_knn_amortized_per_query"] = round(min(walls) / n_q, 4)

    def lsh():
        t_lsh0 = time.time()
        model, vdf = ann_ops.build_lsh_index(emb)
        t_fit = time.time()
        times["lsh_index_build"] = round(t_fit - t_lsh0, 3)
        q = emb.where(F.col("vec_id") == 0).first()["embedding"]
        _run(ann_ops.approx_knn(model, vdf, q, k=5))
        times["lsh_query"] = round(time.time() - t_fit, 3)

    guarded("lsh_query", lsh)

    # SISD-vs-SIMD axis from BASELINE.md: same exact-knn, distance as
    # (a) codegen column expr [exact_knn below] vs (b) Arrow+NumPy UDF.
    def knn_numpy():
        from vfs_spark.functions.distance import euclidean_pandas_udf

        q = emb.where(F.col("vec_id") == 0).first()["embedding"]
        udf = euclidean_pandas_udf(q)
        df = (
            emb.select("vec_id", udf(F.col("embedding").cast("array<double>")).alias("dist"))
            .orderBy(F.col("dist").asc(), F.col("vec_id").asc())
            .limit(5)
        )
        _run(df)

    timed("exact_knn_numpy_udf", knn_numpy)

    # one-time PQ fit + Arrow encode, timed explicitly (the ann_pq
    # query itself reuses this cache — fit-once/query-many, like LSH)
    def pq_build():
        from vfs_spark.queries.similarity import _pq_index

        t_pq0 = time.time()
        _pq_index(spark, sf_dir)
        times["pq_index_build"] = round(time.time() - t_pq0, 3)

    guarded("pq_index_build", pq_build)

    for name in BENCH_QUERIES:
        if name not in QUERIES:
            errors[name] = "not in QUERIES registry"
            continue
        timed(name, lambda n=name: _run(QUERIES[n](spark, sf_dir)))

    if calibration is not None:
        guarded("__calibration_end__", lambda: calibration.__setitem__(
            "end", _calibration_probe(spark)
        ))


def _current_round() -> int | None:
    """The build round this bench run belongs to: env override, else
    latest driver-recorded BENCH_r{N}.json + 1 (the driver writes
    BENCH_r{N} at round END, so during round N the latest on disk is
    N−1). Used to stamp merges so the deltas block compares across
    ROUND boundaries, not whatever mid-round run last touched the
    file (r12 VERDICT task #2)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env and env.isdigit():
        return int(env)
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    ns = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(ns) + 1) if ns else None


def _report(
    sf_dir,
    times,
    errors,
    times_cold=None,
    times_cpu=None,
    flags=None,
    calibration=None,
) -> None:
    amortized = times.get("exact_knn_amortized_per_query", 0.0)
    total = round(sum(times.values()) - amortized, 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # cpu_s ≥ 0 is a hard invariant of the snapshot/delta meter; a
    # negative here means the churn-safety fix regressed (r12 shipped
    # −689.07 cpu-s into the committed artifact). Report, don't
    # crash (r13 ADVICE #4): an assert here would abort the merge
    # AFTER the whole suite ran and discard every wall timing (and
    # vanish under python -O) — record the offending entries under
    # errors and keep them out of queries_cpu instead.
    neg = {k: v for k, v in (times_cpu or {}).items() if v < 0}
    if neg:
        errors["__cpu_meter__"] = (
            f"negative CPU deltas reached the merge (meter defect): {neg}"
        )
        times_cpu = {k: v for k, v in times_cpu.items() if v >= 0}
    detail = {
        "metric": "headline-suite wall time at sf, cold + best-of-2-warm per query",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_cold": times_cold or {},
        # engine CPU seconds per warm run (vfs_spark.metrics
        # process-tree meter: driver JVM + python workers + this
        # process) — the contention-robust column; cross-round
        # comparisons and ladder exponents should gate on this
        "queries_cpu": times_cpu or {},
        "flags": flags or {},
        # host-weather probe pair at suite start/end (r15 VERDICT #2):
        # host_factor_* fields are this run's probe over the pinned
        # CALIBRATION_REF — the normalization rule lives in NOTES.md
        # (§host-weather): cross-day wall comparisons divide by the
        # run's mean host_factor before being read as code deltas
        "calibration": calibration or {},
        "errors": errors,
        "sf": sf,
        "run_round": _current_round(),
    }
    # Full per-query breakdown goes to a FILE: r2's single in-line
    # breakdown outgrew the driver's stdout tail capture, which
    # truncated the line from the FRONT and lost the headline number.
    # MERGE, don't overwrite: auxiliary evidence blocks (e.g. the
    # isolated re-measure protocol results) live in the same file and
    # a plain rewrite silently destroyed one once.
    try:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        )
        merged = {}
        prev = None
        try:
            with open(path) as f:
                prev = json.load(f)
            if isinstance(prev, dict):
                merged = {
                    k: v for k, v in prev.items() if k not in detail
                }
        except (OSError, ValueError):
            pass
        merged.update(detail)
        # Round-over-round delta table (r11 verdict task #8, made
        # round-aware per r12 task #2): each merge is stamped with
        # its run_round; the CROSS-ROUND baseline is the last suite run
        # of the previous round (frozen at the first merge of a new
        # round), so mid-round re-runs can't turn the block into
        # intra-round noise (r12's +768.75 artifact). Both views are
        # emitted — vs_prev_run (whatever ran last) and vs_prev_round
        # (the frozen baseline) — and a delta is only computed when
        # the two runs' sf matches (r12 ADVICE #4: a sf0.01 smoke run
        # against a sf0.1 baseline produced spurious "regressions").
        cur_round = detail["run_round"]
        prev_ok = isinstance(prev, dict) and isinstance(
            prev.get("queries"), dict
        )
        if prev_ok and prev.get("run_round") != cur_round:
            # first merge of this round: freeze the previous round's
            # last run as the cross-round baseline
            merged["prev_round_baseline"] = {
                k: prev.get(k)
                for k in (
                    "run_round",
                    "queries",
                    "queries_cpu",
                    "value",
                    "sf",
                )
            }
        elif isinstance(prev, dict) and isinstance(
            prev.get("prev_round_baseline"), dict
        ):
            merged["prev_round_baseline"] = prev["prev_round_baseline"]

        def _pair_deltas(base, tag):
            if not (isinstance(base, dict) and isinstance(
                base.get("queries"), dict
            )):
                return {}
            if base.get("sf") != sf:
                return {
                    f"vs_{tag}_skipped": (
                        f"sf mismatch: baseline sf={base.get('sf')} "
                        f"vs this run sf={sf}"
                    ),
                    f"{tag}_round": base.get("run_round"),
                }
            bq = base["queries"]
            bc = base.get("queries_cpu") or {}
            return {
                f"vs_{tag}_wall_s": {
                    q: round(v - bq[q], 3)
                    for q, v in times.items()
                    if q in bq
                },
                # bc[q] >= 0 guard: the r12 file on disk still holds
                # the old meter's garbage negatives; never delta
                # against those
                f"vs_{tag}_cpu_s": {
                    q: round(v - bc[q], 3)
                    for q, v in (times_cpu or {}).items()
                    if q in bc and bc[q] >= 0
                },
                f"{tag}_total": base.get("value"),
                f"{tag}_round": base.get("run_round"),
            }

        deltas = {}
        if prev_ok:
            deltas.update(_pair_deltas(prev, "prev_run"))
        deltas.update(
            _pair_deltas(merged.get("prev_round_baseline"), "prev_round")
        )
        if deltas:
            merged["deltas"] = deltas
        with open(path, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
    except OSError:
        pass  # the printed line below is the artifact that matters
    # The printed line stays small and parse-proof: value first, then
    # only the slowest-15 breakdown.
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:15])
    out = {
        "metric": (
            "headline-suite wall time at sf, warm-up + best-of-2 per query "
            "(slowest-15 here; full breakdown in BENCH_DETAIL.json)"
        ),
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in slowest.items()},
        "sf": sf,
        "n_queries": len(times),
        "n_errors": len(errors),
    }
    if errors:
        out["errors"] = {k: v[:80] for k, v in list(errors.items())[:5]}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
