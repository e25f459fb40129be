"""Structured Streaming ingest — the streaming analogue of the
reference's memtable + flush-every-10 cadence (storage_manager.rs:12,
139-157): micro-batches buffer writes, ``foreachBatch`` appends them
to the vector store, and windowed aggregation mirrors the batch
``event_window_counts`` query (whose DuckDB oracle therefore verifies
the streaming semantics too).

Scale: watermarking bounds state; the sink append is the same
Parquet append as the batch path, so batch and streaming share one
storage layout (checkpointing replaces snapshot/restore #15/#16).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vfs_spark.dispatch import pinned
from vfs_spark.sources import store
from vfs_spark.sources.parquet import (
    NANOS_AS_LONG,
    normalize_event_ts,
    parquet_schema,
)


def read_event_stream(
    spark: SparkSession, src_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """File-source stream over the fixture events table. readStream
    needs an explicit schema, so take the batch reader's (memoized)
    schema for the actual on-disk ts encoding (int64 nanos vs
    timestamp[us] vs tz-aware) and apply the batch loader's own
    normalization (``normalize_event_ts``) — one code path decides,
    both engines agree.

    The ts-normalization decision is FROZEN at stream definition: if
    the source dir is empty at startup we fall back to EVENTS_SCHEMA
    (canonical timestamp encoding) so the stream can start, and files
    that later arrive MUST use that canonical encoding — int64-nanos
    files appearing mid-stream would be read against the timestamp
    schema with no ``ts div 1000`` normalization. Producers that emit
    the nanos encoding must write at least one file before the stream
    starts (or the caller re-creates the stream once data exists)."""
    spark.conf.set(NANOS_AS_LONG, "true")
    try:
        batch_schema = parquet_schema(spark, src_dir, glob)
    except Exception:  # noqa: BLE001 — no files yet is the normal
        # stream-startup case (producer hasn't written the first
        # micro-batch); fall back to the canonical schema so the
        # stream starts and picks files up as they arrive.
        from vfs_spark.schema import EVENTS_SCHEMA

        batch_schema = EVENTS_SCHEMA
    return normalize_event_ts(
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", glob)
        .parquet(src_dir)
    )


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window counts with late-data watermark —
    identical aggregation to queries/relational.q_event_window_counts
    so the batch oracle doubles as the streaming correctness check."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_to_memory(
    windowed: DataFrame, table_name: str = "stream_counts"
) -> "DataFrame":
    """Drain the stream with an availableNow trigger into an in-memory
    sink (complete mode) and block until done — the test harness path."""
    q = (
        windowed.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_append_vectors(
    events: DataFrame,
    dest_dir: str,
    checkpoint_dir: str,
    auto_compact: bool = True,
    auto_compact_threshold: int | None = None,
):
    """foreachBatch append into the Parquet vector-store layout — the
    memtable-flush analogue: each micro-batch is one flush
    (storage_manager.rs:139-157); checkpointing provides exactly-once
    appends and replaces snapshot/restore. An interrupted compaction
    swap is recovered before the stream starts (store.recover), and
    the flush epilogue applies the engine's small-file auto-compact
    policy (r15 VERDICT #6 — store.compact_due); opt out with
    ``auto_compact=False``, override the cutoff with
    ``auto_compact_threshold`` (None → the engine's default). The
    compaction is layout-only and row-identical, so an at-least-once
    replay that re-triggers it is harmless."""
    store.recover(dest_dir)

    def _flush(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(dest_dir)
        spark = batch_df.sparkSession
        if auto_compact and store.compact_due(
            spark, dest_dir, auto_compact_threshold
        ):
            store.compact(spark.read.parquet(dest_dir), dest_dir, "id")

    return (
        events.writeStream.foreachBatch(_flush)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with
    state bounded by the event-time watermark
    (dropDuplicatesWithinWatermark — late re-sends inside the
    watermark dedupe, state for keys older than it is evicted).

    The streaming twin of the batch dedup_exact operator: same
    keep-first contract, incremental state instead of a groupBy. At
    100 TB/day the state store holds only one small entry per key per
    watermark window, partitioned across executors."""
    key_cols = key_cols or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def compact_ivf_store(
    spark: SparkSession, store_dir: str, max_files_per_cluster: int = 4
) -> list[str]:
    """Compact the Hive-partitioned IVF store: every cluster partition
    that accumulated more than `max_files_per_cluster` parquet files
    from streaming micro-batch appends is rewritten into one file and
    swapped in with store.swap (recoverable like VFSEngine.delete).
    Small-file buildup is the chronic failure mode of foreachBatch
    appends — each micro-batch adds ≥1 file per touched partition,
    and at 100 TB a month of 1-minute batches makes scans open ~43k
    files per partition; compaction restores
    one-seek reads while queries keep working between swaps (readers
    hold the old files open; Parquet footers make the new file
    self-describing). Interrupted swaps of any partition are recovered
    first. Returns the partitions rewritten."""
    import os

    store.recover_children(store_dir)
    compacted = []
    for entry in sorted(os.listdir(store_dir)):
        pdir = os.path.join(store_dir, entry)
        if not entry.startswith("cluster_id=") or not os.path.isdir(pdir):
            continue
        if store.parquet_files(pdir) <= max_files_per_cluster:
            continue
        store.swap(spark.read.parquet(pdir).coalesce(1), pdir)
        compacted.append(entry)
    return compacted


def stream_append_ivf(
    vectors: DataFrame,
    km_model,
    dest_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    compact_every: int | None = None,
    max_files_per_cluster: int = 4,
):
    """Streaming index maintenance: each micro-batch of vectors is
    cluster-assigned with the (pre-fitted) KMeans coarse quantizer and
    appended into the Hive-partitioned IVF store — so the ANN index
    stays queryable (ivf_search over read_parquet of the store)
    while ingest runs.
    Re-fitting the quantizer is a periodic BATCH job (centroid drift
    is slow); the stream only assigns. Checkpointing makes the
    append exactly-once — the streaming twin of the reference's
    memtable flush + index_map update (storage_manager.rs:139-157).
    With `compact_every=N`, every Nth micro-batch also compacts
    partitions that crossed `max_files_per_cluster` files (see
    compact_ivf_store) so steady-state scans stay one-seek. Interrupted
    partition swaps are recovered before the stream starts."""
    store.recover_children(dest_dir)

    def _flush(batch_df: DataFrame, batch_id: int) -> None:
        from vfs_spark.operators.ann import assign_ivf

        assigned = assign_ivf(km_model, batch_df, vec_col).drop("features")
        assigned.write.mode("append").partitionBy("cluster_id").parquet(dest_dir)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_ivf_store(
                batch_df.sparkSession, dest_dir, max_files_per_cluster
            )

    return (
        vectors.writeStream.foreachBatch(_flush)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_attribution(
    events: DataFrame,
    window_s: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: purchases joined to the views in
    the preceding `window_s` seconds per user — the STREAMING twin of
    the batch `range_join_view_attribution` query, whose DuckDB oracle
    therefore value-checks these join semantics.

    Both sides carry watermarks and the join condition bounds view_ts
    to [purchase_ts - window, purchase_ts], so Spark can derive state
    retention for each side: a buffered view is dropped once the
    purchase-side watermark passes view_ts + window. Without the time
    bound the state store would grow forever — the interval condition
    is what makes a stream-stream join feasible at all."""
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    cond = (
        (views["user_id"] == purchases["user_id"])
        & (views["v_ts"] >= purchases["p_ts"] - F.expr(f"INTERVAL {window_s} SECONDS"))
        & (views["v_ts"] <= purchases["p_ts"])
    )
    return purchases.join(views, cond).select("purchase_id", "view_id")


def enrich_stream(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch hash-joins the
    (small, broadcast) static dimension — the streaming twin of the
    star join. The dim is re-resolved per batch, so a refreshed
    dimension table is picked up without restarting the query. For
    stream-stream joins add watermarks on BOTH sides; enrichment
    against a dim this size never needs that."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on, "left")


def read_cdc_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Read the current version of a CDC store written by
    stream_apply_cdc (resolves the _CURRENT pointer)."""
    import os

    with open(os.path.join(store_dir, "_CURRENT")) as f:
        v = f.read().strip()
    return spark.read.parquet(os.path.join(store_dir, v))


def stream_apply_cdc(
    updates: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
):
    """Streaming CDC apply: every micro-batch of keyed updates upserts
    into a VERSIONED Parquet store — read the current version, anti-join
    the batch's keys, union the batch, write version N+1, then flip the
    `_CURRENT` pointer. Readers always see a complete version (the
    pointer flip is the commit), concurrent with ingest — the MVCC
    pattern table formats (Delta/Iceberg) implement, reduced to its
    Spark-native core. Batch→batch ordering gives last-writer-wins per
    key; within a batch, the max-id row wins deterministically.

    Scale: each merge shuffles only the update keys (broadcast anti
    join); the rewrite cost is the store size — at 100 TB, partition
    the store by id range and rewrite ONLY partitions containing
    matched keys (dynamic partition overwrite), which bounds the write
    to the touched fraction. The version-pointer commit is O(1)
    regardless. The reference has no update path at all
    (storage_manager.rs:120-141 is append-only): this is the
    capability a production feed adds on top, with exactly-once
    batches via the checkpoint."""
    import os

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # one row per key within the batch, deterministically (lexico-
        # graphic max over the full row — no dependence on scan order)
        batch_df = (
            batch_df.groupBy(id_col)
            .agg(F.max(F.struct(*batch_df.columns)).alias("_s"))
            .select("_s.*")
        )
        cur = os.path.join(store_dir, "_CURRENT")
        if os.path.exists(cur):
            base = read_cdc_store(spark, store_dir)
            merged = base.join(
                F.broadcast(batch_df.select(id_col)), id_col, "left_anti"
            ).unionByName(batch_df)
        else:
            merged = batch_df
        v_new = f"v{batch_id}"
        merged.write.mode("overwrite").parquet(os.path.join(store_dir, v_new))
        with open(cur + ".tmp", "w") as f:
            f.write(v_new)
        os.replace(cur + ".tmp", cur)  # atomic pointer flip = commit

    return (
        updates.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_document_stream(
    spark: SparkSession, src_dir: str, glob: str = "documents.parquet"
) -> DataFrame:
    """File-source stream over the documents table (schema sniffed
    from the batch reader, like read_event_stream; falls back to the
    canonical schema when no files exist yet)."""
    try:
        schema = parquet_schema(spark, src_dir, glob)
    except Exception:  # noqa: BLE001 — empty ingest dir at startup
        from vfs_spark.schema import DOCUMENTS_SCHEMA

        schema = DOCUMENTS_SCHEMA
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(src_dir)
    )


class FpBloomSidecar:
    """Compact Bloom filter over a corpus store's fingerprint column
    (stored + tombstoned fps) — the r13 VERDICT task #2 fix for the
    one linear-in-history cost left in the streaming path: the
    cross-batch dedup anti-join re-scanned the store's fp column
    EVERY micro-batch (Σ_b |store_b| total; the 1.36 cpu exponent on
    streamscale's fixed-batch-count axis). With the sidecar, each
    batch tests its fps against the Bloom first (pure-codegen
    membership over a broadcast long array — the q_decontaminate_bloom
    machinery, text.py:1507) and anti-joins ONLY Bloom-positive rows
    against the store; a batch with no positives (the common case:
    fresh data) never touches the store at all, so per-batch cost is
    O(|batch| + filter size), decoupled from history.

    Correctness invariant: the sidecar is a SUPERSET of the store ∪
    tombstone fps (Bloom has false positives only, and ``add`` runs
    BEFORE the data/tombstone appends — a crash between leaves
    harmless extra bits). A Bloom positive re-verifies EXACTLY
    against the store, so ingest output is bit-identical to the
    rescan path (STREAMCHECK's batch-equality constant is unchanged).
    A missing/mismatched sidecar (pre-existing store, deleted file,
    resized filter) degrades to the full rescan for that batch and
    is rebuilt from the store — never trusted blindly.

    Layout: ``<store>_fpbloom/bloom.json`` (n_bits/seeds metadata) +
    ``bloom.bin`` (little-endian int64 words, n_bits/64 of them, the
    source of truth) + ``bloom.parquet`` (a derived one-row
    JVM-readable copy the probe broadcasts — regenerated from the bin
    when absent), all written tmp+rename. Default 2²⁴ bits / 3 seeds
    = 2 MiB → ~0.4% false-positive rate at 1M stored fps; size
    ``n_bits`` to the expected corpus (FP rate only costs extra exact
    re-checks, never correctness). On a cluster the driver-side OR
    and 2 MiB broadcast per batch are noise next to any store scan.
    Single-writer per store (same contract as the owning ingest
    stream): add() keeps the in-memory words in sync with disk."""

    SEEDS = (1, 2, 3)

    def __init__(self, store_dir: str, n_bits: int = 1 << 24):
        import os

        if n_bits % 64 != 0:
            raise ValueError("n_bits must be a multiple of 64")
        self.dir = store_dir.rstrip("/") + "_fpbloom"
        self.meta_path = os.path.join(self.dir, "bloom.json")
        self.bin_path = os.path.join(self.dir, "bloom.bin")
        # derived JVM-readable copy for the probe broadcast (r15)
        self.probe_dir = os.path.join(self.dir, "bloom.parquet")
        self.n_bits = n_bits
        self._words = None  # numpy int64 array when loaded

    def load(self):
        """Words array, or None when absent/corrupt/mismatched (the
        caller then rescans and rebuilds)."""
        import json
        import os

        import numpy as np

        if self._words is not None:
            return self._words
        if not (
            os.path.isfile(self.meta_path) and os.path.isfile(self.bin_path)
        ):
            return None
        try:
            with open(self.meta_path) as fh:
                meta = json.load(fh)
            if (
                meta.get("n_bits") != self.n_bits
                or tuple(meta.get("seeds", ())) != self.SEEDS
            ):
                return None
            words = np.fromfile(self.bin_path, dtype="<i8")
        except (OSError, ValueError):
            return None
        if words.size != self.n_bits // 64:
            return None
        self._words = words
        return words

    def _positions(self, fp_col: str) -> list[str]:
        return [
            f"cast(pmod(xxhash64({fp_col}, {s}L), {self.n_bits}) as bigint)"
            for s in self.SEEDS
        ]

    def _batch_positions(self, df: DataFrame, fp_col: str = "fp"):
        """Raw bit positions touched by one batch's fps, as a numpy
        array — a SHUFFLE-FREE map-only collect of ≤ 3·|batch| longs
        (~2.4 MB at 100k docs); the old groupBy/bit_or pre-aggregation
        cost a full shuffle per batch for no byte savings at serving
        batch sizes (measured 8.5 → ~2 cpu-s/batch, r15 probe)."""
        import numpy as np

        pos = F.explode(
            F.array(*[F.expr(p) for p in self._positions(fp_col)])
        ).alias("p")
        rows = df.select(pos).collect()
        return np.fromiter(
            (r["p"] for r in rows), dtype=np.int64, count=len(rows)
        )

    def _write_probe_parquet(self, words) -> None:
        """Derived JVM-readable copy of the words array (one row, one
        array<long> column), written driver-side with pyarrow. The
        probe reads THIS with spark.read.parquet, skipping the
        per-batch createDataFrame of a 262k-element Python list that
        dominated the r14 sidecar overhead (measured 5.9 cpu-s/batch;
        the parquet round-trip is ~0.3)."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        tmpdir = self.probe_dir + ".tmp"
        if os.path.isdir(tmpdir):
            import shutil

            shutil.rmtree(tmpdir)
        os.makedirs(tmpdir)
        tbl = pa.table(
            {"_bloom": pa.array([words.tolist()], type=pa.list_(pa.int64()))}
        )
        pq.write_table(tbl, os.path.join(tmpdir, "part-0.parquet"))
        if os.path.isdir(self.probe_dir):
            import shutil

            shutil.rmtree(self.probe_dir)
        os.replace(tmpdir, self.probe_dir)

    def _bulk_words(self, df: DataFrame, fp_col: str = "fp"):
        """(word_idx, bits) pairs for an UNBOUNDED fp set, aggregated
        in-plan: the per-batch `_batch_positions` collect is bounded
        by 3·|batch| longs and must never see a history-sized input —
        the r16 8M-row A/B caught the threshold-crossing REBUILD
        collecting 3·|history| positions (7.8M longs, a 137 s driver
        stall). Here the positions fold to ≤ n_bits/64 rows via a
        map-side-combined bit_or before anything reaches the driver,
        so the rebuild collect is bounded by the FILTER size (262k
        rows at 2²⁴ bits), not the history."""
        import numpy as np

        pos = F.explode(
            F.array(*[F.expr(p) for p in self._positions(fp_col)])
        ).alias("p")
        rows = (
            df.select(pos)
            .select(
                F.expr("p div 64").alias("w"),
                F.expr("shiftleft(1L, cast(p % 64 as int))").alias("m"),
            )
            .groupBy("w")
            .agg(F.expr("bit_or(m)").alias("m"))
            .collect()
        )
        w = np.fromiter((r["w"] for r in rows), dtype=np.int64, count=len(rows))
        m = np.fromiter((r["m"] for r in rows), dtype=np.int64, count=len(rows))
        return w, m

    def add(self, df: DataFrame, fp_col: str = "fp", bulk: bool = False) -> None:
        """OR this batch's fps into the sidecar, atomically. MUST run
        before the corresponding data/tombstone append (superset
        invariant; see class docstring). ``bulk=True`` routes through
        the in-plan bit_or aggregation (`_bulk_words`) whose driver
        collect is bounded by the filter size instead of the input —
        REQUIRED whenever the input is history-sized (the dispatch
        rebuild path); byte-identical result either way
        (test-pinned)."""
        import os

        import numpy as np

        words = self.load()
        if words is None:
            words = np.zeros(self.n_bits // 64, dtype="<i8")
        else:
            words = words.copy()
        if bulk:
            w, m = self._bulk_words(df, fp_col)
            if w.size:
                np.bitwise_or.at(words, w, m)
        else:
            p = self._batch_positions(df, fp_col)
            if p.size:
                np.bitwise_or.at(
                    words, p >> 6, np.int64(1) << (p & np.int64(63))
                )
        os.makedirs(self.dir, exist_ok=True)
        tmp = self.bin_path + ".tmp"
        words.tofile(tmp)
        os.replace(tmp, self.bin_path)
        self._write_probe_parquet(words)
        if not os.path.isfile(self.meta_path):
            import json

            mtmp = self.meta_path + ".tmp"
            with open(mtmp, "w") as fh:
                json.dump(
                    {"n_bits": self.n_bits, "seeds": list(self.SEEDS)}, fh
                )
            os.replace(mtmp, self.meta_path)
        self._words = words

    def with_hit_column(
        self, df: DataFrame, fp_col: str = "fp", out_col: str = "_bloomhit"
    ) -> DataFrame:
        """Append a boolean membership column — pure whole-stage
        codegen (element_at + shiftleft + AND per seed) over a 1-row
        broadcast of the words array; no Python in the row path. The
        broadcast side is the JVM-read probe parquet (see
        _write_probe_parquet), regenerated from bloom.bin when absent
        (pre-r15 stores)."""
        import os

        words = self.load()
        assert words is not None, "call load() first"
        spark = df.sparkSession
        if not os.path.isdir(self.probe_dir):
            self._write_probe_parquet(words)
        bloom_df = spark.read.parquet(self.probe_dir)
        hit = None
        for p in self._positions(fp_col):
            test = F.expr(
                f"(element_at(_bloom, cast(({p}) div 64 + 1 as int))"
                f" & shiftleft(1L, cast(({p}) % 64 as int))) != 0"
            )
            hit = test if hit is None else (hit & test)
        return (
            df.crossJoin(F.broadcast(bloom_df))
            .withColumn(out_col, hit)
            .drop("_bloom")
        )


# History-size dispatch for the fp Bloom sidecar (r14 VERDICT #3;
# r15 measured the cpu model; r16 RE-DERIVED the threshold from an
# end-to-end 4M/8M A/B — SCALE.md r16). Two currencies, measured:
# - CPU: machinery ~4.4 cpu-s/batch vs rescan ~1.5 cpu-s per MILLION
#   history rows (r15 probes: 3.1 @1.6M / 6.8 @4M / 9.2 @8M / 23
#   @16M) → cpu crossover ≈ 3M rows. Confirmed end-to-end at 8M:
#   the sidecar arm saved ~6 cpu-s/batch (4,403 vs 4,689 total).
# - WALL: the rescan anti-join parallelizes (measured FLAT ~8
#   s/batch through 6.5M-row history; slope ≈ 1.5/32 ≈ 0.05 s per M
#   rows on 32 cores), while the sidecar's overhead is SERIAL driver
#   latency (~3.3 s/batch post-fix: probe checkpoint + positive
#   count + add round-trips) → wall crossover ≈ 3.3/0.05 ≈ 70M rows.
# The r15 threshold (2.5M, cpu-early) made the default arm 36%
# SLOWER end-to-end at 8M while saving 6% cpu — the wrong default
# for a latency-facing ingest. The default now sits at the wall
# crossover's early side: below it the rescan is never worse in wall
# and forgoes at most (1.5·H/1M − 4.4) cpu-s/batch; above it the
# rescan's cost grows without bound in BOTH currencies. Deployments
# billed purely in cluster cpu-s can lower `bloom_min_history_rows`
# toward the ~3M cpu crossover — the trade is explicit now, not
# hidden behind a cpu-only model. Below the threshold the ingest
# takes the rescan path and maintains no filter; crossing it
# rebuilds the filter from the store's fp column once (bulk add —
# filter-bounded driver collect).
BLOOM_MIN_HISTORY_ROWS = 50_000_000


def stream_corpus_ingest(
    docs_stream: DataFrame,
    dest_dir: str,
    checkpoint_dir: str,
    eval_docs: DataFrame | None = None,
    bloom_bits: int = 1 << 24,
    bloom_min_history_rows: int = BLOOM_MIN_HISTORY_ROWS,
    auto_compact: bool = True,
    auto_compact_threshold: int | None = None,
):
    """Streaming corpus ingest — the streaming twin of the FULL
    pipeline_pretraining_corpus: per micro-batch, quality gate
    (language / length / diversity / chars-per-token, identical
    predicate to the batch query) → fingerprint → keep-first dedup
    WITHIN the batch → anti-join dedup AGAINST everything already
    ingested → (optionally) benchmark DECONTAMINATION against
    ``eval_docs`` → append to the store with the fingerprint column.

    Scale: the quality gate and fingerprint are scan-stage
    projections over the micro-batch; the in-batch window partitions
    by fp (batch-sized state, not stream-sized); the cross-batch
    check reads ONLY the store's fp column (column pruning) and
    anti-joins batch-sized keys against it; the eval 5-gram set is
    materialized ONCE at stream definition (eval sets are tiny) and
    broadcast into every batch; the append is the same
    memtable-flush shape as stream_append_vectors.

    Delivery semantics: the foreachBatch sink is at-least-once; the
    checkpoint plus the fp anti-join make ingest IDEMPOTENT under
    replay (a replayed batch adds zero rows — asserted in
    tests/test_streaming.py), which is the practical exactly-once.
    Docs dropped by decontamination leave a TOMBSTONE fp in a
    sidecar (``<dest>_tombstones``, kept OUTSIDE the store directory
    so plain readers of the store never see it) that the anti-join
    also checks — so a later near-duplicate of a decontaminated doc
    (same fp, possibly different shingles: fp is order-insensitive)
    is dropped too, matching the batch pipeline, which drops both.
    An interrupted compaction swap of the store is recovered before
    the stream starts (store.recover)."""
    from pyspark.sql.window import Window

    from vfs_spark.functions.text import fingerprint, lang_id, tokens, word_shingles

    ev = None
    if eval_docs is not None:
        # one pass at stream definition, pinned so every micro-batch
        # broadcasts the same materialized set instead of re-deriving
        ev = (
            eval_docs.select(F.explode(word_shingles("text", 5)).alias("g"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    tomb_dir = dest_dir.rstrip("/") + "_tombstones"
    store.recover(dest_dir)

    def _read_fps(spark: SparkSession, path: str):
        """fp column of an append store, or None before any rows have
        landed (absent directory, or a directory holding only commit
        markers because every row of the first batches was filtered).
        Only those empty cases are tolerated — any OTHER read failure
        (corrupt files, permissions) must raise, not silently disable
        cross-batch dedup and double-ingest."""
        import os

        if not os.path.isdir(path) or not any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            return None
        return spark.read.parquet(path).select("fp")

    # one sidecar instance per STREAM (not per batch): load() caches
    # the words array in memory and add() keeps it in sync, so steady
    # state never re-reads the 2 MiB file per batch. Single-writer
    # per store contract (same as VFSEngine): each store has one
    # owning stream — a second concurrent ingest on the same dest_dir
    # would not see this stream's in-memory adds; a restarted stream
    # re-reads from disk on its first batch.
    sidecar = (
        FpBloomSidecar(dest_dir, n_bits=bloom_bits)
        if bloom_bits
        else None  # bloom_bits=0 → legacy full-rescan path (the
        # streamscale A/B control; output is identical either way)
    )
    # dispatch memo: landed-history row count, read from footers ONCE
    # (first batch; None = not yet read) then incremented per batch —
    # see the dispatch comment in _apply for why (r16: per-batch
    # footer scans were O(files) driver work, quadratic over a drain)
    _history_rows: list = [None]

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        toks = tokens("text")
        n = F.size(toks)
        keep = (
            (lang_id("text") != "unk")
            & (n >= 20)
            & (F.size(F.array_distinct(toks)).cast("double") / n >= 0.3)
            & (F.col("n_chars").cast("double") / n <= 12.0)
        )
        kept = batch_df.where(keep).withColumn("fp", fingerprint("text"))
        w = Window.partitionBy("fp").orderBy("doc_id")
        first = (
            kept.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        # cross-batch dedup, Bloom-first (r13 VERDICT task #2): only
        # Bloom-POSITIVE fps pay the exact anti-join against the
        # store; a batch of fresh fps skips the store scan entirely.
        # Bloom misses are definitely-new (no false negatives under
        # the superset invariant — see FpBloomSidecar), so output is
        # identical to the full-rescan path.
        # history-size dispatch (see BLOOM_MIN_HISTORY_ROWS): under
        # the threshold the rescan anti-join is strictly cheaper than
        # the sidecar machinery, so the sidecar is neither probed nor
        # maintained — and any filter left behind (a lowered
        # threshold, a truncated store) is REMOVED rather than left
        # to go stale, because a sidecar missing recent bits would
        # produce false negatives (missed duplicates). Crossing the
        # threshold later rebuilds it from the store's fp column.
        # The history size is MEMOIZED in the stream (footers read
        # once, on the first batch): the r16 8M A/B caught the naive
        # form re-reading every store footer on EVERY batch — an
        # O(files) driver scan per batch, quadratic over a drain —
        # while the landed count per batch is already known
        # driver-side. The memo counts rows BEFORE the decontam drop
        # (strictly an overcount), so the flip can only come EARLY —
        # the bounded-mistake side, same as the threshold itself.
        if sidecar is not None and _history_rows[0] is None:
            from vfs_spark.sources.parquet import parquet_row_count

            _history_rows[0] = parquet_row_count(dest_dir) or 0
        use_bloom = (
            sidecar is not None
            and _history_rows[0] >= bloom_min_history_rows
        )
        if sidecar is not None and not use_bloom:
            import shutil

            shutil.rmtree(sidecar.dir, ignore_errors=True)
            sidecar._words = None
        bloom_words = sidecar.load() if use_bloom else None
        historic = []  # fp DataFrames the sidecar must cover on rebuild
        if bloom_words is not None:
            # ONE materialization (r14 VERDICT #3): the hit column is
            # computed INSIDE the pass that pins the gated batch — the
            # r14 shape probed over the un-pinned plan and split it
            # (where(hit) ∪ where(~hit)), so the whole quality-gate +
            # fingerprint + window pipeline evaluated twice per batch,
            # and the anti-join's store scan sat in the plan even for
            # a zero-positive batch. The driver-side positive count
            # makes "a fresh batch never touches the store" literal:
            # the anti-join (and the store read under it) only enters
            # the plan when positives exist, and then only the small
            # positive-survivor slice is re-pinned — the negatives
            # re-read the big checkpoint.
            flagged = sidecar.with_hit_column(first).localCheckpoint(
                eager=True
            )
            n_pos = flagged.where(F.col("_bloomhit")).count()
            if n_pos == 0:
                first = flagged.drop("_bloomhit")
                _history_rows[0] += flagged.count()
            else:
                hits = flagged.where(F.col("_bloomhit"))
                for seen_dir in (dest_dir, tomb_dir):
                    seen = _read_fps(spark, seen_dir)
                    if seen is not None:
                        hits = hits.join(seen, "fp", "left_anti")
                hits = hits.localCheckpoint(eager=True)
                first = hits.unionByName(
                    flagged.where(~F.col("_bloomhit"))
                ).drop("_bloomhit")
                # counts over the two checkpoints — no recompute
                _history_rows[0] += (
                    flagged.count() - n_pos + hits.count()
                )
        else:
            # rescan path: under-threshold dispatch, bloom off, or a
            # missing/resized sidecar at/above threshold (first batch
            # there, pre-existing store) — full rescan for THIS batch;
            # when rebuilding, fold the historic fps into add() below
            for seen_dir in (dest_dir, tomb_dir):
                seen = _read_fps(spark, seen_dir)
                if seen is not None:
                    first = first.join(seen, "fp", "left_anti")
                    historic.append(seen)
            # one materialization: everything below re-reads `first`
            first = first.localCheckpoint(eager=True)
            if sidecar is not None:
                _history_rows[0] += first.count()  # cheap: checkpointed
        # update the sidecar BEFORE any append (superset invariant:
        # a crash between leaves extra bits, never missing ones);
        # `first` still contains the to-be-tombstoned rows, so both
        # landing and decontaminated fps are covered
        if use_bloom:
            to_add = first.select("fp")
            for h in historic:
                to_add = to_add.unionByName(h)
            # bulk on the rebuild (history-sized input): in-plan
            # bit_or keeps the driver collect filter-bounded — the
            # per-batch positions collect must never see history
            sidecar.add(to_add, bulk=bool(historic))
        if ev is not None:
            contaminated = (
                first.select(
                    "doc_id", F.explode(word_shingles("text", 5)).alias("g")
                )
                .join(F.broadcast(ev), "g")
                .select("doc_id")
                .distinct()
            )
            # tombstone the dropped fps so a later same-fp duplicate
            # (batch semantics: both copies die) cannot slip in
            dropped = first.join(contaminated, "doc_id", "left_semi")
            dropped.select("fp").write.mode("append").parquet(tomb_dir)
            first = first.join(contaminated, "doc_id", "left_anti")
        first.write.mode("append").parquet(dest_dir)
        # small-file epilogue (r15 VERDICT #6): same policy and
        # opt-out as the batch engine; layout-only, so the fp
        # anti-join, the sidecar (content-keyed bits), and replay
        # idempotence are all unaffected
        if auto_compact and store.compact_due(
            spark, dest_dir, auto_compact_threshold
        ):
            store.compact(spark.read.parquet(dest_dir), dest_dir, "doc_id")

    return (
        docs_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_export_shards(
    docs_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    rows_per_shard: int = 200,
    order_col: str = "doc_id",
):
    """Streaming twin of sources/parquet.write_training_shards: each
    micro-batch appends NEW shards continuing the store's global shard
    numbering and rank range, and extends _MANIFEST.json with the same
    per-shard (count, order-insensitive checksum) entries — so
    read_training_shards verifies a streaming-built store exactly like
    a batch export. Shard sizes are fixed except each batch's tail
    shard (a streaming writer rotates on size; the tail is whatever
    the batch had left — compacting tails is a rewrite job, the
    compact_ivf_store analogue).

    Delivery semantics: foreachBatch is at-least-once, so the manifest
    records the last applied batch_id and a replayed batch is skipped
    (same idempotence idiom as stream_corpus_ingest). The crash window
    between data append and manifest write leaves UNLISTED shard
    directories — read_training_shards(verify=True) then fails loudly
    (stale-shard check) rather than serving rows the manifest never
    acknowledged; remediation is deleting the unlisted directories and
    replaying the batch.

    100 TB shape: per batch, the ranged-id pass and one shard_id
    shuffle — identical to the batch writer; the manifest read/write
    is O(shards) driver-side JSON."""
    import json
    import os

    from vfs_spark.operators.ids import assign_dense_ids_ranged

    def _flush(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        clash = {"_rid", "shard_id", "_b"} & set(batch_df.columns)
        if clash:
            raise ValueError(
                f"input columns {sorted(clash)} collide with shard-export "
                "bookkeeping columns (re-exporting a previous shard store "
                "must drop shard_id/_rid first)"
            )
        man_path = os.path.join(store_path, "_MANIFEST.json")
        if os.path.exists(man_path):
            with open(man_path) as fh:
                man = json.load(fh)
        else:
            man = {
                "rows_per_shard": rows_per_shard,
                "n_shards": 0,
                "total_rows": 0,
                "shards": [],
                "last_batch_id": -1,
            }
        if batch_id <= man.get("last_batch_id", -1):
            return  # at-least-once replay of an applied batch
        next_shard = (
            max((s["shard_id"] for s in man["shards"]), default=-1) + 1
        )
        rank_base = man["total_rows"]
        data_cols = list(batch_df.columns)
        ranked = assign_dense_ids_ranged(batch_df, order_col, id_name="_b")
        sharded = ranked.select(
            *data_cols,
            (F.col("_b") + rank_base).alias("_rid"),
            (F.lit(next_shard) + F.expr(f"(_b - 1) div {int(rows_per_shard)}"))
            .cast("int")
            .alias("shard_id"),
        )
        (
            sharded.repartition("shard_id")
            .write.mode("append")
            .partitionBy("shard_id")
            .parquet(store_path)
        )
        stats = (
            sharded.groupBy("shard_id")
            .agg(
                F.count("*").alias("n_rows"),
                F.min("_rid").alias("first_rid"),
                F.max("_rid").alias("last_rid"),
                F.bit_xor(F.xxhash64(*data_cols)).alias("checksum"),
            )
            .orderBy("shard_id")
            .collect()
        )
        man["shards"].extend(
            {
                "shard_id": r["shard_id"],
                "n_rows": r["n_rows"],
                "first_rid": r["first_rid"],
                "last_rid": r["last_rid"],
                "checksum": int(r["checksum"]),
            }
            for r in stats
        )
        man["n_shards"] = len(man["shards"])
        man["total_rows"] += sum(r["n_rows"] for r in stats)
        man["last_batch_id"] = batch_id
        tmp = man_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(man, fh, indent=1, sort_keys=True)
        os.replace(tmp, man_path)  # atomic manifest commit

    return (
        docs_stream.writeStream.foreachBatch(_flush)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_curation_ingest(
    docs_stream: DataFrame,
    dest_dir: str,
    checkpoint_dir: str,
    eval_docs: DataFrame | None = None,
):
    """Streaming twin of the FULL curation stack
    (queries/text.q_pipeline_curation_full), stage for stage and in
    the same order: URL-level dedup (in-batch keep-min + anti-join
    against every URL ever SEEN — not just stored: a URL whose winner
    later failed quality must still block later refetches, exactly as
    the batch window does) → Gopher rule gate (the SAME
    _gopher_pass_cond conjunction) → exact fingerprint dedup (in-batch
    keep-min + anti-join against stored ∪ tombstoned fps) → benchmark
    decontamination (broadcast eval 5-gram set; dropped fps are
    tombstoned so a later same-fp copy dies too) → append the slim
    curated manifest row (doc_id, source, n_tokens, h, fp, u).

    The TEMPERATURE-MIXTURE stage is deliberately NOT per-batch: its
    cutoffs are a function of the FINAL per-source token totals, so a
    per-batch application would select early documents against stale
    totals and diverge from the batch pipeline. The mixture is a
    constant-cost view over the landed store — `curation_manifest`
    computes it on demand (the store carries n_tokens + the selection
    hash precomputed, so the view is one groupBy over slim rows + a
    broadcast cutoff probe; no text is ever re-read). This split is
    the honest streaming decomposition: per-document stages stream,
    corpus-global stages are views.

    Scale shape per batch: every signal (canonical URL, fingerprint,
    Gopher metrics, selection hash) is computed once in the batch scan
    and text is carried only as far as the decontamination explode;
    the cross-batch checks read single key columns of the sidecars
    (column pruning) and anti-join batch-sized key sets. Sidecar
    layout: ``<dest>_seen_urls`` (every canonical URL ever seen),
    ``<dest>_tombstones`` (fps dropped by decontamination).

    Delivery: foreachBatch is at-least-once; a replayed batch dies at
    the URL anti-join (its URLs are already in seen_urls) or, under a
    partial-failure interleaving (store written, seen_urls append
    lost), at the fp anti-join — zero duplicate rows either way
    (asserted in tests/test_streaming.py).

    Parity caveat (same as stream_corpus_ingest): batch keep-min is
    MIN(doc_id); the streaming twin keeps the first ARRIVAL, so
    equality with the batch pipeline requires doc_id-monotone arrival
    order across batches — the natural order of a partitioned ingest
    feed. Within a batch, true keep-min is used."""
    from pyspark.sql.window import Window

    from vfs_spark.functions.text import (
        fingerprint,
        normalize_url,
        tokens,
        word_shingles,
    )
    from vfs_spark.queries.text import (
        _gopher_metric_cols,
        _gopher_pass_cond,
        _synth_url_col,
    )

    ev = None
    if eval_docs is not None:
        ev = (
            eval_docs.select(F.explode(word_shingles("text", 5)).alias("g"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    seen_urls_dir = dest_dir.rstrip("/") + "_seen_urls"
    tomb_dir = dest_dir.rstrip("/") + "_tombstones"

    def _read_keys(spark: SparkSession, path: str, col: str):
        import os

        if not os.path.isdir(path) or not any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            return None
        return spark.read.parquet(path).select(col)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        toks = tokens("text")
        slim = batch_df.select(
            "doc_id",
            "source",
            "text",
            normalize_url(_synth_url_col()).alias("u"),
            fingerprint("text").alias("fp"),
            *_gopher_metric_cols(toks),
            (
                F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast(
                    "bigint"
                )
                % 1000000
            ).alias("h"),
        )
        # URL stage: in-batch keep-min, then anti-join vs every URL
        # ever seen (pin the batch's NEW URLs BEFORE appending them —
        # and only the new ones: re-appending already-seen URLs would
        # grow the sidecar O(docs ever ingested) instead of O(distinct
        # URLs) on exactly the refetch-heavy feeds URL dedup exists
        # for)
        wu = Window.partitionBy("u").orderBy("doc_id")
        u1 = (
            slim.withColumn("_rn", F.row_number().over(wu))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        seen_u = _read_keys(spark, seen_urls_dir, "u")
        new_urls = slim.select("u").distinct()
        if seen_u is not None:
            u1 = u1.join(seen_u, "u", "left_anti")
            new_urls = new_urls.join(seen_u, "u", "left_anti")
        new_urls = new_urls.localCheckpoint(eager=True)
        # Gopher gate + fp stage
        q1 = u1.where(_gopher_pass_cond())
        wf = Window.partitionBy("fp").orderBy("doc_id")
        d1 = (
            q1.withColumn("_rn", F.row_number().over(wf))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        for seen_dir in (dest_dir, tomb_dir):
            seen = _read_keys(spark, seen_dir, "fp")
            if seen is not None:
                d1 = d1.join(seen, "fp", "left_anti")
        # pin the survivors: with eval_docs set, d1 feeds THREE actions
        # (tombstone write, store write, and two DAG branches inside
        # the contamination join) — unpinned, the whole batch scan +
        # Gopher HOFs re-run per action (the q_pipeline_curation_full
        # d2 pin lesson, applied to the streaming twin)
        with pinned(d1):
            out = d1
            if ev is not None:
                contaminated = (
                    d1.select(
                        "doc_id", F.explode(word_shingles("text", 5)).alias("g")
                    )
                    .join(F.broadcast(ev), "g")
                    .select("doc_id")
                    .distinct()
                )
                dropped = d1.join(contaminated, "doc_id", "left_semi")
                dropped.select("fp").write.mode("append").parquet(tomb_dir)
                out = d1.join(contaminated, "doc_id", "left_anti")
            out.select("doc_id", "source", "n_tokens", "h", "fp", "u").write.mode(
                "append"
            ).parquet(dest_dir)
        # record the batch's URLs LAST: a crash before this line
        # replays into the fp anti-join (no duplicates), while an
        # earlier append would anti-join the batch against itself
        new_urls.write.mode("append").parquet(seen_urls_dir)

    return (
        docs_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def curation_manifest(spark: SparkSession, store_dir: str) -> DataFrame:
    """The corpus-global temperature-mixture stage over a store built
    by stream_curation_ingest — sqrt-smoothed per-source keep rates
    against a half-corpus token budget, identical arithmetic to the
    batch pipeline's final stage (shared _temperature_cutoffs).
    Constant-cost view: one groupBy over slim manifest rows + a
    broadcast cutoff probe against the precomputed selection hash."""
    from vfs_spark.queries.text import _temperature_cutoffs

    d2 = spark.read.parquet(store_dir).select(
        "doc_id", "source", F.col("n_tokens").alias("n"), "h"
    )
    tot = d2.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("src_tokens")
    )
    cut = _temperature_cutoffs(tot)
    return (
        d2.join(F.broadcast(cut), "source")
        .where(F.col("h") < F.col("cutoff"))
        .select("doc_id", "source", F.col("n").alias("n_tokens"))
    )


def curation_manifest_ranked(
    spark: SparkSession,
    store_dir: str,
    docs_all: DataFrame,
    n_docs: int | None = None,
) -> DataFrame:
    """The rank-weighted mixture view over a store built by
    stream_curation_ingest — pipeline_curation_ranked's final stage
    applied to the landed manifest. PageRank is a BATCH prologue over
    the full document table (link structure is corpus-global state, a
    static side input like the eval shingle set — iterative power
    steps do not stream), joined to the store on the canonical URL
    the ingest already landed; weights and cutoffs come from the
    SHARED helpers (queries/graph.relative_rank_u6 /
    ranked_mixture_manifest), so the streaming twin cannot drift from
    the batch pipeline's arithmetic. Same honest decomposition as
    curation_manifest: per-document stages stream, corpus-global
    stages are views. ``n_docs`` is the row count of ``docs_all`` when
    the caller has it without a job (see queries/graph._edges)."""
    from vfs_spark.queries.graph import (
        _RANK_FLOOR_U6,
        ranked_mixture_manifest,
        relative_rank_u6,
    )

    d2 = spark.read.parquet(store_dir).select(
        "doc_id", "source", F.col("n_tokens").alias("n"), "h", "u"
    )
    ranks = relative_rank_u6(docs_all, n_docs)
    d2r = d2.join(ranks, "u", "left").select(
        "doc_id",
        "source",
        "n",
        "h",
        F.coalesce(F.col("rank_u6"), F.lit(_RANK_FLOOR_U6))
        .cast("bigint")
        .alias("rank_u6"),
    )
    return ranked_mixture_manifest(d2r)
