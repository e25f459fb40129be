"""VFSEngine — a thin facade mirroring the reference's API verbs
(main.rs:27-33; tcp.rs handlers): init, insert, get, search, flush,
snapshot, restore — over a Parquet-backed vector store.

The reference serializes all work behind one global mutex
(main.rs:49); here every verb is a Spark job that parallelizes across
the cluster. State (next_id etc., storage_manager.rs:18-26) is
derived, not mutable: next_id = max(id)+1 derived from storage (and
MEMOIZED across inserts under the single-writer-per-storage_dir
contract — see VFSEngine docstring), snapshots are directory copies
of immutable Parquet.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Sequence
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vfs_spark.dispatch import DRIVER_MAX, release
from vfs_spark.functions.quantize import DEFAULT_SCALE, dequantize, quantize
from vfs_spark.operators import ann, index_store
from vfs_spark.operators.knn import exact_knn
from vfs_spark.schema import VFS_VECTOR_SCHEMA
from vfs_spark.sources import store
from vfs_spark.sources.parquet import parquet_row_count

# A kept ANN model is refit once the store holds more than this many
# times the rows it was fitted on: about one fit per doubling.
REFIT_GROWTH = 2

# The distance metrics each approximate search type implements.
ANN_METRICS = {
    "approx": ("euclidean", "cosine"),
    "ivf": ("euclidean",),
    "pq": ("euclidean",),
}


class VFSEngine:
    """One engine instance ≈ one reference server deployment (a single
    vectors collection with a fixed dimension, tcp.rs:26-63).

    Single-writer contract: one engine instance (or reference server)
    owns a storage_dir at a time — the reference serializes every verb
    behind one global mutex (main.rs:49), and the derived-state memos
    here (next_id, row count, store schema, fitted indexes) assume the
    same: a second writer appending to the same directory is visible
    to vectors()/get() (they re-list storage) but NOT to the memoized
    next_id(), so concurrent inserts from two instances could assign
    duplicate ids. Multi-writer ingest belongs to the streaming path
    (stream_append_vectors), which owns its store the same way."""

    def __init__(self, spark: SparkSession, storage_dir: str):
        self.spark = spark
        self.storage_dir = storage_dir
        self.vector_dimension: int | None = None
        self.quantize_on_write = False
        self.mutate_metadata = True
        # ANN indexes, keyed "<kind>:<metric>", in two parts with two
        # lifetimes. The trained model (LSH projections, IVF centroids,
        # PQ codebooks) with the store row count it was fitted on
        # outlives insert/compact/delete until the store outgrows it
        # REFIT_GROWTH-fold; init/restore replace it. The store encoded
        # against it is an eager local checkpoint, which reads no store
        # file, so compact() keeps it. insert() keeps it too and queues
        # the inserted Arrow rows in _pending; the next search of that
        # kind encodes only those rows and folds them in with one new
        # checkpoint. delete/init/restore, a refit and an insert into a
        # quantized-at-rest store drop it. Fit-once-query-many is the
        # whole point of the Spark design (SURVEY Q3) — rebuilding per
        # search call would be the reference's anti-pattern.
        self._models: dict[str, tuple[object, int]] = {}
        self._frames: dict[str, DataFrame] = {}
        self._pending: dict[str, list[pa.Table]] = {}
        # next_id stays DERIVED (max(id)+1 from storage, the reference's
        # recompute-from-disk semantics) — this is only a memo of that
        # derivation, maintained through insert() and compact() and
        # dropped by init/delete/restore. Without it every insert
        # re-scans max(id) across ALL store files, i.e. O(files) footer
        # reads per insert and quadratic total ingest cost as a
        # many-small-batches store grows (measured: tools/compact_probe).
        self._next_id_cache: int | None = None
        # Footer row count, memoized the same way: it keeps the
        # auto-compact floor guard O(1) per insert once the store sits
        # above the file threshold for good (big-store regime).
        self._row_count_cache: int | None = None
        # The store's at-rest schema, inferred by the first read (an
        # inference is a Spark job); dropped by init()/restore(), the
        # only verbs that can change a store's columns.
        self._store_schema = None
        # auto-compact policy (r14 VERDICT #8): opt-out flag + optional
        # explicit threshold (None → store.AUTO_COMPACT_FILE_FACTOR ×
        # spark.sql.shuffle.partitions, the documented default)
        self.auto_compact = True
        self.auto_compact_threshold: int | None = None
        self._auto_compact_floor_warned = False

    # -- /init (tcp.rs:270-299) -------------------------------------------
    def init(
        self,
        vector_dimension: int,
        truncate_data: bool = False,
        quantize_storage: bool = False,
        mutate_metadata: bool = True,
    ) -> None:
        """``mutate_metadata`` mirrors the reference's quantize
        metadata semantics (vector.rs:116-121,145-150): the quantized
        form AT REST carries ``name || '_quantized'`` and a pushed
        ``'quantized'`` tag, and dequantizing on read strips both —
        so the round trip is invisible to readers while the stored
        bytes match the reference's. ``created_at`` stays stable per
        SURVEY Q7 (the reference re-stamps it; ruled a bug-shaped
        behavior we don't copy). Pass False for plain pass-through
        metadata."""
        self.vector_dimension = vector_dimension
        self.quantize_on_write = quantize_storage
        self.mutate_metadata = mutate_metadata
        self._forget_store()
        store.recover(self._data_dir)
        if truncate_data and os.path.isdir(self._data_dir):
            shutil.rmtree(self._data_dir)
        os.makedirs(self.storage_dir, exist_ok=True)

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.storage_dir, "vectors")

    def _read_store(self) -> DataFrame:
        if self._store_schema is None:
            self._store_schema = self.spark.read.parquet(self._data_dir).schema
        return self.spark.read.schema(self._store_schema).parquet(self._data_dir)

    def _have_data(self) -> bool:
        return store.parquet_files(self._data_dir) > 0

    # -- /vectors POST (tcp.rs:302-355) -----------------------------------
    def insert(
        self,
        vectors: Sequence[Sequence[float]],
        names: Sequence[str] | None = None,
        tags: Sequence[Sequence[str]] | None = None,
        scale_factor: float | None = None,
    ) -> list[int]:
        """Insert a batch; assigns dense ids continuing from the stored
        max (next_id, storage_manager.rs:126-130). Dimension enforced
        as in tcp.rs:306-311. `scale_factor` mirrors the reference's
        per-insert explicit scale (register_vector_from_simd,
        storage_manager.rs:338-364; Vector::quantize(Some(scale)),
        vector.rs:94-108): when the store quantizes at rest, this batch
        is quantized with the given scale and NO clamp; the scale is
        stored per-row (q_scale) so reads dequantize transparently.
        Ignored (like the reference) when the store is float-at-rest.

        Encoded ANN frames stay: each queues this batch for its next
        search to fold in. A frame whose model the store now outgrows
        (REFIT_GROWTH) is dropped, as is every frame of a quantized-at-
        rest store, whose read-back values the driver does not hold."""
        if self.vector_dimension is None:
            raise RuntimeError("engine not initialized (POST /init first)")
        for v in vectors:
            if len(v) != self.vector_dimension:
                raise ValueError(
                    f"dimension mismatch: got {len(v)}, want {self.vector_dimension}"
                )
        next_id = self.next_id()
        n = len(vectors)
        ids = list(range(next_id, next_id + n))
        now = datetime.now(timezone.utc)
        # One Arrow table is far cheaper to ship than pickled rows, and
        # created_at is a UTC instant: a naive datetime would be read in
        # the host's local zone.
        table = pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "embedding": pa.ListArray.from_arrays(
                    np.arange(n + 1, dtype=np.int32) * self.vector_dimension,
                    np.asarray(vectors, dtype=np.float32).reshape(-1),
                ),
                "name": [names[i] if names else f"vec_{v}" for i, v in enumerate(ids)],
                "tags": [list(tags[i]) if tags else [] for i in range(n)],
                "created_at": pa.array([now] * n, pa.timestamp("us", "UTC")),
            }
        )
        df = self.spark.createDataFrame(table, schema=VFS_VECTOR_SCHEMA)
        self._flush(df, scale_factor=scale_factor)
        # an appended dense id run of known size: both memos stay exact
        self._next_id_cache = next_id + n
        if self._row_count_cache is not None:
            self._row_count_cache += n
        self._queue_inserted(table)
        self._maybe_auto_compact()
        return ids

    def _maybe_auto_compact(self) -> None:
        """Flush-time small-file policy (r14 VERDICT #8; see
        store.compact_due): run compact() once the store holds more
        parquet files than the threshold. Opt out with
        ``engine.auto_compact = False``; override the cutoff with
        ``engine.auto_compact_threshold``. Warns once while the
        post-compact-floor guard holds compaction back."""
        if not self.auto_compact:
            return
        due = store.compact_due(
            self.spark, self._data_dir, self.auto_compact_threshold,
            self.approx_vector_count,
        )
        if due is None and not self._auto_compact_floor_warned:
            import warnings

            warnings.warn(
                "auto-compact: the post-compact floor of this store "
                "exceeds the file threshold; compacting only after a "
                "further threshold of small files accumulates (raise "
                "auto_compact_threshold to retune)",
                stacklevel=3,
            )
            self._auto_compact_floor_warned = True
        if due:
            self.compact()

    def _queue_inserted(self, table: pa.Table) -> None:
        """Queue an inserted batch for every kept encoded frame, or drop
        the frame where a fold cannot or should not serve (see insert).
        A queue past DRIVER_MAX["engine_pending_bytes"] drops its frame
        too: the next search re-encodes the store instead."""
        if not self._frames:
            return
        if self.quantize_on_write:
            self._drop_frames()
            return
        rows = self.approx_vector_count() or 0
        for key in list(self._frames):
            queue = self._pending.setdefault(key, [])
            queue.append(table)
            if (
                rows > REFIT_GROWTH * self._models[key][1]
                or sum(t.nbytes for t in queue) > DRIVER_MAX["engine_pending_bytes"]
            ):
                self._drop_frame(key)

    def _drop_frame(self, key: str) -> None:
        release(self._frames.pop(key))
        self._pending.pop(key, None)

    def _drop_frames(self) -> None:
        for key in list(self._frames):
            self._drop_frame(key)

    def _forget_store(self) -> None:
        """Drop everything derived from the store: init() and restore()
        may change its ids, rows and columns."""
        self._drop_frames()
        self._models.clear()
        self._next_id_cache = None
        self._row_count_cache = None
        self._store_schema = None

    def approx_vector_count(self) -> int | None:
        """Store size from Parquet footers (metadata-only — no data
        pages), cached until the store mutates. Feeds
        knn_batch_auto's N-axis dispatch (r12 verdict #8)."""
        if self._row_count_cache is None:
            self._row_count_cache = parquet_row_count(self._data_dir)
        return self._row_count_cache

    def _flush(self, df: DataFrame, scale_factor: float | None = None) -> None:
        """Memtable flush analogue (storage_manager.rs:139-162):
        optionally quantize at rest (per-row q_scale recorded so mixed-
        scale stores dequantize correctly), append, keep id stats tight."""
        if self.quantize_on_write:
            df = (
                df.withColumn("embedding_q", quantize("embedding", scale_factor))
                .withColumn(
                    "q_scale",
                    F.lit(float(scale_factor if scale_factor is not None else DEFAULT_SCALE)),
                )
                .drop("embedding")
            )
            if self.mutate_metadata:
                # reference Vector::quantize (vector.rs:116-121): the
                # at-rest quantized row renames and pushes a tag (a
                # plain push — duplicates allowed, as in the Rust).
                df = df.withColumn(
                    "name", F.concat(F.col("name"), F.lit("_quantized"))
                ).withColumn(
                    "tags",
                    F.concat(
                        F.coalesce("tags", F.array().cast("array<string>")),
                        F.array(F.lit("quantized")),
                    ),
                )
        # Driver-side insert batches are payload-bounded (the reference's
        # HTTP POST body, tcp.rs:302-355) — scattering one across the
        # session's default parallelism lands ~dozens of tiny part files
        # PER INSERT, which compounds the small-file fragmentation that
        # compact() exists to undo (measured: tools/compact_probe — a
        # 400-insert store landed 4,400 files pre-fix). One sorted file
        # per insert keeps per-file id min/max tight for footer pruning.
        df.coalesce(1).sortWithinPartitions("id").write.mode("append").parquet(
            self._data_dir
        )

    # -- full collection view ---------------------------------------------
    def vectors(self) -> DataFrame:
        """The stored collection, dequantized transparently when the
        store is quantized (storage_manager.rs:202-210)."""
        if not self._have_data():
            return self.spark.createDataFrame([], schema=VFS_VECTOR_SCHEMA)
        df = self._read_store()
        if "embedding_q" in df.columns:
            scale = (
                F.col("q_scale") if "q_scale" in df.columns else F.lit(DEFAULT_SCALE)
            )
            df = df.withColumn(
                "embedding", dequantize("embedding_q", scale).cast("array<float>")
            ).drop("embedding_q", "q_scale")
            if self.mutate_metadata:
                # reference Vector::dequantize (vector.rs:145-150):
                # Rust str::replace removes ALL occurrences of
                # "_quantized" (not just the appended suffix), and
                # retain drops ALL 'quantized' tags — so a name that
                # legitimately contained "_quantized" before insert
                # comes back without it. Deliberately faithful to the
                # reference's quirk (asserted in test_engine.py);
                # callers needing pass-through metadata use
                # mutate_metadata=False.
                df = df.withColumn(
                    "name", F.replace("name", F.lit("_quantized"), F.lit(""))
                ).withColumn(
                    "tags", F.filter("tags", lambda t: t != "quantized")
                )
        return df

    def next_id(self) -> int:
        if self._next_id_cache is not None:
            return self._next_id_cache
        if not self._have_data():
            return 1
        row = self._read_store().agg(F.max("id")).first()
        self._next_id_cache = (row[0] or 0) + 1
        return self._next_id_cache

    # -- /vectors/<id> GET (tcp.rs:242-268) -------------------------------
    def get(self, vec_id: int):
        """Point lookup; Parquet min/max pruning plays the B-tree's
        role (storage_manager.rs:235-296). Collected, not first():
        first() takes incrementally and runs a second job whenever the
        row is not in the first partition, and always for a missing id."""
        rows = self.vectors().where(F.col("id") == vec_id).collect()
        return rows[0] if rows else None

    # -- /search (tcp.rs:358-434) -----------------------------------------
    def search(
        self,
        query: Sequence[float],
        top_k: int = 5,
        search_type: str = "exact",
        distance_method: str = "euclidean",
    ) -> DataFrame:
        """k = top_k per the documented semantics (SURVEY Q1 — the
        reference actually misroutes top_k into batch size). An
        approximate search takes only the metrics its index implements
        (ANN_METRICS) and raises ValueError for any other before
        fitting anything."""
        if self.vector_dimension is not None and len(query) != self.vector_dimension:
            raise ValueError("query dimension mismatch")
        vecs = self.vectors()
        if search_type == "exact":
            return exact_knn(
                vecs, query, k=top_k, metric=distance_method, id_col="id",
                vec_col="embedding",
            )
        # any other type is approximate, the reference's default
        kind = search_type if search_type in ("ivf", "pq") else "approx"
        if distance_method not in ANN_METRICS[kind]:
            raise ValueError(
                f"search_type {search_type!r} does not implement distance "
                f"{distance_method!r}: use {'|'.join(ANN_METRICS[kind])}"
            )
        model, frame = self._ann_index(kind, distance_method, vecs)
        if kind == "ivf":
            return ann.ivf_search(
                model, frame, query, k=top_k, id_col="id", vec_col="embedding"
            )
        if kind == "pq":
            return ann.pq_search_rerank(
                frame, vecs, model, query, k=top_k, id_col="id",
                vec_col="embedding",
            )
        return ann.approx_knn(
            model, frame, query, k=top_k, id_col="id", metric=distance_method
        )

    def _ann_index(self, kind: str, metric: str, vecs: DataFrame):
        """(model, encoded store frame) for one ANN kind, fitted and
        encoded by the index store's codec. The kept model serves until
        the store holds more than REFIT_GROWTH times its fitted rows.
        The frame is encoded once into a local checkpoint; later
        searches fold the rows inserted since into it (_fold) instead
        of re-encoding the store. A plan a search returned reads the
        frame, so collect it before the next search of its kind."""
        key = f"{kind}:{metric}"
        if key in self._frames:
            if key in self._pending:
                self._fold(kind, metric)
            return self._models[key][0], self._frames[key]
        rows = self.approx_vector_count()
        model, fitted_rows = self._models.get(key, (None, 0))
        if model is None or (rows or 0) > REFIT_GROWTH * fitted_rows:
            model = index_store.fit(kind, vecs, metric, n_rows=rows)
            self._models[key] = (model, rows or 0)
        frame = index_store.encode(kind, model, vecs, metric, id_col="id")
        self._frames[key] = frame.localCheckpoint(eager=True)
        return model, self._frames[key]

    def _fold(self, kind: str, metric: str) -> None:
        """Fold the queued inserts into one kind's encoded frame: encode
        only those rows against the kept model, union them onto the
        frame at its partition count, checkpoint once and release the
        old checkpoint. LSH features and IVF cluster ids come from the
        codec over the inserted Arrow rows, in the JVM; PQ codes come
        from ann.pq_codes on the driver, the kernel encode_pq_arrow
        runs, so every folded row equals its full-store encoding."""
        key = f"{kind}:{metric}"
        model = self._models[key][0]
        table = pa.concat_tables(self._pending[key])
        if kind == "pq":
            X = np.asarray(table["embedding"].to_pylist(), dtype=np.float64)
            codes = pa.array(list(ann.pq_codes(X, model)), pa.list_(pa.int32()))
            new = self.spark.createDataFrame(
                pa.table({"id": table["id"], "codes": codes}),
                schema="id long, codes array<int>",
            )
        else:
            rows = self.spark.createDataFrame(table, schema=VFS_VECTOR_SCHEMA)
            new = index_store.encode(kind, model, rows, metric, id_col="id")
        old = self._frames[key]
        self._frames[key] = (
            old.unionByName(new)
            .coalesce(old.rdd.getNumPartitions())
            .localCheckpoint(eager=True)
        )
        del self._pending[key]
        release(old)

    # -- batch /search (⊕ extension: the reference serves one query
    # per HTTP request; this is the many-queries form) ---------------
    def search_batch(
        self,
        queries: Sequence[Sequence[float]],
        top_k: int = 5,
        distance_method: str = "euclidean",
    ) -> DataFrame:
        """Exact top-k for a batch of query vectors, routed through
        knn_batch_auto (r11 verdict #7): the Arrow/BLAS kernel above
        the measured crossover (KNN_BATCH_ARROW_MIN_QUERIES), the
        Catalyst broadcast-join form below it — identical output
        either way. query_id = position in ``queries``. The facade
        also passes the store's footer row count (cached, metadata-
        only) so a tiny batch against a huge store still takes the
        kernel — the regime where the expr form is up to 36x worse
        (r12 verdict #8, NOTES.md crossover table). The queries go in
        as a driver-side (query_id, vec) list, so building the plan
        runs no Spark job."""
        from vfs_spark.operators.knn import knn_batch_auto

        if self.vector_dimension is not None:
            for q in queries:
                if len(q) != self.vector_dimension:
                    raise ValueError("query dimension mismatch")
        return knn_batch_auto(
            self.vectors(),
            [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
            k=top_k,
            metric=distance_method,
            id_col="id",
            vec_col="embedding",
            approx_vector_count=self.approx_vector_count(),
        )

    # -- /flush (tcp.rs:437-446) ------------------------------------------
    def flush(self) -> None:
        """No-op with commit semantics: Parquet appends are durable at
        write time (the memtable lives inside the writer)."""

    # -- delete (no reference analogue: the store is append-only) ---------
    def delete(self, vec_ids: Sequence[int]) -> int:
        """Delete by id — the CRUD verb the reference's append-only log
        cannot express (storage_manager.rs:120-141). Copy-on-write:
        rewrite the store minus the tombstoned ids (broadcast anti
        join — only the id set shuffles) and swap it in with
        store.swap, whose interrupted swaps init() recovers. The
        removed count comes from Parquet footers. At 100 TB with an
        id-range-partitioned store, only partitions containing deleted
        ids rewrite. Returns the number of rows removed; drops the
        encoded index frames and their queued inserts (they cover rows
        that no longer exist) and keeps the fitted models. An empty id
        list changes nothing and runs no job."""
        ids = [(int(i),) for i in vec_ids]
        if not ids or not self._have_data():
            return 0
        ids_df = self.spark.createDataFrame(ids, "id long")
        before = self.approx_vector_count() or 0
        store.swap(
            self._read_store().join(F.broadcast(ids_df), "id", "left_anti"),
            self._data_dir,
        )
        self._drop_frames()
        self._next_id_cache = None  # the max id may be gone
        self._row_count_cache = parquet_row_count(self._data_dir) or 0
        return before - self._row_count_cache

    # -- compact (⊕ extension: append-only stores fragment) ---------------
    def compact(self, target_rows_per_file: int | None = None) -> int:
        """Rewrite the store into ceil(rows / target) id-sorted files
        (target None → store.TARGET_ROWS_PER_FILE) — the OPTIMIZE verb
        every append-only layout eventually needs: each insert() lands
        its own parquet file(s), so a serving store fed by many small
        batches accumulates footer/open overhead per query and tiny
        row groups that defeat scan vectorization and min/max pruning.
        Copy-on-write through store.compact, with delete()'s swap and
        recovery. Rows, schema, and quantized columns pass through
        untouched — compaction is layout-only, asserted row-identical
        in tests, so the next-id and row-count memos survive it.
        Sorting by id restores the per-file id min/max tightness that
        makes point_lookup_id's footer pruning effective after
        interleaved inserts. Returns the resulting file count. The
        fitted models, the encoded index frames and their queued
        inserts all stay: the rows are unchanged and a frame is a local
        checkpoint, which reads no store file. At 100 TB the same verb
        runs per id-range partition, compacting only partitions whose
        small-file count crossed a threshold."""
        if not self._have_data():
            return 0
        n_files = store.compact(
            self._read_store(), self._data_dir, "id", target_rows_per_file
        )
        return n_files

    # -- /snapshot + /restore (storage_manager.rs:367-427) ----------------
    _SNAPSHOT_NAME = re.compile(r"[A-Za-z0-9_.-]+")

    def _snapshot_dir(self, name: str) -> str:
        """Snapshots are KEYED, not path-derived (the reference does the
        same): a name like '../../vectors' would otherwise escape
        storage_dir and rmtree arbitrary directories."""
        if not self._SNAPSHOT_NAME.fullmatch(name) or ".." in name:
            raise ValueError(
                f"invalid snapshot name {name!r}: use [A-Za-z0-9_.-]+ (no '..')"
            )
        return os.path.join(self.storage_dir, "snapshots", name)

    def snapshot(self, name: str = "snapshot") -> str:
        """Durable copy of the store AND every kept ANN index model,
        including models whose encoded frame a write has dropped.

        The data copy is a Spark read→write (not a driver-local
        copytree): on a cluster, storage_dir is a distributed
        filesystem path and the copy parallelizes across executors;
        the driver never streams the bytes. Each model is written by the
        index store's codec (operators/index_store.save), and the row count
        each was fitted on in ``fitted_rows.json`` — the index-at-rest
        analogue of the reference's manager-state snapshot
        (storage_manager.rs:367-399)."""
        dest = self._snapshot_dir(name)
        data_dest = os.path.join(dest, "data")
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        os.makedirs(dest, exist_ok=True)
        if self._have_data():
            self._read_store().write.mode("overwrite").parquet(data_dest)
        if not self._models:
            return dest
        index_dir = os.path.join(dest, "index")
        os.makedirs(index_dir, exist_ok=True)
        for key, (model, _rows) in self._models.items():
            path = os.path.join(index_dir, _snapshot_entry(key))
            index_store.save(key.partition(":")[0], model, path)
        with open(os.path.join(index_dir, "fitted_rows.json"), "w") as f:
            json.dump({key: rows for key, (_, rows) in self._models.items()}, f)
        return dest

    def restore(self, name: str = "snapshot") -> None:
        """Restore the data and load the snapshot's index models — the
        fitted index survives a restart (storage_manager.rs:402-427).
        Only the models load here; the first search of each kind
        encodes the restored store against its model and does NOT
        refit. Models from a snapshot without ``fitted_rows.json``
        count as fitted on the restored store."""
        src = self._snapshot_dir(name)
        if not os.path.isdir(src):
            raise FileNotFoundError(src)
        self._forget_store()
        data_src = os.path.join(src, "data")
        if os.path.isdir(data_src):
            store.swap(self.spark.read.parquet(data_src), self._data_dir)
        elif store.parquet_files(src):
            # legacy layout (pre-data/-subdir snapshots): parquet files
            # sit at the snapshot ROOT. Restore them — wiping the live
            # store here would destroy data while restoring nothing.
            store.swap(
                self.spark.read.parquet(os.path.join(src, "*.parquet")),
                self._data_dir,
            )
        elif os.path.isdir(self._data_dir):
            # snapshot of an empty store: restoring it empties the store
            shutil.rmtree(self._data_dir)
        index_dir = os.path.join(src, "index")
        if not os.path.isdir(index_dir):
            return
        fitted: dict[str, int] = {}
        rows_path = os.path.join(index_dir, "fitted_rows.json")
        if os.path.isfile(rows_path):
            with open(rows_path) as f:
                fitted = json.load(f)
        rows = self.approx_vector_count() or 0
        for kind, metrics in ANN_METRICS.items():
            for metric in metrics:
                key = f"{kind}:{metric}"
                path = os.path.join(index_dir, _snapshot_entry(key))
                if not os.path.exists(path):
                    continue
                self._models[key] = (
                    index_store.load(kind, path), fitted.get(key, rows)
                )


def _snapshot_entry(key: str) -> str:
    """Where a kept model lives under a snapshot's index/ directory."""
    kind, _, metric = key.partition(":")
    return {
        "approx": f"lsh_{metric}",
        "ivf": "ivf_kmeans",
        "pq": "pq_codebooks.json",
    }[kind]
