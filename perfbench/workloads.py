"""The two workloads: what set-up builds and which ops one cycle runs.

Each workload runs in one process with one closed-loop client: the next
op is made and sent only after the previous one returned. A cycle is a
fixed multiset of ops in an order drawn from the run's seed, so every
run sends the same mix; the runner repeats whole cycles until the
measured window has passed.

- ``vector_ingest``: engine verbs on a compacted store. Each small
  insert invalidates the index cache, so the next approximate search
  refits its index and the one after it hits the cache; reads and
  batch searches run between inserts, and a low auto-compact threshold
  makes compaction run every second insert. Set-up runs every op kind,
  index fits included, once unmeasured.
- ``registry_suite``: registered queries over seeded fixture tables,
  after one warm-up pass; the engine facade does no work. A cycle is
  two passes over the slugs.

Every op carries a check that runs after the measured window.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np

from datagen import DIM, cluster_centers, clustered_vectors, near_queries, write_tables
from tracing import Op, Recorder

K = 10
BATCH_QUERIES = 16
INSERT_ROWS = 8
ANN_KINDS = ("approx", "ivf", "pq")
# Per-op recall@K floors against NumPy truth, set below the lowest
# per-op recall seen on this data (LSH and IVF 1.0, PQ 0.7): a broken
# index fails them, ordinary approximation does not.
RECALL_FLOOR = {"approx": 0.7, "ivf": 0.7, "pq": 0.5}
DIST_TOL = 1e-4


def _distances(x: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    x64, q64 = x.astype(np.float64), q.astype(np.float64)
    if metric == "cosine":
        return 1.0 - (x64 @ q64) / (np.linalg.norm(x64, axis=1) * np.linalg.norm(q64))
    return np.linalg.norm(x64 - q64, axis=1)


def topk_matches(ids: list[int], x: np.ndarray, q: np.ndarray, metric: str) -> bool:
    """True when ``ids`` (1-based) are K distinct rows whose true
    distances equal the K smallest, up to ties."""
    if len(ids) != K or len(set(ids)) != K or min(ids) < 1 or max(ids) > len(x):
        return False
    d = _distances(x, q, metric)
    got = np.sort(d[np.asarray(ids) - 1])
    return bool(np.all(np.abs(got - np.sort(d)[:K]) <= DIST_TOL))


def recall_at_k(ids: list[int], x: np.ndarray, q: np.ndarray) -> float:
    d = _distances(x, q, "euclidean")
    kth = np.sort(d)[K - 1]
    truth = set((np.nonzero(d <= kth + DIST_TOL)[0] + 1).tolist())
    return len(truth.intersection(ids)) / K


def _collect(df):
    return df.collect()


class VectorIngest:
    """Engine verbs with writes between reads. ``x`` is the benchmark's
    own copy of every stored vector; id ``i`` is ``x[i - 1]``."""

    name = "vector_ingest"
    store_rows = 1000
    COMPACT_THRESHOLD = 2  # files; compaction every second insert
    READS = ("get", "exact:euclidean", "exact:cosine")

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.centers = cluster_centers(self.rng)
        self.x = np.empty((0, DIM), np.float32)
        self.eng = None
        self.store_files: list[int] = []
        self.bytes_written = 0
        self.user_bytes = 0

    # -- set-up -------------------------------------------------------
    def setup(self, spark, root: str, rec: Recorder) -> None:
        from vfs_spark.engine import VFSEngine

        x = clustered_vectors(self.rng, self.store_rows, self.centers)
        eng = VFSEngine(spark, os.path.join(root, "store"))
        eng.init(DIM)
        ids = eng.insert(x.tolist())
        if ids != list(range(1, len(x) + 1)):
            raise RuntimeError("bulk insert returned unexpected ids")
        eng.compact()
        eng.auto_compact_threshold = self.COMPACT_THRESHOLD
        self.eng, self.x = eng, x
        self.warm_up(["insert", *(f"ann:{k}" for k in ANN_KINDS), *self.READS, "batch"])
        self._wrap_compact(rec)

    def warm_up(self, items) -> None:
        """Run one op of each kind once, unmeasured, so the measured
        window starts with plans compiled and workers started."""
        for item in items:
            for op in self._make(item):
                obj = op.call()
                if op.collect is not None:
                    op.collect(obj)
        self.store_files.clear()
        self.bytes_written = self.user_bytes = 0

    def _wrap_compact(self, rec: Recorder) -> None:
        """Time every compaction, including the ones insert triggers,
        as a child span of the op that caused it."""
        inner = self.eng.compact

        def compact(*args, **kwargs):
            with rec.span("compact"):
                return inner(*args, **kwargs)

        self.eng.compact = compact

    def _files(self) -> dict[str, int]:
        d = os.path.join(self.eng.storage_dir, "vectors")
        return {
            f: os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    def store_metrics(self) -> dict[str, float]:
        """Store layout after the run: bytes at rest and bytes written,
        each per byte of vector payload, and files per op."""
        return {
            "store_bytes_per_user_byte": sum(self._files().values()) / self.x.nbytes,
            "sources.store_files": float(np.mean(self.store_files)),
            "sources.bytes_written_per_user_byte": self.bytes_written / self.user_bytes,
        }

    # -- op makers ----------------------------------------------------
    def get_op(self) -> Op:
        vid = int(self.rng.integers(1, len(self.x) + 1))
        want = self.x[vid - 1]

        def check(row) -> bool:
            return (
                row is not None
                and row["id"] == vid
                and np.array_equal(np.asarray(row["embedding"], np.float32), want)
            )

        return Op("get", "id", lambda: self.eng.get(vid), None, check)

    def exact_op(self, metric: str) -> Op:
        n = len(self.x)
        q = near_queries(self.rng, self.x, 1)[0]

        def check(rows) -> bool:
            return topk_matches([r["id"] for r in rows], self.x[:n], q, metric)

        return Op(
            "search_exact",
            metric,
            lambda: self.eng.search(q.tolist(), K, "exact", metric),
            _collect,
            check,
        )

    def ann_op(self, label: str) -> Op:
        kind = label.partition(":")[0]
        n = len(self.x)
        q = near_queries(self.rng, self.x, 1)[0]

        def check(rows) -> bool:
            ids = [r["id"] for r in rows]
            return len(ids) == K and recall_at_k(ids, self.x[:n], q) >= RECALL_FLOOR[kind]

        return Op(
            "search_ann",
            label,
            lambda: self.eng.search(q.tolist(), K, kind, "euclidean"),
            _collect,
            check,
        )

    def batch_op(self) -> Op:
        n = len(self.x)
        qs = near_queries(self.rng, self.x, BATCH_QUERIES)

        def check(rows) -> bool:
            by_q: dict[int, list[int]] = {}
            for r in rows:
                by_q.setdefault(r["query_id"], []).append(r["id"])
            return sorted(by_q) == list(range(BATCH_QUERIES)) and all(
                topk_matches(ids, self.x[:n], qs[i], "euclidean")
                for i, ids in by_q.items()
            )

        return Op(
            "search_batch",
            f"q{BATCH_QUERIES}",
            lambda: self.eng.search_batch(qs.tolist(), K),
            _collect,
            check,
        )

    def insert_ops(self) -> Iterator[Op]:
        new = clustered_vectors(self.rng, INSERT_ROWS, self.centers)
        n = len(self.x)
        expect = list(range(n + 1, n + INSERT_ROWS + 1))
        before = self._files()
        yield Op(
            "insert",
            f"rows{INSERT_ROWS}",
            lambda: self.eng.insert(new.tolist()),
            None,
            lambda ids: ids == expect,
        )
        self.x = np.concatenate([self.x, new])
        after = self._files()
        self.bytes_written += sum(s for f, s in after.items() if f not in before)
        self.user_bytes += new.nbytes

    def _make(self, item: str) -> Iterator[Op]:
        kind, _, arg = item.partition(":")
        if kind == "insert":
            yield from self.insert_ops()
        else:
            yield {
                "get": self.get_op,
                "exact": lambda: self.exact_op(arg),
                "ann": lambda: self.ann_op(arg),
                "batch": self.batch_op,
            }[kind]()
        self.store_files.append(len(self._files()))

    def cycle(self) -> Iterator[Op]:
        # per index kind: insert → approximate search (refits the index
        # the insert invalidated) → the same search again (cache hit) →
        # the reads in seeded order; one batch search after a seeded
        # one of the three rounds
        batch_after = int(self.rng.integers(len(ANN_KINDS)))
        for i, kind in enumerate(self.rng.permutation(ANN_KINDS)):
            items = ["insert", f"ann:{kind}:after_insert", f"ann:{kind}:cached"]
            items += [str(r) for r in self.rng.permutation(self.READS)]
            if i == batch_after:
                items.append("batch")
            for item in items:
                yield from self._make(item)


class RegistrySuite:
    """A fixed subset of registry slugs covering every query module and
    the guarded-dispatch and pinned-intermediate sites that fit the
    run's time budget. Oracle-backed slugs are compared with their
    DuckDB oracle; the others must return the same rows on every pass
    as on the warm-up pass."""

    name = "registry_suite"
    SLUGS = (
        "point_lookup_id",  # core
        "agg_value_histogram",  # relational
        "window_top_supplier",  # tpch_ext
        "stream_window_counts",  # streaming_queries
        "graph_pagerank_urls",  # graph; guarded PageRank dispatch
        "dedup_ngram_jaccard",  # text; guarded prefix join
        "bpe_train_merges",  # text; guarded BPE dispatch
        "text_bm25_retrieval",  # text; pinned intermediates
        "knn_batch_arrow",  # similarity; batch serving
    )

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.reference: dict[str, list] = {}
        self.oracle: dict[str, tuple] = {}

    def setup(self, spark, root: str, rec: Recorder) -> None:
        from vfs_spark.queries import QUERIES

        self.spark = spark
        self.queries = QUERIES
        self.sf_dir = os.path.join(root, "sf")
        write_tables(self.sf_dir, self.seed)
        for slug in self.SLUGS:  # warm-up pass: plans, workers, index fits
            self.reference[slug] = _canonical(QUERIES[slug](spark, self.sf_dir).collect())
            spark.catalog.clearCache()

    def oracle_rows(self, slug: str):
        """DuckDB result of the slug's oracle over the same tables."""
        if slug not in self.oracle:
            import duckdb

            from vfs_spark.queries import ORACLES
            from vfs_spark.schema import TABLES

            con = duckdb.connect()
            for t in TABLES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, t)}.parquet'"
                )
            rel = con.sql(ORACLES[slug])
            self.oracle[slug] = (rel.columns, rel.types, rel.fetchall())
            con.close()
        return self.oracle[slug]

    def store_metrics(self) -> dict[str, float]:
        """No store: the registry reads its tables and writes nothing."""
        return {
            "store_bytes_per_user_byte": 0.0,
            "sources.store_files": 0.0,
            "sources.bytes_written_per_user_byte": 0.0,
        }

    def query_op(self, slug: str) -> Op:
        from vfs_spark.queries import ORACLES

        fn = self.queries[slug]
        oracle = slug in ORACLES

        def collect(df):
            return df.schema, df.collect()

        def check(result) -> bool:
            schema, rows = result
            if oracle:
                return oracle_match(schema, rows, *self.oracle_rows(slug))
            return _canonical(rows) == self.reference[slug]

        return Op(
            "query",
            slug,
            lambda: fn(self.spark, self.sf_dir),
            collect,
            check,
            module=fn.__module__.rsplit(".", 1)[1],
        )

    def cycle(self) -> Iterator[Op]:
        # two passes, each in its own seeded order: about as long as a
        # vector_ingest cycle
        for _ in range(2):
            for slug in self.rng.permutation(self.SLUGS):
                yield self.query_op(str(slug))
                self.spark.catalog.clearCache()


def _canonical(rows) -> list:
    from tools.selfcheck import _norm

    return sorted(tuple(_norm(v) for v in r) for r in rows)


def oracle_match(schema, rows, d_cols, d_types, d_rows) -> bool:
    """The ``tools/selfcheck.py`` comparison: same column names and
    canonical types, same row count, same rows ignoring order."""
    from types import SimpleNamespace

    from tools.selfcheck import _rows_to_set, _type_problems

    s_cols = [f.name for f in schema.fields]
    if sorted(s_cols) != sorted(d_cols) or len(rows) != len(d_rows):
        return False
    if _type_problems(
        SimpleNamespace(schema=schema), SimpleNamespace(columns=d_cols, types=d_types)
    ):
        return False
    return _rows_to_set(s_cols, [tuple(r) for r in rows])[0] == _rows_to_set(
        d_cols, d_rows
    )[0]


WORKLOADS = {w.name: w for w in (VectorIngest, RegistrySuite)}
