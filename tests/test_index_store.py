"""Persistent query-level index store (operators/index_store.py): the
query-surface analogue of the reference persisting its index map in
the manager snapshot (storage_manager.rs:367-427) — a fresh
application must LOAD a previously-fitted LSH/IVF/PQ artifact, not
refit, a second call in one application reuses the loaded model, and a
changed dataset fingerprint must refit."""

import pytest

from vfs_spark.operators import ann as ann_ops
from vfs_spark.operators import index_store
from vfs_spark.sources.parquet import load_table, read_parquet

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def store_root(tmp_path, monkeypatch):
    root = tmp_path / "ann_index"
    monkeypatch.setenv("VFS_SPARK_INDEX_DIR", str(root))
    return root


def _no_fit(monkeypatch, name):
    def boom(*a, **k):
        raise AssertionError(f"{name} refit despite a valid stored artifact")

    monkeypatch.setattr(ann_ops, name, boom)


def _count_fits(monkeypatch, name):
    """A list that records every call of ann.<name> from here on."""
    fits = []
    real = getattr(ann_ops, name)

    def counting(*a, **k):
        fits.append(name)
        return real(*a, **k)

    monkeypatch.setattr(ann_ops, name, counting)
    return fits


def test_lsh_loads_without_refit(spark, store_root, monkeypatch):
    emb = load_table(spark, SF, "embeddings")
    q = [0.0] * 64
    model1, vdf1 = index_store.load_or_fit(spark, emb, SF, "approx")
    before = ann_ops.approx_knn(model1, vdf1, q, k=5).collect()

    index_store._memo.clear()  # a fresh application: only the store holds it
    _no_fit(monkeypatch, "build_lsh_index")  # second call must hit the store
    model2, vdf2 = index_store.load_or_fit(spark, emb, SF, "approx")
    after = ann_ops.approx_knn(model2, vdf2, q, k=5).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]


def test_ivf_loads_without_refit(spark, store_root, monkeypatch):
    emb = load_table(spark, SF, "embeddings")
    q = [0.0] * 64
    km1, a1 = index_store.load_or_fit(spark, emb, SF, "ivf", n_clusters=4)
    before = ann_ops.ivf_search(km1, a1, q, k=5, nprobe=2).collect()

    index_store._memo.clear()
    _no_fit(monkeypatch, "build_ivf_index")
    km2, a2 = index_store.load_or_fit(spark, emb, SF, "ivf", n_clusters=4)
    after = ann_ops.ivf_search(km2, a2, q, k=5, nprobe=2).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]


def test_pq_loads_without_refit(spark, store_root, monkeypatch):
    emb = load_table(spark, SF, "embeddings")
    books1, _ = index_store.load_or_fit(spark, emb, SF, "pq", m=8, k=8)

    index_store._memo.clear()
    _no_fit(monkeypatch, "fit_pq_codebooks")
    books2, _ = index_store.load_or_fit(spark, emb, SF, "pq", m=8, k=8)
    assert books1 == books2  # identical codebooks, byte-for-byte


def test_warm_call_served_from_memo(spark, store_root, monkeypatch):
    """Within one application a second call reuses the loaded model:
    no fit and no read of the store, which may even be gone."""
    import shutil

    emb = load_table(spark, SF, "embeddings")
    km1, _ = index_store.load_or_fit(spark, emb, SF, "ivf", n_clusters=4)
    shutil.rmtree(store_root)
    _no_fit(monkeypatch, "build_ivf_index")
    km2, _ = index_store.load_or_fit(spark, emb, SF, "ivf", n_clusters=4)
    assert km2 is km1


def test_ivf_store_written_once_and_search_matches(spark, store_root, monkeypatch):
    """The partitioned store is written on first use, reused after
    (no rewrite — write_ivf_partitioned must not be called again),
    and partitioned search returns exactly the in-memory ann_ivf
    answer for the same model/nprobe."""
    emb = load_table(spark, SF, "embeddings")
    q = [0.0] * 64
    km, store = index_store.ivf_store(spark, emb, SF, n_clusters=4)
    _, assigned = index_store.load_or_fit(spark, emb, SF, "ivf", n_clusters=4)
    want = [
        tuple(r)
        for r in ann_ops.ivf_search(km, assigned, q, k=5, nprobe=2).collect()
    ]
    got = [
        tuple(r)
        for r in ann_ops.ivf_search(
            km, read_parquet(spark, store), q, k=5, nprobe=2
        ).collect()
    ]
    assert got == want

    _no_fit(monkeypatch, "write_ivf_partitioned")
    km2, store2 = index_store.ivf_store(spark, emb, SF, n_clusters=4)
    assert store2 == store


def test_stale_fingerprint_refits(spark, store_root, tmp_path, monkeypatch):
    """The fingerprint is the embeddings table's footer row count plus
    the fit params: rewriting the table with fewer rows misses both
    the in-process memo and the stored artifact, and the fit reruns."""
    import shutil

    import pyarrow.parquet as pq

    sf = tmp_path / "sf_copy"
    sf.mkdir()
    table = sf / "embeddings.parquet"
    shutil.copyfile(f"{SF}/embeddings.parquet", table)
    fits = _count_fits(monkeypatch, "fit_pq_codebooks")
    emb = load_table(spark, str(sf), "embeddings")
    index_store.load_or_fit(spark, emb, str(sf), "pq", m=8, k=8)
    index_store.load_or_fit(spark, emb, str(sf), "pq", m=8, k=8)
    assert len(fits) == 1  # the unchanged table is served, not refit

    pq.write_table(pq.read_table(table).slice(0, 50), table)
    emb = load_table(spark, str(sf), "embeddings")
    books, _ = index_store.load_or_fit(spark, emb, str(sf), "pq", m=8, k=8)
    assert len(fits) == 2  # the stale artifact was not served
    assert len(books) == 8
    index_store._memo.clear()
    index_store.load_or_fit(spark, emb, str(sf), "pq", m=8, k=8)
    assert len(fits) == 2  # the refit was stored under the new fingerprint


def test_unwritable_store_degrades_to_plain_fit(spark, tmp_path, monkeypatch):
    """Persisting is an optimization: with the store root pointed at
    an unwritable location the fit must still succeed (warning, no
    exception) — a read-only deployment can't lose ANN correctness
    over a cache write."""
    import warnings

    blocker = tmp_path / "blocker"
    blocker.write_text("")  # a FILE where a directory is needed:
    # makedirs under it fails with ENOTDIR for any uid (chmod-based
    # read-only doesn't bind when tests run as root)
    monkeypatch.setenv("VFS_SPARK_INDEX_DIR", str(blocker / "sub"))
    emb = load_table(spark, SF, "embeddings")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        books, _ = index_store.load_or_fit(spark, emb, SF, "pq", m=8, k=8)
    assert len(books) == 8  # fit returned despite persist failure
    assert any("persist skipped" in str(w.message) for w in caught)


def test_param_change_uses_distinct_artifact(spark, store_root):
    emb = load_table(spark, SF, "embeddings")
    b16, _ = index_store.load_or_fit(spark, emb, SF, "pq", m=16, k=8)
    b8, _ = index_store.load_or_fit(spark, emb, SF, "pq", m=8, k=8)
    assert len(b16) == 16 and len(b8) == 8


def _drop_registry_tables():
    """Forget the registry's serving tables and models, as a fresh
    application would, releasing the tables' checkpoints."""
    from vfs_spark import dispatch
    from vfs_spark.queries import similarity

    for cache in (similarity._PQ_INDEX_CACHE, similarity._IVFPQ_INDEX_CACHE):
        for _, table in cache.values():
            dispatch.release(table)
        cache.clear()
    index_store._memo.clear()


@pytest.mark.parametrize("slug", ["ann_pq", "ann_ivfpq"])
def test_registry_pq_tables_follow_a_rewrite(spark, store_root, tmp_path, slug):
    """The registry's PQ and IVFPQ serving tables are encoded against
    the index store's models: after ``embeddings`` is rewritten in the
    same session with a different row count, a warm call returns the
    rows a cold cache returns, and the replaced checkpoint is released
    rather than kept beside the new one."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vfs_spark.queries import QUERIES

    sf = tmp_path / "sf_copy"
    sf.mkdir()
    table = sf / "embeddings.parquet"
    shutil.copyfile(f"{SF}/embeddings.parquet", table)

    def rows():
        return sorted(tuple(r) for r in QUERIES[slug](spark, str(sf)).collect())

    def checkpoints():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    _drop_registry_tables()
    first = rows()
    held = checkpoints()
    # append copies of the query vector (vec_id 0) under new ids: the
    # rewritten table's nearest neighbours are rows a stale table lacks
    whole = pq.read_table(table)
    query = whole.filter(pa.compute.equal(whole["vec_id"], 0))
    copies = [
        query.set_column(0, "vec_id", pa.array([10_000 + i], pa.int64()))
        for i in range(3)
    ]
    pq.write_table(pa.concat_tables([whole, *copies]), table)

    warm = rows()
    assert checkpoints() == held
    _drop_registry_tables()
    cold = rows()
    assert warm == cold
    assert {10_000, 10_001, 10_002} <= {r[0] for r in warm} - {r[0] for r in first}
    _drop_registry_tables()
