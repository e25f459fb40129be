import os

import pytest

from vfs_spark.engine import VFSEngine


@pytest.fixture()
def engine(spark, tmp_path):
    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=4)
    return e


def test_insert_assigns_dense_ids(engine):
    ids = engine.insert([[1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0]])
    assert ids == [1, 2]
    ids2 = engine.insert([[0.0, 0.0, 0.0, 0.0]])
    assert ids2 == [3]  # next_id continues (storage_manager.rs:126-130)


def test_dimension_check_rejects(engine):
    with pytest.raises(ValueError):
        engine.insert([[1.0, 2.0]])  # tcp.rs:306-311


def test_get_by_id(engine):
    engine.insert([[1.0, 2.0, 3.0, 4.0]], names=["first"], tags=[["x"]])
    row = engine.get(1)
    assert row["name"] == "first" and row["tags"] == ["x"]
    assert engine.get(99) is None


def test_search_exact(engine):
    engine.insert([[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0, 5.0], [9.0, 9.0, 9.0, 9.0]])
    hits = engine.search([1.0, 2.0, 3.0, 4.0], top_k=2).collect()
    assert [r["id"] for r in hits] == [1, 2]
    assert hits[0]["dist"] == 0.0


def test_query_dim_check(engine):
    with pytest.raises(ValueError):
        engine.search([1.0])  # tcp.rs:370-375


def test_snapshot_restore_roundtrip(engine):
    engine.insert([[1.0, 2.0, 3.0, 4.0]])
    engine.snapshot("s1")
    engine.insert([[5.0, 6.0, 7.0, 8.0]])
    assert engine.vectors().count() == 2
    engine.restore("s1")
    assert engine.vectors().count() == 1
    assert engine.next_id() == 2


def test_snapshot_name_validated(engine):
    """Path-traversal names must be rejected before any rmtree — a
    name like '../../vectors' would otherwise escape storage_dir."""
    for bad in ("../escape", "a/b", "..", "", "x/../y"):
        with pytest.raises((ValueError, FileNotFoundError)):
            engine.snapshot(bad)
        with pytest.raises((ValueError, FileNotFoundError)):
            engine.restore(bad)


def test_snapshot_persists_lsh_index(spark, tmp_path):
    """The fitted ANN index must survive snapshot→restore (the
    reference persists manager state, storage_manager.rs:367-427):
    restore re-attaches the SAME fitted model (no refit) and the
    post-restore approximate search returns identical top-k."""
    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=4)
    e.insert([[float(i), 0.0, 0.0, 0.0] for i in range(30)])
    before = e.search([3.0, 0.0, 0.0, 0.0], top_k=3, search_type="approx").collect()
    assert "approx:euclidean" in e._models  # fitted during search
    e.snapshot("s_idx")

    # wipe state: new engine instance over the same storage dir
    e2 = VFSEngine(spark, str(tmp_path / "store"))
    e2.init(vector_dimension=4)
    e2.restore("s_idx")
    assert "approx:euclidean" in e2._models  # model reloaded, not refit
    after = e2.search([3.0, 0.0, 0.0, 0.0], top_k=3, search_type="approx").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]


def test_quantized_storage_transparent(spark, tmp_path):
    """quantize flag → int8 at rest, dequantized on read
    (storage_manager.rs:143-151,202-210); lossy within 1/254."""
    e = VFSEngine(spark, str(tmp_path / "qstore"))
    e.init(vector_dimension=3, quantize_storage=True)
    e.insert([[0.5, -0.5, 1.0]])
    got = e.get(1)["embedding"]
    for x, want in zip(got, [0.5, -0.5, 1.0]):
        assert abs(x - want) <= 1.0 / 254 + 1e-6


def test_truncate_data(spark, tmp_path):
    e = VFSEngine(spark, str(tmp_path / "tstore"))
    e.init(vector_dimension=2)
    e.insert([[1.0, 1.0]])
    e.init(vector_dimension=2, truncate_data=True)
    assert e.vectors().count() == 0
    assert e.next_id() == 1


def test_jsonl_roundtrip_vectors(spark, sf_dir, tmp_path):
    """JSONL sink/source round-trip of the vector collection —
    including ARRAY<FLOAT> embeddings and timestamps — must be
    lossless under an explicit schema."""
    from vfs_spark.sources.jsonl import read_jsonl, write_jsonl
    from vfs_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "emb_jsonl")
    write_jsonl(emb, p)
    back = read_jsonl(spark, p, emb.schema)
    assert back.schema == emb.schema
    a = sorted(tuple(r) for r in emb.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b


def test_approx_search_reuses_index_until_insert(spark, tmp_path):
    """Fit-once-query-many (SURVEY Q3): repeated approx searches must
    reuse the fitted LSH model. An insert keeps the model and only
    re-encodes the store, so results cover the new data; a re-init
    that truncates the store drops the model."""
    from vfs_spark.engine import VFSEngine

    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=4)
    e.insert([[float(i), 0.0, 0.0, 0.0] for i in range(30)])
    r1 = e.search([3.0, 0.0, 0.0, 0.0], top_k=3, search_type="approx")
    r1.collect()
    model_a = e._models["approx:euclidean"][0]
    e.search([5.0, 0.0, 0.0, 0.0], top_k=3, search_type="approx").collect()
    assert e._models["approx:euclidean"][0] is model_a  # reused, not refit
    new_ids = e.insert([[2.5, 0.0, 0.0, 0.0]])
    hits = e.search([2.5, 0.0, 0.0, 0.0], top_k=1, search_type="approx").collect()
    assert e._models["approx:euclidean"][0] is model_a  # kept across insert
    assert hits[0]["id"] == new_ids[0]  # new vector is searchable
    e.init(vector_dimension=4, truncate_data=True)
    assert not e._models and not e._frames


def test_ivf_search_and_snapshot_roundtrip(spark, tmp_path):
    """search_type='ivf' fits the KMeans quantizer once, reuses it,
    and the fitted model survives snapshot→restore (the KMeans half of
    the index-persistence story; LSH half tested above)."""
    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=4)
    e.insert([[float(i % 7), float(i % 3), 0.0, 0.0] for i in range(40)])
    before = e.search([2.0, 1.0, 0.0, 0.0], top_k=3, search_type="ivf").collect()
    km_a = e._models["ivf:euclidean"][0]
    e.search([5.0, 2.0, 0.0, 0.0], top_k=3, search_type="ivf").collect()
    assert e._models["ivf:euclidean"][0] is km_a  # reused, not refit
    e.snapshot("ivf_snap")

    e2 = VFSEngine(spark, str(tmp_path / "store"))
    e2.init(vector_dimension=4)
    e2.restore("ivf_snap")
    assert "ivf:euclidean" in e2._models  # model reloaded, not refit
    after = e2.search([2.0, 1.0, 0.0, 0.0], top_k=3, search_type="ivf").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]


def test_pq_search_and_snapshot_roundtrip(spark, tmp_path):
    """search_type='pq' fits codebooks once (bounded sample), encodes
    with the Arrow kernel, reuses the cache across searches, and the
    codebooks survive snapshot→restore (JSON at rest — the PQ third of
    the index-persistence story). Rerank makes top-1 exact for a
    stored vector queried by itself."""
    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=8)
    e.insert([[float((i * 7 + j) % 5) for j in range(8)] for i in range(64)])
    q = [float((3 * 7 + j) % 5) for j in range(8)]  # vector id 4 (i=3)
    before = e.search(q, top_k=3, search_type="pq").collect()
    assert before[0]["dist"] == 0.0  # exact self-match after rerank
    books_a = e._models["pq:euclidean"][0]
    e.search(q, top_k=3, search_type="pq").collect()
    assert e._models["pq:euclidean"][0] is books_a  # reused, not refit
    e.snapshot("pq_snap")

    e2 = VFSEngine(spark, str(tmp_path / "store"))
    e2.init(vector_dimension=8)
    e2.restore("pq_snap")
    assert e2._models["pq:euclidean"][0] == books_a  # reloaded, not refit
    after = e2.search(q, top_k=3, search_type="pq").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]

    books_b = e2._models["pq:euclidean"][0]
    new_id = e2.insert([[0.5] * 8])[0]
    hits = e2.search([0.5] * 8, top_k=1, search_type="pq").collect()
    assert e2._models["pq:euclidean"][0] is books_b  # kept across insert
    assert hits[0]["id"] == new_id and hits[0]["dist"] == 0.0


def test_delete_copy_on_write(spark, tmp_path):
    """delete() removes exactly the tombstoned ids via an atomic
    store rewrite, keeps everything else readable, re-encodes the
    fitted indexes so no search returns a deleted id, and reports the
    removed count. Deleting nothing keeps the encoded index."""
    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=4)
    ids = e.insert([[float(i), 0.0, 0.0, 0.0] for i in range(20)])
    e.search([1.0, 0.0, 0.0, 0.0], top_k=3, search_type="ivf").collect()
    frame = e._frames["ivf:euclidean"]
    assert e.delete([]) == 0
    assert e._frames["ivf:euclidean"] is frame
    removed = e.delete([ids[0], ids[5], ids[7], 9999])
    assert removed == 3  # 9999 never existed
    gone = {ids[0], ids[5], ids[7]}
    for q in ([0.0] * 4, [5.0, 0.0, 0.0, 0.0], [7.0, 0.0, 0.0, 0.0]):
        hits = e.search(q, top_k=5, search_type="ivf").collect()
        assert hits and not gone & {r["id"] for r in hits}
    left = {r["id"] for r in e.vectors().select("id").collect()}
    assert left == set(ids) - {ids[0], ids[5], ids[7]}
    assert e.get(ids[5]) is None
    assert e.get(ids[1]) is not None


def test_insert_explicit_scale_factor(spark, tmp_path):
    """Per-insert explicit scale (register_vector_from_simd,
    storage_manager.rs:338-364; Vector::quantize(Some(scale)),
    vector.rs:94-108): no clamp, values round-trip at q/scale, and
    batches with different scales coexist in one store (per-row
    q_scale)."""
    e = VFSEngine(spark, str(tmp_path / "sstore"))
    e.init(vector_dimension=3, quantize_storage=True)
    ids_a = e.insert([[3.7, -2.2, 12.0]], scale_factor=10.0)
    ids_b = e.insert([[0.5, -0.5, 1.0]])  # default clamp-and-127 path
    got_a = e.get(ids_a[0])["embedding"]
    for x, want in zip(got_a, [3.7, -2.2, 12.0]):
        assert abs(x - want) <= 0.5 / 10.0 + 1e-6  # NOT clamped to [-1,1]
    got_b = e.get(ids_b[0])["embedding"]
    for x, want in zip(got_b, [0.5, -0.5, 1.0]):
        assert abs(x - want) <= 1.0 / 254 + 1e-6


def test_restore_legacy_snapshot_layout(spark, tmp_path):
    """A snapshot whose parquet files sit at the snapshot ROOT (the
    pre-data/-subdir layout) must restore, not silently wipe the live
    store."""
    import os
    import shutil

    e = VFSEngine(spark, str(tmp_path / "lstore"))
    e.init(vector_dimension=2)
    e.insert([[1.0, 2.0], [3.0, 4.0]])
    legacy = os.path.join(str(tmp_path / "lstore"), "snapshots", "legacy")
    shutil.copytree(e._data_dir, legacy)  # old copytree-style snapshot
    e.insert([[9.0, 9.0]])
    assert e.vectors().count() == 3
    e.restore("legacy")
    assert e.vectors().count() == 2  # restored, store NOT destroyed
    assert e.next_id() == 3


def test_quantize_metadata_mutation_roundtrip(spark, tmp_path):
    """Reference quantize metadata semantics (vector.rs:116-121,
    145-150): the AT-REST quantized row carries name+'_quantized' and
    a pushed 'quantized' tag; the dequantizing read strips both, so
    the round trip is metadata-invisible. created_at stays stable
    (SURVEY Q7: the reference re-stamps; we don't copy that)."""
    e = VFSEngine(spark, str(tmp_path / "qmeta"))
    e.init(vector_dimension=2, quantize_storage=True)
    e.insert([[0.5, -0.5]], names=["alpha"], tags=[["keep"]])
    # at rest: mutated name + pushed tag
    raw = spark.read.parquet(str(tmp_path / "qmeta" / "vectors")).first()
    assert raw["name"] == "alpha_quantized"
    assert list(raw["tags"]) == ["keep", "quantized"]
    # read path: stripped back
    row = e.get(1)
    assert row["name"] == "alpha"
    assert list(row["tags"]) == ["keep"]


def test_quantize_metadata_mutation_off(spark, tmp_path):
    e = VFSEngine(spark, str(tmp_path / "qmeta2"))
    e.init(vector_dimension=2, quantize_storage=True, mutate_metadata=False)
    e.insert([[1.0, 0.0]], names=["beta"], tags=[["t1"]])
    raw = spark.read.parquet(str(tmp_path / "qmeta2" / "vectors")).first()
    assert raw["name"] == "beta"
    assert list(raw["tags"]) == ["t1"]
    assert e.get(1)["name"] == "beta"


def test_quantize_metadata_replace_all_matches_reference(spark, tmp_path):
    """Rust str::replace("_quantized", "") strips ALL occurrences, so
    a name that already contained the suffix loses it on the
    dequantizing read — the reference's exact (quirky) semantics
    (vector.rs:145-150). Pinned here so nobody "fixes" it to
    suffix-only without noticing the parity break; opt out with
    mutate_metadata=False for pass-through names."""
    e = VFSEngine(spark, str(tmp_path / "qmeta3"))
    e.init(vector_dimension=2, quantize_storage=True)
    e.insert([[1.0, 0.0]], names=["odd_quantized_name"], tags=[[]])
    assert e.get(1)["name"] == "odd_name"


def test_compact_is_layout_only_and_restores_pruning(spark, tmp_path):
    """compact() must change only file layout: identical rows (ids,
    vectors, names, tags) before and after, fewer files, id-sorted
    files, next_id preserved, and the store still serves. Covers the
    quantized-at-rest store too (the quantized columns must pass
    through a rewrite untouched)."""
    from vfs_spark.engine import VFSEngine

    for quantize in (False, True):
        eng = VFSEngine(spark, str(tmp_path / f"store_q{quantize}"))
        eng.init(vector_dimension=2, quantize_storage=quantize)
        # 12 separate inserts -> >= 12 parquet files, interleaved ids
        for i in range(12):
            eng.insert([[float(i), float(j)] for j in range(5)])
        data_dir = eng._data_dir
        files_before = [
            f for f in os.listdir(data_dir) if f.endswith(".parquet")
        ]
        assert len(files_before) >= 12
        before = sorted(
            (r.id, [round(x, 4) for x in r.embedding], r.name)
            for r in eng.vectors().collect()
        )
        n_files = eng.compact(target_rows_per_file=30)
        files_after = [
            f for f in os.listdir(data_dir) if f.endswith(".parquet")
        ]
        assert n_files == len(files_after)
        assert len(files_after) == 2  # ceil(60 / 30)
        after = sorted(
            (r.id, [round(x, 4) for x in r.embedding], r.name)
            for r in eng.vectors().collect()
        )
        assert after == before
        assert eng.next_id() == 61
        # still serves, and ids stayed addressable
        assert eng.get(1) is not None
        res = eng.search([0.0, 0.0], top_k=3).collect()
        assert len(res) == 3


def test_compact_empty_store_is_noop(spark, tmp_path):
    from vfs_spark.engine import VFSEngine

    eng = VFSEngine(spark, str(tmp_path / "store"))
    eng.init(vector_dimension=2)
    assert eng.compact() == 0


def test_next_id_memo_survives_all_mutations(engine, spark, tmp_path):
    """next_id is DERIVED (max(id)+1 from storage); the r14 memo must
    be invisible — every mutation path either re-memoizes correctly
    (insert) or drops the memo so the next ask re-derives from disk
    (delete/restore/init). A stale memo would assign duplicate ids."""
    engine.insert([[1.0, 2.0, 3.0, 4.0]] * 3)
    assert engine.next_id() == 4
    assert engine.insert([[9.0] * 4]) == [4]
    # delete the max id: memo must not keep handing out 6
    engine.delete([4])
    assert engine.next_id() == 4
    assert engine.insert([[8.0] * 4]) == [4]
    # restore rewinds the store; memo must rewind with it
    engine.snapshot("memo")
    engine.insert([[7.0] * 4])
    assert engine.next_id() == 6
    engine.restore("memo")
    assert engine.next_id() == 5
    # compact is layout-only: ids unchanged
    engine.compact(target_rows_per_file=2)
    assert engine.next_id() == 5
    # a FRESH engine over the same dir derives the same answer
    e2 = VFSEngine(spark, engine.storage_dir)
    e2.init(vector_dimension=4)
    assert e2.next_id() == 5


def test_insert_lands_one_file_per_batch(engine):
    """A driver-side insert batch is payload-bounded; scattering it
    across default parallelism landed ~a dozen tiny part files per
    insert (r14 compact probe: 400 inserts -> 4,400 files). One
    sorted file per insert keeps per-file id min/max tight."""
    data_dir = os.path.join(engine.storage_dir, "vectors")
    for i in range(3):
        engine.insert([[float(i)] * 4] * 50)
        n_parquet = sum(
            1 for f in os.listdir(data_dir) if f.endswith(".parquet")
        )
        assert n_parquet == i + 1, n_parquet


def test_auto_compact_triggers_once_and_preserves_store(spark, tmp_path):
    """r14 VERDICT #8: crossing the small-file threshold at flush time
    must run compact() exactly once (the policy re-arms only after the
    file count regrows past the threshold), keep rows identical, keep
    next_id, and stay opt-out-able."""
    from vfs_spark.engine import VFSEngine

    eng = VFSEngine(spark, str(tmp_path / "store"))
    eng.init(vector_dimension=2)
    eng.auto_compact_threshold = 4
    compacts = []
    real_compact = eng.compact

    def counting_compact(*a, **kw):
        compacts.append(1)
        return real_compact(*a, **kw)

    eng.compact = counting_compact
    for i in range(6):
        eng.insert([[float(i), 1.0]])
    # 5th insert crossed >4 files; the 6th ran over a compacted store
    assert len(compacts) == 1
    data_dir = eng._data_dir
    n_files = sum(
        1 for f in os.listdir(data_dir) if f.endswith(".parquet")
    )
    assert n_files <= eng.auto_compact_threshold
    rows = sorted(
        (r.id, [round(x, 4) for x in r.embedding])
        for r in eng.vectors().collect()
    )
    assert rows == [(i + 1, [float(i), 1.0]) for i in range(6)]
    assert eng.next_id() == 7  # memo survived the layout rewrite
    # opt-out: no further compacts however fragmented the store gets
    eng.auto_compact = False
    for i in range(8):
        eng.insert([[9.0, float(i)]])
    assert len(compacts) == 1
    # default threshold derives from shuffle parallelism
    eng2 = VFSEngine(spark, str(tmp_path / "store2"))
    eng2.init(vector_dimension=2)
    assert eng2.auto_compact and eng2.auto_compact_threshold is None


def test_auto_compact_floor_guard_prevents_quadratic_ingest(
    spark, tmp_path, monkeypatch
):
    """r15 ADVICE: once ceil(rows/target) itself exceeds the file
    threshold, compact() cannot land under the threshold and the naive
    policy rewrites the FULL store on every subsequent insert
    (quadratic ingest). The guard skips (with a one-time warning)
    until a further threshold of small files accumulates past the
    post-compact floor. Scaled down by patching the rows-per-file
    target."""
    import warnings

    from vfs_spark.sources import store

    monkeypatch.setattr(store, "TARGET_ROWS_PER_FILE", 4)
    eng = VFSEngine(spark, str(tmp_path / "store"))
    eng.init(vector_dimension=2)
    eng.auto_compact_threshold = 2
    compacts = []
    real_compact = eng.compact

    def counting_compact(*a, **kw):
        compacts.append(1)
        return real_compact(*a, **kw)

    eng.compact = counting_compact
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        eng.insert([[float(i), 0.0] for i in range(8)])  # one 8-row file
        for i in range(4):
            eng.insert([[float(i), 1.0]])
        floor_warns = [
            x for x in w if "post-compact floor" in str(x.message)
        ]
    # from the 3rd insert on, files (3..5) > thr 2 but the floor
    # ceil(rows/4) = 3 > thr as well, and files <= floor + thr: every
    # trigger point is floor-guarded — zero compacts, one warning
    assert compacts == []
    assert len(floor_warns) == 1
    # the documented escape: raise the threshold to the floor — the
    # normal policy resumes
    eng.auto_compact_threshold = 4
    eng.insert([[9.0, 9.0]])
    assert compacts == [1]
    assert store.parquet_files(eng._data_dir) == 4  # ceil(13 / 4)
    rows = sorted(r.id for r in eng.vectors().collect())
    assert rows == list(range(1, 14))  # nothing lost across the guard


def test_created_at_is_utc_instant_under_any_host_zone(engine):
    """created_at records the insert instant, whatever the process's
    local zone: a naive UTC datetime pickled through the row path was
    read in the local zone (America/New_York: 14,400 s off in
    October)."""
    import time
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        before = datetime.now(timezone.utc).timestamp()
        engine.insert([[1.0, 2.0, 3.0, 4.0]])
        after = datetime.now(timezone.utc).timestamp()
        stored = engine.vectors().select(F.unix_micros("created_at")).first()[0] / 1e6
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert before <= stored <= after


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"budget-{os.urandom(6).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_engine_verb_job_budget(spark, tmp_path):
    """On a warmed engine, building a search plan runs no Spark job:
    the store schema is memoized and the query batch stays on the
    driver. An insert is its one write job; a get is one job, also for
    an id past the first partition and for a missing id."""
    from pyspark.sql import functions as F

    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=8)
    e.auto_compact = False
    e.insert([[float((i * 7 + j) % 5) for j in range(8)] for i in range(64)])
    q = [float(j % 3) for j in range(8)]
    for kind in ("exact", "approx", "ivf", "pq"):
        e.search(q, top_k=3, search_type=kind).collect()  # fits the index
        _, n = _jobs(spark, lambda: e.search(q, top_k=3, search_type=kind))
        assert n == 0, (kind, n)
    batch = [[float((i + j) % 4) for j in range(8)] for i in range(16)]
    df, n = _jobs(spark, lambda: e.search_batch(batch, top_k=3))
    assert n == 0
    assert len(df.collect()) == 16 * 3
    _, n = _jobs(spark, lambda: e.insert([[0.5] * 8] * 8))
    assert n == 1
    plan, n = _jobs(spark, lambda: e.vectors().where(F.col("id") == 70))
    assert n == 0
    want, first_jobs = _jobs(spark, plan.first)
    got, get_jobs = _jobs(spark, lambda: e.get(70))
    assert got == want and get_jobs == 1 <= first_jobs, (get_jobs, first_jobs)
    missing, get_jobs = _jobs(spark, lambda: e.get(999))
    assert missing is None and get_jobs == 1, get_jobs


def test_rewrite_job_budget(spark, tmp_path):
    """Rewrites count rows from Parquet footers, so compact() and
    delete() run only their rewrite, and compact() keeps the next-id
    memo: an insert right after it is its one write job."""
    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=4)
    e.auto_compact = False
    for i in range(4):
        e.insert([[float(i), float(j), 0.0, 1.0] for j in range(4)])
    assert e.get(1) is not None  # memoizes the store schema
    n_files, n = _jobs(spark, e.compact)
    assert n_files == 1 and n <= 2, n
    _, n = _jobs(spark, lambda: e.insert([[0.5] * 4]))
    assert n == 1, n
    e.auto_compact = True
    e.auto_compact_threshold = 2
    _, n = _jobs(spark, lambda: e.insert([[0.25] * 4]))  # 3 files > 2
    assert n <= 3, n
    assert sum(f.endswith(".parquet") for f in os.listdir(e._data_dir)) == 1
    removed, n = _jobs(spark, lambda: e.delete([]))
    assert removed == 0 and n == 0, n
    removed, n = _jobs(spark, lambda: e.delete([1, 2, 99]))
    assert removed == 2 and n <= 2, n
    assert e.vectors().count() == 16


def test_store_schema_memo_follows_init_and_restore(spark, tmp_path):
    """One engine whose store switches between float and quantized
    columns (re-init with truncation, restore of a snapshot of the
    other layout) must read each layout correctly: the memoized
    schema is dropped whenever the columns can change."""
    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=4)
    floats = [[0.5, -0.5, 1.0, 0.25], [0.75, 0.0, -1.0, 0.5]]
    e.insert(floats, names=["f0", "f1"], tags=[["a"], []])
    assert e.get(1)["embedding"] == floats[0]
    e.snapshot("float_store")

    e.init(vector_dimension=4, truncate_data=True, quantize_storage=True)
    e.insert([[0.25, 0.5, -0.25, 1.0]], names=["q0"], tags=[["b"]])
    e.snapshot("quantized_store")

    def check_quantized():
        assert e.vectors().columns == ["id", "name", "tags", "created_at", "embedding"]
        row = e.get(1)
        assert row["name"] == "q0" and list(row["tags"]) == ["b"]
        for x, want in zip(row["embedding"], [0.25, 0.5, -0.25, 1.0]):
            assert abs(x - want) <= 1.0 / 254 + 1e-6
        assert e.vectors().count() == 1

    check_quantized()
    e.restore("float_store")
    assert sorted(e.vectors().columns) == sorted(
        ["id", "embedding", "name", "tags", "created_at"]
    )
    rows = e.vectors().orderBy("id").collect()
    assert [r["embedding"] for r in rows] == floats
    assert [r["name"] for r in rows] == ["f0", "f1"]
    e.restore("quantized_store")
    check_quantized()


# -- ANN index lifetime: models and encoded frames outlive writes --------
ANN_KINDS = ("approx", "ivf", "pq")
_FIT_FNS = {
    "approx": "build_lsh_index",
    "ivf": "build_ivf_index",
    "pq": "fit_pq_codebooks",
}


def _rows(n, seed):
    """n dim-8 vectors on a 0.25 grid (exact in float32, so a stored
    vector queried by itself is at distance 0.0)."""
    import numpy as np

    return (np.random.default_rng(seed).integers(-8, 9, size=(n, 8)) / 4).tolist()


def _count_fits(monkeypatch):
    """A list that records the kind of every ANN model fit from here on."""
    from vfs_spark.operators import ann

    fits = []
    for kind, name in _FIT_FNS.items():

        def counting(*a, _real=getattr(ann, name), _kind=kind, **kw):
            fits.append(_kind)
            return _real(*a, **kw)

        monkeypatch.setattr(ann, name, counting)
    return fits


def _count_encodes(monkeypatch):
    """A list that records the row count of every frame the index
    store's codec encodes from here on."""
    from vfs_spark.operators import index_store

    rows = []

    def counting(kind, model, vecs, *a, _real=index_store.encode, **kw):
        rows.append(vecs.count())
        return _real(kind, model, vecs, *a, **kw)

    monkeypatch.setattr(index_store, "encode", counting)
    return rows


def _ann_engine(spark, tmp_path, n_rows):
    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=8)
    e.auto_compact = False
    e.insert(_rows(n_rows, seed=0))
    return e


def _hits(e, kind, q, k=3):
    return [tuple(r) for r in e.search(q, top_k=k, search_type=kind).collect()]


@pytest.mark.parametrize("kind", ANN_KINDS)
def test_insert_keeps_fitted_ann_model(spark, tmp_path, monkeypatch, kind):
    """An insert keeps the model and the encoded frame: the next search
    folds the inserted row in against the kept model, fits nothing, and
    finds the inserted vector."""
    e = _ann_engine(spark, tmp_path, 32)
    _hits(e, kind, _rows(1, seed=9)[0])  # fits the model
    fits = _count_fits(monkeypatch)
    new = _rows(1, seed=1)[0]
    new_id = e.insert([new])[0]
    assert _hits(e, kind, new, k=1) == [(new_id, 0.0)]
    assert fits == []


def test_insert_past_pending_bound_drops_frames(spark, tmp_path, monkeypatch):
    """An insert whose queue would pass DRIVER_MAX["engine_pending_bytes"]
    drops the frame instead of holding the rows on the driver; the next
    search re-encodes the store against the kept model and fits nothing."""
    from vfs_spark import dispatch

    e = _ann_engine(spark, tmp_path, 32)
    for kind in ANN_KINDS:
        _hits(e, kind, _rows(1, seed=9)[0])
    monkeypatch.setitem(dispatch.DRIVER_MAX, "engine_pending_bytes", -1)
    fits = _count_fits(monkeypatch)
    encoded = _count_encodes(monkeypatch)
    new = _rows(1, seed=1)[0]
    new_id = e.insert([new])[0]
    assert not e._frames and not e._pending
    for kind in ANN_KINDS:
        assert _hits(e, kind, new, k=1) == [(new_id, 0.0)]
    assert fits == [] and encoded == [33, 33, 33]


def test_ann_model_refits_once_past_growth_bound(spark, tmp_path, monkeypatch):
    """A kept model serves until the store holds more than REFIT_GROWTH
    times the rows it was fitted on; crossing that bound refits each
    kind exactly once, recording the grown row count."""
    from vfs_spark.engine import REFIT_GROWTH

    e = _ann_engine(spark, tmp_path, 24)
    q = _rows(1, seed=9)[0]
    for kind in ANN_KINDS:
        _hits(e, kind, q)
    fits = _count_fits(monkeypatch)
    e.insert(_rows(24 * (REFIT_GROWTH - 1), seed=1))  # exactly at the bound
    for kind in ANN_KINDS:
        _hits(e, kind, q)
    assert fits == []
    e.insert(_rows(1, seed=2))  # one row past it
    for _ in range(2):
        for kind in ANN_KINDS:
            _hits(e, kind, q)
        e.insert(_rows(1, seed=3))
    assert sorted(fits) == sorted(ANN_KINDS)
    for kind in ANN_KINDS:
        assert e._models[f"{kind}:euclidean"][1] == 24 * REFIT_GROWTH + 1


def test_compact_keeps_fitted_ann_models(spark, tmp_path, monkeypatch):
    """compact() is layout-only: it keeps every encoded frame, so each
    kind's next search encodes nothing, fits nothing, and returns the
    hits it returned before."""
    e = _ann_engine(spark, tmp_path, 16)
    e.insert(_rows(16, seed=1))
    e.insert(_rows(16, seed=2))
    q = _rows(1, seed=9)[0]
    before = {kind: _hits(e, kind, q, k=5) for kind in ANN_KINDS}
    fits = _count_fits(monkeypatch)
    encoded = _count_encodes(monkeypatch)
    assert e.compact() == 1
    assert {kind: _hits(e, kind, q, k=5) for kind in ANN_KINDS} == before
    assert fits == [] and encoded == []


def test_snapshot_after_insert_carries_models(spark, tmp_path, monkeypatch):
    """A snapshot taken right after an insert (the insert queued for
    the kept frames) saves every model with its fitted row count. The
    original engine's next searches encode only the inserted row. The
    restored engine holds equal models and its first search of each
    kind fits nothing and returns the original engine's hits."""
    import numpy as np

    e = _ann_engine(spark, tmp_path, 32)
    q = _rows(1, seed=9)[0]
    for kind in ANN_KINDS:
        _hits(e, kind, q)
    e.insert(_rows(1, seed=1))
    e.snapshot("after_insert")
    fits = _count_fits(monkeypatch)
    encoded = _count_encodes(monkeypatch)
    want = {kind: _hits(e, kind, q) for kind in ANN_KINDS}
    assert encoded == [1, 1]  # LSH and IVF fold one row; PQ folds on the driver

    e2 = VFSEngine(spark, e.storage_dir)
    e2.init(vector_dimension=8)
    e2.restore("after_insert")
    assert e2._models.keys() == e._models.keys()
    for key, (model, rows) in e._models.items():
        got, got_rows = e2._models[key]
        assert got_rows == rows == 32
        if key.startswith("pq:"):
            assert got == model
        elif key.startswith("ivf:"):
            assert np.array_equal(got.clusterCenters(), model.clusterCenters())
        else:
            assert list(got._java_obj.randMatrix().toArray()) == list(
                model._java_obj.randMatrix().toArray()
            )
    assert {kind: _hits(e2, kind, q) for kind in ANN_KINDS} == want
    assert fits == []


def test_search_rejects_metrics_the_index_does_not_implement(
    spark, tmp_path, monkeypatch
):
    """Every search type rejects a metric it does not implement before
    fitting anything: approx takes euclidean|cosine, ivf and pq take
    euclidean, exact takes the exact-kNN metrics."""
    e = _ann_engine(spark, tmp_path, 16)
    q = _rows(1, seed=9)[0]
    fits = _count_fits(monkeypatch)
    for kind, metric, message in (
        ("exact", "manhattan", "unknown metric"),
        ("approx", "manhattan", r"use euclidean\|cosine$"),
        ("ivf", "cosine", "use euclidean$"),
        ("pq", "cosine", "use euclidean$"),
    ):
        with pytest.raises(ValueError, match=message):
            e.search(q, top_k=3, search_type=kind, distance_method=metric)
    assert fits == [] and not e._models
    stored = e.get(5)["embedding"]
    hits = e.search(stored, top_k=1, search_type="approx", distance_method="cosine")
    assert [r["id"] for r in hits.collect()] == [5]
    assert fits == ["approx"]


def test_search_after_insert_job_budget(spark, tmp_path):
    """After an insert, an approximate search folds the inserted rows
    into its kept frame with one checkpoint: on a warmed 64-row store
    it launches at most one job more than the cached search of its
    kind (a refit ran 5 / 17-20 / 9 against 1 / 1 / 2 on local[4])."""
    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=8)
    e.auto_compact = False
    e.insert([[float((i * 7 + j) % 5) for j in range(8)] for i in range(64)])
    q = [float(j % 3) for j in range(8)]
    for kind in ANN_KINDS:
        e.search(q, top_k=3, search_type=kind).collect()  # fits the index
        _, cached = _jobs(spark, lambda: e.search(q, 3, kind).collect())
        e.insert([[0.5] * 8])
        _, after = _jobs(spark, lambda: e.search(q, 3, kind).collect())
        assert after <= cached + 1, (kind, cached, after)


def test_folded_frames_equal_full_encode(spark, tmp_path, monkeypatch):
    """After insert → compact → insert, each kind's folded frame equals
    a fresh full encode of vectors() against the same model, row for
    row by id: equal LSH features (both metrics), IVF cluster ids and
    PQ codes. The folds encode only the inserted rows."""
    from vfs_spark.operators import index_store

    e = _ann_engine(spark, tmp_path, 40)
    q = _rows(1, seed=9)[0]
    searches = [(kind, "euclidean") for kind in ANN_KINDS] + [("approx", "cosine")]
    for kind, metric in searches:
        e.search(q, 3, kind, metric).collect()
    encoded = _count_encodes(monkeypatch)
    e.insert(_rows(5, seed=1))
    e.compact()
    e.insert(_rows(3, seed=2))
    for kind, metric in searches:
        e.search(q, 3, kind, metric).collect()
    assert encoded == [8, 8, 8]  # LSH ×2 and IVF; PQ encodes on the driver
    column = {"approx": "features", "ivf": "cluster_id", "pq": "codes"}
    for kind, metric in searches:
        key = f"{kind}:{metric}"
        model = e._models[key][0]
        full = index_store.encode(kind, model, e.vectors(), metric, id_col="id")
        cols = ["id", column[kind]]
        got = e._frames[key].select(*cols).orderBy("id").collect()
        want = full.select(*cols).orderBy("id").collect()
        assert len(got) == 48 and got == want, key


def test_frame_checkpoints_are_released(spark, tmp_path):
    """Every dropped or replaced frame frees its checkpoint: the
    persisted-RDD count holds at one per kept frame over ten
    insert-and-search cycles and across a refit, and returns to its
    baseline after init."""
    from vfs_spark.engine import REFIT_GROWTH

    def persisted():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    e = _ann_engine(spark, tmp_path, 16)
    base = persisted()
    q = _rows(1, seed=9)[0]
    for kind in ANN_KINDS:
        _hits(e, kind, q)
    assert len(e._frames) == 3 and persisted() <= base + 3
    for i in range(10):
        e.insert(_rows(1, seed=10 + i))
        for kind in ANN_KINDS:
            _hits(e, kind, q)
        assert persisted() <= base + 3, i
    e.insert(_rows(16 * REFIT_GROWTH, seed=30))  # past the refit bound
    assert not e._frames and persisted() <= base
    for kind in ANN_KINDS:
        _hits(e, kind, q)
    assert e._models["pq:euclidean"][1] == 16 * (REFIT_GROWTH + 1) + 10
    assert persisted() <= base + 3
    e.init(vector_dimension=8)
    assert not e._frames and persisted() <= base


def test_quantized_store_search_after_insert(spark, tmp_path):
    """An insert into a quantized-at-rest store drops the frames (the
    driver does not hold the read-back values); the next search of each
    kind returns the hits of a fresh engine over the same store that
    holds the same models."""
    e = VFSEngine(spark, str(tmp_path / "store"))
    e.init(vector_dimension=8, quantize_storage=True)
    e.auto_compact = False
    e.insert(_rows(32, seed=0))
    q = _rows(1, seed=9)[0]
    for kind in ANN_KINDS:
        _hits(e, kind, q)
    new = _rows(4, seed=1)
    e.insert(new)
    assert not e._frames
    got = {kind: _hits(e, kind, new[0]) for kind in ANN_KINDS}

    fresh = VFSEngine(spark, e.storage_dir)
    fresh.init(vector_dimension=8, quantize_storage=True)
    fresh._models = dict(e._models)
    assert {kind: _hits(fresh, kind, new[0]) for kind in ANN_KINDS} == got
