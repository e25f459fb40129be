"""Crash recovery of store rewrites (vfs_spark/sources/store.py).

Every store whose files are replaced by store.swap — the engine's
vectors directory, a streaming append store, one partition of the
partitioned IVF store — is left as a swap interrupted at each crash
point would leave it, then handed to the verb that owns the store.
The rewrite drops one row, so the row count tells a promoted rewrite
from a rolled-back original."""

import os

import pytest

from vfs_spark.engine import VFSEngine
from vfs_spark.sources import store
from vfs_spark.streaming import ingest


def _engine_store(spark, root):
    e = VFSEngine(spark, os.path.join(root, "engine"))
    e.init(vector_dimension=2)
    e.insert([[1.0, 1.0], [2.0, 2.0]])
    e.insert([[3.0, 3.0]])

    def reopen():
        VFSEngine(spark, e.storage_dir).init(vector_dimension=2)

    return e._data_dir, e._data_dir, reopen


def _append_store(spark, root):
    dest = os.path.join(root, "append")
    spark.range(5).selectExpr("id", "cast(id as double) as value").write.parquet(dest)
    feed = os.path.join(root, "feed")
    os.makedirs(feed)

    def restart_stream():
        stream = spark.readStream.schema("id long, value double").parquet(feed)
        ingest.stream_append_vectors(
            stream, dest, os.path.join(root, "ckpt"), auto_compact_threshold=100
        ).awaitTermination()

    return dest, dest, restart_stream


def _ivf_store(spark, root):
    dest = os.path.join(root, "ivf")
    rows = spark.range(18).selectExpr("id", "cast(id % 3 as int) as cluster_id")
    rows.write.partitionBy("cluster_id").parquet(dest)

    def compact():
        ingest.compact_ivf_store(spark, dest, max_files_per_cluster=100)

    return dest, os.path.join(dest, "cluster_id=0"), compact


STORES = {"engine": _engine_store, "append": _append_store, "ivf": _ivf_store}
# crash point -> rows the owner must find after recovery, relative to
# the original n (the rewrite holds n - 1)
CRASHES = {
    "after_write": 0,  # store intact: the uncommitted rewrite is dropped
    "between_renames": -1,  # store gone, rewrite finished: promoted
    "between_renames_unfinished": 0,  # no _SUCCESS: .old rolls back
}


@pytest.mark.parametrize("crash", CRASHES)
@pytest.mark.parametrize("kind", STORES)
def test_interrupted_swap_recovery(spark, tmp_path, kind, crash):
    read_path, path, recover_by_owner = STORES[kind](spark, str(tmp_path))
    schema = spark.read.parquet(read_path).schema
    n = spark.read.parquet(read_path).count()
    tmp, old = store.siblings(path)
    rewrite = spark.read.parquet(path)
    rewrite.limit(rewrite.count() - 1).write.parquet(tmp)
    lost = 0
    if crash != "after_write":
        lost = spark.read.parquet(path).count()
        os.rename(path, old)
    if crash == "between_renames_unfinished":
        os.remove(os.path.join(tmp, "_SUCCESS"))

    if lost < n:  # mid-crash, whatever data is in place reads as before
        mid = spark.read.parquet(read_path)
        assert mid.schema == schema
        assert mid.count() == n - lost

    recover_by_owner()
    assert os.path.isdir(path)
    assert not os.path.isdir(tmp) and not os.path.isdir(old)
    after = spark.read.parquet(read_path)
    assert after.schema == schema
    assert after.count() == n + CRASHES[crash]

