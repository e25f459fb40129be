"""Operator-internal pins end with the operator: ``dispatch.pinned``
releases what it pinned when its block exits, also when the block
raises, and leaves a frame the caller had cached as it was."""

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from vfs_spark.dispatch import pinned
from vfs_spark.operators import dedup
from vfs_spark.queries.graph import pagerank_counted


def _entries(spark) -> int:
    """CacheManager entries of the session."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def test_pinned_releases_on_exit_and_error(spark):
    df = spark.range(10).select((F.col("id") * 3).alias("x"))
    before = _entries(spark)
    with pinned(df):
        assert _entries(spark) == before + 1
    assert _entries(spark) == before
    with pytest.raises(RuntimeError, match="inside the block"):
        with pinned(df):
            raise RuntimeError("inside the block")
    assert _entries(spark) == before


@pytest.mark.parametrize("op", ["jaccard_pairs_prefix", "containment_pairs_prefix"])
def test_prefix_twin_error_releases_pin(spark, monkeypatch, op):
    """A driver twin that raises leaves no DISK_ONLY pin behind."""

    def twin_fails(*args, **kwargs):
        raise RuntimeError("twin failed")

    monkeypatch.setattr(dedup, "_prefix_pairs_driver", twin_fails)
    sets = spark.createDataFrame(
        [(0, "en", ["a", "b", "c"]), (1, "en", ["a", "b", "d"])],
        "doc_id long, lang string, shingles array<string>",
    )
    before = _entries(spark)
    with pytest.raises(RuntimeError, match="twin failed"):
        getattr(dedup, op)(sets, threshold=0.5)
    assert _entries(spark) == before


def test_pagerank_error_releases_pins(spark, dispatch_path):
    """An edge frame that fails while the iteration runs leaves none of
    the loop's pins (edges, out-degrees, nodes) behind."""
    edges = spark.range(4).select(
        F.concat(F.lit("n"), F.col("id")).alias("src"),
        F.when(F.col("id") == 3, F.raise_error(F.lit("bad edge")))
        .otherwise(F.concat(F.lit("n"), (F.col("id") + 1) % 4))
        .alias("dst"),
    )
    before = _entries(spark)
    with pytest.raises(Exception, match="bad edge"):
        pagerank_counted(edges)
    assert _entries(spark) == before


def test_pagerank_keeps_caller_cache(spark, dispatch_path):
    """PageRank reads a caller's cached edges as they are and leaves
    them cached."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")], "src string, dst string"
    ).cache()
    edges.count()
    before = _entries(spark)
    try:
        ranks, n = pagerank_counted(edges)
        assert n == ranks.count() == 4
        assert edges.storageLevel != StorageLevel.NONE
        assert _entries(spark) == before
    finally:
        edges.unpersist()
