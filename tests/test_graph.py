"""Graph-operator properties: PageRank mass conservation and an exact
uniform-distribution anchor (the oracle checks values; these pin the
invariants that survive any fixture change). Each runs on both the
driver twin and the distributed iteration (``dispatch_path``)."""

import pytest
from pyspark.sql import functions as F

from vfs_spark.queries.graph import _edges, pagerank, pagerank_counted
from vfs_spark.sources.parquet import load_table


def test_pagerank_mass_conserved(spark, sf_dir, dispatch_path):
    """With dangling redistribution, total rank mass stays 1.0 after
    every power iteration (up to float noise)."""
    docs = load_table(spark, sf_dir, "documents")
    edges = _edges(docs).cache()
    edges.count()
    for iters in (1, 3):
        total = pagerank(edges, n_iters=iters).agg(F.sum("r")).first()[0]
        assert abs(total - 1.0) < 1e-9, (iters, total)
    edges.unpersist()


def test_pagerank_uniform_on_cycle(spark, dispatch_path):
    """On a directed cycle every node has in-degree = out-degree = 1,
    so PageRank is exactly uniform at every iteration — an arithmetic
    anchor independent of the fixture."""
    n = 12
    edges = spark.range(n).select(
        F.concat(F.lit("n"), F.col("id")).alias("src"),
        F.concat(F.lit("n"), (F.col("id") + 1) % n).alias("dst"),
    )
    got = {r["u"]: r["r"] for r in pagerank(edges, n_iters=3).collect()}
    assert len(got) == n
    for v in got.values():
        assert v == pytest.approx(1.0 / n, abs=1e-12)


def test_pagerank_sink_receives_more(spark, dispatch_path):
    """A node everyone links to must out-rank a node nobody links to —
    the monotonicity PageRank exists to provide."""
    hub_edges = [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a")]
    edges = spark.createDataFrame(hub_edges, "src string, dst string")
    got = {r["u"]: r["r"] for r in pagerank(edges, n_iters=3).collect()}
    assert got["hub"] > got["b"]
    assert got["hub"] > got["c"]


def test_pagerank_empty_edges(spark, dispatch_path):
    """An empty link graph yields an empty (u, r) table on both paths."""
    edges = spark.createDataFrame([], "src string, dst string")
    got = pagerank(edges)
    assert got.collect() == []
    assert got.columns == ["u", "r"]


def test_pagerank_counted_node_count(spark, sf_dir, dispatch_path):
    """The node count ``pagerank_counted`` returns without a job equals
    the ranks' row count, on the fixture graph and on an empty one."""
    docs = load_table(spark, sf_dir, "documents")
    for edges in (_edges(docs), spark.createDataFrame([], "src string, dst string")):
        ranks, n = pagerank_counted(edges)
        assert n == ranks.count()


def test_pagerank_paths_agree(spark, sf_dir, monkeypatch):
    """The driver twin and the distributed iteration rank the fixture
    link graph identically up to float summation order."""
    from vfs_spark import dispatch

    docs = load_table(spark, sf_dir, "documents")
    edges = _edges(docs).cache()

    def ranks():
        return {r["u"]: r["r"] for r in pagerank(edges).collect()}

    driver = ranks()
    monkeypatch.setitem(dispatch.DRIVER_MAX, "pagerank_edges", -1)
    assert driver and ranks() == pytest.approx(driver, rel=1e-9, abs=1e-15)
    edges.unpersist()
