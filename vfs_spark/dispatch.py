"""Size policy for the driver twins.

A driver twin collects a small input once and solves it in NumPy or
Python on the driver, skipping the per-job floor of an iterative or
multi-exchange Spark plan; above its bound the distributed plan runs
unchanged, and at 100 TB that is the path that matters. Every bound
sits in the memory class of a broadcast-join build side (at most a few
hundred MB on the driver). Bounds are size-based, not tuned to a host.
Tests pick a path by monkeypatching ``DRIVER_MAX``; ``-1`` forces the
distributed path (the ``dispatch_path`` fixture in tests/conftest.py).

``pinned`` is the one lifetime for an operator's internal pins: the
frames an operator reads more than once while it runs. ``release``
frees an eager local checkpoint that outlives one operator call.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame

DRIVER_MAX = {
    "pagerank_edges": 2_000_000,  # link-graph rows (queries/graph.py)
    "cc_edges": 2_000_000,  # edge rows (dedup.connected_components)
    "bpe_types": 2_000_000,  # word-type rows (bpe.bpe_train)
    "prefix_postings": 4_000_000,  # Σ|set| (dedup.*_pairs_prefix)
    # candidate volume inside the prefix twin; above it the twin bails
    # to the distributed join, which spills where a driver loop cannot
    "prefix_candidates": 20_000_000,
    # float64 verify-matrix bytes (dedup.embedding_simhash_pairs)
    "embed_gather_bytes": 256 << 20,
    # inserted Arrow bytes an engine index frame queues for its next
    # fold (engine.VFSEngine); above it the next search re-encodes
    "engine_pending_bytes": 256 << 20,
}


def collect_under(df: DataFrame, bound: int) -> pd.DataFrame | None:
    """``df`` as a pandas frame if it has at most ``bound`` rows, else
    None. One ``limit(bound + 1)`` job is both the size probe and the
    collect, so the driver never holds more than ``bound + 1`` rows."""
    pdf = df.limit(bound + 1).toPandas()
    return None if len(pdf) > bound else pdf


@contextmanager
def pinned(
    *frames: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> Iterator[None]:
    """Persist ``frames`` at ``level`` (``DataFrame.persist``'s default)
    for the block and unpersist them on exit, also when the block
    raises. A frame whose plan is already cached is used as it is and
    stays cached: its pin belongs to whoever made it. Whatever the
    block returns must not read a pinned frame lazily; operators
    return an eager checkpoint or a driver-built frame."""
    owned = [df for df in frames if df.storageLevel == StorageLevel.NONE]
    try:
        for df in owned:
            df.persist(level)
        yield
    finally:
        for df in owned:
            df.unpersist()


def release(df: DataFrame) -> None:
    """Free the blocks of ``df``, an eager ``localCheckpoint``.
    ``DataFrame.unpersist`` does not: the checkpointed RDD sits under
    the frame's LogicalRDD, outside the CacheManager. A plan that still
    reads ``df`` fails once it is released. The blocks are dropped
    through the SparkContext: ``RDD.unpersist`` would also warn, on
    every call, that a local checkpoint's lineage is truncated."""
    rdd = df._jdf.queryExecution().logical().rdd()
    rdd.context().unpersistRDD(rdd.id(), False)
