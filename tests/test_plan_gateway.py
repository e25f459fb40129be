"""Building a search plan costs a fixed number of py4j round trips,
whatever the vector dimension: each per-query expression (distance,
query literal, PQ lookup table, PQ encode) crosses the gateway as one
SQL string. A builder that makes one Column call per element grows
with d and fails the equality below.

Counted: gateway commands the building thread sends while a plan is
built (not collected). Object-release commands are left out — py4j
sends them from a finalizer thread whenever Python frees a proxy."""

import threading

import numpy as np
import pytest

from vfs_spark.engine import VFSEngine
from vfs_spark.operators import ann

# most gateway commands one plan build may send, at any dimension
# (measured at d = 8 and 512: 55 / 55 / 76 / 105 / 14)
BOUND = {
    "exact_euclidean": 80,
    "exact_cosine": 80,
    "ivf": 110,
    "pq": 150,
    "encode_pq": 30,
}
DIMS = (8, 512)


class _Counter:
    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.thread = threading.get_ident()
        self.n = 0

    def __enter__(self):
        send = self.client.send_command

        def counting(command, *args, **kwargs):
            if threading.get_ident() == self.thread and not command.startswith(
                "m\nd\n"
            ):
                self.n += 1
            return send(command, *args, **kwargs)

        self.client.send_command = counting
        return self

    def __exit__(self, *exc):
        del self.client.send_command  # back to the class method


def _build_counts(spark, root, dim):
    rng = np.random.default_rng(dim)
    eng = VFSEngine(spark, str(root / f"store{dim}"))
    eng.init(vector_dimension=dim)
    eng.insert(rng.standard_normal((64, dim)).tolist())
    q = rng.standard_normal(dim).tolist()
    builds = {
        "exact_euclidean": lambda: eng.search(q),
        "exact_cosine": lambda: eng.search(q, distance_method="cosine"),
        "ivf": lambda: eng.search(q, search_type="ivf"),
        "pq": lambda: eng.search(q, search_type="pq"),
    }
    for build in builds.values():  # fit and encode the indexes, warm memos
        build().collect()
    books = eng._models["pq:euclidean"][0]
    vecs = eng.vectors()
    builds["encode_pq"] = lambda: ann.encode_pq(vecs, books, id_col="id")
    counts = {}
    for name, build in builds.items():
        build()
        with _Counter(spark) as c:
            build()
        counts[name] = c.n
    return counts


@pytest.fixture(scope="module")
def counts(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("gateway")
    return {d: _build_counts(spark, root, d) for d in DIMS}


@pytest.mark.parametrize("name", sorted(BOUND))
def test_plan_build_round_trips_do_not_grow_with_dimension(counts, name):
    small, large = (counts[d][name] for d in DIMS)
    assert small == large, f"{name}: {small} commands at d={DIMS[0]}, {large} at d={DIMS[1]}"
    assert 0 < large <= BOUND[name]
