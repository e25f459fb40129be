"""Property-based checks (hypothesis) over the engine's numeric
kernels — quantization round-trip, distance identities, SimHash
determinism — evaluated through the REAL Spark expressions, one
DataFrame per example (small max_examples: each example is a job)."""

import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from vfs_spark.functions.distance import cosine_distance, euclidean
from vfs_spark.functions.quantize import dequantize, quantize

finite = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False,
    width=32,
)
vec = st.lists(finite, min_size=1, max_size=8)


@settings(max_examples=8, deadline=None)
@given(v=vec)
def test_quantize_roundtrip_bound(spark, v):
    """|dequantize(quantize(v)) − clamp(v,−1,1)| ≤ 1/254 per element
    (vector.rs:94-125,135-139 contract)."""
    df = spark.createDataFrame([(v,)], "embedding: array<float>")
    err = F.array_max(
        F.zip_with(
            dequantize(quantize("embedding")),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.greatest(F.lit(-1.0), F.least(F.lit(1.0), x)),
            ),
            lambda a, b: F.abs(a - b),
        )
    )
    got = df.select(err.alias("e")).first()["e"]
    assert got <= 1.0 / 254 + 1e-7


@settings(max_examples=6, deadline=None)
@given(v=vec)
def test_euclidean_identity_and_symmetry(spark, v):
    df = spark.createDataFrame([(v,)], "embedding: array<float>")
    q = [float(x) for x in v]
    self_d = df.select(euclidean("embedding", q).alias("d")).first()["d"]
    assert self_d is not None and abs(self_d) < 1e-4  # d(x,x) = 0 (f32 noise)
    zero = [0.0] * len(v)
    d1 = df.select(euclidean("embedding", zero).alias("d")).first()["d"]
    norm = math.sqrt(sum(float(F) ** 2 for F in [float(x) for x in v]))
    # f32 storage rounds each element; tolerance scales with magnitude
    assert d1 == pytest.approx(norm, rel=1e-5, abs=1e-4)


@settings(max_examples=6, deadline=None)
@given(v=st.lists(finite, min_size=2, max_size=8))
def test_cosine_bounds_and_zero_guard(spark, v):
    df = spark.createDataFrame([(v,)], "embedding: array<float>")
    q = [1.0] * len(v)
    d = df.select(cosine_distance("embedding", q).alias("d")).first()["d"]
    if any(float(x) != 0.0 for x in v):
        assert -1e-9 <= d <= 2 + 1e-9
    else:
        assert d is None  # zero-norm guard: NULL, never NaN (SURVEY §7.4)


@settings(max_examples=5, deadline=None)
@given(words=st.lists(st.text(alphabet="abcdef ", min_size=1, max_size=12), min_size=0, max_size=6))
def test_simhash_deterministic_and_order_sensitive(spark, words):
    from vfs_spark.operators.dedup import _simhash64

    text = " ".join(words)
    a, b = _simhash64(text), _simhash64(text)
    assert a == b
    assert -(1 << 63) <= a < (1 << 63)  # valid signed int64
    # token-multiset invariance: shuffled token order hashes equal
    toks = text.lower().split()
    assert _simhash64(" ".join(reversed(toks))) == _simhash64(" ".join(toks))


# the dispatch_path pin is meant to hold for every generated example
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(1, 15), st.integers(1, 15)), max_size=20
    )
)
def test_connected_components_matches_union_find(spark, dispatch_path, edges):
    """Both the driver twin and the distributed min-label propagation
    must agree with a plain union-find on arbitrary small graphs
    (self-loops and duplicate edges included)."""
    from vfs_spark.operators.dedup import connected_components

    nodes = list(range(1, 16))
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want = {n: find(n) for n in nodes}

    ndf = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    edf = spark.createDataFrame(edges or [(1, 1)], "src long, dst long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    lts=st.lists(st.integers(0, 500), min_size=1, max_size=6),
    rts=st.lists(st.integers(0, 500), min_size=1, max_size=10),
    window=st.integers(1, 120),
)
def test_interval_join_matches_bruteforce(spark, lts, rts, window):
    """Bucketed interval join ≡ brute-force filter over the cross
    product, for arbitrary second-offset timestamps and window sizes
    (bucket boundaries land anywhere relative to the pairs)."""
    import datetime as dt

    from vfs_spark.operators.rangejoin import interval_join_bucketed

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, i, base + dt.timedelta(seconds=s)) for i, s in enumerate(lts)],
        "user_id long, lid long, l_ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, 100 + i, base + dt.timedelta(seconds=s)) for i, s in enumerate(rts)],
        "user_id long, rid long, r_ts timestamp",
    )
    got = {
        (r["lid"], r["rid"])
        for r in interval_join_bucketed(
            left, right, on=["user_id"], left_ts="l_ts", right_ts="r_ts",
            window_s=window,
        ).collect()
    }
    want = {
        (i, 100 + j)
        for i, ls in enumerate(lts)
        for j, rs in enumerate(rts)
        if ls - window <= rs <= ls
    }
    assert got == want


def test_shard_export_deterministic(spark, tmp_path):
    """Exporting the same data twice (different partitionings) must
    produce byte-identical manifests — shard boundaries and checksums
    are functions of content and key order only."""
    from pyspark.sql import functions as F

    from vfs_spark.sources.parquet import write_training_shards

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 13).alias("v")
    )
    m1 = write_training_shards(
        df.repartition(4), str(tmp_path / "a"), "doc_id", rows_per_shard=700
    )
    m2 = write_training_shards(
        df.repartition(11), str(tmp_path / "b"), "doc_id", rows_per_shard=700
    )
    assert m1 == m2


def test_strip_dup_spans_second_pass_shrinks(spark, tmp_path):
    """Span stripping converges: stripping the stripped corpus removes
    (far) fewer tokens than the first pass — new duplicated windows
    can appear where removed spans spliced neighbors together, but the
    volume collapses."""
    import vfs_spark.queries  # noqa: F401
    from pyspark.sql import functions as F
    from vfs_spark.queries.registry import QUERIES

    sf = "/root/testdata/sf0.01"
    first = QUERIES["text_strip_dup_spans"](spark, sf)
    removed1 = first.agg(F.sum("n_removed")).first()[0]
    assert removed1 > 0  # the fixture has planted duplicates
    d = str(tmp_path / "stripped")
    (
        first.select(
            "doc_id",
            F.col("cleaned_text").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("s").alias("source"),
            F.length("cleaned_text").alias("n_chars"),
        )
        .write.parquet(f"{d}/documents.parquet")
    )
    removed2 = (
        QUERIES["text_strip_dup_spans"](spark, d)
        .agg(F.sum("n_removed"))
        .first()[0]
    )
    assert removed2 < removed1 / 2


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abcde ", min_size=1, max_size=30),
        min_size=1,
        max_size=12,
    )
)
def test_sample_weighted_invariants(spark, tmp_path_factory, texts):
    """For ANY corpus: exactly min(100, N) rows come back, ranks are a
    contiguous permutation, keys are non-increasing in rank, every
    weight equals max(token_count, 1), and the A-ES key reproduces the
    independent Python computation for every sampled doc."""
    import hashlib
    import math

    import vfs_spark.queries  # noqa: F401
    from vfs_spark.queries.registry import QUERIES

    rows = [(i, t, "s", "en", len(t)) for i, t in enumerate(texts)]
    d = str(tmp_path_factory.mktemp("wprop"))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, source string, lang string, n_chars int",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    out = QUERIES["sample_weighted"](spark, d).collect()
    assert len(out) == min(100, len(rows))
    ranks = sorted(r["rank"] for r in out)
    assert ranks == list(range(1, len(out) + 1))
    by_rank = sorted(out, key=lambda r: r["rank"])
    keys = [r["key_u6"] for r in by_rank]
    assert keys == sorted(keys, reverse=True)
    for r in out:
        t = texts[r["doc_id"]]
        w = max(len(t.lower().strip().split(" ")), 1)
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        assert r["weight"] == w
        assert r["key_u6"] == round(1e6 * math.log((h + 1) / 4294967297.0) / w)


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.sampled_from(["aa bb cc", "dd ee ff", "gg hh", "ii jj kk ll"]),
        min_size=1,
        max_size=20,
    )
)
def test_dedup_incremental_partitions_batch(spark, tmp_path_factory, texts):
    """For ANY corpus: the output is exactly the batch docs (doc_id %
    10 == 0), each with one verdict, and the verdicts are consistent
    with an independent Python re-derivation of the fp sets."""
    import vfs_spark.queries  # noqa: F401
    from vfs_spark.queries.registry import QUERIES

    rows = [(i, t, "s", "en", len(t)) for i, t in enumerate(texts)]
    d = str(tmp_path_factory.mktemp("iprop"))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, source string, lang string, n_chars int",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    out = {r["doc_id"]: r["verdict"] for r in QUERIES["dedup_incremental"](spark, d).collect()}
    batch = {i for i, _ in enumerate(texts) if i % 10 == 0}
    assert set(out) == batch

    def fp(t):
        return " ".join(sorted(set(t.lower().strip().split(" "))))

    hist_fps = {fp(t) for i, t in enumerate(texts) if i % 10 != 0}
    seen = {}
    for i in sorted(batch):
        f = fp(texts[i])
        if f in hist_fps:
            want = "dup_of_history"
        elif f in seen:
            want = "dup_in_batch"
        else:
            want = "unique"
        seen.setdefault(f, i)
        assert out[i] == want, (i, out[i], want)
