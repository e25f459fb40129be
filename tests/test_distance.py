import math

import pytest
from pyspark.sql import functions as F

from vfs_spark.functions.distance import (
    cosine_distance,
    cosine_similarity,
    euclidean,
    euclidean_pandas_udf,
)


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [
        (1, [1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),
        (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),
        (3, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
        (4, [-1.0, 2.5, 0.5], [3.0, -2.0, 1.0]),
    ]
    return spark.createDataFrame(
        rows, "id int, a array<float>, b array<float>"
    )


def _py_euclid(a, b):
    return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))


def test_euclidean_matches_python(pairs):
    got = {
        r["id"]: r["d"]
        for r in pairs.select("id", euclidean("a", "b").alias("d")).collect()
    }
    rows = pairs.collect()
    for r in rows:
        assert got[r["id"]] == pytest.approx(_py_euclid(r["a"], r["b"]), abs=1e-6)


def test_cosine_identical_vectors_zero_distance(pairs):
    d = (
        pairs.where(F.col("id") == 1)
        .select(cosine_distance("a", "b").alias("d"))
        .first()["d"]
    )
    assert d == pytest.approx(0.0, abs=1e-9)


def test_cosine_orthogonal_is_one(pairs):
    d = (
        pairs.where(F.col("id") == 3)
        .select(cosine_distance("a", "b").alias("d"))
        .first()["d"]
    )
    assert d == pytest.approx(1.0, abs=1e-9)


def test_cosine_zero_vector_is_null_not_nan(pairs):
    # SURVEY §7.4: guard NaN on zero vectors
    r = (
        pairs.where(F.col("id") == 2)
        .select(cosine_similarity("a", "b").alias("s"))
        .first()
    )
    assert r["s"] is None


def test_dim_mismatch_yields_null(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0], [1.0, 2.0, 3.0])], "a array<float>, b array<float>"
    )
    assert df.select(euclidean("a", "b").alias("d")).first()["d"] is None


def test_pandas_udf_matches_column_expr(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    q = emb.first()["embedding"]
    expr = emb.select(
        "vec_id", F.round(euclidean("embedding", q), 6).alias("d")
    )
    udf = emb.select(
        "vec_id",
        F.round(euclidean_pandas_udf(q)(F.col("embedding")), 6).alias("d"),
    )
    assert sorted(map(tuple, expr.collect())) == sorted(map(tuple, udf.collect()))


# ---------------------------------------------------------------------------
# Bit-identity of the SQL-text builders against the composed-lambda
# Column builders they replaced. The reference builders below are kept
# only to pin the expression tree: one Column call per query element
# and per lambda node, folded left to right from 0.0.


def _ref_dbl(c):
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")


def _ref_lit(values):
    return F.array(*[F.lit(float(v)) for v in values])


def _ref_dot(a, b):
    a, b = _ref_dbl(a), _ref_dbl(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _ref_l2_norm(a):
    return F.sqrt(_ref_dot(a, a))


def _ref_euclidean(a, b):
    a, b = _ref_dbl(a), _ref_dbl(b)
    sq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def _ref_cosine_similarity(a, b):
    denom = _ref_l2_norm(a) * _ref_l2_norm(b)
    return F.when(denom != 0.0, _ref_dot(a, b) / denom)


def _ref_cosine_distance(a, b):
    return F.lit(1.0) - _ref_cosine_similarity(a, b)


_INF = float("inf")
_NAN = float("nan")
# (stored float column, stored double column)
_EDGE_ROWS = [
    ([0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),  # zero vectors: cosine NULL
    ([-0.0, 1.0, -0.0], [-0.0, -0.0, 2.0]),  # signed zeros
    ([1e-40, 1.0, 2.0], [5e-324, 2.2e-310, 1e-320]),  # subnormals
    ([3.0e38, -3.0e38, 1.0], [1e300, -1e300, 1e300]),  # squares overflow to inf
    ([0.1, 0.2, 0.3], [0.1, 0.2, 0.3]),  # non-representable decimals
    ([1.0, 2.0], [1.0, 2.0, 3.0]),  # dimension mismatch: NULL
    ([1.5, -2.5, 3.25], [-7.0, 0.5, 1.0 / 3.0]),
]
_QUERIES = [
    [0.1, -0.0, 5e-324],
    [1e300, -1e300, 2.2250738585072014e-308],
    [_NAN, 1.0, 2.0],
    [_INF, -_INF, 0.0],
    [0.0, 0.0, 0.0],
    [1.0, 2.0],  # dimension mismatch against every 3-d row
    [1.0 / 3.0, -2.0 / 7.0, 123456.789],
]


def _bits(v):
    """A value's exact identity: None, a NaN marker, or the IEEE bits."""
    import struct

    if v is None:
        return None
    if math.isnan(v):
        return "nan"
    return struct.pack(">d", v)


@pytest.mark.parametrize(
    "name", ["euclidean", "cosine_distance", "cosine_similarity", "dot"]
)
def test_sql_builders_bit_identical_to_column_builders(spark, name):
    from vfs_spark.functions import distance

    new, ref = getattr(distance, name), globals()[f"_ref_{name}"]
    df = spark.createDataFrame(
        [(i, f, d) for i, (f, d) in enumerate(_EDGE_ROWS)],
        "id int, f array<float>, d array<double>",
    )
    cols = []
    for a, b in [("f", "d"), ("d", "f"), ("f", "f")]:
        cols += [new(a, b), ref(a, b)]
    for qi, q in enumerate(_QUERIES):
        cols += [new("f", q), ref("f", _ref_lit(q))]
        cols += [new("d", q), ref("d", _ref_lit(q))]
        cols += [new(q, "d"), ref(_ref_lit(q), "d")]
    rows = df.select("id", *[c.alias(f"c{i}") for i, c in enumerate(cols)]).collect()
    for r in rows:
        for i in range(0, len(cols), 2):
            assert _bits(r[f"c{i}"]) == _bits(r[f"c{i + 1}"]), (name, r["id"], i)
    # the edge cases are exercised, not vacuous
    flat = [r[f"c{i}"] for r in rows for i in range(len(cols))]
    assert None in flat and any(v is not None and v != 0 for v in flat)
    # a query operand is rendered at most twice (cosine: dot and norm)
    sql = str(new("f", [271828.0, 1.0, 2.0]))
    assert 1 <= sql.count("271828.0D") <= 2, sql


def test_l2_norm_and_array_lit_bit_identical(spark):
    from vfs_spark.functions.distance import array_lit, l2_norm

    df = spark.createDataFrame(
        [(f, d) for f, d in _EDGE_ROWS], "f array<float>, d array<double>"
    )
    got = df.select(
        l2_norm("f"), _ref_l2_norm("f"), l2_norm("d"), _ref_l2_norm("d")
    ).collect()
    for r in got:
        assert _bits(r[0]) == _bits(r[1]) and _bits(r[2]) == _bits(r[3])
    lits = spark.range(1).select(
        *[c for q in _QUERIES for c in (array_lit(q), _ref_lit(q))]
    ).first()
    for i in range(0, len(lits), 2):
        assert [_bits(v) for v in lits[i]] == [_bits(v) for v in lits[i + 1]]
        assert [math.copysign(1, v) for v in lits[i]] == [
            math.copysign(1, v) for v in lits[i + 1]
        ]
    assert spark.range(1).select(array_lit([0.1])).schema[0].dataType.simpleString() == (
        "array<double>"
    )


def test_qualified_operand_names_are_backquoted(spark):
    from vfs_spark.functions.distance import euclidean

    df = spark.createDataFrame([([3.0, 4.0],)], "embedding array<double>")
    a, b = df.alias("a"), df.alias("b")
    d = a.crossJoin(b).select(euclidean("a.embedding", [0.0, 0.0]).alias("d"))
    assert d.first()["d"] == 5.0
