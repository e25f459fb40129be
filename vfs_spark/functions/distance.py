"""Distance functions as SQL expressions, one py4j call each.

Reference: euclidean ``rank.rs:271-287``, cosine ``rank.rs:290-300``,
SIMD variants ``rank.rs:14-56``. Here each distance is a Catalyst
expression over ``ARRAY<T>`` columns — it runs inside whole-stage
codegen on the JVM, which *is* Spark's vectorized path (the analogue
of the reference's SIMD macros; see also ``euclidean_pandas_udf`` for
the explicit NumPy-SIMD variant used in benchmarks).

All math is done in DOUBLE (inputs cast up from FLOAT) with a
left-to-right fold, which matches the DuckDB oracle's evaluation order
so rounded results hash-compare equal.

Each function renders its expression as SQL text and crosses py4j
with ONE ``F.expr`` call: built from Column calls, it cost one gateway
round trip per query element and per lambda node, and an exact search
plan took 520 round trips at dim 64 and 2,312 at dim 512 (55 at both
as SQL text). An operand is either

- a column name (``"embedding"``, ``"a.embedding"``; each part is
  backquoted), or
- a sequence of floats (the query vector), rendered as an
  ``array(...)`` of ``repr(v) + "D"`` literals — ``repr`` round-trips
  a double exactly and the ``D`` suffix keeps ``0.1`` from parsing as
  DECIMAL; NaN and ±inf render as ``CAST('NaN' AS DOUBLE)`` and
  ``CAST('±Infinity' AS DOUBLE)``.

A computed operand (``vector_to_array(...)``, a dequantized array) is
first projected under a name; CollapseProject fuses that projection
back into the same stage.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

# a column name, or the elements of a literal vector
Operand = str | Iterable[float]

_SUM = "(acc, x) -> acc + x"


def sql_ident(name: str) -> str:
    """A (possibly qualified) column name as backquoted SQL."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


def _sql_double(v: float) -> str:
    """One DOUBLE literal that parses back to exactly ``v``."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(v) + "D"


def sql_array(values: Iterable[float]) -> str:
    """An ARRAY<DOUBLE> literal as SQL text."""
    return "array(" + ", ".join(_sql_double(v) for v in values) + ")"


def _dbl(a: Operand) -> str:
    src = sql_ident(a) if isinstance(a, str) else sql_array(a)
    return f"CAST({src} AS ARRAY<DOUBLE>)"


def sq_l2_sql(a: str, b: str) -> str:
    """SQL for Σ(a−b)² over two ARRAY<DOUBLE> SQL operands, folded left
    to right from 0."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0D, {_SUM})"


def _dot(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, {_SUM})"


def _norm(a: str) -> str:
    """SQL for ‖a‖: one fold over the single operand."""
    return f"sqrt(aggregate({a}, 0D, (acc, v) -> acc + v * v))"


def _cos_sim(a: Operand, b: Operand) -> str:
    # each operand is rendered twice (dot, norm); NULLIF keeps the
    # zero-norm case NULL with the denominator written once
    a, b = _dbl(a), _dbl(b)
    return f"{_dot(a, b)} / NULLIF({_norm(a)} * {_norm(b)}, 0D)"


def array_lit(values: Iterable[float]) -> Column:
    """A literal ARRAY<DOUBLE> column (e.g. a query vector)."""
    return F.expr(sql_array(values))


def dot(a: Operand, b: Operand) -> Column:
    return F.expr(_dot(_dbl(a), _dbl(b)))


def l2_norm(a: Operand) -> Column:
    return F.expr(_norm(_dbl(a)))


def euclidean(a: Operand, b: Operand) -> Column:
    """sqrt(Σ(a-b)²) — reference rank.rs:281-287. Dim mismatch yields
    NULL (zip_with pads with null → null sum) rather than a panic;
    pair with filter_dim_check (tcp.rs:306-311) for strictness."""
    return F.expr(f"sqrt({sq_l2_sql(_dbl(a), _dbl(b))})")


def cosine_similarity(a: Operand, b: Operand) -> Column:
    """dot/(‖a‖·‖b‖); NULL on zero-norm input (SURVEY §7.4 NaN guard)."""
    return F.expr(_cos_sim(a, b))


def cosine_distance(a: Operand, b: Operand) -> Column:
    """1 − cosine_similarity — reference rank.rs:290-300."""
    return F.expr(f"1D - ({_cos_sim(a, b)})")


def euclidean_pandas_udf(query: Iterable[float]):
    """Arrow-batched NumPy euclidean distance to a fixed query vector —
    the explicit-SIMD analogue of the reference's ``dynamic_simd_*``
    macros (rank.rs:14-56): NumPy vectorizes over contiguous batches
    exactly as std::simd does over lanes. The column-expression
    ``euclidean`` is preferred in plans (stays in codegen); this exists
    for the SIMD-vs-SISD benchmark comparison (BASELINE.md)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(list(query), dtype=np.float64)

    def _dist(col):
        mat = np.stack(col.to_numpy())  # (batch, dim) float64
        diff = mat.astype(np.float64) - q
        return pd.Series(np.sqrt(np.einsum("ij,ij->i", diff, diff)))

    return pandas_udf(_dist, "double")
