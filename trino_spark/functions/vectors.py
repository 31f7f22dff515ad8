"""Vector math over array columns — parity with Trino's array vector
functions (reference: main/operator/scalar/ArrayVectorFunctions.java —
cosine_similarity, dot_product; MathFunctions.java:79 family).

All expression compositions over built-in higher-order functions
(zip_with / aggregate): JVM-side, no Python boundary, so they vectorize and
scale to 100 TB fact tables. Inputs are cast to array<double> so Spark and
DuckDB accumulate in the same precision.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _d(col: Column | str) -> Column:
    return _c(col).cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """sum_i a_i*b_i (Trino: ArrayVectorFunctions dotProduct)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Trino: MathFunctions cosine_similarity (maps + arrays). NULL when a
    norm is zero (Trino returns NaN for empty; we normalize to NULL)."""
    num = dot_product(a, b)
    den = l2_norm(a) * l2_norm(b)
    return F.when(den > 0, num / den).otherwise(F.lit(None))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


def vector_normalize(a: Column | str) -> Column:
    """Unit-normalize an embedding (pre-normalizing lets downstream cosine
    top-k reduce to dot products — one multiply-add per dim per pair)."""
    n = l2_norm(a)
    return F.when(n > 0, F.transform(_d(a), lambda x: x / n)).otherwise(_d(a))
