"""Vector math over array<float> embedding columns — JVM expressions.

Cross-engine parity strategy: decimal casts of arbitrary floats diverge
between Spark (shortest-repr rounding) and DuckDB (binary rounding), so
vector math stays in plain double arithmetic with a SEQUENTIAL
left-to-right fold, and every exported similarity value is rounded to 6
decimals. Engine-order differences are ~1e-15 relative and vanish under
the rounding; orderings/thresholds are always applied to the rounded
value with an id tiebreak, so both engines make identical decisions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

COSINE_SCALE = 6  # round similarity outputs to this many decimals


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def as_double(col: str | Column) -> Column:
    return _c(col).cast("array<double>")


def dot(a: str | Column, b: str | Column) -> Column:
    """Sequential left-to-right dot product of two double arrays."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_sq(a: str | Column) -> Column:
    return dot(a, a)


def cosine_from_parts(dp: Column, norm_sq_a: Column, norm_sq_b: Column) -> Column:
    return F.round(dp / (F.sqrt(norm_sq_a) * F.sqrt(norm_sq_b)), COSINE_SCALE)


def cosine(a: str | Column, b: str | Column) -> Column:
    return cosine_from_parts(dot(a, b), norm_sq(a), norm_sq(b))


# Backwards-compatible names used by operators
dot_exact = dot
norm_sq_exact = norm_sq
cosine_exact = cosine
