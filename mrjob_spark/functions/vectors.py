"""Vector math over ``array<float>`` embedding columns (SURVEY.md §2.11 L3).

All in ``F.zip_with``/``F.aggregate`` — JVM-side higher-order functions, no
Python in the loop. Accumulation is in double precision and strictly
sequential, which keeps results bit-comparable with a sequential SQL oracle
(DuckDB ``list_cosine_similarity`` over ``DOUBLE[]``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    sq = F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(sq)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Null for zero-norm vectors (a zero vector has no direction), via
    an explicit guard rather than division semantics: under Spark 4's
    ANSI default the bare ``dot/0`` RAISES ``DIVIDE_BY_ZERO``, and with
    ANSI off it would silently null — neither is an acceptable way to
    define the edge case. Null sorts last under ``desc()``, so zero
    vectors can never rank as neighbors on any similarity path."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def sql_cosine(a: str, b: str) -> str:
    """DuckDB SQL twin of :func:`cosine_similarity` over two ``DOUBLE[]``
    expressions: NULL unless both norms are > 0. DuckDB's
    ``list_cosine_similarity`` alone gives −1.0 for a zero vector."""
    return (
        f"(CASE WHEN list_dot_product({a}, {a}) > 0"
        f" AND list_dot_product({b}, {b}) > 0"
        f" THEN list_cosine_similarity({a}, {b}) END)"
    )
