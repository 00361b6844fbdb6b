"""Vector math over ``array<float>`` embedding columns.

Built on higher-order functions (``zip_with`` / ``aggregate`` / ``transform``)
so the hot path stays JVM-side — no Python UDF, no serialization of vectors
across the Arrow boundary. Elements are cast to double before accumulation
(sequential left-to-right fold → deterministic IEEE result, reproducible by
the DuckDB oracles).
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length float arrays (double result)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    """L2 norm."""
    return F.sqrt(
        F.aggregate(
            _c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; null-safe on zero vectors (returns NULL)."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def scale(a: Column | str, s: Column) -> Column:
    return F.transform(_c(a), lambda x: x.cast("double") * s)
