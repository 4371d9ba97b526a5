"""Vector math over ``array<float>`` columns, JVM-side.

Built on ``F.zip_with`` + ``F.aggregate`` higher-order functions so dot
products and norms run inside the JVM (no Python round-trip) — the
brute-force similarity baseline stays whole-stage where possible, and
the vectorized Pandas-UDF path in ``operators/similarity.py`` is the
opt-in fast lane for wide fan-out top-k.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot_product(a: str | Column, b: str | Column) -> Column:
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: str | Column) -> Column:
    sq = F.aggregate(
        _c(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    return F.sqrt(sq)


def cosine_similarity(a: str | Column, b: str | Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))
