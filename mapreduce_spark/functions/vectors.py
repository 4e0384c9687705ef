"""Vector math over array<float> embedding columns — JVM-side only.

Dot products and cosines are sequential index-order folds in BOTH engines
(Spark ``aggregate``/``zip_with`` and DuckDB ``list_aggregate`` over
``list_transform(range(...))``), with every float lifted to double before
multiplying, so the two engines produce bit-identical doubles; final
values are rounded to 6 dp wherever they are compared.

Deterministic hyperplanes for LSH are md5-derived (no RNG state), so the
same planes are reproducible as SQL literals.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column

EMB_DIM = 64


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity (unrounded; round at the comparison site)."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def norm(a: Column) -> Column:
    """Euclidean norm, same fold order as cosine's denominator.

    Precompute this ONCE per vector before a pairwise join: cosine_n
    then evaluates one dot per pair instead of three, bit-identically —
    sqrt(dot(v, v)) is the same IEEE operation sequence either way."""
    return F.sqrt(dot(a, a))


def cosine_n(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed norms (bit-identical to ``cosine``)."""
    return dot(a, b) / (na * nb)


def dot_literal(vec: Column, plane: list[float]) -> Column:
    """Dot product against a Python-literal plane vector."""
    planes = F.array(*[F.lit(x) for x in plane])
    return F.aggregate(
        F.zip_with(vec, planes, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def hyperplane(table: int, plane: int, dim: int = EMB_DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane, reproducible in any engine:
    component d = (md5("table_plane_d") mod 2001 - 1000) / 1000 in [-1, 1]."""
    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"{table}_{plane}_{d}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


# --- DuckDB SQL mirrors -----------------------------------------------------

def sql_dot_pair(a: str, b: str, dim: int = EMB_DIM) -> str:
    """DuckDB fragment mirroring dot() for two list columns."""
    return (
        f"list_aggregate(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
    )


def sql_cosine_pair(a: str, b: str, dim: int = EMB_DIM) -> str:
    """DuckDB fragment mirroring cosine() (same fold order)."""
    return (
        f"({sql_dot_pair(a, b, dim)} / "
        f"(sqrt({sql_dot_pair(a, a, dim)}) * sqrt({sql_dot_pair(b, b, dim)})))"
    )


def sql_dot_literal(vec_col: str, plane: list[float], dim: int = EMB_DIM) -> str:
    """DuckDB fragment mirroring dot_literal() against a plane literal."""
    lits = "[" + ", ".join(repr(x) for x in plane) + "]"
    return (
        f"list_aggregate(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({vec_col}[i] AS DOUBLE) * ({lits})[i]), 'sum')"
    )
