"""Vector math over ``array<float|double>`` columns — JVM-side only.

The reference carries vectors as whitespace-joined strings and re-parses them
per record (``sources/2.2/source/KMeansMapper.java:60-74``). Here vectors are
native array columns and all math is built-in higher-order functions
(``zip_with`` / ``aggregate``), which stay in Tungsten codegen — no Python
round-trip, scales to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """True cosine: dot/(||a||*||b||). (The reference's N3 variant divides by
    the SUM of norms — ``sources/2.2/source/KMeansMapper.java:39-56`` — which
    is available as ``compat.n3_similarity``.)

    Zero-norm guard: a zero vector's cosine is DEFINED as 0.0 rather than
    the NaN a bare division produces — Spark sorts NaN first in every
    descending top-k while DuckDB orders it differently, so the NaN would
    be a cross-engine landmine on degenerate inputs (oracle SQL carries
    the same CASE)."""
    prod = norm(a) * norm(b)
    return F.when(prod == 0.0, F.lit(0.0)).otherwise(dot(a, b) / prod)
