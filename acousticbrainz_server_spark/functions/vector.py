"""Vector math kernels as native Spark column expressions (no UDFs).

Reference semantics: similarity/metrics.py (z-score normalize :33-45, weighted
decay :48-58, circle embedding :89-96) and index_model.py (angular distance =
sqrt(2-2*cos), the Annoy definition, :226-244).  Everything here stays inside
whole-stage codegen — ``F.aggregate``/``F.zip_with`` compile to JVM loops over
the array, which beats an Arrow round-trip for 13-83-dim vectors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (matches the oracle's list_dot_product
    evaluation order closely enough that round(4) hashes agree)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; zero-norm input (the reference's zero-vector
    failure rows, db/similarity.py:368-371) -> 0.0 rather than an ANSI
    divide-by-zero error."""
    den = norm(a) * norm(b)
    return F.when(den != 0.0, dot(a, b) / den).otherwise(F.lit(0.0))


def angular_distance(a: Column, b: Column) -> Column:
    """Annoy's 'angular' distance: sqrt(2 - 2*cos(a,b))
    (reference similarity/index_model.py:226-244)."""
    return F.sqrt(F.greatest(F.lit(0.0), F.lit(2.0) - F.lit(2.0) * cosine(a, b)))


def zscore(x: Column, means: Column, stddevs: Column) -> Column:
    """Element-wise (x - mean) / stddev with zero-stddev guard
    (reference similarity/metrics.py:33-45)."""
    return F.zip_with(
        F.zip_with(x, means, lambda xv, m: xv - m),
        stddevs,
        lambda d, s: F.when(s != 0.0, d / s).otherwise(d),
    )
