"""Vector (embedding) column expressions.

Built on Spark's higher-order array functions (``zip_with`` +
``aggregate``) — JVM-side, no Python crossing, linear in dimension. Floats
are cast to double *before* multiplication in index order, matching the
explicit DuckDB oracle formula ``list_dot_product(a,b) /
(sqrt(list_dot_product(a,a)) * sqrt(list_dot_product(b,b)))`` so both
engines accumulate identically.

Scale: brute-force cosine is O(n·d) per query vector and embarrassingly
parallel; for all-pairs work use the LSH bucketing in
``operators/similarity.py`` to bound the candidate set.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def normalize(a: Column) -> Column:
    """Unit-normalize once at ingest so downstream cosine = plain dot —
    the cheap trick that halves ANN compute at scale."""
    n = norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def quantize_scale(a: Column) -> Column:
    """Symmetric int8 quantization scale: ``max(|v|) / 127``. One scale
    per vector (per-row granularity — the layout vector stores use, 4×
    smaller than float32 plus one float per row)."""
    return F.array_max(F.transform(a, lambda x: F.abs(x.cast("double")))) / 127.0


def quantize_i8(a: Column, scale: Column) -> Column:
    """Round each component to its int8 code ``round(x / scale)``. Kept
    as an int array (not binary-packed) so the expression stays a plain
    JVM transform; packing to 1 byte/code is the writer's concern."""
    return F.transform(a, lambda x: F.round(x.cast("double") / scale).cast("int"))


def quantize_abs_error(a: Column, scale: Column) -> Column:
    """Max absolute reconstruction error of the int8 round-trip:
    ``max_i |x_i − round(x_i/s)·s|``. The audit metric for deciding
    whether int8 storage is acceptable for a given embedding family —
    bounded by scale/2 per component, which the property test asserts."""
    err = F.transform(
        a,
        lambda x: F.abs(
            x.cast("double") - F.round(x.cast("double") / scale) * scale
        ),
    )
    return F.array_max(err)
