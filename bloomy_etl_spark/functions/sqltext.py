"""Spark SQL text for Python values and column names.

The one place that splices driver-side values into SQL strings. Literal-
heavy expressions (k-means centroids, LSH hyperplanes, PQ codebooks) are
rendered as SQL and parsed in ONE driver→JVM call: built element-wise,
each ``F.lit`` is a py4j round trip (~1.3 ms measured), which made
DataFrame CONSTRUCTION the dominant cost of the ANN queries (q36: 12.5 s
of py4j vs 1.1 s of Catalyst analysis). The parsed trees are the same
``CreateArray``/``Literal`` shapes the fluent builders produce.

Formats, each enforced here so no caller has to know them:

* identifiers are backtick-quoted with embedded backticks doubled, so any
  column name resolves as written;
* doubles are ``repr(float(x)) + "D"`` — the shortest round-trip
  rendering, read back by Spark's parser via ``Double.parseDouble``, so
  values survive bit-exactly. NaN and ±Inf have no literal form (they
  would render as ``nanD``/``infD``, which the analyzer reads as column
  names) and raise ``ValueError`` instead.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, embedded backticks
    doubled."""
    return "`" + name.replace("`", "``") + "`"


def double(x) -> str:
    """``x`` as a DOUBLE literal; raises ``ValueError`` for NaN/±Inf."""
    v = float(x)
    if not math.isfinite(v):
        raise ValueError(
            f"cannot render {v!r} as a SQL double literal: "
            "only finite values have one"
        )
    return f"{v!r}D"


def double_array(xs) -> str:
    """``array<double>`` literal text."""
    return "array(" + ",".join(double(x) for x in xs) + ")"


def double_matrix(rows) -> str:
    """``array<array<double>>`` literal text (PQ codebooks)."""
    return "array(" + ",".join(double_array(r) for r in rows) + ")"


def lit_double_array(xs) -> Column:
    """:func:`double_array` as a Column — one py4j call, where
    ``F.array(*[F.lit(float(x)) for x in xs])`` costs one per element."""
    return F.expr(double_array(xs))


def lit_double_matrix(rows) -> Column:
    """:func:`double_matrix` as a Column, in one py4j call."""
    return F.expr(double_matrix(rows))
