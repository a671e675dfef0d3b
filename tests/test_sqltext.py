"""functions/sqltext: the one module that renders Python values and
column names as Spark SQL text — fail-loud literals, escaped
identifiers, bit-exact doubles, and a guard against hand-rolled copies
of either format reappearing elsewhere in the package."""

from __future__ import annotations

import io
import pathlib
import re
import struct
import tokenize

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.functions.sqltext import (
    double,
    double_array,
    double_matrix,
    ident,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "bloomy_etl_spark"


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_double_raises_naming_the_value(bad):
    with pytest.raises(ValueError, match=re.escape(repr(bad))):
        double(bad)
    with pytest.raises(ValueError, match=re.escape(repr(bad))):
        double_matrix([[0.0], [1.0, bad]])


def test_nan_centroid_fails_before_any_spark_call():
    """The rendered ``nanD`` used to reach the analyzer as a column
    name (UNRESOLVED_COLUMN); now the renderer rejects it on the driver.
    ``embs`` is a stand-in that fails if any DataFrame method is hit."""
    from bloomy_etl_spark.operators.clustering import assign_clusters

    class NoSpark:
        def __getattr__(self, name):
            raise AssertionError(f"Spark touched: DataFrame.{name}")

    with pytest.raises(ValueError, match="nan"):
        assign_clusters(NoSpark(), [[float("nan"), 0.0]])


def test_ident_doubles_embedded_backticks(spark):
    assert ident("e`mb") == "`e``mb`"
    df = spark.createDataFrame([(1, 2)], "id int, `e``mb` int")
    assert df.select(F.expr(ident("e`mb")).alias("v")).first()["v"] == 2


def test_awkward_doubles_round_trip_bit_exactly(spark):
    xs = [5e-324, -0.0, 1e308, 0.1, -1e308, 2.0 ** -1074 * 3]
    row = spark.range(1).select(
        *[F.expr(double(x)).alias(f"c{i}") for i, x in enumerate(xs)],
        F.expr(double_array(xs)).alias("arr"),
    ).first()

    def bits(v):
        return struct.pack(">d", v)

    for i, x in enumerate(xs):
        assert bits(row[f"c{i}"]) == bits(x), (x, row[f"c{i}"])
        assert bits(row["arr"][i]) == bits(x), (x, row["arr"][i])


def test_matrix_text_nests_array_text():
    assert double_matrix([[1, 2.5], []]) == "array(array(1.0D,2.5D),array())"


# -- guard: no second copy of either format ---------------------------------

# a hand-rolled double literal ``f"{x!r}D"``
_DOUBLE_RULE = re.compile(r"!r\}D")
# a hand-rolled identifier: a replacement field wrapped in backticks,
# e.g. f"`{name}`". Only Spark SQL quotes identifiers with backticks —
# the DuckDB oracle SQL in *_queries.py quotes with double quotes and has
# no D-suffixed literals, so the patterns themselves exempt it.
_IDENT_RULE = re.compile(r"`\{[^{}]*\}`")


def _copies(path: pathlib.Path) -> list[str]:
    src = path.read_text()
    hits = [f"{path.name}: {m.group(0)}" for m in _DOUBLE_RULE.finditer(src)]
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        prefix = re.match(r"[A-Za-z]*", tok.string).group(0).lower()
        if tok.type == tokenize.STRING and "f" in prefix:
            hits += [f"{path.name}:{tok.start[0]}: {m.group(0)}"
                     for m in _IDENT_RULE.finditer(tok.string)]
    return hits


def test_guard_flags_a_copy(tmp_path):
    p = tmp_path / "m.py"
    p.write_text('a = f"`{c}`"\nb = f"{x!r}D"\n'
                 'c = "`{docstring}`"\nd = f\'"{c}"::DOUBLE[]\'\n')
    assert _copies(p) == ["m.py: !r}D", "m.py:1: `{c}`"]


def test_literal_and_identifier_rules_live_only_in_sqltext():
    home = PKG / "functions" / "sqltext.py"
    assert _DOUBLE_RULE.search(home.read_text())
    found = [hit for p in sorted(PKG.rglob("*.py")) if p != home
             for hit in _copies(p)]
    assert not found, (
        "render SQL literals/identifiers through functions.sqltext: "
        f"{found}"
    )

