"""CubeViewer tests (reference tools/visualize_dataset.py parity).

Numeric accessors checked against hand-computed numpy on a tiny cube;
plot methods are matplotlib-gated and excluded (no matplotlib here).
"""

from __future__ import annotations

import numpy as np
import pytest

from bloomy_etl_spark.tools import CubeViewer


@pytest.fixture(scope="module")
def tiny_cube(spark):
    rows = [
        # time, y, x, ndvi, evi
        ("2024-01-01 10:00:00", 0, 0, 0.1, 0.2),
        ("2024-01-01 10:00:00", 0, 1, 0.3, 0.4),
        ("2024-01-01 10:00:00", 1, 1, None, 0.6),
        ("2024-01-02 10:00:00", 0, 0, 0.5, 0.8),
        ("2024-01-02 10:00:00", 1, 1, 0.7, None),
    ]
    df = spark.createDataFrame(rows, "time string, y int, x int, ndvi double, evi double")
    return df.withColumn("time", df["time"].cast("timestamp"))


def test_info(spark, tiny_cube):
    info = CubeViewer(spark, tiny_cube).info()
    assert info["n_timestamps"] == 2
    assert info["height"] == 2 and info["width"] == 2
    assert info["variables"] == ["ndvi", "evi"]


def test_global_stats_exact(spark, tiny_cube):
    stats = CubeViewer(spark, tiny_cube).global_stats().set_index("variable")
    vals = np.array([0.1, 0.3, 0.5, 0.7])
    assert stats.loc["ndvi", "min"] == pytest.approx(0.1)
    assert stats.loc["ndvi", "mean"] == pytest.approx(vals.mean())
    assert stats.loc["ndvi", "median"] == pytest.approx(np.median(vals))
    assert stats.loc["ndvi", "std"] == pytest.approx(vals.std())  # ddof=0
    assert stats.loc["ndvi", "valid_pct"] == pytest.approx(80.0)


def test_frame_and_nan_gaps(spark, tiny_cube):
    fr = CubeViewer(spark, tiny_cube).frame("2024-01-01")
    assert fr.shape == (2, 2)
    assert fr[0, 0] == pytest.approx(0.1, abs=1e-6)
    assert fr[0, 1] == pytest.approx(0.3, abs=1e-6)
    assert np.isnan(fr[1, 0])  # never observed
    assert np.isnan(fr[1, 1])  # observed but NULL ndvi


def test_frame_of_absent_date_is_all_nan(spark, tiny_cube):
    fr = CubeViewer(spark, tiny_cube).frame("2024-03-01")
    assert fr.shape == (2, 2) and np.isnan(fr).all()


def test_pixel_series(spark, tiny_cube):
    s = CubeViewer(spark, tiny_cube).pixel_series(1, 1)
    assert len(s) == 2
    assert np.isnan(s["ndvi"].iloc[0]) and s["ndvi"].iloc[1] == pytest.approx(0.7)


def test_temporal_average_and_std(spark, tiny_cube):
    v = CubeViewer(spark, tiny_cube)
    avg = v.temporal_average("ndvi")
    assert avg[0, 0] == pytest.approx((0.1 + 0.5) / 2, abs=1e-6)
    assert avg[1, 1] == pytest.approx(0.7, abs=1e-6)  # null-skipping
    std = v.std_deviation("ndvi")
    assert std[0, 0] == pytest.approx(np.std([0.1, 0.5]), abs=1e-6)


def test_print_summary_runs(spark, tiny_cube, capsys):
    CubeViewer(spark, tiny_cube).print_summary()
    out = capsys.readouterr().out
    assert "GLOBAL STATISTICS" in out and "NDVI" in out


def test_dates_axis(spark, tiny_cube):
    assert CubeViewer(spark, tiny_cube).dates() == ["2024-01-01", "2024-01-02"]


def test_gif_and_interactive_graceful_without_matplotlib(spark, tiny_cube, tmp_path):
    """Interactive mode (reference visualize_dataset.py:195-269) must
    fail with a CLEAR ImportError when matplotlib is absent (this
    container), never a confusing AttributeError mid-render. create_gif
    no longer needs matplotlib at all — it degrades to the pure-Python
    GIF89a encoder (tools/gif.py) and still writes a playable file."""
    v = CubeViewer(spark, tiny_cube)
    path = v.create_gif(str(tmp_path / "a.gif"))
    assert open(path, "rb").read(6) == b"GIF89a"
    try:
        import matplotlib  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="matplotlib"):
            v.plot_interactive()


class TestTableStats:
    def test_stats_match_duckdb_truth(self, spark, duck):
        """One-pass profile vs exact DuckDB ground truth on documents."""
        from bloomy_etl_spark.sources.tables import load_table
        from bloomy_etl_spark.tools.stats import collect_table_stats
        from tests.conftest import SF_ORACLE
        from tests.oracle import register_duck_views

        register_duck_views(duck, SF_ORACLE)
        got = collect_table_stats(load_table(spark, SF_ORACLE, "documents"))
        n, ndv_lang, min_id, max_id, avg_len = duck.execute(
            "SELECT COUNT(*), COUNT(DISTINCT lang), MIN(doc_id), MAX(doc_id),"
            " ROUND(AVG(LENGTH(text)), 2) FROM documents"
        ).fetchone()
        assert got["n_rows"] == n
        lang = got["columns"]["lang"]
        assert lang["nulls"] == 0 and lang["null_frac"] == 0.0
        # HLL at rsd=0.05 on 5 distinct values is exact in practice
        assert lang["approx_ndv"] == ndv_lang
        did = got["columns"]["doc_id"]
        assert (did["min"], did["max"]) == (min_id, max_id)
        assert abs(got["columns"]["text"]["avg_len"] - float(avg_len)) < 0.01
        # single job: the whole profile is ONE aggregate over the scan
        assert set(got["columns"]) == {"doc_id", "text", "lang", "source", "n_chars"}

    def test_stats_handle_nulls_and_complex_types(self, spark):
        from bloomy_etl_spark.tools.stats import collect_table_stats

        df = spark.createDataFrame(
            [(1, None, [1.0]), (2, "x", None), (None, "x", [2.0, 3.0])],
            "a long, s string, v array<double>",
        )
        got = collect_table_stats(df)
        assert got["n_rows"] == 3
        assert got["columns"]["a"]["nulls"] == 1
        assert got["columns"]["s"]["approx_ndv"] == 1
        assert "min" not in got["columns"]["v"], "no min/max for arrays"
        assert got["columns"]["v"]["nulls"] == 1
