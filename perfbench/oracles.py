"""Oracle checks, run outside the timed window.

The worker collects each operation's result and the DuckDB SQL that should
reproduce it; the orchestrator runs every SQL string once on DuckDB (limited
to the run's core count), which gives both the expected rows and
``oracle.duckdb_s``, and compares with ``tests/oracle.py::compare``.
This module imports no pyspark at load time.
"""

from __future__ import annotations

import importlib.util
import json
import os
import time

EVENT_COLS = ("event_kind", "date", "start_date", "end_date", "ndvi_before",
              "ndvi_during", "ndvi_after", "drop_mag", "ndvi_sustained", "event_type")


class Rows:
    """Stand-in for both sides of ``compare``: a collected Spark result
    (``columns``/``collect``) or a fetched DuckDB result
    (``execute``/``description``/``fetchall``)."""

    def __init__(self, columns, rows) -> None:
        self.columns = list(columns)
        self.description = [(c,) for c in self.columns]
        self._rows = list(rows)

    def collect(self):
        return self._rows

    def execute(self, _sql):
        return self

    def fetchall(self):
        return self._rows


def raster_oracle_sql(pixels_path: str) -> dict[str, str]:
    """The q38 and q25 oracle SQL, re-pointed at the generated pixel table.

    ``cube_summary``: q38's per-day summary, with the float32 cast that
    ``write_cube`` applies to ndvi/evi before the values are summed.
    ``events``: q38's kept-granule chain up to the temporal merge, then the
    pipeline's series (per-day spatial mean NDVI) and q25's detection windows.
    """
    from bloomy_etl_spark.operators import bloomy_queries as bq

    def swap(sql: str, old: str, new: str) -> str:
        if old not in sql:
            raise RuntimeError(f"oracle SQL drifted: {old[:60]!r} not found")
        return sql.replace(old, new)

    pixels = f"pixels AS (SELECT * FROM read_parquet('{pixels_path}'))"
    q38 = swap(bq.BLOOMY_ORACLE_SQL["q38_bloomy_end_to_end"], bq._PIXELS_CTE.strip(), pixels)
    summary = q38
    for col in ("ndvi", "evi"):
        summary = swap(summary, f"ROUND(SUM(t.{col}), 4)",
                       f"ROUND(SUM(CAST(t.{col} AS FLOAT)), 4)")
    q25 = bq.BLOOMY_ORACLE_SQL["q25_bloomy_event_detection"]
    series = ("series AS (SELECT day, STRFTIME(day, '%Y-%m-%d') AS date, AVG(ndvi) AS v "
              "FROM temporal GROUP BY day),\n")
    return {
        "cube_summary": f"SELECT day, n_px, sum_ndvi, sum_evi, n_granules FROM ({summary})",
        "events": q38[: q38.index("granules_per_day AS")] + series + q25[q25.index("x AS ("):],
    }


def read_events(path: str) -> tuple[tuple[str, ...], list[tuple]]:
    """The events sink's JSON lines, rounded like the q25 oracle."""
    rows = []
    for fn in sorted(os.listdir(path)):
        if fn.startswith("part-"):
            with open(os.path.join(path, fn)) as f:
                for line in f:
                    e = json.loads(line)
                    rows.append(tuple(round(v, 4) if isinstance(v, float) else v
                                      for v in (e.get(c) for c in EVENT_COLS)))
    return EVENT_COLS, rows


def check_all(checks: list[dict], root: str, data: str, tmp: str, cores: int,
              inject_wrong: bool) -> tuple[dict[str, str], float]:
    """Run every check; returns ({operation: failure}, DuckDB seconds)."""
    import duckdb

    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(root, "tests", "oracle.py"))
    oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oracle)

    con = duckdb.connect(config={
        "threads": cores, "memory_limit": "2GB", "temp_directory": tmp,
        "autoinstall_known_extensions": False, "autoload_known_extensions": False,
    })
    con.execute("SET TimeZone = 'UTC'")
    if os.path.exists(os.path.join(data, "lineitem.parquet")):
        oracle.register_duck_views(con, data)
    bad: dict[str, str] = {}
    duck_s = 0.0
    for i, c in enumerate(checks):
        if c.get("error"):
            bad[c["op"]] = c["error"]
            continue
        t0 = time.perf_counter()
        cur = con.execute(c["sql"])
        expected = cur.fetchall()
        duck_s += time.perf_counter() - t0
        rows = c["rows"][:-1] if inject_wrong and i == 0 else c["rows"]
        try:
            oracle.compare(Rows(c["columns"], rows),
                           Rows([d[0] for d in cur.description], expected), c["sql"],
                           float_tol=c["tol"])
        except AssertionError as exc:
            bad[c["op"]] = f"{c['label']}: oracle mismatch: {exc}"[:300]
    con.close()
    return bad, duck_s
