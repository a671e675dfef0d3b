#!/usr/bin/env python
"""Capture .explain('formatted') for every declared query into plans/r09/.

Usage: python tools_r9_capture_plans.py [suffix] [only_names...]
suffix defaults to 'before'. Writes plans/r09/<name>_<suffix>.txt.
Also writes a one-line-per-query summary (exchanges, joins, python nodes)
to /tmp/plan_summary_<suffix>.tsv for analysis.
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    from bloomy_etl_spark import get_spark
    from __spark_entry__ import queries

    spark = get_spark(app_name="r9-plan-capture")
    qmap = queries()
    outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "plans", "r09")
    os.makedirs(outdir, exist_ok=True)
    rows = []
    for name in sorted(qmap):
        if only and name not in only:
            continue
        try:
            df = qmap[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR {type(exc).__name__}: {exc}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        n_ex = len(re.findall(r"\bExchange\b", plan))
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
        n_shj = len(re.findall(r"ShuffledHashJoin", plan))
        n_bnl = len(re.findall(r"BroadcastNestedLoopJoin", plan))
        n_cart = len(re.findall(r"CartesianProduct", plan))
        n_py = len(re.findall(r"BatchEvalPython|ArrowEvalPython", plan))
        n_mip = len(re.findall(r"MapInArrow|MapInPandas|FlatMapGroupsInPandas", plan))
        n_sort = len(re.findall(r"^\s*[^(]*\bSort\b", plan, re.M))
        n_win = len(re.findall(r"\bWindow\b", plan))
        n_scan = len(re.findall(r"Scan parquet", plan))
        pushed_none = len(re.findall(r"PushedFilters: \[\]", plan))
        rows.append((name, n_ex, n_smj, n_bhj, n_shj, n_bnl, n_cart,
                     n_py, n_mip, n_sort, n_win, n_scan, pushed_none,
                     len(plan)))
    with open(f"/tmp/plan_summary_{suffix}.tsv", "w") as f:
        f.write("name\tex\tsmj\tbhj\tshj\tbnl\tcart\tpy\tmip\tsort\twin\tscan\tnopush\tlen\n")
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")
    print(f"captured {len(rows)} plans -> {outdir}")


if __name__ == "__main__":
    main()
