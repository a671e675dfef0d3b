#!/usr/bin/env python
"""sf1 (10x documents/embeddings) core-scaling runner (VERDICT r09 item 8).

At sf0.1 the corpus is dispatch-bound, so 8-core vs 32-core ratios say
nothing about operator parallelism; at sf1 the compute tail dominates
and the ratio becomes a real parallel-scaling measurement.

Usage: SPARK_GRAFT_CPUS=8 python tools_r10_sf1_scaling.py q31_... q32_...
Builds the derived sf1 corpus (tests/scale_sf1.py, idempotent) under
$SPARK_GRAFT_SF1_DIR (default /tmp/spark_graft_sf1), then times each
query min-of-3 after a discarded warm-up: full = construction +
noop-sink materialization (the r10 bench statistic), exec = the
materialization alone. Run once per core count in a fresh process.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
RUNS = int(os.environ.get("BENCH_RUNS", "3"))


def main() -> None:
    names = sys.argv[1:]
    from bloomy_etl_spark import get_spark
    from tests.scale_sf1 import build_sf1
    from __spark_entry__ import queries

    spark = get_spark(app_name="r10-sf1-scaling")
    build_sf1(spark, SF1_DIR)
    qmap = queries()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    print(f"cpus={cpus} sf1_dir={SF1_DIR}", flush=True)
    for name in names:
        spark.sparkContext.setJobDescription(f"sf1-scaling {name}")
        try:
            qmap[name](spark, SF1_DIR).write.format("noop").mode(
                "overwrite").save()  # warm-up, discarded
            fulls, execs = [], []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                df = qmap[name](spark, SF1_DIR)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                fulls.append(t2 - t0)
                execs.append(t2 - t1)
            print(f"{name}: full_min={min(fulls):.3f} exec_min={min(execs):.3f} "
                  f"fulls={[round(s, 3) for s in fulls]}", flush=True)
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {type(exc).__name__}: {str(exc)[:300]}",
                  flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
