#!/usr/bin/env python3
"""Fast self-test of the benchmark itself (tiny inputs, a few minutes).

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json:
* an untraced run prints exactly the end-to-end metrics, each with its unit,
  and its outputs match the oracles;
* a traced run prints exactly the per-layer metrics with their units, and
  the ledger's parts cover the pass within 5%;
* a result with one row removed before the oracle check counts toward
  ``failed`` / ``error_rate`` and makes the run incorrect.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        raise SystemExit(f"{what}: metrics {sorted(got.items())} != {sorted(want.items())}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], float):
            raise SystemExit(f"{what}: {k} is not a number: {v!r}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for wl in (w["name"] for w in bench["workloads"]):
        plain = run(wl, 0)
        check_metrics(plain, bench["end_to_end"], f"{wl} trace=0")
        if not (plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 1):
            raise SystemExit(f"{wl}: baseline run not correct: {plain}")
        traced = run(wl, 1)
        check_metrics(traced, bench["per_layer"], f"{wl} trace=1")
        coverage = traced["metrics"]["ledger.coverage"]["value"]
        if not 0.95 <= coverage <= 1.05:
            raise SystemExit(f"{wl}: ledger parts cover {coverage:.3f} of the pass")
        print(f"ok {wl}: e2e + per-layer metrics, ledger coverage {coverage:.3f}")
    wrong = run(bench["workloads"][-1]["name"], 1, "--inject-wrong")
    rate = wrong["metrics"]["error_rate"]["value"]
    if wrong["correct"] or wrong["failed"] < 1 or rate <= 0:
        raise SystemExit(f"injected wrong result was not counted: {wrong}")
    print(f"ok injected wrong result: failed={wrong['failed']}/{wrong['attempted']}, "
          f"error_rate={rate:.3f}, correct={wrong['correct']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
