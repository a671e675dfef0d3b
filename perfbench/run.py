#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload iterative_construct --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The orchestrator (this file) generates the
seeded inputs, starts one fresh Python + JVM worker (worker.py) on
``local[<cores>]``, then checks the worker's outputs against DuckDB oracles
(limited to the same thread count) and prints, as the last stdout line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer ledger with
``--trace 1``. A human-readable summary line precedes it.

All files are written under ``.perfbench_work/`` in the repository root and
the run's own directory is removed at exit; traced runs keep their spans in
``.perfbench_work/traces/``. See NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import TINY, WORKLOADS, query_key  # noqa: E402

RUN_LIMIT_S = 170.0  # a run must end within 180 s
END_TO_END = {"setup_s": "s", "pass_s": "s"}
# error_rate is 0 on a healthy run and peak_rss_mb does not repeat within a
# tenth across runs, so both are reported here rather than gated end to end
LAYER_UNITS = {
    "peak_rss_mb": "MB", "error_rate": "ratio",
    "session.start_s": "s", "session.pin_calls": "count", "session.pin_s": "s",
    "driver.py4j_calls": "count", "driver.py4j_s": "s",
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "operators.construct_job_s": "s",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.cpu_busy_frac": "ratio",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "sources.input_bytes": "bytes", "sources.scans_per_pass": "ratio",
    "pipeline.construct_s": "s", "sinks.write_cube_s": "s",
    "sinks.write_events_s": "s", "sinks.write_index_s": "s",
    "sinks.readback_s": "s", "sinks.bytes_per_input_byte": "ratio",
    "oracle.duckdb_s": "s", "oracle.full_ratio": "ratio",
    "trace.pass_s": "s", "trace.overhead_s": "s", "ledger.coverage": "ratio",
}
for _wl in WORKLOADS.values():
    for _q in _wl.get("queries", ()):
        for _suffix, _unit in (("construct_s", "s"), ("exec_s", "s"),
                               ("py4j_calls", "count"), ("construct_jobs", "count")):
            LAYER_UNITS[f"{query_key(_q)}.{_suffix}"] = _unit


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill the worker's process group (worker, JVM, Python daemons) and wait."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):  # the group outlives the worker while the JVM exits
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="drop one row of one result before the oracle check (self-test)")
    a = ap.parse_args(argv)
    t_start = time.time()
    # a terminated run still stops its worker and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("__spark_entry__.py", "bloomy_etl_spark", os.path.join("tests", "oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a checkout "
                  "of the repository", file=sys.stderr)
            return 2
    wl = dict(WORKLOADS[a.workload])
    if a.tiny:
        wl.update({k: v for k, v in TINY.items() if k in wl})
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    data = os.path.join(work, "data")
    for d in ("data", "tmp", "spark-local", "duck-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    proc = None
    log_path = os.path.join(work, "worker.log")
    try:
        import inputs
        import oracles

        if wl["kind"] == "queries":
            inputs.write_tables(data, wl["sf"], a.seed)
        else:
            inputs.write_pixels(os.path.join(data, "pixels.parquet"), a.seed,
                                wl["tiles"], wl["days"], wl["grid"])

        # keep every write inside the run directory: Python and JVM temp
        # files, Spark local dirs, and no JVM perf-data file under /tmp
        tmp = os.path.join(work, "tmp")
        java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        env = dict(os.environ, TMPDIR=tmp,
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   JAVA_TOOL_OPTIONS=f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}",
                   PYTHONDONTWRITEBYTECODE="1")
        spawned_at = time.time()
        deadline = t_start + RUN_LIMIT_S - 25.0  # leaves time for the oracles
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"),
                 "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--root", ROOT, "--data", data, "--work", work,
                 "--cores", str(cores), "--spawned-at", repr(spawned_at),
                 "--deadline", repr(deadline)],
                cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True)
            try:
                rc = proc.wait(timeout=max(deadline + 15.0 - time.time(), 1.0))
            except subprocess.TimeoutExpired:
                rc = None
        _stop_group(proc)
        if rc != 0:
            with open(log_path) as f:
                tail = f.read()[-4000:]
            print(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'}\n"
                  f"{tail}", file=sys.stderr)
            return 3
        with open(os.path.join(work, "result.pkl"), "rb") as f:
            res = pickle.load(f)

        bad, duck_s = oracles.check_all(res["checks"], ROOT, data,
                                        os.path.join(work, "duck-tmp"), cores, a.inject_wrong)
        attempted = len(res["ops"])
        failed_ops = [o["op"] for o in res["ops"] if "error" in o or o["op"] in bad]
        failures = {o["op"]: o["error"] for o in res["ops"] + res["setup_ops"] if "error" in o}
        failures.update(bad)
        pass_s = statistics.median(p for p, traced in res["passes"] if not traced)
        error_rate = len(failed_ops) / attempted

        if a.trace:
            values = {k: 0.0 for k in LAYER_UNITS}
            values.update(res["layers"])
            values["error_rate"] = error_rate
            values["peak_rss_mb"] = res["peak_rss_mb"]
            values["oracle.duckdb_s"] = duck_s
            values["oracle.full_ratio"] = pass_s / duck_s if duck_s else 0.0
            shutil.copy(os.path.join(work, "spans.json"), _trace_path(base, a))
            units = LAYER_UNITS
        else:
            values = {"setup_s": res["setup_s"], "pass_s": pass_s}
            units = END_TO_END
        print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: "
              f"setup_s={res['setup_s']:.3f} pass_s={pass_s:.3f} "
              f"error_rate={error_rate:.4f} peak_rss_mb={res['peak_rss_mb']:.1f} "
              f"passes={len(res['passes'])} oracle.duckdb_s={duck_s:.3f}"
              + (f" failures={json.dumps(failures)}" if failures else ""))
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failed_ops),
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            _stop_group(proc)
        shutil.rmtree(work, ignore_errors=True)


def _trace_path(base: str, a) -> str:
    os.makedirs(os.path.join(base, "traces"), exist_ok=True)
    return os.path.join(base, "traces", f"{a.workload}-s{a.seed}-{os.getpid()}.json")


if __name__ == "__main__":
    sys.exit(main())
