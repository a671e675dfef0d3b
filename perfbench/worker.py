"""One benchmark run inside a fresh Python + JVM process (started by run.py).

Closed loop, one client: set up the session, run one discarded pass (its
query results are kept for the oracle check), then run timed passes until
``--seconds`` have elapsed. Everything the orchestrator needs is pickled to
``result.pkl`` in the working directory; the orchestrator runs the DuckDB
oracles and prints the result.

With ``--trace 1`` the tracer is installed before the package's operator
modules are imported, and the timed window alternates untraced and traced
passes so the tracing overhead is measured in the same process.
"""

from __future__ import annotations

import argparse
import os
import pickle
import random
import statistics
import sys
import threading
import time
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
OP_TIMEOUT_S = 60.0


def _peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


class Runner:
    """Runs passes of one workload; every phase sets its own job group."""

    def __init__(self, spark, tracer, cores: int) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.cores = cores
        self.pass_label = "setup"

    def phase(self, op: str, name: str):
        return self.tracer.phase(self.sc, op, name, self.pass_label)

    def _watchdog(self) -> threading.Timer:
        """Cancel the running phase's jobs once an operation overruns."""
        def fire():
            group = self.tracer.group
            if group is not None:
                self.sc.cancelJobGroup(group)
        t = threading.Timer(OP_TIMEOUT_S, fire)
        t.daemon = True
        t.start()
        return t

    def run_op(self, op: str, body) -> dict:
        rec: dict = {"op": op}
        dog = self._watchdog()
        t0 = perf_counter()
        try:
            body(rec)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
        finally:
            dog.cancel()
        rec["wall_s"] = perf_counter() - t0
        if rec["wall_s"] > OP_TIMEOUT_S and "error" not in rec:
            rec["error"] = f"timeout: {rec['wall_s']:.1f} s > {OP_TIMEOUT_S} s"
        return rec

    def run_pass(self, rng: random.Random, label: str, keep: bool,
                 traced: bool) -> tuple[float, list[dict]]:
        self.pass_label = label
        self.tracer.enabled = traced
        t_wall = time.time()
        t0 = perf_counter()
        ops = self._pass(rng, keep, traced)
        pass_s = perf_counter() - t0
        self.tracer.span(label, None, t_wall, time.time())
        self.tracer.enabled = False
        return pass_s, ops


class QueryRunner(Runner):
    def __init__(self, spark, tracer, cores, names, data_dir) -> None:
        super().__init__(spark, tracer, cores)
        import __spark_entry__ as entry

        qmap = entry.queries()
        self.names = list(names)
        self.qmap = {n: qmap[n] for n in self.names}
        self.data_dir = data_dir

    def _pass(self, rng, keep, traced):
        ops = []
        for name in rng.sample(self.names, len(self.names)):
            def body(rec, name=name):
                t0 = perf_counter()
                with self.phase(name, "construct"):
                    df = self.qmap[name](self.spark, self.data_dir)
                t1 = perf_counter()
                with self.phase(name, "action"):
                    if traced:
                        self.tracer.catalyst(df, name)
                    if keep:
                        rec["columns"] = df.columns
                        rec["rows"] = [tuple(r) for r in df.collect()]
                    else:
                        df.write.format("noop").mode("overwrite").save()
                rec["construct_s"] = t1 - t0
                rec["exec_s"] = perf_counter() - t1
            ops.append(self.run_op(name, body))
        return ops

    def checks(self, setup_ops, _ops) -> list[dict]:
        """The discarded pass collected every query's result."""
        from __spark_entry__ import ALL_ORACLES

        return [{"op": o["op"], "label": o["op"], "error": o.get("error"),
                 "columns": o.get("columns"), "rows": o.get("rows"),
                 "sql": ALL_ORACLES[o["op"]], "tol": 1e-9} for o in setup_ops]

    def layers(self, counts, pass_s: float) -> dict[str, float]:
        from workloads import query_key

        m: dict[str, float] = {}
        tot: dict[str, float] = {}
        for name in self.names:
            c = counts.get((name, "construct"), {})
            a = counts.get((name, "action"), {})
            p = counts.get((name, "plan"), {})
            q = query_key(name)
            m[f"{q}.construct_s"] = c.get("wall_s", 0.0)
            m[f"{q}.exec_s"] = a.get("wall_s", 0.0)
            m[f"{q}.py4j_calls"] = c.get("py4j_calls", 0.0)
            m[f"{q}.construct_jobs"] = c.get("jobs", 0.0)
            for src, prefix in ((c, "c."), (a, "a."), (p, "p.")):
                for k, v in src.items():
                    tot[prefix + k] = tot.get(prefix + k, 0.0) + v
        m.update(_common_layers(tot, self.cores))
        m["ledger.coverage"] = (tot.get("c.wall_s", 0.0) + tot.get("a.wall_s", 0.0)) / pass_s
        return m


class RasterRunner(Runner):
    SINKS = (("write_cube", "write_cube"), ("write_events_json", "write_events"),
             ("write_index_json", "write_index"))

    def __init__(self, spark, tracer, cores, pixels_path, out_dir, traced) -> None:
        super().__init__(spark, tracer, cores)
        import pyarrow.parquet as pq

        self.pixels_path = pixels_path
        self.pixel_rows = pq.ParquetFile(pixels_path).metadata.num_rows
        self.out_dir = out_dir
        if traced:
            # write_outputs imports the writers at call time, so wrapping the
            # module attributes gives every sink its own phase (job group);
            # the Catalyst probe plans the DataFrame each sink is handed
            import bloomy_etl_spark.sinks.writers as writers

            for attr, label in self.SINKS:
                orig = getattr(writers, attr)

                def wrapped(df, *a, _orig=orig, _label=label, **kw):
                    with self.phase("raster", _label):
                        self.tracer.catalyst(df, "raster")
                        return _orig(df, *a, **kw)

                setattr(writers, attr, wrapped)

    def _pass(self, rng, keep, traced):
        from pyspark.sql import functions as F

        from bloomy_etl_spark.pipeline import run_pipeline, write_outputs

        def body(rec):
            t0 = perf_counter()
            with self.phase("raster", "construct"):
                res = run_pipeline(self.spark.read.parquet(self.pixels_path))
            t1 = perf_counter()
            if traced:
                write_outputs(res, self.out_dir)
            else:
                with self.phase("raster", "sinks"):
                    write_outputs(res, self.out_dir)
            t2 = perf_counter()
            with self.phase("raster", "readback"):
                cube = self.spark.read.parquet(f"{self.out_dir}/cube")
                summary = cube.groupBy(F.col("date").alias("day")).agg(
                    F.count(F.lit(1)).alias("n_px"),
                    F.round(F.sum("ndvi"), 4).alias("sum_ndvi"),
                    F.round(F.sum("evi"), 4).alias("sum_evi"),
                    F.max("num_granules_merged").alias("n_granules"),
                )
                rec["columns"] = summary.columns
                rec["rows"] = [tuple(r) for r in summary.collect()]
            rec.update(construct_s=t1 - t0, sinks_s=t2 - t1,
                       readback_s=perf_counter() - t2)
        return [self.run_op("raster", body)]

    def checks(self, _setup_ops, ops) -> list[dict]:
        """The last pass's outputs are still on disk: its read-back cube
        summary and its events file. The float32 cube values summed per day
        allow for last-digit flips of the 4-dp rounding (tolerance 1e-6)."""
        from oracles import raster_oracle_sql, read_events

        last = ops[-1]
        sql = raster_oracle_sql(self.pixels_path)
        ev_cols, ev_rows = (None, None) if "error" in last else read_events(
            os.path.join(self.out_dir, "events"))
        return [
            {"op": "raster", "label": "cube_summary", "error": last.get("error"),
             "columns": last.get("columns"), "rows": last.get("rows"),
             "sql": sql["cube_summary"], "tol": 1e-6},
            {"op": "raster", "label": "events", "error": last.get("error"),
             "columns": ev_cols, "rows": ev_rows, "sql": sql["events"], "tol": 1e-6},
        ]

    def layers(self, counts, pass_s: float) -> dict[str, float]:
        def wall(phase):
            return counts.get(("raster", phase), {}).get("wall_s", 0.0)

        tot: dict[str, float] = {}
        for (_, phase), c in counts.items():
            prefix = {"construct": "c.", "plan": "p."}.get(phase, "a.")
            for k, v in c.items():
                tot[prefix + k] = tot.get(prefix + k, 0.0) + v
        m = _common_layers(tot, self.cores)
        m["pipeline.construct_s"] = wall("construct")
        for _, label in self.SINKS:
            m[f"sinks.{label}_s"] = wall(label)
        m["sinks.readback_s"] = wall("readback")
        read = sum(c.get("input_records", 0.0) for (_, ph), c in counts.items()
                   if ph != "readback")
        m["sources.scans_per_pass"] = read / self.pixel_rows
        m["sinks.bytes_per_input_byte"] = (
            _dir_bytes(self.out_dir) / os.path.getsize(self.pixels_path))
        m["ledger.coverage"] = (wall("construct") + sum(wall(l) for _, l in self.SINKS)
                                + wall("readback")) / pass_s
        return m


def _common_layers(tot: dict[str, float], cores: int) -> dict[str, float]:
    """Layer totals shared by every workload, from phase-prefixed sums
    (c. = construct, a. = action/sinks, p. = Catalyst probes)."""
    g = tot.get
    action_s = g("a.wall_s", 0.0)
    return {
        "session.pin_calls": g("c.pin_calls", 0.0) + g("a.pin_calls", 0.0),
        "session.pin_s": g("c.pin_s", 0.0) + g("a.pin_s", 0.0),
        "driver.py4j_calls": g("c.py4j_calls", 0.0),
        "driver.py4j_s": g("c.py4j_s", 0.0),
        "operators.construct_s": g("c.wall_s", 0.0),
        "operators.construct_jobs": g("c.jobs", 0.0),
        "operators.construct_job_s": g("c.job_s", 0.0),
        "plan.analysis_s": g("p.analysis_s", 0.0),
        "plan.optimization_s": g("p.optimization_s", 0.0),
        "plan.planning_s": g("p.planning_s", 0.0),
        "exec.action_s": action_s,
        "exec.jobs": g("a.jobs", 0.0),
        "exec.stages": g("a.stages", 0.0),
        "exec.tasks": g("a.tasks", 0.0),
        "exec.task_run_s": g("a.task_run_s", 0.0),
        "exec.cpu_busy_frac": g("a.task_run_s", 0.0) / (action_s * cores) if action_s else 0.0,
        "exec.shuffle_write_bytes": g("a.shuffle_write_bytes", 0.0),
        "exec.spill_bytes": g("a.spill_bytes", 0.0),
        "exec.failed_tasks": g("a.failed_tasks", 0.0) + g("c.failed_tasks", 0.0),
        "sources.input_bytes": g("a.input_bytes", 0.0) + g("c.input_bytes", 0.0),
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--deadline", type=float, required=True)
    a = ap.parse_args(argv)

    sys.path.insert(0, a.root)
    sys.path.insert(0, HERE)
    from tracing import Tracer
    from workloads import WORKLOADS

    wl = WORKLOADS[a.workload]
    tracer = Tracer()
    if a.trace:
        tracer.install()  # before any operator module binds session.pin

    t0 = perf_counter()
    from bloomy_etl_spark import get_spark

    spark = get_spark(
        app_name=f"perfbench-{a.workload}",
        master=f"local[{a.cores}]",
        extra_conf={
            # the package default (48g) is sized for a dedicated box
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(a.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(a.work, "warehouse"),
        },
    )
    import __spark_entry__ as entry

    entry._ship_package(spark)
    session_start_s = perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid

    if wl["kind"] == "queries":
        runner = QueryRunner(spark, tracer, a.cores, wl["queries"], a.data)
    else:
        runner = RasterRunner(spark, tracer, a.cores, os.path.join(a.data, "pixels.parquet"),
                              os.path.join(a.work, "out"), bool(a.trace))

    rng = random.Random(a.seed)
    _, setup_ops = runner.run_pass(rng, "setup", keep=True, traced=False)
    setup_s = time.time() - a.spawned_at

    passes: list[tuple[float, bool]] = []
    ops: list[dict] = []
    layer_samples: list[dict[str, float]] = []
    t_win = perf_counter()
    while True:
        traced = bool(a.trace) and len(passes) % 2 == 1
        pass_s, pass_ops = runner.run_pass(rng, f"pass{len(passes)}", keep=False,
                                           traced=traced)
        passes.append((pass_s, traced))
        ops.extend(pass_ops)
        if traced:
            tracer.read_jobs(runner.sc)
            layer_samples.append(runner.layers(tracer.take(), pass_s))
        # a traced run alternates untraced and traced passes (u, t, u): the
        # untraced pair brackets the traced one, so the warm-up trend across
        # passes cancels out of the tracing overhead
        done = len(passes) >= (3 if a.trace else 1) and perf_counter() - t_win >= a.seconds
        if done or time.time() + 1.5 * pass_s > a.deadline:
            break

    result = {
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "passes": passes,
        "setup_ops": setup_ops,
        "ops": ops,
        "peak_rss_mb": _peak_rss_mb([os.getpid(), jvm_pid]),
    }
    result["checks"] = runner.checks(setup_ops, ops)
    if layer_samples:
        layers = {k: statistics.median(s[k] for s in layer_samples) for k in layer_samples[0]}
        plain = [p for p, t in passes if not t]
        traced_s = [p for p, t in passes if t]
        layers["trace.pass_s"] = statistics.median(traced_s)
        layers["trace.overhead_s"] = statistics.median(traced_s) - statistics.median(plain)
        layers["session.start_s"] = session_start_s
        result["layers"] = layers
        tracer.write(os.path.join(a.work, "spans.json"))
    with open(os.path.join(a.work, "result.pkl"), "wb") as f:
        pickle.dump(result, f)

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    # the JVM exits when its stdin closes; wait so no process outlives the run
    proc.stdin.close()
    proc.wait(timeout=60)
    return 0


if __name__ == "__main__":
    sys.exit(main())
