"""Tracing for the per-layer ledger, kept entirely in the benchmark's files.

Nothing here edits the package. The tracer wraps two call sites from the
outside and reads everything else back from Spark:

* ``py4j.clientserver.JavaClient.send_command`` (and its gateway-client
  base): every driver→JVM round trip, counted and timed per phase;
* ``bloomy_etl_spark.session.pin``: patched *before* any operator module
  is imported, because the operators bind ``pin`` by name at import;
* one Spark job group per phase, so the JVM status store attributes every
  job, stage and task to the phase (construct / action / each sink) that
  launched it. PySpark 4.1 has no ``clearJobGroup``; each phase sets a
  fresh group;
* Catalyst phase times from ``queryExecution().tracker()``.

Spans and counters live in memory and are written once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from time import perf_counter

# stage statuses that mean "never ran in this job" (its output was reused)
_NOT_RUN = {"SKIPPED", "PENDING"}


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.key: tuple[str, str] | None = None  # (operation, phase)
        self.group: str | None = None  # job group of the running phase
        self.counts: dict[tuple[str, str], dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.spans: list[dict] = []
        self._groups: dict[str, tuple[str, str]] = {}
        self._seq = 0

    # ---- wrappers ---------------------------------------------------------
    def install(self) -> None:
        """Wrap py4j's send_command and ``session.pin``. Must run before the
        operator modules are imported."""
        from py4j.clientserver import JavaClient

        import bloomy_etl_spark.session as session

        tracer = self
        orig_send = JavaClient.send_command

        def send_command(client, *a, **kw):
            if tracer.key is None:
                return orig_send(client, *a, **kw)
            t0 = perf_counter()
            try:
                return orig_send(client, *a, **kw)
            finally:
                tracer._add("py4j_calls", 1)
                tracer._add("py4j_s", perf_counter() - t0)

        JavaClient.send_command = send_command

        orig_pin = session.pin

        def pin(df, eager=True):
            t0 = perf_counter()
            try:
                return orig_pin(df, eager=eager)
            finally:
                if tracer.key is not None:
                    tracer._add("pin_calls", 1)
                    tracer._add("pin_s", perf_counter() - t0)

        session.pin = pin

    def _add(self, name: str, v: float) -> None:
        key = self.key
        if key is not None:
            self.counts[key][name] += v

    # ---- phases -----------------------------------------------------------
    @contextlib.contextmanager
    def phase(self, sc, op: str, phase: str, parent: str):
        """Run one phase under its own job group; record its span."""
        self._seq += 1
        group = f"perfbench-{self._seq}"
        sc.setJobGroup(group, f"{op} · {phase}")
        self.group = group
        if not self.enabled:
            try:
                yield group
            finally:
                self.group = None
            return
        self._groups[group] = (op, phase)
        self.key = (op, phase)
        t0 = time.time()
        p0 = perf_counter()
        try:
            yield group
        finally:
            self.key = self.group = None
            counts = self.counts[(op, phase)]
            counts["wall_s"] += perf_counter() - p0
            self.spans.append({"name": f"{op}/{phase}", "parent": parent,
                               "start": t0, "end": time.time(), "group": group,
                               "counts": dict(counts)})

    def span(self, name: str, parent: str | None, start: float, end: float) -> None:
        if self.enabled:
            self.spans.append({"name": name, "parent": parent,
                               "start": start, "end": end})

    def catalyst(self, df, op: str) -> None:
        """Force ``df``'s own optimization + physical planning and record the
        tracker's phase times (the write that follows plans again; that second
        planning is part of the tracing overhead)."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            if phases.contains(name):
                self.counts[(op, "plan")][f"{name}_s"] += (
                    phases.apply(name).durationMs() / 1000.0)

    # ---- JVM status store -------------------------------------------------
    def read_jobs(self, sc) -> None:
        """Attribute every job launched under a traced group (since the last
        call) to its phase: job count and duration, and the stage metrics of
        the stages that actually ran. Call it between phases, so its own py4j
        traffic is not counted."""
        if not self._groups:
            return
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        seen_stages: set[int] = set()
        for group, key in self._groups.items():
            c = self.counts[key]
            for jid in tracker.getJobIdsForGroup(group):
                job = store.job(jid)
                c["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    c["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1000.0
                it = job.stageIds().iterator()
                while it.hasNext():
                    sid = it.next()
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() in _NOT_RUN:
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    c["failed_tasks"] += st.numFailedTasks()
                    c["task_run_s"] += st.executorRunTime() / 1000.0
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.diskBytesSpilled()
                    c["input_bytes"] += st.inputBytes()
                    c["input_records"] += st.inputRecords()
        self._groups.clear()

    def take(self) -> dict[tuple[str, str], dict[str, float]]:
        """Return and reset the counters gathered since the last call."""
        out = {k: dict(v) for k, v in self.counts.items()}
        self.counts.clear()
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
