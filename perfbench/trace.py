"""Spans, process counters and Spark's own instruments for the benchmark.

``Spans`` records one span per public call (name, start, end, parent,
run id) in memory; the report writes them out once at the end. The
rest reads instruments the program already has and is only attached
in a traced run:

- ``ProgressListener``, a ``StreamingQueryListener`` that keeps each
  trigger's ``durationMs``;
- ``stage_counters``, which reads the status store (``AppStatusStore``)
  after a pass and splits its jobs and stages by step;
- ``plan_phases_ms``, which reads the ``QueryPlanningTracker`` of a
  query's ``QueryExecution``.

Streaming micro-batch jobs run under their query's run id as job
group, not under any group the caller sets, so jobs are attributed to
a step by submission time instead: the loop is closed and
single-client, so no two steps' jobs interleave.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

TRIGGER_PHASES = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "latestOffset",
    "getBatch",
)
STAGE_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "off_stage_ms",
)


class Spans:
    """In-memory span log. ``span(name)`` nests under the open span."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, start: float | None = None):
        """Span from ``start`` (default: now) until the block exits."""
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time() if start is None else start,
            "end": None,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def children(self, parent: dict) -> list[dict]:
        return [r for r in self.records if r["parent"] == parent["id"]]

    def seconds(self, rec: dict) -> float:
        return rec["end"] - rec["start"]


class ProgressListener(StreamingQueryListener):
    """Collects every trigger's ``durationMs`` (traced runs only)."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def flush_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so
    the status store and the progress listener are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _java_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def stage_counters(spark, steps: list[dict]) -> dict[str, dict[str, float]]:
    """Per-step Spark counters from the status store. ``steps`` are span
    records; a job belongs to the step whose span holds its submission
    time. ``off_stage_ms`` is the step's wall time minus the time any
    of its stages was running."""
    flush_listeners(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {s["name"]: dict.fromkeys(STAGE_COUNTERS, 0) for s in steps}
    busy: dict[str, list[tuple[float, float]]] = {s["name"]: [] for s in steps}
    seen: set[int] = set()
    for job in _java_iter(store.jobsList(None)):
        submitted = _ms(job.submissionTime())
        step = next(
            (s for s in steps if submitted is not None and s["start"] - 0.001 <= submitted <= s["end"] + 0.001),
            None,
        )
        if step is None:
            continue
        c = out[step["name"]]
        c["jobs"] += 1
        for sid in _java_iter(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["executor_run_ms"] += st.executorRunTime()
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.diskBytesSpilled()
            lo, hi = _ms(st.submissionTime()), _ms(st.completionTime())
            if lo is not None and hi is not None:
                busy[step["name"]].append((max(lo, step["start"]), min(hi, step["end"])))
    for s in steps:
        covered, reach = 0.0, s["start"]
        for lo, hi in sorted(busy[s["name"]]):
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["name"]]["off_stage_ms"] = max(0.0, s["end"] - s["start"] - covered) * 1000
    return out


def plan_phases_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``, from
    its ``QueryPlanningTracker``; forces planning if not yet done."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(
        sum(
            phases.apply(k).durationMs()
            for k in ("analysis", "optimization", "planning")
            if phases.contains(k)
        )
    )


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and all its live
    descendants (the Python driver, its JVM and any Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat_fields(int(d))[1])
            except (OSError, IndexError):
                continue  # exited while listing
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree.update(kids)
        frontier.extend(kids)
    ticks = 0
    for pid in tree:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MB."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


class StealMeter:
    """Share of CPU time stolen by the hypervisor between start and read."""

    def __init__(self):
        self._t0 = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals[:8])

    def share(self) -> float:
        steal, total = self._read()
        d_total = total - self._t0[1]
        return (steal - self._t0[0]) / d_total if d_total > 0 else 0.0
