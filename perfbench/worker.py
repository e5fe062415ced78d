"""One benchmark run in a fresh process: set up, warm up, time passes.

Started by ``perfbench/run.py``, which owns input generation and the
printed result; this process writes its report to ``--out``.

Closed loop, one client: every call waits for the previous one. After
``WARMUP`` untimed passes over ``--warm-dir`` (their outputs are
checked), passes over ``--sf-dir`` are timed until their total reaches
``--seconds``, at least one. Each
timed pass reports its wall time and the CPU time of this process
tree (Python driver, JVM, Python workers).

With ``--trace 1`` the run times one untraced pass and then one traced
pass: the streaming progress listener is attached, and the status
store and planning trackers are read. The traced pass gives the
per-layer metrics; traced minus untraced pass time is the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import time

import pyspark

from crm_etl_pipeline_spark import io as crm_io
from crm_etl_pipeline_spark import registry as crm_registry
from crm_etl_pipeline_spark.session import get_spark

from perfbench import inputs, workloads
from perfbench.trace import (
    STAGE_COUNTERS,
    TRIGGER_PHASES,
    ProgressListener,
    Spans,
    StealMeter,
    flush_listeners,
    peak_rss_mb,
    stage_counters,
    tree_cpu_s,
)

WARMUP = 1
CDC_TABLES = ("customer", "events")
STEP_COUNTERS = ("jobs", "executor_cpu_ms", "off_stage_ms")
STORAGE = (
    ("store.files", "count"),
    ("store.bytes", "B"),
    ("dlq.files", "count"),
    ("retry_queue.files", "count"),
    ("base.files", "count"),
    ("write_amplification", "ratio"),
)
_COUNTER_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "off_stage_ms": "ms",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric, in report order, with its unit."""
    units = {"session.get_spark_s": "s", "registry.load_all_s": "s"}
    units.update({f"{step}_s": "s" for step in workloads.CDC_STEPS})
    units.update(
        {
            "streaming.triggers": "count",
            "streaming.retry_passes": "count",
            "streaming.replay_passes": "count",
        }
    )
    units.update({f"streaming.trigger.{p}_ms": "ms" for p in TRIGGER_PHASES})
    units.update(dict(STORAGE))
    for q in workloads.QUERIES:
        units.update(
            {
                f"queries.{q}.build_s": "s",
                f"queries.{q}.plan_ms": "ms",
                f"queries.{q}.exec_s": "s",
                f"queries.{q}.rows": "count",
            }
        )
    units.update({f"spark.{c}": _COUNTER_UNITS[c] for c in STAGE_COUNTERS})
    steps = list(workloads.CDC_STEPS) + [f"queries.{q}" for q in workloads.QUERIES]
    for step in steps:
        units.update({f"{step}.spark.{c}": _COUNTER_UNITS[c] for c in STEP_COUNTERS})
    units.update({"trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s"})
    units.update({"process.cpu_s": "s", "process.peak_rss_mb": "MB"})
    return units


class Run:
    def __init__(self, args):
        self.args = args
        self.kind = args.workload.split("_", 1)[0]
        self.tables = CDC_TABLES if self.kind == "cdc" else inputs.TABLES
        self.workroot = args.workroot
        self.spans = Spans(args.run_id)
        self.ops = workloads.Ops()
        self.passes: list[dict] = []
        self.manifests = {}
        for d in {args.sf_dir, args.warm_dir}:
            with open(os.path.join(d, "manifest.json")) as f:
                self.manifests[d] = json.load(f)
        self.layers: dict[str, float] = {}

    # -- setup --------------------------------------------------------

    def setup(self) -> None:
        sp = self.spans
        with sp.span("setup", start=self.args.t_spawn) as rec:
            with sp.span("session.get_spark") as s1:
                self.spark = get_spark("perfbench")
            with sp.span("registry.load_all") as s2:
                self.registry = crm_registry.load_all()
            with sp.span("register_inputs"):
                for name in self.tables:
                    crm_io.table(self.spark, self.args.sf_dir, name).createOrReplaceTempView(name)
        self.setup_s = sp.seconds(rec)
        self.layers["session.get_spark_s"] = sp.seconds(s1)
        self.layers["registry.load_all_s"] = sp.seconds(s2)
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    # -- passes -------------------------------------------------------

    def _pass(self, label: str, sf_dir: str, check: bool, traced: bool = False) -> dict:
        """Run one pass over ``sf_dir``; returns its record. Checks run
        after the timed region; CDC work directories are removed
        afterwards."""
        manifest = self.manifests[sf_dir]
        workdir = os.path.join(self.workroot, label)
        cpu0 = tree_cpu_s(os.getpid())
        with self.spans.span(label) as rec:
            t0 = time.perf_counter()
            if self.kind == "cdc":
                out = workloads.cdc_pass(self.spark, sf_dir, workdir, self.spans, self.ops)
            elif check:
                workloads.analytics_check_pass(
                    self.spark, sf_dir, self.registry, inputs.query_digests(sf_dir), self.spans, self.ops
                )
                out = {}
            else:
                out = workloads.analytics_pass(
                    self.spark, sf_dir, self.registry, self.spans, self.ops, traced
                )
            wall = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        record = {"label": label, "sf": manifest["sf"], "wall_s": wall, "cpu_s": cpu}
        if self.kind == "cdc":
            tables = manifest["tables"]
            input_bytes = tables["customer"]["bytes"] + tables["events"]["bytes"]
            record["storage"] = workloads.cdc_storage(out, input_bytes)
            record["out"] = {k: out[k] for k in ("retry_passes", "replay_passes", "rows")}
            if check:
                workloads.cdc_check(self.spark, sf_dir, out, manifest["expected"], self.ops)
            shutil.rmtree(workdir, ignore_errors=True)
        self.passes.append(record)
        return {**record, "span": rec, "out": out}

    def run(self) -> None:
        for i in range(0 if self.args.tiny else WARMUP):
            self._pass(f"warmup{i}", self.args.warm_dir, check=True)
        timed: list[dict] = []
        seconds = 0 if self.args.trace else self.args.seconds
        # tiny mode has no warm-up, so its timed pass is the checked one
        check = self.kind == "cdc" or self.args.tiny
        while not timed or sum(p["wall_s"] for p in timed) < seconds:
            timed.append(self._pass(f"pass{len(timed)}", self.args.sf_dir, check))
        self.pass_s = statistics.median(p["wall_s"] for p in timed)
        self.cpu_s = statistics.median(p["cpu_s"] for p in timed)
        self.layers["process.cpu_s"] = self.cpu_s
        self.timed = len(timed)
        if self.args.trace:
            self._traced()

    def _traced(self) -> None:
        listener = ProgressListener()
        self.spark.streams.addListener(listener)
        try:
            rec = self._pass("traced", self.args.sf_dir, check=self.kind == "cdc", traced=True)
            flush_listeners(self.spark)
        finally:
            self.spark.streams.removeListener(listener)
        sp, L = self.spans, self.layers
        steps = sp.children(rec["span"])
        counters = stage_counters(self.spark, steps)
        for c in STAGE_COUNTERS:
            L[f"spark.{c}"] = sum(v[c] for v in counters.values())
        for step, vals in counters.items():
            for c in STEP_COUNTERS:
                L[f"{step}.spark.{c}"] = vals[c]
        if self.kind == "cdc":
            for s in steps:
                L[f"{s['name']}_s"] = sp.seconds(s)
            L["streaming.triggers"] = len(listener.progress)
            for p in TRIGGER_PHASES:
                L[f"streaming.trigger.{p}_ms"] = sum(d.get(p, 0) for d in listener.progress)
            L["streaming.retry_passes"] = rec["out"]["retry_passes"]
            L["streaming.replay_passes"] = rec["out"]["replay_passes"]
            L.update(rec["storage"])
        else:
            for s in steps:
                for sub in sp.children(s):
                    kind = sub["name"].rsplit(".", 1)[1]
                    if kind != "plan":
                        L[f"{s['name']}.{kind}_s"] = sp.seconds(sub)
            # counted after the status store was read, so these jobs
            # are in no step's counters
            for q, (df, ms) in rec["out"].items():
                L[f"queries.{q}.plan_ms"] = ms
                L[f"queries.{q}.rows"] = df.count()
        L["trace.pass_s"] = rec["wall_s"]
        L["trace.untraced_pass_s"] = self.pass_s
        L["trace.overhead_s"] = rec["wall_s"] - self.pass_s
        self.counters = counters

    # -- report -------------------------------------------------------

    def host(self, steal: float) -> dict:
        sc = self.spark.sparkContext
        with open("/proc/meminfo") as f:
            mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "cpu_count": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_GRAFT_CPUS_given": self.args.cpus_given or None,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark.sql.shuffle.partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": sc.getConf().get("spark.driver.memory", None),
            "jvm_max_heap_mb": self.spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
            "mem_total_mb": mem_kb / 1024,
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "seed": self.args.seed,
            "sf": self.manifests[self.args.sf_dir]["sf"],
            "warmup_sf": self.manifests[self.args.warm_dir]["sf"],
            "steal_share": steal,
        }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--warm-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--workroot", required=True)
    ap.add_argument("--cpus-given")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    steal = StealMeter()
    run = Run(args)
    report: dict = {"workload": args.workload, "trace": args.trace}
    try:
        run.setup()
        try:
            run.run()
        except workloads.OpFailed:
            pass  # recorded in run.ops; the report says which call raised
        run.layers["process.peak_rss_mb"] = peak_rss_mb([os.getpid(), run.jvm_pid])
        report.update(
            setup_s=run.setup_s,
            pass_s=getattr(run, "pass_s", None),
            cpu_s=getattr(run, "cpu_s", None),
            timed_passes=getattr(run, "timed", 0),
            peak_rss_mb=run.layers["process.peak_rss_mb"],
            attempted=run.ops.attempted,
            failed=len(run.ops.failed),
            failures=run.ops.failed,
            passes=run.passes,
            layers=run.layers,
            counters=getattr(run, "counters", None),
            host=run.host(steal.share()),
            spans=run.spans.records,
        )
    finally:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1, default=str)
        spark = getattr(run, "spark", None)
        if spark is not None:
            spark.stop()


if __name__ == "__main__":
    main()
