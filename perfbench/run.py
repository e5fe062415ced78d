"""CRM benchmark: one command, one workload per run, one JSON result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cdc_sf0.1 --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/NOTES.md for why each exists):

- ``cdc_sf0.1``: the streaming CDC loop (run, drain, replay, compact,
  serve) over 15k base customers and 100k events;
- ``analytics_sf0.1``: ten CRM headline queries into a noop sink.

The inputs are generated from ``--seed`` (and cached); each run then
starts a fresh worker process on ``local[nproc]`` (``perfbench/worker.py``).
The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are ``setup_s`` and ``pass_s``; with
``--trace 1`` they are the per-layer metrics. The line before it holds
the host block, every pass's wall and CPU time and the peak RSS, and
the full
report (every pass, spans, Spark counters per step) is written to
``perfbench/_work/reports/``. The analytics warm-up pass runs on the
sf0.01 inputs of the same seed. ``--tiny`` runs the workload once at
sf0.01 with no warm-up, for the self-test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: workload -> (sf of the timed passes, sf of the warm-up pass). A cold
#: pass costs about as much at either sf; analytics warms up on sf0.01,
#: where its oracle check is ten times cheaper, while the CDC pass after
#: an sf0.01 warm-up still burns ~20 % more CPU than after an sf0.1 one
WORKLOADS = {"cdc_sf0.1": (0.1, 0.1), "analytics_sf0.1": (0.1, 0.01)}
TINY_SF = 0.01
#: the result must be printed within 180 s of start
DEADLINE_S = 170
END_TO_END = {"setup_s": "s", "pass_s": "s"}


def _program_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "crm_etl_pipeline_spark")) and os.path.isfile(
        os.path.join(ROOT, "tools", "gen_scale.py")
    )


def _worker_env(workroot: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write in ``workroot``,
    and run on ``local[nproc]`` unless ``SPARK_GRAFT_CPUS`` says otherwise."""
    tmp = os.path.join(workroot, "tmp")
    os.makedirs(tmp)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.update(
        TMPDIR=tmp,
        TZ="UTC",
        SPARK_LOCAL_DIRS=os.path.join(workroot, "spark-local"),
        # the launcher JVM and the driver JVM: temp files here, no
        # hsperfdata files in the system temp directory
        SPARK_LAUNCHER_OPTS=jvm_opts,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '{jvm_opts}' pyspark-shell",
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
    )
    return env


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (normally only a
    JVM still shutting down) and wait until all of it has exited."""
    deadline = time.time() + 10
    try:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        while time.time() < deadline:
            os.killpg(proc.pid, 0)  # raises once the group is empty
            time.sleep(0.05)
    except ProcessLookupError:
        pass
    proc.wait()


def main(argv: list[str] | None = None) -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="one pass at sf0.01, no warm-up")
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: no crm_etl_pipeline_spark checkout at {ROOT}", file=sys.stderr)
        return 2

    from perfbench import inputs

    sf, warm_sf = (TINY_SF, TINY_SF) if args.tiny else WORKLOADS[args.workload]
    warm_dir, _ = inputs.ensure(warm_sf, args.seed)
    sf_dir, manifest = inputs.ensure(sf, args.seed)
    if args.workload.startswith("analytics"):
        inputs.query_digests(warm_dir)

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    workroot = os.path.join(inputs.WORK, "runs", run_id)
    reports = os.path.join(inputs.WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    out_path = os.path.join(reports, f"{run_id}.json")
    log_path = os.path.join(reports, f"{run_id}.log")
    env = _worker_env(workroot)
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--sf-dir", sf_dir, "--warm-dir", warm_dir,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-id", run_id, "--workroot", workroot, "--out", out_path,
        "--cpus-given", os.environ.get("SPARK_GRAFT_CPUS", ""),
    ] + (["--tiny"] if args.tiny else [])
    try:
        with open(log_path, "w") as log:
            t_spawn = time.time()
            proc = subprocess.Popen(
                cmd + ["--t-spawn", repr(t_spawn)],
                cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _kill_group(proc)  # the JVM and any Python workers go with it
    finally:
        shutil.rmtree(workroot, ignore_errors=True)
    if code != 0 or not os.path.exists(out_path):
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: worker {why}; log: {log_path}", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 1
    with open(out_path) as f:
        report = json.load(f)
    report["inputs"] = {"sf_dir": sf_dir, "generate_s": manifest["generate_s"], "tables": manifest["tables"]}
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)

    if args.trace:
        from perfbench.worker import layer_units

        values = {k: report["layers"].get(k, 0) for k in layer_units()}
        units = layer_units()
    else:
        values = {k: report.get(k) for k in END_TO_END}
        units = END_TO_END
    complete = all(v is not None for v in values.values())
    correct = complete and report["failed"] == 0
    for msg in report["failures"]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload, "timed_passes": report["timed_passes"],
        "peak_rss_mb": report["peak_rss_mb"],
        "passes": [{k: p[k] for k in ("label", "wall_s", "cpu_s")} for p in report["passes"]],
        "host": report["host"], "inputs": report["inputs"]["tables"], "report": out_path,
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": v if v is not None else 0.0, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
