"""Per-query timing and plan-shape harness (guide §1).

For each named query (default: the three bench tiers), runs the query
with the noop sink (times computation, not the sink — guide §1.4),
best-of-N after warmups, labels jobs (§1.5), and writes
``plans/r16/<name>_<tag>.txt`` with the ``explain("formatted")`` output
plus a one-line plan-shape summary (Exchange count, join strategies,
Python-eval nodes) so before/after plan diffs are mechanical.

Usage:
  python tools/measure_r16.py [--tag before|after] [--reps 3] [--warm 1] [names...]

Prints one JSON line {"tag", "times": {name: sec}, "sf_dir"}.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HEADLINE, TIER2, TIER3  # noqa: E402
from crm_etl_pipeline_spark.registry import load_all  # noqa: E402
from crm_etl_pipeline_spark.session import get_spark  # noqa: E402


def _formatted(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


def _shape(plan: str) -> str:
    counts = {
        "Exchange": len(re.findall(r"\bExchange\b", plan)),
        "BroadcastExchange": len(re.findall(r"\bBroadcastExchange\b", plan)),
        "SortMergeJoin": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "BroadcastHashJoin": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "ShuffledHashJoin": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "BatchEvalPython": len(re.findall(r"\bBatchEvalPython\b", plan)),
        "ArrowEvalPython": len(re.findall(r"\bArrowEvalPython\b", plan)),
        "MapInPandas": len(re.findall(r"\bMapInPandas\b", plan)),
        "PythonMapInArrow": len(re.findall(r"\b(?:PythonMapInArrow|MapInArrow)\b", plan)),
        "Sort": len(re.findall(r"\bSort\b", plan)),
        "WholeStageCodegen": len(re.findall(r"WholeStageCodegen", plan)),
    }
    return ", ".join(f"{k}={v}" for k, v in counts.items() if v)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--warm", type=int, default=1)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reg = load_all()
    names = args.names or [n for n in HEADLINE + TIER2 + TIER3 if n in reg]
    outdir = Path(__file__).resolve().parent.parent / "plans" / "r16"
    outdir.mkdir(parents=True, exist_ok=True)

    spark = get_spark("measure-r16")
    times: dict[str, float] = {}
    for name in names:
        q = reg[name]
        if not args.no_plans:
            plan = _formatted(q.fn(spark, sf_dir))
            (outdir / f"{name}_{args.tag}.txt").write_text(
                f"# {name} — explain('formatted') at {sf_dir} [{args.tag}]\n"
                f"# shape: {_shape(plan)}\n\n{plan}"
            )
        spark.sparkContext.setJobDescription(f"r16:{args.tag}:{name}")
        for _ in range(args.warm):
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(args.reps):
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 4)
        spark.sparkContext.setJobDescription(None)
        print(f"  {name}: {times[name]}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"tag": args.tag, "times": times, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
