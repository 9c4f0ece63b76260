"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload search --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Spark runs local[<cores of this process>]
from this one process with one client thread. Everything the run writes
goes under .perfbench/ in the repository root. With --trace 0 the last
line of stdout holds the end-to-end metrics of BENCHMARK.json; with
--trace 1 it holds the per-layer metrics, and the spans, the full
per-layer table and the traced-vs-untraced delta go to
.perfbench/trace/. The line before it is a JSON detail object: the
figures named for this workload alone, the input properties and any
oracle mismatches. Exits 1 if any answer differs from the oracle.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# per-layer figures the event log cannot give; they need spans inside
# the program
DEFERRED = {
    "index_query.input_mb": "the query kernels read posting files through "
    "pyarrow inside the Python worker, which Spark's input metrics do not "
    "see (batch.spark_input_mb_per_call is what Spark itself reads)",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=3_000,
                   help="base corpus size (the self-test shrinks it)")
    return p.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()          # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Spark's shuffle and spill go here, not to get_spark's
    # /dev/shm/spark-local: a run reads and writes only inside the
    # checkout. Spark prefers this variable to spark.local.dir.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    sys.path.insert(0, ROOT)

    from perfbench.trace import EventLog, Tracer
    from perfbench.workloads import WORKLOADS, Run

    run = Run(args.workload, args.seed, args.seconds, args.docs, WORK,
              Tracer(bool(args.trace)))
    try:
        res = WORKLOADS[args.workload](run)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)

    detail = {"workload": args.workload, "seed": args.seed,
              "docs": args.docs, "trace": args.trace,
              "e2e": res.e2e,
              "named": {k: {"value": v, "unit": u}
                        for k, (v, u) in res.named.items()},
              "failed_ratio": run.failed / max(run.attempted, 1),
              "inputs": res.inputs, "failures": run.failures}
    if args.trace:
        layers = res.layers(EventLog(os.path.join(WORK, "eventlog", run.tag),
                                     run.tracer.spans))
        detail["layers"] = layers
        detail["deferred"] = DEFERRED
        detail["tracing_overhead"] = overhead(res.e2e, run.tag)
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
        write_json(os.path.join(WORK, "trace", f"{run.tag}.json"),
                   {**detail, "spans": run.tracer.spans})
    else:
        metrics = {m["name"]: {"value": res.e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    write_json(os.path.join(WORK, "results", f"{run.tag}-trace{args.trace}.json"),
               detail)
    correct = run.failed == 0 and run.attempted > 0 and all(
        isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
        for v in metrics.values())
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


def overhead(traced: dict, tag: str) -> dict:
    """Traced minus untraced, as a share of untraced, per end-to-end
    metric — against the last untraced run of the same workload and seed."""
    path = os.path.join(WORK, "results", f"{tag}-trace0.json")
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload and seed yet"}
    with open(path) as f:
        untraced = json.load(f)["e2e"]
    return {k: (traced[k] - untraced[k]) / untraced[k] for k in traced}


def write_json(path: str, obj: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, default=str, indent=1)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
