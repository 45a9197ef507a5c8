#!/usr/bin/env python3
"""KG-construction benchmark: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload graph_build --seed 7 --seconds 10 --trace 0

Run it from the repository root (it builds nothing; the package is pure
Python). The last line of stdout is
{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}:
with --trace 0 the end-to-end metrics of BENCHMARK.json, measured with
tracing off; with --trace 1 its per-layer metrics, from a run with spans,
the Spark status-store diff and the Python profilers on. A per-layer metric
whose layer the workload does not run reads 0. Spans of a traced run go to
.perfbench/traces/. Workload sizes and the layer -> end-to-end metric map
are in perfbench/workloads.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    with open(os.path.join(HERE, "workloads.json")) as f:
        specs = json.load(f)["workloads"]
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(specs))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="how long the timed passes run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    import harness as H
    import workloads as W  # imports nlp_cube_spark: fails outside a full checkout

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    # every temporary file (package zip, Spark local dirs, JVM tmp, Python
    # workers) stays inside the checkout
    tempfile.tempdir = work
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    cores = H.nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    ctx = W.Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), cores=cores, work=work,
                spec=specs[args.workload], tracer=H.Tracer(bool(args.trace)))
    try:
        e2e = W.WORKLOADS[args.workload](ctx)
    finally:
        H.wait_for_children()
        shutil.rmtree(work, ignore_errors=True)

    for err in ctx.errors:
        print(f"CHECK FAILED {err}", file=sys.stderr)
    if args.trace:
        ctx.tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"))
        values, names = ctx.layer, bench["per_layer"]
    else:
        values, names = e2e, bench["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0) if args.trace else values[m["name"]],
                           "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": not ctx.errors, "attempted": ctx.attempted,
                      "failed": len(ctx.errors), "metrics": metrics}))


if __name__ == "__main__":
    main()
