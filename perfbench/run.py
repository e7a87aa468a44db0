"""CDC engine benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload snapshot_merge --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. The inputs are
generated from ``--seed`` by a separate single-threaded process
(``perfbench/gen.py``) before any clock starts; everything the run
writes stays under ``.perfbench_work/`` in the checkout. The last line
of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones from a traced run (spans and
counts are also dumped to ``.perfbench_work/trace-<workload>-<seed>.json``).
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.time()  # setup_s counts from here, minus input generation

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description="CDC engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "tidb_cdc_spark", "__init__.py")):
        print(f"perfbench: no tidb_cdc_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # metric names and units: BENCHMARK.json is the one list of them
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in declared["per_layer"]}

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "input")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every temporary file of Spark and its Python workers in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM of spark-submit
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a fixed, small driver heap: the inputs are small, and peak RSS then
    # does not depend on how far the JVM happened to grow its heap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"

    t_gen, c_gen = time.time(), workloads.cpu_s()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", inputs],
        check=True,
    )
    # input generation is not set-up
    t_start = T_START + (time.time() - t_gen)
    cpu_offset = workloads.cpu_s() - c_gen

    run = workloads.Run(args.workload, work, inputs, args.seed, args.seconds, bool(args.trace),
                        t_start, cpu_offset)
    try:
        metrics = workloads.WORKLOADS[args.workload](run)
        metrics["peak_rss_mb"] = workloads.peak_rss_mb(run)
        run.log("all figures " + " ".join(f"{k}={v:.4g}" for k, v in metrics.items()))
        if args.trace:
            layer = workloads.layer_metrics(run)
            layer.update({f"traced.{k}": v for k, v in metrics.items()})
            trace_path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
    finally:
        if run.spark is not None:
            run.stop_spark()
    if args.trace:
        layer.update(workloads.spark_layer_metrics(run))
        run.tracer.dump(trace_path, {"checks": run.checks, "spark_by_layer": run.spark_by_layer,
                                     "metrics": layer})
        names, values = per_layer, layer
    else:
        names, values = end_to_end, metrics
    for c in run.checks:
        if not c["ok"]:
            print(f"perfbench: check failed: {c}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
