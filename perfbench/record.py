"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/record.py --workloads snapshot_merge many_tables \\
        --seeds 1 2 3 4 5 --trace 0 --out results.json

Runs ``perfbench/run.py`` once per (workload, seed), one after another,
with ``--seconds`` from ``BENCHMARK.json``. For every metric it reports
the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread, which is the interquartile distance as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    result = {"run_seconds": seconds, "trace": args.trace,
              "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())), "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            t0 = time.time()
            out = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-4000:])
                raise SystemExit(f"{w} seed {seed} exited {out.returncode}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            res["seed"], res["wall_s"] = seed, time.time() - t0
            res["log"] = [x for x in out.stderr.splitlines() if x.startswith("perfbench:")]
            runs.append(res)
            print(f"{w} seed {seed}: {res['wall_s']:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
        names = runs[0]["metrics"]
        result["workloads"][w] = {
            "runs": runs,
            "summary": {k: {**summarise([r["metrics"][k]["value"] for r in runs]),
                            "unit": names[k]["unit"]} for k in names},
            "all_correct": all(r["correct"] for r in runs),
        }
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    for w, d in result["workloads"].items():
        print(w, {k: round(v["spread"], 4) for k, v in d["summary"].items()})


if __name__ == "__main__":
    main()
