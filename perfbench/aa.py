"""A/A spread: run the benchmark on several seeds and report, per
end-to-end metric, the median and the quartile spread as a share of it.

    python3 perfbench/aa.py --workloads analytics,corpus --seeds 1-10

The spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``.  Each metric's spread should stay
below a third of its bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload, seed, seconds, trace=0) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=180, check=True)
    log = [ln for ln in out.stderr.splitlines()
           if "pass seconds" in ln or "phase seconds" in ln]
    return json.loads(out.stdout.strip().splitlines()[-1]), log[-2:]


def spread(values) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for workload in args.workloads.split(","):
        values, failed = {}, 0
        for seed in seeds(args.seeds):
            res, log = run_once(workload, seed, bench["run_seconds"])
            failed += res["failed"] or not res["correct"]
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
                *log, sep="\n  ", flush=True)
        print(f"{workload}: {len(seeds(args.seeds))} runs, failed {failed}")
        for name, vs in values.items():
            s = spread(vs)
            flag = ""
            if name != "setup_s" and s > bounds[name] / 3:
                flag, ok = "  > bound/3", False
            print(f"  {name:14s} median {statistics.median(vs):10.4f}  "
                  f"spread {s:6.3f}  bound {bounds[name]}{flag}")
        ok = ok and not failed
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
