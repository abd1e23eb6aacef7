#!/usr/bin/env python3
"""Steadiness check of the CLI-job benchmark.

    python3 perfbench/steady.py --workload keyed_upsert --seeds 1-10 [--trace 0] [--mix K=V,...] [--log FILE]

Runs perfbench/run.py once per seed, one run at a time, and prints each
run's metrics with the host steal seconds and process CPU seconds of its
timed window, then per metric the median, the quartiles and the spread
(third minus first quartile, over the median) as
`statistics.quantiles(values, n=4)` gives them. `--log` appends every
run's result and diagnostics as one JSON line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--mix", default="")
    ap.add_argument("--log")
    a = ap.parse_args()

    runs = []
    for seed in seeds(a.seeds):
        t = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
            + (["--mix", a.mix] if a.mix else []),
            cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"seed {seed}: run.py exited with {p.returncode}")
        diag = json.loads(lines[-2].split(": ", 1)[1])
        res = json.loads(lines[-1])
        run = {"seed": seed, "wall_s": round(wall, 1), "diag": diag, **res}
        runs.append(run)
        if a.log:
            with open(a.log, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "trace": a.trace, **run}) + "\n")
        vals = " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
        print(f"seed {seed:>3} wall {wall:5.1f}s steal {diag['window_steal_s']:5.2f}s "
              f"cpu {diag['window_cpu_s']:6.1f}s failed {res['failed']}/{res['attempted']} "
              f"correct {res['correct']} {vals}", flush=True)

    print(f"\n{a.workload}: {len(runs)} runs")
    for name in runs[0]["metrics"]:
        v = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(v)
        if len(v) >= 2:
            q1, _, q3 = statistics.quantiles(v, n=4)
        else:
            q1 = q3 = med
        spread = (q3 - q1) / med if med else float("nan")
        print(f"  {name:32s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  "
              f"spread {spread:7.2%}")
    for key in ("window_steal_s", "window_cpu_s"):
        v = [r["diag"][key] for r in runs]
        print(f"  {key:32s} " + " ".join(f"{x:.1f}" for x in v))


if __name__ == "__main__":
    main()
