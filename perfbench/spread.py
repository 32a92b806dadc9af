#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

    python3 perfbench/spread.py --workload registry_queries --runs 10 [--seed0 1]
        [--seconds 18]
    python3 perfbench/spread.py --all --runs 10          # every workload

Runs the workload N times, each with its own seed (seed0, seed0+1, ...),
and prints for every metric its median, quartiles, min and max, and the
spread: (Q3 - Q1) / median, with the quartiles as Python's
statistics.quantiles(values, n=4) gives them. With the bounds from
BENCHMARK.json it marks each end-to-end metric whose spread is not below a
third of its bound (setup_s excepted: only its median is compared). Raw
values go to .bench_build/spread/<workload>.json.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

import run  # noqa: E402


def one(workload, seed, seconds):
    t0 = time.perf_counter()
    r = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, cwd=run.ROOT)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit("run failed: %s seed %d" % (workload, seed))
    return json.loads(lines[-2]), json.loads(lines[-1]), time.perf_counter() - t0


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args()
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    names = [w["name"] for w in bench["workloads"]] if args.all else [args.workload]
    out_dir = os.path.join(run.build_dir(), "spread")
    os.makedirs(out_dir, exist_ok=True)
    steady = True
    for name in names:
        rows = []
        for i in range(args.runs):
            summary, res, wall = one(name, args.seed0 + i, seconds)
            rows.append({"seed": args.seed0 + i, "correct": res["correct"], "wall_s": wall,
                         "steal_pct": summary["env"]["steal_pct"],
                         "contended": summary["env"]["contended"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print("%s seed %d: %.1f s, correct=%s, steal %.1f%%, contended=%s" % (
                name, args.seed0 + i, wall, res["correct"], summary["env"]["steal_pct"],
                summary["env"]["contended"]), flush=True)
        with open(os.path.join(out_dir, name + ".json"), "w") as f:
            json.dump(rows, f, indent=1)
        print("\n%s (%d runs, seeds %d..%d)" % (name, len(rows), args.seed0, args.seed0 + args.runs - 1))
        print("%-28s %12s %12s %12s %12s %12s %8s %6s" % (
            "metric", "median", "q1", "q3", "min", "max", "spread", "bound"))
        for k in rows[0]["metrics"]:
            vals = [r["metrics"][k] for r in rows]
            q1, med, q3, sp = spread(vals)
            b = bounds.get(k)
            flag = ""
            if b is not None and k != "setup_s" and not sp < b / 3:
                flag, steady = " <-- not below bound/3", False
            print("%-28s %12.6g %12.6g %12.6g %12.6g %12.6g %7.2f%% %6s%s" % (
                k, med, q1, q3, min(vals), max(vals), 100 * sp, b if b is not None else "", flag))
        if not all(r["correct"] for r in rows):
            steady = False
            print("some runs were not correct")
        if any(r["contended"] for r in rows):
            print("some runs started under ambient load (contended)")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
