#!/usr/bin/env python3
"""Alternating parent/change pairs of the repository benchmark.

    python3 tools/abpairs.py <parent-checkout> <change-checkout> --workload W --pairs N
        [--seed0 11] [--seconds S] [--trace 0|1] [--out runs.json]

Pair i runs `perfbench/run.py --workload W --seed <seed0 + i>` once in each
checkout; even pairs run the parent first, odd pairs the change first. Each
side builds into its own `CARGO_TARGET_DIR` (`<checkout>/.bench_build`), so
the two engines never share a build. For every metric the last output line
reports, it prints each side's median and quartiles (Python's
statistics.quantiles, n=4), the change over the parent in percent, and how
many pairs each side won; ties count for neither side. A gain is marked
`GAIN` only over ten pairs or more, when the change wins at least nine
tenths of them and the medians differ by more than the parent's quartile
distance. An end-to-end metric whose change median is worse than the
parent's by more than its BENCHMARK.json bound is marked `OVER BOUND`. With
`--trace 0` it also prints the per-operation medians of the measured
passes, from each run's result file. Every run's summary and metrics go to
`--out` when given.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402


def run_side(checkout, workload, seed, seconds, trace):
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(checkout, ".bench_build"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit("abpairs: run failed in %s (seed %d, exit %d)" % (checkout, seed, r.returncode))
    summary, result = json.loads(lines[-2]), json.loads(lines[-1])
    ops = {}
    if trace == 0:
        tag = "%s-seed%d-trace0" % (workload, seed)
        with open(os.path.join(env["CARGO_TARGET_DIR"], "results", tag + ".json")) as f:
            passes = json.load(f)["result"]["passes"]
        for p in passes:
            if p["warm"] and not p.get("warmup") and not p["traced"]:
                for op in p["ops"]:
                    ops.setdefault(op["name"], []).append(op["wall_s"])
    return {"seed": seed, "summary": summary,
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "correct": result["correct"], "ops": ops}


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=11)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    declared = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}

    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_side(sides[side], args.workload, seed, seconds, args.trace)
            runs[side].append(r)
            env = r["summary"]["env"]
            print("pair %d seed %d %-6s load1 %.2f correct %s failed_ratio %s %s" % (
                i + 1, seed, side, env["load1_start"], r["correct"],
                r["summary"]["failed_ratio"],
                " ".join("%s=%.4g" % kv for kv in sorted(r["metrics"].items())
                         if kv[0] in ("pass_s", "setup_s", "construct.jobs"))), flush=True)

    n = args.pairs
    print("\n%s, %d pairs, seeds %d-%d, %g s runs" % (
        args.workload, n, args.seed0, args.seed0 + n - 1, seconds))
    print("%-28s %26s %26s %8s %9s" % ("metric", "parent median [q1, q3]",
                                       "change median [q1, q3]", "change", "wins c/p"))
    for name in sorted(runs["parent"][0]["metrics"]):
        p = [r["metrics"][name] for r in runs["parent"]]
        c = [r["metrics"][name] for r in runs["change"]]
        lower = declared.get(name, {}).get("better", "lower") == "lower"
        sign = -1 if lower else 1
        c_wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
        p_wins = sum(1 for a, b in zip(p, c) if sign * (a - b) > 0)
        pq, cq = quartiles(p), quartiles(c)
        delta = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else float("nan")
        marks = []
        if n >= 10 and c_wins >= 0.9 * n and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
            marks.append("GAIN")
        bound = declared.get(name, {}).get("bound")
        if bound is not None and pq[1] and sign * (cq[1] - pq[1]) / pq[1] < -bound:
            marks.append("OVER BOUND")
        print("%-28s %9.4g [%6.4g, %6.4g] %9.4g [%6.4g, %6.4g] %+7.1f%% %4d/%-4d %s" % (
            name, pq[1], pq[0], pq[2], cq[1], cq[0], cq[2], delta, c_wins, p_wins,
            " ".join(marks)))
    if args.trace == 0:
        print("\nper-operation median of the measured passes (all runs)")
        for op in sorted(runs["parent"][0]["ops"]):
            p = statistics.median(v for r in runs["parent"] for v in r["ops"].get(op, []))
            c = statistics.median(v for r in runs["change"] for v in r["ops"].get(op, []))
            print("%-28s %9.4g %9.4g %+7.1f%%" % (op, p, c, (c - p) / p * 100))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "pairs": n, "seed0": args.seed0,
                       "seconds": seconds, "trace": args.trace, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
