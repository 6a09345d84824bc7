"""Steadiness mode: run one workload several times, each in a fresh
process with its own seed, and print the median, quartiles and spread
((q3 - q1) / median) of every metric, beside its bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload online_rw --runs 10 --seconds 14

With ``--overhead`` every seed also gets a traced run, and the tracing
overhead (traced minus untraced median) of each end-to-end metric is
printed too."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    return json.loads(lines[-1])


def summarize(values, bounds):
    out = {}
    for name, xs in values.items():
        med, q1, q3, sp = spread(xs)
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                     "bound": bounds.get(name), "values": xs}
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    plain, traced = {}, {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.perf_counter()
        res = run_once(args.workload, seed, args.seconds, 0)
        wall = time.perf_counter() - t0
        for k, v in res["metrics"].items():
            plain.setdefault(k, []).append(v["value"])
        if args.overhead:
            res = run_once(args.workload, seed, args.seconds, 1)
            for k, v in res["metrics"].items():
                if k.startswith("traced."):
                    traced.setdefault(k[len("traced."):], []).append(v["value"])
        print(f"seed {seed} done, untraced run {wall:.1f} s", file=sys.stderr, flush=True)
    report = {"workload": args.workload, "runs": args.runs,
              "metrics": summarize(plain, bounds)}
    if args.overhead:
        report["tracing_overhead"] = {
            k: spread(traced[k])[0] - report["metrics"][k]["median"] for k in traced
        }
    for name, m in report["metrics"].items():
        flag = "" if m["bound"] is None or m["spread"] < m["bound"] / 3 else "  <-- above bound/3"
        print(f"{name:>16}: median {m['median']:.4g}  q1 {m['q1']:.4g}  q3 {m['q3']:.4g}  "
              f"spread {m['spread']:.3f}  bound {m['bound']}{flag}", file=sys.stderr)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
