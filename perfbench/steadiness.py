#!/usr/bin/env python3
"""Check that the benchmark is steady enough for its own bounds.

    python3 perfbench/steadiness.py --seeds 10 [--sets 2] [--workload curate]

Runs every workload (or the one named) once per seed, with seeds 1..N, and
for each end-to-end metric prints the median and the interquartile range
as a share of the median (quartiles as `statistics.quantiles(n=4)` gives
them). A metric is steady when that spread is below a third of its bound;
`setup_s` is exempt from the spread rule. With `--sets 2` it repeats the
whole set with the same seeds and also checks that no metric's second
median is worse than the first by more than its bound. Exits 1 when any
check fails. Every run's result line is appended to --log as JSON.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent


def run(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=REPO, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    res["report"] = {p[0]: float(p[1]) for p in map(str.split, lines[:-1]) if len(p) == 3}
    return res


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--workload")
    ap.add_argument("--log", type=Path)
    args = ap.parse_args()
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    metrics = bench["end_to_end"]
    workloads = [w["name"] for w in bench["workloads"]
                 if args.workload in (None, w["name"])]
    seeds = range(args.first_seed, args.first_seed + args.seeds)
    ok = True
    for w in workloads:
        medians = []
        for k in range(args.sets):
            results = []
            for s in seeds:
                res = run(w, s, bench["run_seconds"])
                results.append(res)
                if args.log:
                    with args.log.open("a") as f:
                        f.write(json.dumps({"workload": w, "set": k, "seed": s, **res}) + "\n")
                if not res["correct"] or res["failed"]:
                    print(f"{w} seed {s}: correctness failure", file=sys.stderr)
                    ok = False
            walls = [r["wall_s"] for r in results]
            print(f"{w} set {k}: {len(results)} runs, wall median {statistics.median(walls):.1f}s,"
                  f" max {max(walls):.1f}s")
            med = {}
            for m in metrics:
                vals = [r["metrics"][m["name"]]["value"] for r in results]
                med[m["name"]], sp = spread(vals)
                steady = m["name"] == "setup_s" or sp < m["bound"] / 3
                ok &= steady
                print(f"  {m['name']:<30} median {med[m['name']]:<14.6g} spread {sp:7.2%}"
                      f"  bound {m['bound']:.0%}  {'ok' if steady else 'UNSTEADY'}")
            medians.append(med)
        if len(medians) == 2:
            for m in metrics:
                a, b = medians[0][m["name"]], medians[1][m["name"]]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                agree = worse <= m["bound"]
                ok &= agree
                print(f"  {m['name']:<30} second set worse by {worse:7.2%}"
                      f"  {'ok' if agree else 'DISAGREES'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
