#!/usr/bin/env python3
"""Smoke test of the benchmark at a tiny input size.

    python3 perfbench/smoke.py

Checks BENCHMARK.json against the limits its runner relies on, then runs
every workload untraced and traced at --scale 0.05 and checks that each
result line is well formed, correct, and carries exactly the metrics
BENCHMARK.json lists, each with its unit. Last, it runs the benchmark in a
directory holding only BENCHMARK.json and perfbench/, where it must fail
without printing a result. Exits 1 on the first failure.
"""
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check(cond, msg):
    if not cond:
        print(f"FAIL: {msg}", file=sys.stderr)
        sys.exit(1)


def check_spec(bench):
    check(set(bench) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}, "BENCHMARK.json keys")
    check(1 <= bench["run_seconds"] <= 60, "run_seconds")
    check(2 <= len(bench["workloads"]) <= 8, "workload count")
    names = [w["name"] for w in bench["workloads"]]
    for w in bench["workloads"]:
        check(set(w) == {"name", "why"} and len(w["why"]) <= 200, f"workload {w}")
    check(1 <= len(bench["end_to_end"]) <= 16, "end_to_end count")
    check(1 <= len(bench["per_layer"]) <= 128, "per_layer count")
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    check("setup_s" in e2e and e2e["setup_s"]["unit"] == "s"
          and e2e["setup_s"]["better"] == "lower", "setup_s")
    check(e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()),
          "setup_s has the largest bound")
    for m in bench["end_to_end"]:
        check(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25,
              f"metric {m}")
    for m in bench["per_layer"]:
        check(set(m) == {"name", "unit", "better"}, f"metric {m}")
    for m in bench["end_to_end"] + bench["per_layer"]:
        check(NAME.match(m["name"]) and UNIT.match(m["unit"])
              and m["better"] in ("lower", "higher"), f"metric {m}")
        names.append(m["name"])
    check(len(names) == len(set(names)), "names are unique")


def run(args, cwd=REPO):
    return subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def main():
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    check_spec(bench)
    for w in bench["workloads"]:
        for trace, listed in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            r = run(["--workload", w["name"], "--seed", "7", "--seconds", "1",
                     "--trace", str(trace), "--scale", "0.05"])
            check(r.returncode == 0, f"{w['name']} trace {trace} exit {r.returncode}:\n"
                  + r.stderr[-2000:])
            res = json.loads(r.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, "result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w['name']} trace {trace} correctness")
            want = {m["name"]: m["unit"] for m in listed}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w['name']} trace {trace} metrics differ: "
                  f"{sorted(set(got) ^ set(want))}")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w['name']} trace {trace} non-numeric value")
            print(f"ok  {w['name']} trace {trace}")
    bare = HERE / ".work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "target"))
    shutil.copy(REPO / "BENCHMARK.json", bare)
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        bench["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True, text=True,
                       timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    check(r.returncode != 0 and '"correct"' not in r.stdout,
          "a directory without the engine sources must fail without a result")
    print("ok  fails cleanly without the engine sources")


if __name__ == "__main__":
    main()
