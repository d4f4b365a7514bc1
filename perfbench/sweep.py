#!/usr/bin/env python3
"""Run the benchmark over workloads x seeds and save a result set.

    python3 perfbench/sweep.py --out results.jsonl [--workloads a,b] \
        [--seeds 1,2,3 | --runs 10 --first-seed 1] [--trace 0|1] [--seconds S]

Run from the root of a checkout. Each line of the result set is
{"workload", "seed", "trace", "wall_s", "result"}, where `result` is the
JSON line the benchmark printed (null if the run failed). Workloads and
the run length default to those in BENCHMARK.json.
"""
import argparse
import json
import os
import subprocess
import sys
import time


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")] if a.seeds else \
        list(range(a.first_seed, a.first_seed + a.runs))
    with open(a.out, "a") as out:
        for w in a.workloads.split(","):
            for seed in seeds:
                cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                          "--seconds", str(a.seconds), "--trace", a.trace]
                t0 = time.time()
                r = subprocess.run(cmd, stdout=subprocess.PIPE)
                wall = time.time() - t0
                lines = r.stdout.decode().splitlines()
                result = None
                if r.returncode == 0 and lines:
                    try:
                        result = json.loads(lines[-1])
                    except ValueError:
                        pass
                rec = {"workload": w, "seed": seed, "trace": int(a.trace),
                       "wall_s": round(wall, 2), "result": result}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                summary = [l for l in lines[:-1] if l.startswith(w)]
                print(f"{w} seed={seed} wall={wall:.1f}s exit={r.returncode} "
                      f"{summary[0] if summary else ''}", file=sys.stderr)


if __name__ == "__main__":
    main()
