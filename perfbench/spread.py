#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the way bounds are judged.

    python3 perfbench/spread.py --runs 10 [--workload search] [--first-seed 1]

Runs each workload of BENCHMARK.json once per seed (seeds first-seed ..
first-seed+runs-1), then prints, for every workload and end-to-end metric,
the median and the interquartile distance as a share of the median
(statistics.quantiles(values, n=4)) next to the metric's bound. Raw
results go to stdout as JSON lines prefixed with "run:".
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    names = a.workload or [w["name"] for w in SPEC["workloads"]]
    ok = True
    for w in names:
        values = {m["name"]: [] for m in SPEC["end_to_end"]}
        walls = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(SPEC["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            print("run:", json.dumps({"workload": w, "seed": seed, "rc": p.returncode,
                                      "wall_s": round(walls[-1], 1), "result": last}),
                  flush=True)
            r = json.loads(last) if last.startswith("{") else {}
            if p.returncode != 0 or not r.get("correct"):
                print(p.stderr[-2000:], file=sys.stderr)
                ok = False
                continue
            for k in values:
                values[k].append(r["metrics"][k]["value"])
        for m in SPEC["end_to_end"]:
            v = values[m["name"]]
            if len(v) < 4:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            print(f"{w:18s} {m['name']:12s} median {med:12.3f} {m['unit']:8s} "
                  f"spread {(q3 - q1) / med:6.3f}  bound {m['bound']}  n={len(v)}")
        print(f"{w:18s} run wall median {statistics.median(walls):.1f} s", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
