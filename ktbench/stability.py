#!/usr/bin/env python3
"""Run-to-run stability record: the benchmark several times per workload.

    python3 ktbench/stability.py --workloads ivm_trickle ivm_bulk \
        --seeds 1-10 --sets 2 --out ktbench/records/stability.json

Each run is ``run.py --workload W --seed S --seconds <run_seconds>``, one
after another (never concurrently); every set draws its own seeds. For
every workload, set and metric the record holds the values, their
quartiles (``statistics.quantiles``, n=4) and the spread
(q3 - q1) / median; across sets it holds the ratio of the second median
to the first. ``--trace 1`` records the per-layer
metrics instead. Rerunning with the same --out resumes: runs already in
the file are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartiles  # noqa: E402


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def _one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        cwd=os.path.dirname(HERE),
    )
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {}
    return {"seed": seed, "exit": p.returncode, "wall_s": time.time() - t0, "result": res}


def summarize(runs: list[dict]) -> dict:
    names = sorted({k for r in runs for k in r["result"].get("metrics", {})})
    out = {}
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs
                if name in r["result"].get("metrics", {})]
        if len(vals) >= 2:
            out[name] = {**quartiles(vals), "values": vals}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": seconds, "cpus": len(os.sched_getaffinity(0)), "sets": {}}
    if os.path.exists(args.out):
        with open(args.out) as f:
            record = json.load(f)
    for s in range(args.sets):
        for w in args.workloads:
            key = f"{w}/set{s + 1}"
            entry = record["sets"].setdefault(key, {"runs": []})
            done = {r["seed"] for r in entry["runs"]}
            seeds = _seeds(args.seeds)
            # each set gets its own seeds: set 2 of --seeds 1-10 runs 11-20
            for seed in [x + s * len(seeds) for x in seeds]:
                if seed in done:
                    continue
                r = _one(w, seed, seconds, args.trace)
                entry["runs"].append(r)
                print(f"{key} seed {seed}: exit {r['exit']} in {r['wall_s']:.0f} s", file=sys.stderr)
                entry["summary"] = summarize(entry["runs"])
                with open(args.out, "w") as f:
                    json.dump(record, f, indent=1)
    report = {}
    for w in args.workloads:
        sets = [record["sets"].get(f"{w}/set{s + 1}", {}).get("summary", {}) for s in range(args.sets)]
        for name, first in sets[0].items():
            row = {"spread": [st[name]["spread"] for st in sets if name in st],
                   "median": [st[name]["median"] for st in sets if name in st]}
            if len(row["median"]) == 2 and row["median"][0]:
                row["second_over_first"] = row["median"][1] / row["median"][0]
            if name in bounds:
                row["bound"] = bounds[name]
            report[f"{w}:{name}"] = row
    record["report"] = report
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    for k, row in report.items():
        print(k, json.dumps(row))
    return 0


if __name__ == "__main__":
    sys.exit(main())
