#!/usr/bin/env python3
"""Repeat benchmark runs over several seeds and record how steady each metric is.

    python3 benchmark/steadiness.py --seeds 1-10 --label set1
    python3 benchmark/steadiness.py --seeds 1-10 --label set2 --workloads medallion

For every workload in BENCHMARK.json (or those named), runs
`benchmark/run.py --workload <w> --seed <s> --seconds <run_seconds> --trace 0`
once per seed and appends to benchmark/steadiness.json, under the label, the
values of each end-to-end metric with their median, quartiles
(`statistics.quantiles(values, n=4)`), spread (q3 - q1) / median and the
metric's bound, plus each run's process wall.
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
RECORD = os.path.join(HERE, "steadiness.json")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--label", required=True)
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    record = {}
    if os.path.isfile(RECORD):
        with open(RECORD) as f:
            record = json.load(f)
    entry = record.setdefault(a.label, {"host_cores": os.cpu_count(), "workloads": {}})

    for w in workloads:
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            lines = [l for l in p.stdout.splitlines() if l.strip()]
            result = json.loads(lines[-1]) if lines else None
            ok = p.returncode == 0 and result is not None and result["correct"]
            print(f"{w} seed {s}: exit {p.returncode} correct {ok} wall {wall:.1f}s", flush=True)
            runs.append({"seed": s, "exit": p.returncode, "wall_s": round(wall, 1),
                         "correct": bool(ok),
                         "metrics": {k: v["value"] for k, v in (result or {}).get("metrics", {}).items()}})
        metrics = {}
        for name in bounds:
            vals = [r["metrics"][name] for r in runs if name in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, q2, q3 = statistics.quantiles(vals, n=4)
            metrics[name] = {"median": q2, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / q2 if q2 else None,
                             "bound": bounds[name], "values": vals}
            print(f"  {name:14s} median {q2:12.4f} spread {metrics[name]['spread']:.3f} "
                  f"(bound {bounds[name]})", flush=True)
        entry["workloads"][w] = {"runs": runs, "metrics": metrics}
        with open(RECORD, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
