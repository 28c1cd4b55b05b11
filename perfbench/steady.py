#!/usr/bin/env python3
"""Steadiness check: run the untraced benchmark on several seeds and report,
per end-to-end metric, the median, the quartiles and the spread (interquartile
distance as a share of the median) against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload corpus_dedup --seeds 1-10 --out perfbench/steadiness/corpus_dedup.json

Run from the repository root. Each run is a separate process, one at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float], bound: float | None) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    out = {"values": values, "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
    if bound is not None:
        out |= {"bound": bound, "spread_over_bound": out["spread"] / bound}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", help="write the record here as JSON")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for seed in seeds(a.seeds):
        cmd = [*bench["command"], "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        rec_path = os.path.join(ROOT, ".perfbench", "records", f"{a.workload}-seed{seed}-trace0.json")
        with open(rec_path) as f:
            rec = json.load(f)
        runs.append({"seed": seed, "wall_s": wall, "correct": res["correct"], "attempted": res["attempted"],
                     "failed": res["failed"], "metrics": {k: v["value"] for k, v in res["metrics"].items()},
                     "box": rec["box"], "context": rec["context"], "pass_s": rec["pass_s"]})
        print(f"seed {seed}: wall {wall:.1f} s, correct {res['correct']}, "
              + ", ".join(f"{k} {v:.4g}" for k, v in list(runs[-1]["metrics"].items())[:6]), flush=True)

    names = list(runs[0]["metrics"])
    summary = {n: summarise([r["metrics"][n] for r in runs], bounds.get(n)) for n in names}
    summary["wall_s"] = summarise([r["wall_s"] for r in runs], None)
    for n, s in summary.items():
        extra = f"  spread/bound {s['spread_over_bound']:.2f}" if "bound" in s else ""
        print(f"{n}: median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  spread {s['spread']:.3f}{extra}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
