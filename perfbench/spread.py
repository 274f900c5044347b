"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--out spread.json]

Runs the benchmark once per (workload, seed), untraced, and prints for
each metric the median and the distance between the first and third
quartile as a share of the median, next to the metric's bound in
BENCHMARK.json. Exits non-zero if any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs, ok = {}, True
    for w in args.workloads.split(","):
        for s in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else {}
            detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
            ok &= p.returncode == 0 and res.get("correct", False)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-2000:])
            runs.setdefault(w, []).append({"seed": s, "exit": p.returncode, "result": res, "detail": detail})
            vals = {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()}
            print(w, s, p.returncode, json.dumps(vals), flush=True)
    table = {}
    for w, rs in runs.items():
        for name in bounds:
            vals = [r["result"]["metrics"][name]["value"] for r in rs if name in r["result"].get("metrics", {})]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            table[f"{w}/{name}"] = {"median": med, "iqr_frac": (q3 - q1) / med, "bound": bounds[name]}
            print(f"{w:14s} {name:22s} median {med:12.4f}  iqr/median {(q3 - q1) / med:7.4f}  bound {bounds[name]}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": runs, "spread": table}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
