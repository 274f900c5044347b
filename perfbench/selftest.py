"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

For every workload: one untraced and one traced run must print every
metric named in BENCHMARK.json with its unit, all outputs correct; and a
run whose results are deliberately corrupted before their check must
report failed operations and exit non-zero. Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, wrong: bool = False) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--scale", "tiny"]
    if wrong:
        cmd.append("--wrong-answer")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-3000:])
        return p.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(w, trace)
            if res is None or code != 0 or not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: exit {code}, result {res}")
                continue
            for m in bench[section]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], float):
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or mis-typed: {got}")
        code, res = run(w, 0, wrong=True)
        if code == 0 or res is None or res["correct"] or res["failed"] == 0:
            problems.append(f"{w}: a wrong answer was not caught (exit {code}, result {res})")
        else:
            print(f"{w}: wrong answers caught in {res['failed']}/{res['attempted']} operations")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
