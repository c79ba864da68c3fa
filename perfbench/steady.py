"""Run a workload once per seed and report each end-to-end metric's
median and spread (inter-quartile distance over the median) against
its bound in BENCHMARK.json.

    python3 perfbench/steady.py WORKLOAD SEED [SEED ...]

Run from the repository root.  Each run's result line is printed as it
arrives.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.getcwd())

from perfbench.stats import median, spread  # noqa: E402


def main() -> None:
    workload, seeds = sys.argv[1], sys.argv[2:]
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", seed,
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        print(seed, out, flush=True)
        result = json.loads(out)
        if not result["correct"]:
            sys.exit(f"seed {seed}: outputs not correct")
        for name in values:
            values[name].append(result["metrics"][name]["value"])
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        s = spread(v) if len(v) > 1 else float("nan")
        print(f"{m['name']:>14}  median {median(v):10.3f} {m['unit']:<3} "
              f"spread {s:6.3f}  bound {m['bound']}  ratio {s / m['bound']:5.2f}")


if __name__ == "__main__":
    main()
