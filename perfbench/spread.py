"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py doc_suite 1 2 3 4 5 6 7 8 9 10

Runs ``perfbench/run.py`` once per seed (untraced, ``run_seconds`` from
``BENCHMARK.json``), one run at a time, prints each result with the run's
wall time, then per end-to-end metric the
median, the quartiles and the spread: the distance between the first and
third quartile as a share of the median, next to the metric's bound.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    workload, seeds = argv[0], argv[1:]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in seeds:
        t0 = time.perf_counter()
        out = subprocess.run(
            [*spec["command"], "--workload", workload, "--seed", seed,
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": int(seed),
                          "run_s": round(time.perf_counter() - t0, 1), **result}),
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{m['name']:>12}: median {med:.4g} {m['unit']}, quartiles "
              f"{q1:.4g}..{q3:.4g}, spread {(q3 - q1) / med:.3f} "
              f"(bound {m['bound']}), n={len(v)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
