"""Self-test of the benchmark at tiny input sizes (a few minutes on 4 CPUs).

    python3 perfbench/selftest.py

Checks that
- an untraced run of each workload prints every end-to-end metric of
  ``BENCHMARK.json`` by name with its unit, and is correct;
- a traced run prints every per-layer metric, with the spread firing on
  ``table_checks`` and never on ``doc_suite``;
- a deliberately corrupted output (a verdict row, a verify result, the
  rows of a query) makes the operations that delivered it count as failed
  (op_fail_ratio above 0);
- the oracle comparison lets only rounding ties through;
- the generated ``table_checks`` tables keep the recorded sf0.1 shape;
- without the engine next to it the benchmark exits non-zero and prints no
  result.

Each case runs in its own process, because a Spark session is started once
per process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"doc_suite": 5_000, "table_checks": 0.02}


def _corrupt_doc_rows(rows):
    """Flip the verdict of the first span-invariant row."""
    for r in rows:
        if r["constraint"] == "span_wellformed":
            r["holds"] = 1 - r["holds"]
            break
    return rows


def _corrupt_table_checks(out):
    """Report one violating row too many from the UCC verify call, and drop
    every row of each query's output before its oracle comparison."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.limit(0)
    if getattr(out, "columns", None):  # only UCCResult has ``columns``
        out.num_violating_rows += 1
    return out


def _case(workload: str, trace: bool, corrupt: bool) -> None:
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import run

    tamper = None
    if corrupt:
        tamper = (_corrupt_doc_rows if workload == "doc_suite"
                  else _corrupt_table_checks)
    result = run.run(workload, seed=7, seconds=1, trace=trace, tamper=tamper,
                     size=TINY[workload])
    print(json.dumps(result))


def _run_case(workload: str, trace: bool, corrupt: bool) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, __file__, "--case", workload, str(int(trace)),
         str(int(corrupt))],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[-2]


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok: {what}")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}

    for workload in TINY:
        res, _ = _run_case(workload, trace=False, corrupt=False)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        _expect(got == e2e, f"{workload}: every end-to-end metric with its unit")
        _expect(all(v["value"] > 0 for v in res["metrics"].values()),
                f"{workload}: end-to-end metrics are non-zero")
        _expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                f"{workload}: correct, no failed operations")

        res, summary = _run_case(workload, trace=True, corrupt=True)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        _expect(got == layers, f"{workload}: every per-layer metric with its unit")
        fired = res["metrics"]["sources.spread_fired"]["value"]
        _expect(fired > 0 if workload == "table_checks" else fired == 0,
                f"{workload}: sources.spread_fired = {fired}")
        ratio = float(summary.rsplit("op_fail_ratio=", 1)[1])
        _expect(not res["correct"] and res["failed"] > 0 and ratio > 0,
                f"{workload}: corrupted output gives op_fail_ratio {ratio} > 0")
        if workload == "table_checks":
            # two traced-run passes, each with one corrupted verify call
            _expect(res["failed"] > 2, f"{workload}: {res['failed']} failed "
                    "operations: the emptied query outputs fail their oracle")

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    import oracle
    import shape

    tie = oracle._rounding_tie
    _expect(tie(52824.560478, 52824.560477) and tie(0.5, 0.500001)
            and not tie(0.5, 0.6) and not tie(0.123456, 0.123458)
            and not tie(3.0, 4.0),
            "only a one-unit difference in the 6th or later decimal is a "
            "rounding tie")

    bad = shape.check(seed=7)
    _expect(not bad, "generated tables keep the sf0.1 shape"
            + (f": {bad[:3]}" if bad else ""))

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "doc_suite",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    _expect(out.returncode != 0 and not out.stdout.strip(),
            f"no engine: exit code {out.returncode}, no result printed")
    print("selftest passed")


if __name__ == "__main__":
    if sys.argv[1:2] == ["--case"]:
        _case(sys.argv[2], sys.argv[3] == "1", sys.argv[4] == "1")
    else:
        main()
