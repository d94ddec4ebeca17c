"""Benchmark entry point.

    python3 perfbench/run.py --workload doc_suite --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the workload's inputs from ``--seed``,
starts a local Spark session on every CPU this process may use, sets up and
warms up, then measures closed-loop passes for ``--seconds`` seconds and
checks every output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``, spans written to ``.perfbench_out/``). Exits non-zero without
a result when the engine is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input sizes. Both workloads are bound by per-job overhead at these sizes
# (a pass takes ~7 s and ~15 s on 4 CPUs); they are small enough that a run,
# set-up included, stays near a minute.
DOC_SUITE_DOCS = 100_000
TABLE_SCALE = 0.1  # share of the sf0.1 row counts

_ENGINE_FILES = ("desbordante_spark/__init__.py", "__spark_entry__.py",
                 "bench.py", "tools/check_oracle.py")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _engine_missing() -> list[str]:
    return [p for p in _ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, p))]


def make_workload(name: str, spark, work: str, seed: int, tracer, spread,
                  tamper=None, size=None):
    if name == "doc_suite":
        from doc_suite import DocSuite

        return DocSuite(spark, work, seed, size or DOC_SUITE_DOCS, tracer,
                        spread, tamper)
    from table_checks import TableChecks

    return TableChecks(spark, work, seed, size or TABLE_SCALE, tracer, spread,
                       tamper)


def run(workload: str, seed: int, seconds: float, trace: bool,
        tamper=None, size=None) -> dict:
    """One benchmark run; returns the result object."""
    from harness import Session, end_to_end, measure, per_layer
    from spans import SpreadProbe, Tracer

    spec = _spec()
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        session = Session(work)
        try:
            tracer = spread = None
            if trace:
                tracer = Tracer()
                spread = SpreadProbe(tracer)
            wl = make_workload(workload, session.spark, work, seed, tracer,
                               spread, tamper, size)
            setup_s = session.start_s + wl.setup()
            passes = measure(wl, seconds, trace)
            # read before the output checks, which re-run queries untimed
            rss = session.peak_rss_mb()
            extra = wl.finish(passes)
        finally:
            session.stop()
        # the GC log is complete once the JVM has exited
        heap_mb = session.heap_after_gc_peak_mb()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, facts = end_to_end(passes, setup_s, rss)
    ops = [o for p in passes for o in p.ops] + extra
    failed = [o for o in ops if not o.ok]
    for o in failed[:5]:
        print(f"FAILED {o.name}: {o.problem}", file=sys.stderr)
    if trace:
        layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        fixed = {"session.start_s": session.start_s,
                 "jvm.heap_after_gc_peak_mb": heap_mb, **wl.fixed_layers}
        values = per_layer(passes, fixed, list(layer_units))
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in values.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"trace-{workload}-seed{seed}.json"))
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if set(units) != set(e2e):
            raise KeyError(f"end-to-end metrics differ from BENCHMARK.json: "
                           f"{sorted(set(units) ^ set(e2e))}")
        metrics = {k: {"value": v, "unit": units[k]} for k, (v, _) in e2e.items()}
    print(f"{workload} seed={seed}: {facts['passes']} passes, "
          f"{facts['op_samples']} op samples, op_tail_s is "
          f"p{facts['op_tail_percentile']}, "
          f"op_fail_ratio={len(failed) / len(ops)}")
    return {"correct": not failed, "attempted": len(ops), "failed": len(failed),
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in _spec()["workloads"]]
                    if os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")) else None)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = _engine_missing()
    if missing:
        print(f"engine not found next to the benchmark: missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
