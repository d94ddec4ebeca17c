"""Session lifetime, the closed-loop measuring loop and the metric summaries.

Load is one client in one process: each operation starts when the previous
one returned. A pass runs every operation of the workload once; passes
repeat until the measuring time is used up (the pass in progress finishes).
"""

from __future__ import annotations

import os
import re
import statistics
import subprocess
import tempfile
import time
from dataclasses import dataclass, field


@dataclass
class OpRecord:
    name: str
    latency_s: float
    ok: bool
    problem: str = ""


@dataclass
class PassRecord:
    index: int
    traced: bool
    wall_s: float
    rows: int
    ops: list[OpRecord]
    layers: dict[str, float] = field(default_factory=dict)


# "Pause Young (Normal) (G1 Evacuation Pause) 301M->118M(1024M) 12.3ms"
_GC_AFTER = re.compile(r"\d+[KMG]->(\d+)([KMG])\(\d+[KMG]\)")
_UNIT_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """One local Spark session whose files all live under ``work_dir``."""

    def __init__(self, work_dir: str) -> None:
        self.work_dir = work_dir
        tmp = os.path.join(work_dir, "tmp")
        local = os.path.join(work_dir, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        # the engine defaults to 32 threads; the benchmark runs on every CPU
        # this process may use. The engine's 16 GiB default heap would exceed
        # a small host's memory; at 1 GiB neither workload spills.
        os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
        os.environ["SPARK_DRIVER_MEM"] = "1g"
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # no JVM perf-data files in the system temp directory
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        tempfile.tempdir = tmp
        self.gc_log = os.path.join(work_dir, "gc.log")
        from desbordante_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # the split sizes bench.py uses, so the 64-file doc table
                # fans out to every core
                "spark.sql.files.maxPartitionBytes": "8m",
                "spark.sql.files.openCostInBytes": "512k",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}"
                    f" -XX:-UsePerfData -Xlog:gc:file={self.gc_log}",
            },
        )
        # one cheap job so start-up includes executor and codegen readiness
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0
        self._proc = self.spark.sparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        """Resident high-water mark of the JVM (VmHWM), in MiB."""
        with open(f"/proc/{self._proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found for the JVM process")

    def heap_after_gc_peak_mb(self) -> float:
        """Highest heap occupancy right after a garbage collection, in MiB,
        from the JVM's GC log: what the driver still held, unlike the
        resident peak, which follows how much heap the collector committed."""
        with open(self.gc_log) as f:
            after = [int(m.group(1)) * _UNIT_MB[m.group(2)]
                     for m in _GC_AFTER.finditer(f.read())]
        if not after:
            raise RuntimeError("no garbage collection in the JVM's GC log")
        return max(after)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        try:
            self.spark.stop()
        finally:
            if self._proc.stdin is not None:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()


def measure(workload, seconds: float, trace: bool) -> list[PassRecord]:
    """Run passes for at least ``seconds`` (the pass in progress finishes)
    and at least two passes: a ``table_checks`` pass takes longer than a
    run's measuring time, and two passes put each operation into the
    latency samples twice, in two orders. With tracing, odd passes are
    traced and even passes are not, so the two kinds interleave in time."""
    passes: list[PassRecord] = []
    deadline = time.perf_counter() + seconds
    while len(passes) < 2 or time.perf_counter() < deadline:
        i = len(passes)
        passes.append(workload.run_pass(i, traced=trace and i % 2 == 1))
    return passes


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it. Below 20 samples that percentile would not exceed the
    median, so the maximum is the tail."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def end_to_end(passes: list[PassRecord], setup_s: float,
               peak_rss_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics of untraced passes, and the facts printed beside
    them (tail percentile, sample count)."""
    plain = [p for p in passes if not p.traced]
    ops = [o for p in plain for o in p.ops]
    lat = [o.latency_s for o in ops if o.ok] or [float("nan")]
    value, pct = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (plain[0].rows / statistics.median(p.wall_s for p in plain),
                       "1/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (value, "s"),
        "peak_rss_mb": (peak_rss_mb, "MiB"),
    }
    facts = {"op_tail_percentile": round(pct, 1), "op_samples": len(lat),
             "passes": len(plain)}
    return metrics, facts


def per_layer(passes: list[PassRecord], fixed: dict[str, float],
              names: list[str]) -> dict[str, float]:
    """Median over traced passes of every per-pass layer metric, plus the
    per-run ones in ``fixed``; the tracing overhead compares traced and
    untraced pass wall times. Metrics a workload does not exercise read 0."""
    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]
    out = dict.fromkeys(names, 0.0)
    keys = {k for p in traced for k in p.layers}
    for k in keys:
        out[k] = statistics.median(p.layers.get(k, 0.0) for p in traced)
    out.update(fixed)
    out["trace.overhead_pct"] = 100.0 * (
        statistics.median(p.wall_s for p in traced)
        / statistics.median(p.wall_s for p in plain) - 1.0)
    unknown = set(out) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out
