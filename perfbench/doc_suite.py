"""``doc_suite``: the north-rule batch job through ``SuiteRunner.run``.

One pass runs the 4-constraint suite over the seeded interleaved-doc table
(16 part keys, 64 files) into an empty checkpoint. One operation is one
constraint's verdict rows delivered: the interval between ``on_progress``
calls. ``resume_check`` finishes an interrupted run (a checkpoint holding
14 of the 16 partitions) and checks that its final checkpoint equals the
fresh run's rows; ``perfbench/resume_check.py`` runs it on its own.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import oracle
from harness import OpRecord, PassRecord
from sparkstats import GroupStats, StatusReader, covered_seconds, spark_layers

N_PART_KEYS = 16
N_FILES = 64
SNAPSHOT = "snap-1"
CONSTRAINTS = ("doc_id_unique", "span_wellformed", "media_ref", "n_spans_drift")
# partitions an interrupted run left unverified
RESUME_PARTS = (f"p{N_PART_KEYS - 2:03d}", f"p{N_PART_KEYS - 1:03d}")
_VERDICT_COLS = ("constraint", "partition", "total_rows",
                 "num_violating_clusters", "num_violating_rows", "error", "holds")


def stage_documents(spark, n_docs: int, seed: int, out_dir: str) -> int:
    """Generate and write the doc table and its media catalog; returns the
    catalog size."""
    from desbordante_spark.sources.interleaved import (
        generate_documents,
        generate_media_catalog,
    )

    n_media = max(1000, n_docs // 10)
    (generate_documents(spark, n_docs, seed=seed, n_part_keys=N_PART_KEYS,
                        n_media=n_media, n_partitions=N_FILES)
     .write.mode("overwrite").option("parquet.block.size", 8 * 1024 * 1024)
     .parquet(f"{out_dir}/documents"))
    (generate_media_catalog(spark, n_media, seed=seed)
     .write.mode("overwrite").parquet(f"{out_dir}/media_catalog"))
    return n_media


def constraints():
    from pyspark.sql import functions as F

    from desbordante_spark.plans.runner import Constraint

    return [
        Constraint("doc_id_unique", "uniqueness", {"columns": ["doc_id"]}),
        Constraint("span_wellformed", "span", {}),
        # field-first explode: the scan reads only spans.media_ref
        Constraint("media_ref", "referential", {
            "lhs": ["media_ref"], "rhs": ["media_ref"],
            "rhs_table": "media_catalog",
            "lhs_frame": lambda d: d.select(
                "part_key",
                F.explode(F.col("spans").getField("media_ref")).alias("media_ref")),
        }),
        Constraint("n_spans_drift", "drift", {
            "value_col": "n_spans", "value_expr": F.size("spans"),
            "discrete": True, "ks_threshold": oracle.DRIFT_KS_THRESHOLD,
        }),
    ]


def _verdicts(rows) -> list[tuple]:
    return sorted(tuple(r[c] for c in _VERDICT_COLS) for r in rows)


class DocSuite:
    name = "doc_suite"

    def __init__(self, spark, work_dir: str, seed: int, n_docs: int,
                 tracer=None, spread=None, tamper=None) -> None:
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.n_docs = n_docs
        self.tracer = tracer
        self.spread = spread
        # test hook: rewrites verdict rows before they are checked
        self.tamper = tamper
        self.status = StatusReader(spark) if tracer is not None else None
        self.fixed_layers: dict[str, float] = {}

    # -------------------------------------------------------------- setup

    def setup(self) -> float:
        """Stage inputs and warm up; returns the set-up seconds (goldens are
        computed outside it)."""
        t0 = time.perf_counter()
        data = os.path.join(self.work, "docs")
        n_media = stage_documents(self.spark, self.n_docs, self.seed, data)
        self.fixed_layers["sources.generate_s"] = time.perf_counter() - t0
        t_gold = time.perf_counter()
        con = oracle.connect(self.work)
        self.goldens = oracle.doc_goldens(
            con, f"{data}/documents", f"{data}/media_catalog",
            drift_part=f"p{N_PART_KEYS - 1:03d}")
        con.close()
        dup = sum(g["num_violating_clusters"] for (c, _), g in self.goldens.items()
                  if c == "doc_id_unique")
        if dup != max(1, self.n_docs // 1000):
            raise RuntimeError(f"generator made {dup} duplicate-id clusters, "
                               f"expected {max(1, self.n_docs // 1000)}")
        gold_s = time.perf_counter() - t_gold
        self.docs = self.spark.read.parquet(f"{data}/documents")
        self.catalog = self.spark.read.parquet(f"{data}/media_catalog")
        self.rows_per_pass = len(CONSTRAINTS) * self.n_docs + n_media
        self.constraints = constraints()
        # warm-up pass; its checkpoint is the source of the resume check
        self.run_pass(-1, traced=False)
        return time.perf_counter() - t0 - gold_s

    # --------------------------------------------------------------- pass

    def _checkpoint(self, index: int) -> str:
        path = os.path.join(self.work, f"ckpt{index}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def run_pass(self, index: int, traced: bool) -> PassRecord:
        from desbordante_spark.plans.runner import SuiteRunner

        ckpt = self._checkpoint(index)
        self.spark.catalog.clearCache()
        layers: dict[str, float] = {}
        if traced:
            layers["runner.ckpt_read_s"] = self._time_checkpoint_reads(ckpt)
            self.status.new_sql_metrics()
            self.spread.install()
        sc = self.spark.sparkContext
        groups = [f"pass{index}.{c}" for c in CONSTRAINTS]
        marks: list[float] = []

        def on_progress(name: str, n_rows: int) -> None:
            marks.append(time.perf_counter())
            if traced and len(marks) < len(groups):
                sc.setJobGroup(groups[len(marks)], groups[len(marks)])

        runner = SuiteRunner(self.spark, ckpt, SNAPSHOT)
        if traced:
            sc.setJobGroup(groups[0], groups[0])
            self.tracer.op_id = f"pass{index}"
        wall0 = time.time()
        t0 = time.perf_counter()
        result = runner.run(self.docs, self.constraints,
                            aux={"media_catalog": self.catalog},
                            on_progress=on_progress)
        wall_s = time.perf_counter() - t0
        wall1 = time.time()
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spread.uninstall()
        rows = [r.asDict() for r in result.collect()]
        if self.tamper is not None:
            rows = self.tamper(rows)
        ops = self._check(rows, marks, t0)
        if index == -1:
            self.fresh_rows = _verdicts(rows)
            self.warm_ckpt = ckpt
        if traced:
            layers.update(self._trace_layers(groups, marks, t0, wall0, wall1,
                                             wall_s, ckpt))
        return PassRecord(index, traced, wall_s, self.rows_per_pass, ops, layers)

    def _check(self, rows: list[dict], marks: list[float], t0: float) -> list[OpRecord]:
        by_constraint: dict[str, list[dict]] = {c: [] for c in CONSTRAINTS}
        for r in rows:
            by_constraint.setdefault(r["constraint"], []).append(r)
        ops = []
        starts = [t0] + marks
        for i, c in enumerate(CONSTRAINTS):
            problems = []
            if len(by_constraint[c]) != N_PART_KEYS:
                problems.append(f"{len(by_constraint[c])} verdict rows")
            for r in by_constraint[c]:
                problems += oracle.doc_row_problems(
                    r, self.goldens.get((c, r["partition"])))
            latency = starts[i + 1] - starts[i] if i + 1 < len(starts) else float("nan")
            ok = not problems and i + 1 < len(starts)
            ops.append(OpRecord(c, latency, ok, "; ".join(problems[:3])))
        return ops

    # ------------------------------------------------------------ tracing

    def _time_checkpoint_reads(self, ckpt: str) -> float:
        from desbordante_spark.plans.runner import SuiteRunner

        probe = SuiteRunner(self.spark, ckpt, SNAPSHOT)
        t0 = time.perf_counter()
        probe.read_metrics().count()
        for c in CONSTRAINTS:
            probe.completed_partitions(c).limit(1).count()
        return time.perf_counter() - t0

    def _trace_layers(self, groups, marks, t0, wall0, wall1, wall_s,
                      ckpt) -> dict[str, float]:
        total = GroupStats()
        starts = [wall0] + [wall0 + (m - t0) for m in marks]
        pass_span = self.tracer.add("runner.pass", wall0, wall1)
        for i, (c, g) in enumerate(zip(CONSTRAINTS, groups)):
            gs = self.status.group_stats(g)
            total.add(gs)
            c_span = self.tracer.add(f"runner.{c}", starts[i], starts[i + 1],
                                     parent=pass_span)
            for start, end in gs.job_spans:
                self.tracer.add("spark.job", start, end, parent=c_span)
        for k, v in self.status.new_sql_metrics().items():
            setattr(total, k, v)
        spread = self.spread.take()
        files = [f for f in os.listdir(f"{ckpt}/metrics") if not f.startswith((".", "_"))]
        layers = {
            "runner.pass_s": wall_s,
            "runner.jobs": total.jobs,
            "runner.driver_s": wall_s - covered_seconds(total.job_spans, wall0, wall1),
            "runner.ckpt_files_added": len(files),
            "runner.ckpt_bytes_added": sum(
                os.path.getsize(f"{ckpt}/metrics/{f}") for f in files),
            # every partition is unverified in a fresh run
            "runner.scan_useful_ratio": self.n_docs / max(1, total.input_rows),
            "sources.spread_calls": spread.calls,
            "sources.spread_fired": spread.fired,
            "sources.spread_probe_s": spread.probe_s,
            **spark_layers(total),
        }
        for i, c in enumerate(CONSTRAINTS):
            layers[f"runner.{c}_s"] = marks[i] - ([t0] + marks)[i]
        return layers

    def finish(self, passes: list[PassRecord]) -> list[OpRecord]:
        """Every pass was checked as it ran."""
        return []

    def resume_check(self) -> tuple[float, OpRecord]:
        """Finish an interrupted run: start from the warm-up checkpoint minus
        the last two partitions and compare the final checkpoint with the
        fresh run. Returns the pass seconds and the check's outcome."""
        from desbordante_spark.plans.runner import SuiteRunner

        ckpt = self._checkpoint(-2)
        kept = pq.read_table(f"{self.warm_ckpt}/metrics")
        kept = kept.filter(pc.invert(pc.is_in(kept["partition"],
                                              value_set=pa.array(RESUME_PARTS))))
        os.makedirs(f"{ckpt}/metrics")
        pq.write_table(kept, f"{ckpt}/metrics/part-00000.parquet")
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        SuiteRunner(self.spark, ckpt, SNAPSHOT).run(
            self.docs, self.constraints, aux={"media_catalog": self.catalog})
        seconds = time.perf_counter() - t0
        final = SuiteRunner(self.spark, ckpt, SNAPSHOT).read_metrics().collect()
        got = _verdicts(r.asDict() for r in final)
        ok = got == self.fresh_rows
        return seconds, OpRecord("resume_checkpoint", seconds, ok,
                                 "" if ok else f"{len(got)} rows, "
                                 f"{len(set(got) ^ set(self.fresh_rows))} differ")
