"""``table_checks``: registry queries and interactive verify calls on
one-file, one-row-group tables.

One pass runs the 15 ``bench.HEADLINE`` registry queries (through the noop
sink, as ``bench.py`` does) and four ``*_verify`` calls, each collecting its
verdict plus at most 100 evidence rows, in an order the seed shuffles anew
every pass. No runner and no checkpoint are involved.
"""

from __future__ import annotations

import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import oracle
import tables
from harness import OpRecord, PassRecord, cpu_count
from sparkstats import GroupStats, StatusReader, spark_layers

EVIDENCE_CAP = 100


def tables_read(df) -> set[str]:
    """Names of the parquet tables a DataFrame's plan reads. The analysed
    plan is used, so a cached sub-plan (the drift sketch) still shows the
    relation it was built from."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    names = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            names.update(os.path.basename(f).removesuffix(".parquet")
                         for f in leaf.relation().inputFiles())
    return names


def _verify_calls(spark, table_dir: str) -> dict:
    import desbordante_spark as ds

    def read(name):
        return spark.read.parquet(f"{table_dir}/{name}.parquet")

    return {
        "ucc_verify_lineitem_pk": lambda: ds.ucc_verify(
            read("lineitem"), ["l_orderkey", "l_linenumber"]),
        "fd_verify_orders": lambda: ds.fd_verify(
            read("orders"), ["o_custkey"], ["o_orderpriority"]),
        "ind_verify_orders_lineitem": lambda: ds.ind_verify(
            read("orders"), ["o_orderkey"], read("lineitem"), ["l_orderkey"]),
        # two RHS columns: the cluster diameters run through applyInPandas
        "mfd_verify_lineitem_flags": lambda: ds.mfd_verify(
            read("lineitem"), ["l_returnflag", "l_linestatus"],
            ["l_quantity", "l_discount"], parameter=oracle.MFD_PARAMETER),
    }


def verdict_problems(result, evidence: list, golden: dict) -> list[str]:
    got = {"holds": int(result.holds), "error": result.error,
           "total_rows": result.total_rows,
           "num_violating_clusters": result.num_violating_clusters,
           "num_violating_rows": result.num_violating_rows}
    bad = [f"{k}: got {got[k]!r} want {v!r}" for k, v in golden.items()
           if got[k] != v]
    want_ev = min(EVIDENCE_CAP, golden["num_violating_clusters"])
    if len(evidence) != want_ev:
        bad.append(f"evidence rows: got {len(evidence)} want {want_ev}")
    return bad


class TableChecks:
    name = "table_checks"

    def __init__(self, spark, work_dir: str, seed: int, scale: float,
                 tracer=None, spread=None, tamper=None) -> None:
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.spread = spread
        # test hook: rewrites a verify result or a query's DataFrame before
        # it is checked
        self.tamper = tamper
        self.status = StatusReader(spark) if tracer is not None else None
        self.fixed_layers: dict[str, float] = {}
        self.read: dict[str, set[str]] = {}
        self.rows_per_pass = 0

    def setup(self) -> float:
        """Write the tables and warm up with every operation the timed passes
        run; returns those set-up seconds. The DuckDB goldens run outside
        them."""
        import bench

        import __spark_entry__

        t0 = time.perf_counter()
        self.dir = os.path.join(self.work, "tables")
        self.counts = tables.write_tables(self.dir, self.seed, self.scale)
        generate_s = time.perf_counter() - t0
        self.fixed_layers["sources.generate_s"] = generate_s
        registry = __spark_entry__.queries()
        self.queries = {name: registry[name] for name in bench.HEADLINE}
        self.verifies = _verify_calls(self.spark, self.dir)
        self.operations = (*self.queries, *self.verifies)
        self.force = bench._force
        self.con = oracle.connect(self.work)
        self.goldens = oracle.verify_goldens(self.con, self.dir, tables.TABLES)
        t1 = time.perf_counter()
        self._warm_up()
        setup_s = generate_s + time.perf_counter() - t1
        self.rows_per_pass = sum(self.counts[t] for ts in self.read.values()
                                 for t in ts)
        return setup_s

    def finish(self, passes: list[PassRecord]) -> list[OpRecord]:
        """Compare every query with its DuckDB oracle (``oracle.compare_query``:
        ``tools/check_oracle.py`` semantics, rounding ties allowed) after the
        timed passes; a mismatch fails every timed run of that query. Nothing
        is timed any more, so as many queries re-run at a time as there are
        CPUs. Adds no operations of its own."""
        import __spark_entry__

        oracle_sql = __spark_entry__.oracle_sql()

        def compare(name: str) -> tuple[list[str], int]:
            cursor = self.con.cursor()  # DuckDB: one connection per thread
            try:
                df = self.queries[name](self.spark, self.dir)
                if self.tamper is not None:
                    df = self.tamper(df)
                return oracle.compare_query(df, cursor, oracle_sql[name])
            except Exception as ex:  # the engine failed on this query
                return [f"{type(ex).__name__}: {str(ex)[:300]}"], 0
            finally:
                cursor.close()

        with ThreadPoolExecutor(cpu_count()) as pool:
            outcomes = dict(zip(self.queries, pool.map(compare, self.queries)))
        self.con.close()
        problems = {name: p for name, (p, _) in outcomes.items()}
        for name, (_, ties) in outcomes.items():
            if ties:
                print(f"{name}: {ties} rows match the oracle on a rounding tie",
                      file=sys.stderr)
        for op in (o for p in passes for o in p.ops if problems.get(o.name)):
            if op.ok:
                op.ok, op.problem = False, "; ".join(problems[op.name])
        return []

    def _run_verify(self, name: str):
        t0 = time.perf_counter()
        result = self.verifies[name]()
        t1 = time.perf_counter()
        evidence = result.violations.limit(EVIDENCE_CAP).collect()
        return result, evidence, t1 - t0, time.perf_counter() - t1

    def _run_op(self, name: str, index: int) -> tuple[OpRecord, float, float]:
        """One query or verify call; returns its record and its build and
        execute seconds. A failed operation is counted, not fatal."""
        start = time.perf_counter()
        try:
            if name in self.queries:
                t0 = time.perf_counter()
                df = self.queries[name](self.spark, self.dir)
                build = time.perf_counter() - t0
                self.force(df)
                execute = time.perf_counter() - t0 - build
                problem = ""  # compared with its oracle in finish()
            else:
                result, evidence, build, execute = self._run_verify(name)
                if self.tamper is not None:
                    result = self.tamper(result)
                problem = "; ".join(
                    verdict_problems(result, evidence, self.goldens[name]))
            if index < 0:  # the input rows a pass covers
                self.read[name] = tables_read(
                    df if name in self.queries else result.violations)
            return OpRecord(name, build + execute, not problem, problem), build, execute
        except Exception as ex:
            return (OpRecord(name, time.perf_counter() - start, False,
                             f"{type(ex).__name__}: {str(ex)[:300]}"), 0.0, 0.0)

    def _warm_up(self) -> None:
        """Run every operation once, as many at a time as there are CPUs:
        the first call of each pays class loading, code generation and
        Python worker start, which overlap here. Nothing is timed or checked;
        the timed passes check every call."""
        self.spark.catalog.clearCache()
        with ThreadPoolExecutor(cpu_count()) as pool:
            list(pool.map(lambda n: self._run_op(n, -1), self.operations))
        self.spark.catalog.clearCache()

    def run_pass(self, index: int, traced: bool) -> PassRecord:
        order = list(self.operations)
        random.Random(f"{self.seed}/{index}").shuffle(order)
        sc = self.spark.sparkContext
        layers: dict[str, float] = {}
        total = GroupStats()
        if traced:
            self.status.new_sql_metrics()
            self.spread.install()
        ops = []
        wall_s = 0.0
        for name in order:
            self.spark.catalog.clearCache()
            if traced:
                group = f"pass{index}.{name}"
                sc.setJobGroup(group, group)
                self.tracer.op_id = group
            start = time.time()
            op, build, execute = self._run_op(name, index)
            ops.append(op)
            wall_s += time.time() - start
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                layers[f"op.{name}.build_s"] = build
                layers[f"op.{name}.exec_s"] = execute
                op_span = self.tracer.add(f"op.{name}", start, start + build + execute)
                self.tracer.add("op.build", start, start + build, parent=op_span)
                self.tracer.add("op.exec", start + build, start + build + execute,
                                parent=op_span)
                gs = self.status.group_stats(group)
                total.add(gs)
                for s, e in gs.job_spans:
                    self.tracer.add("spark.job", s, e, parent=op_span)
        if traced:
            self.spread.uninstall()
            for k, v in self.status.new_sql_metrics().items():
                setattr(total, k, v)
            spread = self.spread.take()
            layers.update({
                "sources.spread_calls": spread.calls,
                "sources.spread_fired": spread.fired,
                "sources.spread_probe_s": spread.probe_s,
                **spark_layers(total),
            })
        return PassRecord(index, traced, wall_s, self.rows_per_pass, ops, layers)
