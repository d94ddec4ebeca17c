"""Shape check of the generated ``table_checks`` tables against the
registry's sf0.1 test-data tables.

    python3 perfbench/shape.py [SEED]             # compare with the record
    python3 perfbench/shape.py --record SF_DIR    # rewrite the record

Profiles a table directory with DuckDB: row, key, distinct and duplicate
counts, value ranges, the verdict counts of the four verify calls (the
lineitem key's duplicate clusters, the orders without lines, the FD and MFD
violating clusters) and the oracle result sizes of the ``bench.HEADLINE``
queries. The check generates the tables at scale 1.0 (the sf0.1 row counts)
and requires every figure to be within 5 % of ``sf01_shape.json``, or
within 2 for counts. The benchmark runs at a smaller scale that keeps the
ratios (lines per order, orders per customer, line numbers per order), so
the shares these figures imply hold there too.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORD = os.path.join(HERE, "sf01_shape.json")
REL_TOL = 0.05
ABS_TOL = 2

_DAYS = "epoch({}) / 86400"
STATS = {
    "lineitem.rows": "SELECT count(*) FROM lineitem",
    "lineitem.lines_per_order_avg":
        "SELECT avg(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)",
    "lineitem.lines_per_order_max":
        "SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)",
    "lineitem.linenumber_max": "SELECT max(l_linenumber) FROM lineitem",
    "lineitem.orders_not_in_orders":
        "SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN "
        "(SELECT o_orderkey FROM orders)",
    "lineitem.distinct_partkey": "SELECT count(DISTINCT l_partkey) FROM lineitem",
    "lineitem.distinct_suppkey": "SELECT count(DISTINCT l_suppkey) FROM lineitem",
    "lineitem.distinct_quantity": "SELECT count(DISTINCT l_quantity) FROM lineitem",
    "lineitem.distinct_discount": "SELECT count(DISTINCT l_discount) FROM lineitem",
    "lineitem.distinct_tax": "SELECT count(DISTINCT l_tax) FROM lineitem",
    "lineitem.distinct_shipdate": "SELECT count(DISTINCT l_shipdate) FROM lineitem",
    "lineitem.distinct_extendedprice":
        "SELECT count(DISTINCT l_extendedprice) FROM lineitem",
    "lineitem.extendedprice_min": "SELECT min(l_extendedprice) FROM lineitem",
    "lineitem.extendedprice_max": "SELECT max(l_extendedprice) FROM lineitem",
    "lineitem.shipdate_min_day": f"SELECT min({_DAYS.format('l_shipdate')}) FROM lineitem",
    "lineitem.shipdate_max_day": f"SELECT max({_DAYS.format('l_shipdate')}) FROM lineitem",
    "lineitem.flag_status_pairs":
        "SELECT count(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)",
    "lineitem.mfd_lhs_rhs_pairs":
        "SELECT count(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus, "
        "l_quantity, l_discount FROM lineitem)",
    "orders.rows": "SELECT count(*) FROM orders",
    "orders.distinct_orderkey": "SELECT count(DISTINCT o_orderkey) FROM orders",
    "orders.distinct_custkey": "SELECT count(DISTINCT o_custkey) FROM orders",
    "orders.distinct_status": "SELECT count(DISTINCT o_orderstatus) FROM orders",
    "orders.distinct_priority": "SELECT count(DISTINCT o_orderpriority) FROM orders",
    "orders.distinct_orderdate": "SELECT count(DISTINCT o_orderdate) FROM orders",
    "orders.orderdate_min_day": f"SELECT min({_DAYS.format('o_orderdate')}) FROM orders",
    "orders.orderdate_max_day": f"SELECT max({_DAYS.format('o_orderdate')}) FROM orders",
    "orders.totalprice_max": "SELECT max(o_totalprice) FROM orders",
    "documents.rows": "SELECT count(*) FROM documents",
    "documents.distinct_lang": "SELECT count(DISTINCT lang) FROM documents",
    "documents.lang_en": "SELECT count(*) FILTER (WHERE lang = 'en') FROM documents",
    "documents.distinct_source": "SELECT count(DISTINCT source) FROM documents",
    "documents.duplicate_texts": "SELECT count(*) - count(DISTINCT text) FROM documents",
    "documents.words_min": "SELECT min(len(string_split(text, ' '))) FROM documents",
    "documents.words_avg": "SELECT avg(len(string_split(text, ' '))) FROM documents",
    "documents.words_max": "SELECT max(len(string_split(text, ' '))) FROM documents",
    "documents.n_chars_avg": "SELECT avg(n_chars) FROM documents",
    "events.rows": "SELECT count(*) FROM events",
    "events.distinct_user": "SELECT count(DISTINCT user_id) FROM events",
    "events.distinct_type": "SELECT count(DISTINCT event_type) FROM events",
    "events.distinct_props": "SELECT count(DISTINCT props) FROM events",
    "events.value_avg": "SELECT avg(value) FROM events",
    "events.span_days":
        f"SELECT max({_DAYS.format('ts')}) - min({_DAYS.format('ts')}) FROM events",
    "embeddings.rows": "SELECT count(*) FROM embeddings",
    "embeddings.distinct_label": "SELECT count(DISTINCT label) FROM embeddings",
    "embeddings.dims": "SELECT max(len(embedding)) FROM embeddings",
}


def profile(table_dir: str, work_dir: str) -> dict[str, float]:
    """Every shape figure of the tables in ``table_dir``."""
    import bench
    import oracle
    import tables

    import __spark_entry__

    con = oracle.connect(work_dir)
    out = {}
    for name, counts in oracle.verify_goldens(con, table_dir, tables.TABLES).items():
        for k, v in counts.items():
            if k != "holds":
                out[f"{name}.{k}"] = float(v)
    for name, sql in STATS.items():
        out[name] = float(con.execute(sql).fetchone()[0])
    oracle_sql = __spark_entry__.oracle_sql()
    for name in bench.HEADLINE:
        out[f"{name}.oracle_rows"] = float(len(con.sql(oracle_sql[name]).fetchall()))
    con.close()
    return out


def differences(got: dict[str, float], want: dict[str, float]) -> list[str]:
    bad = []
    for name, ref in want.items():
        v = got.get(name)
        if v is None:
            bad.append(f"{name}: missing")
            continue
        diff = abs(v - ref)
        counts = ref.is_integer() and v.is_integer()
        if diff > REL_TOL * abs(ref) and not (counts and diff <= ABS_TOL):
            bad.append(f"{name}: generated {v:g}, sf0.1 {ref:g}")
    return bad


def check(seed: int) -> list[str]:
    """Generate the tables at scale 1.0 and list the figures that differ
    from the sf0.1 record."""
    import tables

    work = os.path.join(ROOT, ".perfbench_work", f"shape-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        tables.write_tables(os.path.join(work, "tables"), seed, 1.0)
        got = profile(os.path.join(work, "tables"), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(RECORD) as f:
        return differences(got, json.load(f)["figures"])


def main(argv: list[str]) -> int:
    sys.path[:0] = [HERE, ROOT]
    if argv[:1] == ["--record"]:
        work = os.path.join(ROOT, ".perfbench_work", "shape-record")
        os.makedirs(work, exist_ok=True)
        figures = profile(argv[1], work)
        shutil.rmtree(work, ignore_errors=True)
        with open(RECORD, "w") as f:
            json.dump({"source": "the registry's sf0.1 test-data tables",
                       "figures": figures}, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    bad = check(int(argv[0]) if argv else 1)
    for line in bad:
        print(line)
    print("shape differs from sf0.1" if bad else "shape matches sf0.1")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
