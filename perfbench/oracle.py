"""DuckDB goldens the benchmark checks the engine's outputs against.

DuckDB reads the same parquet files the engine reads; nothing here calls the
engine. All goldens are computed once, outside the timed region.
"""

from __future__ import annotations

import duckdb

DRIFT_KS_THRESHOLD = 0.2

# one verify call per constraint family (name -> DuckDB SQL for its
# verdict counts: total_rows, num_violating_clusters, num_violating_rows,
# plus the numerator/denominator of its error measure)
VERIFY_SQL = {
    "ucc_verify_lineitem_pk": """
        WITH c AS (SELECT l_orderkey, l_linenumber, count(*) AS cnt
                   FROM lineitem GROUP BY ALL)
        SELECT sum(cnt) AS total_rows,
               count(*) FILTER (WHERE cnt > 1) AS num_violating_clusters,
               coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0) AS num_violating_rows,
               sum(cnt * (cnt - 1)) AS err_num,
               sum(cnt) * (sum(cnt) - 1) AS err_den
        FROM c""",
    "fd_verify_orders": """
        WITH y AS (SELECT o_custkey, o_orderpriority, count(*) AS cnt
                   FROM orders GROUP BY ALL),
        x AS (SELECT o_custkey, sum(cnt) AS size, count(*) AS n_rhs,
                     sum(cnt * (cnt - 1)) AS eq2 FROM y GROUP BY ALL)
        SELECT sum(size) AS total_rows,
               count(*) FILTER (WHERE n_rhs > 1) AS num_violating_clusters,
               coalesce(sum(size) FILTER (WHERE n_rhs > 1), 0) AS num_violating_rows,
               sum(size * (size - 1) - eq2) AS err_num,
               sum(size) * sum(size) - sum(size) AS err_den
        FROM x""",
    "ind_verify_orders_lineitem": """
        WITH l AS (SELECT o_orderkey, count(*) AS cnt FROM orders
                   WHERE o_orderkey IS NOT NULL GROUP BY ALL),
        r AS (SELECT DISTINCT l_orderkey FROM lineitem),
        j AS (SELECT l.*, r.l_orderkey IS NULL AS miss
              FROM l LEFT JOIN r ON l.o_orderkey = r.l_orderkey)
        SELECT count(*) AS total_rows,
               count(*) FILTER (WHERE miss) AS num_violating_clusters,
               coalesce(sum(cnt) FILTER (WHERE miss), 0) AS num_violating_rows,
               count(*) FILTER (WHERE miss) AS err_num,
               count(*) AS err_den
        FROM j""",
    "mfd_verify_lineitem_flags": """
        WITH p AS (SELECT DISTINCT l_returnflag, l_linestatus, l_quantity,
                          l_discount FROM lineitem),
        d AS (SELECT a.l_returnflag, a.l_linestatus,
                     max(sqrt((a.l_quantity - b.l_quantity) * (a.l_quantity - b.l_quantity)
                        + (a.l_discount - b.l_discount) * (a.l_discount - b.l_discount)))
                       AS diameter
              FROM p a JOIN p b USING (l_returnflag, l_linestatus) GROUP BY ALL),
        s AS (SELECT l_returnflag, l_linestatus, count(*) AS size
              FROM lineitem GROUP BY ALL),
        j AS (SELECT s.size, d.diameter > {param} AS viol
              FROM s JOIN d USING (l_returnflag, l_linestatus))
        SELECT sum(size) AS total_rows,
               count(*) FILTER (WHERE viol) AS num_violating_clusters,
               coalesce(sum(size) FILTER (WHERE viol), 0) AS num_violating_rows,
               count(*) FILTER (WHERE viol) AS err_num,
               count(*) AS err_den
        FROM j""",
}
MFD_PARAMETER = 48.5


def connect(work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{work_dir}/duckdb_tmp'")
    con.execute("SET threads = 2")
    return con


def verify_goldens(con, table_dir: str, tables) -> dict[str, dict]:
    """Expected verdict of each verify call: counts, exact error, holds."""
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{table_dir}/{t}.parquet'")
    out = {}
    for name, sql in VERIFY_SQL.items():
        cur = con.execute(sql.format(param=MFD_PARAMETER))
        row = dict(zip([c[0] for c in cur.description], cur.fetchone()))
        num, den = int(row.pop("err_num")), int(row.pop("err_den"))
        out[name] = {k: int(v) for k, v in row.items()}
        out[name]["error"] = num / den if den else 0.0
        out[name]["holds"] = int(out[name]["num_violating_clusters"] == 0)
    return out


_DOC_SQL = """
WITH d AS (SELECT doc_id, spans, part_key FROM read_parquet('{docs}/*.parquet')),
u AS (SELECT part_key, doc_id, count(*) AS c FROM d GROUP BY ALL),
uniq AS (SELECT part_key, 'doc_id_unique' AS constraint_name, sum(c) AS total,
                count(*) FILTER (WHERE c > 1) AS clusters,
                coalesce(sum(c) FILTER (WHERE c > 1), 0) AS bad_rows,
                sum(c * (c - 1)) AS err_num, sum(c) * (sum(c) - 1) AS err_den
         FROM u GROUP BY ALL),
sb AS (SELECT part_key,
         len(list_filter(list_transform(range(1, len(spans) + 1),
             i -> spans[i]."offset" <> i - 1), x -> x)) > 0
         OR len(list_filter(spans, s -> s.kind IS NULL
             OR s.kind NOT IN ('text', 'image', 'audio', 'video'))) > 0
         OR len(list_filter(spans, s -> CASE WHEN s.kind = 'text'
             THEN (s.text IS NULL OR s.text = '')
             ELSE (s.text IS NULL OR s.text <> '') END)) > 0
         OR len(list_filter(spans, s -> CASE WHEN s.kind = 'text'
             THEN s.media_ref IS NOT NULL ELSE s.media_ref IS NULL END)) > 0
         AS bad FROM d),
span AS (SELECT part_key, 'span_wellformed', count(*),
                count(*) FILTER (WHERE bad), count(*) FILTER (WHERE bad),
                count(*) FILTER (WHERE bad), count(*) FROM sb GROUP BY ALL),
refs AS (SELECT part_key, s.media_ref AS media_ref
         FROM (SELECT part_key, unnest(spans) AS s FROM d)
         WHERE s.media_ref IS NOT NULL),
l AS (SELECT part_key, media_ref, count(*) AS cnt FROM refs GROUP BY ALL),
cat AS (SELECT DISTINCT media_ref FROM read_parquet('{catalog}/*.parquet')),
j AS (SELECT l.*, cat.media_ref IS NULL AS miss
      FROM l LEFT JOIN cat ON l.media_ref = cat.media_ref),
ref AS (SELECT part_key, 'media_ref', count(*),
               count(*) FILTER (WHERE miss),
               coalesce(sum(cnt) FILTER (WHERE miss), 0),
               count(*) FILTER (WHERE miss), count(*) FROM j GROUP BY ALL),
drift AS (SELECT part_key, 'n_spans_drift', count(*), 0, NULL, NULL, NULL
          FROM d GROUP BY ALL)
SELECT * FROM uniq UNION ALL SELECT * FROM span UNION ALL SELECT * FROM ref
UNION ALL SELECT * FROM drift
"""


def doc_goldens(con, docs_dir: str, catalog_dir: str,
                drift_part: str) -> dict[tuple[str, str], dict]:
    """Expected verdict row per (constraint, partition) of the doc suite.

    Drift rows carry no exact error: the generator shifts the span-count
    distribution of exactly one part key (``drift_part``), so that partition
    must fail and every other must hold. Their violating-row count follows
    from the verdict.
    """
    rows = con.execute(_DOC_SQL.format(docs=docs_dir, catalog=catalog_dir)).fetchall()
    out = {}
    for part, name, total, clusters, bad_rows, num, den in rows:
        g = {"total_rows": int(total), "num_violating_clusters": int(clusters)}
        if name == "n_spans_drift":
            drifted = part == drift_part
            g.update(holds=int(not drifted),
                     num_violating_rows=int(total) if drifted else 0)
        else:
            g.update(num_violating_rows=int(bad_rows),
                     error=int(num) / int(den) if int(den) else 0.0,
                     holds=int(int(clusters) == 0))
        out[(name, part)] = g
    return out


def doc_row_problems(row: dict, golden: dict | None) -> list[str]:
    """Differences between one runner verdict row and its golden."""
    if golden is None:
        return [f"unexpected row {row['constraint']}/{row['partition']}"]
    bad = [f"{k}: got {row[k]!r} want {v!r}" for k, v in golden.items()
           if row[k] != v]
    if "error" not in golden:
        err = row["error"]
        over = err is not None and err > DRIFT_KS_THRESHOLD
        if err is None or not 0.0 <= err <= 1.0 or over == bool(golden["holds"]):
            bad.append(f"ks statistic {err!r} disagrees with holds={golden['holds']}")
    return bad


def _rounding_tie(a, b) -> bool:
    """Whether two floats differ by exactly one unit in the last of their d
    decimals, d >= 6: the two roundings of a value that lies on a tie (the
    registry's queries round to 6 or 9 decimals), which the engine and
    DuckDB resolve differently because they sum in different orders."""
    if not (isinstance(a, float) and isinstance(b, float)):
        return False
    ra, rb = repr(a), repr(b)
    if "e" in ra + rb or "." not in ra or "." not in rb:
        return False
    d = max(len(ra.split(".")[1]), len(rb.split(".")[1]))
    return d >= 6 and abs(abs(a - b) * 10 ** d - 1) < 1e-4


def compare_query(spark_df, con, sql) -> tuple[list[str], int]:
    """``tools/check_oracle.py`` ``compare`` (same column names, row count
    and sorted values), except that a row whose only differences are
    rounding ties (``_rounding_tie``) matches. Returns the problems and the
    number of rows that matched on a tie."""
    from check_oracle import norm

    srows = spark_df.collect()
    scols = sorted(spark_df.columns)
    ores = con.sql(sql)
    ocols = sorted(ores.columns)
    orows = ores.fetchall()
    if scols != ocols:
        return [f"schema: spark={scols} oracle={ocols}"], 0
    if len(srows) != len(orows):
        return [f"rowcount: spark={len(srows)} oracle={len(orows)}"], 0
    idx = [ores.columns.index(c) for c in ocols]

    def key(row):
        return tuple(norm(v) for v in row)

    sv = sorted((tuple(r[c] for c in scols) for r in srows), key=key)
    ov = sorted((tuple(r[i] for i in idx) for r in orows), key=key)
    diffs, ties = [], 0
    for a, b in zip(sv, ov):
        if key(a) == key(b):
            continue
        if all(norm(x) == norm(y) or _rounding_tie(x, y) for x, y in zip(a, b)):
            ties += 1
        else:
            diffs.append((key(a), key(b)))
    if diffs:
        return [f"values differ; first diffs: {diffs[:3]}"], ties
    return [], ties
