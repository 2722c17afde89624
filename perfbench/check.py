"""Output checks run under DuckDB after the benchmark JVM exits.

`run(check, data_dir)` returns the number of operations found wrong.
Two kinds of check:

- oracle: a catalog query's result against its SparkEntry.oracleSql
  oracle, compared as graft's own tools/check.py does (columns by
  name, rows as sorted multisets, values exact);
- admission: the admitted ids of every epoch of the durable loop
  against a replay of the loop's admission policy over the same shard
  files. The replay is the catalog's admission oracle (exact stage:
  keep-first per text and drop texts already admitted; near stage:
  drop a survivor whose shingle-set Jaccard with any admitted doc or
  any smaller-id survivor of its shard reaches the threshold),
  extended from three shards to any number. Jaccard is computed over a
  shingle inverted index, which gives the brute-force value for every
  pair that shares a shingle; pairs that share none have Jaccard 0.
"""
import math
import os
import sys

import duckdb

TABLES = ["customer", "orders", "lineitem", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, 'duckdb.tmp')}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def run(c, data_dir):
    return {"oracle": oracle, "admission": admission}[c["kind"]](c, data_dir)


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    if isinstance(a, int) and isinstance(b, int):
        return a == b
    return str(a) == str(b)


def _rows(rel):
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[r[i] for i in order] for r in rel.fetchall()]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return sorted(cols), rows


def oracle(c, data_dir):
    """Wrong executions of one query: all of them if its result differs."""
    con = connect(data_dir)
    try:
        s_cols, s_rows = _rows(con.execute(f"SELECT * FROM '{c['result']}/*.parquet'"))
        d_cols, d_rows = _rows(con.execute(c["sql"]))
        ok = (s_cols == d_cols and len(s_rows) == len(d_rows) and
              all(_same(x, y) for sr, dr in zip(s_rows, d_rows) for x, y in zip(sr, dr)))
        if ok and not s_rows:
            ok = False   # an empty result proves nothing
    except duckdb.Error as e:
        print(f"[check] {c['name']}: {e}", file=sys.stderr)
        ok = False
    finally:
        con.close()
    if not ok:
        print(f"[check] {c['name']}: result differs from its oracle", file=sys.stderr)
    return 0 if ok else int(c["executions"])


def admission(c, data_dir):
    """Wrong epochs of the durable loop."""
    con = connect(data_dir)
    t = float(c["threshold"])
    shards = os.path.join(data_dir, "shard_*.parquet")
    con.execute(f"""CREATE TABLE shard AS
        SELECT epoch, doc_id, text, {c['shingles_sql']} AS sh FROM read_parquet('{shards}')""")
    con.execute("CREATE TABLE adm (doc_id BIGINT, text VARCHAR, sh VARCHAR[], epoch BIGINT)")
    epochs = [r[0] for r in con.execute("SELECT DISTINCT epoch FROM shard ORDER BY 1").fetchall()]

    def jaccard_pairs(left, right, smaller_only):
        cond = "AND b.doc_id < a.doc_id" if smaller_only else ""
        return f"""
            SELECT a.doc_id AS x FROM
              (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM {left}) a
              JOIN (SELECT doc_id, unnest(sh) AS s, len(sh) AS n FROM {right}) b
                ON a.s = b.s {cond}
            GROUP BY a.doc_id, b.doc_id
            HAVING CAST(count(*) AS DOUBLE) / (any_value(a.n) + any_value(b.n) - count(*)) >= {t}"""

    for e in epochs:
        con.execute(f"""CREATE OR REPLACE TABLE ex AS
            SELECT x.doc_id, x.text, x.sh FROM shard x
            WHERE x.epoch = {e}
              AND x.doc_id = (SELECT min(y.doc_id) FROM shard y
                              WHERE y.epoch = {e} AND y.text = x.text)
              AND NOT EXISTS (SELECT 1 FROM adm z WHERE z.text = x.text)""")
        con.execute(f"""INSERT INTO adm
            SELECT doc_id, text, sh, {e} FROM ex
            WHERE doc_id NOT IN ({jaccard_pairs('ex', 'ex', True)}
                                 UNION {jaccard_pairs('ex', 'adm', False)})""")
    want = {}
    for doc_id, epoch in con.execute("SELECT doc_id, epoch FROM adm").fetchall():
        want.setdefault(epoch, set()).add(doc_id)
    got = {}
    for doc_id, epoch in con.execute(
            f"SELECT doc_id, epoch FROM '{c['result']}/*.parquet'").fetchall():
        got.setdefault(epoch, set()).add(doc_id)
    con.close()
    wrong = [e for e in epochs if want.get(e, set()) != got.get(e, set())]
    for e in wrong:
        print(f"[check] admission epoch {e}: {len(got.get(e, ()))} admitted, "
              f"replay admits {len(want.get(e, ()))}", file=sys.stderr)
    return len(wrong)
