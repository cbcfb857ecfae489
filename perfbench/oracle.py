"""DuckDB oracle check of the query_ops outputs.

Each query's Spark output (parquet, written by the set-up pass) must
match its `graft.spark.Oracles` twin run in DuckDB over the same input
tables: same column names, same row count and the same row-order-free
value hash. The hash is the repository's own, from tools/check_oracles.py.

The oracle's expected result depends only on its SQL text and the input
tables, so it is kept in .bench_build/perfbench/oracle under a hash of
both and computed again only when either changes.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_build", "perfbench", "oracle")
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracles import table_hash  # noqa: E402


def _expected(con, tables, sql):
    """(sorted column names, row count, value hash) of the oracle's result."""
    h = hashlib.sha256(sql.encode())
    for path in tables:
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    cached = os.path.join(CACHE, h.hexdigest() + ".json")
    if os.path.exists(cached):
        return json.load(open(cached))
    o = con.execute(sql)
    cols = [c[0] for c in o.description]
    rows = o.fetchall()
    e = {"cols": sorted(cols), "rows": len(rows), "hash": table_hash(rows, cols)}
    os.makedirs(CACHE, exist_ok=True)
    with open(cached + ".tmp", "w") as fh:
        json.dump(e, fh)
    os.replace(cached + ".tmp", cached)
    return e


def check(tables_dir, results_dir, break_golden=False):
    """Return (attempted, failed, messages). With `break_golden` the first
    query's expected result gets one extra row, so the check must fail."""
    oracle_sql = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    tables = sorted(glob.glob(os.path.join(tables_dir, "*.parquet")))
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
    for path in tables:
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    attempted, failed, msgs = 0, 0, []
    for i, (name, sql) in enumerate(sorted(oracle_sql.items())):
        attempted += 1
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
            scols = [c[0] for c in s.description]
            srows = s.fetchall()
            e = _expected(con, tables, sql)
        except Exception as ex:  # an oracle or output that cannot be read is a failed check
            failed += 1
            msgs.append(f"{name}: {ex}")
            continue
        if break_golden and i == 0:
            e = dict(e, rows=e["rows"] + 1, hash="altered")
        ok_schema = sorted(scols) == e["cols"]
        ok_rows = len(srows) == e["rows"]
        ok_hash = ok_schema and table_hash(srows, scols) == e["hash"]
        if not (ok_schema and ok_rows and ok_hash):
            failed += 1
            msgs.append(f"{name}: schema_ok={ok_schema} spark_rows={len(srows)} "
                        f"oracle_rows={e['rows']} hash_ok={ok_hash}")
    return attempted, failed, msgs
