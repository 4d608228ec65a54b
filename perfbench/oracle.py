"""Compare the engine's query results with the DuckDB oracle.

Each query's Spark result (a parquet dump) and its oracle SQL (run in
DuckDB over the same input tables) are normalised by the engine's own
gate, `tools/check.py` (`norm_rows`: columns sorted by name, floats to
9 significant digits, datetimes as ISO strings, rows sorted). The two
sides then have to agree on column names, pandas dtype kinds, row count
and a fingerprint of the normalised rows.
"""
import glob
import hashlib
import importlib.util
import os

import duckdb


def _gate(root):
    """`tools/check.py` of the checkout, loaded as a module."""
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _summary(con, gate, sql):
    """(sorted column names, dtype kinds, row count, fingerprint)."""
    r = con.execute(sql)
    cols, rows = gate.norm_rows([d[0] for d in r.description], r.fetchall())
    kinds = con.execute(f"SELECT * FROM ({sql}) __q LIMIT 0").df().dtypes
    h = hashlib.sha256()
    for t in rows:
        h.update(repr(t).encode())
    return cols, [kinds[c].kind for c in cols], len(rows), h.hexdigest()


def check(root, data_dir, dump_dir, oracle_sql, tmp_dir):
    """Return one failure message per query whose result disagrees."""
    gate = _gate(root)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        table = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    failures = []
    for name, sql in sorted(oracle_sql.items()):
        if sql is None:
            failures.append(f"{name}: no oracle SQL")
            continue
        files = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
        if not files:
            failures.append(f"{name}: no Spark result")
            continue
        try:
            want = _summary(con, gate, sql)
            got = _summary(con, gate, f"SELECT * FROM '{os.path.join(dump_dir, name)}/*.parquet'")
        except duckdb.Error as e:
            failures.append(f"{name}: {str(e)[:200]}")
            continue
        for what, a, b in zip(("columns", "dtype kinds", "row count", "fingerprint"), got, want):
            if a != b:
                failures.append(f"{name}: {what} differ: spark={a} oracle={b}")
                break
    con.close()
    return failures
