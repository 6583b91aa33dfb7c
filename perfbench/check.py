"""Oracle checks: the program's output against the registry's DuckDB
oracle SQL (`SparkEntry.oracleSql`), run over the same generated
parquet, with scripts/verify_local.py's compare and float tolerance."""
import contextlib
import glob
import os
import shutil
import sys

import duckdb
import pyarrow.dataset as ds
import pyarrow.parquet as pq

sys.path.insert(0, "scripts")
import verify_local  # noqa: E402  (the repo's own compare)


def connect(tables):
    """DuckDB views over {name: parquet path or glob}."""
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _compare(name, spark_dir, con, sql):
    # compare() prints dtype warnings; stdout's last line is the record
    with contextlib.redirect_stdout(sys.stderr):
        msg = verify_local.compare(name, spark_dir, con, sql)
    ok = ": OK (" in msg or ": CLOSE-ONLY" in msg  # CLOSE-ONLY: within the float tolerance
    return ok, msg


def marts(con, mart_dir, oracle, tmp_dir, dates=None):
    """Each mart written by Pipeline.run vs the oracle of the registry
    query with the same name; with `dates`, only those partitions on
    both sides. Partition columns are dropped from both sides first.
    Returns [(ok, message)]."""
    out = []
    for o in oracle:
        name, drop = o["name"], o["drop"]
        parts = [f"{drop}={d}" for d in dates] if dates else ["**"]
        files = [f for p in parts
                 for f in glob.glob(os.path.join(mart_dir, name, p, "*.parquet"), recursive=True)]
        table = ds.dataset(files, format="parquet").to_table()
        if drop in table.column_names:
            table = table.drop([drop])
        one = os.path.join(tmp_dir, name)
        shutil.rmtree(one, ignore_errors=True)
        os.makedirs(one)
        pq.write_table(table, os.path.join(one, "part-0.parquet"))
        cols = [d[0] for d in con.execute(f"SELECT * FROM ({o['sql']}) LIMIT 0").description]
        sql = o["sql"]
        if dates:
            listed = ", ".join(f"'{d}'" for d in dates)
            sql = f"SELECT * FROM ({sql}) WHERE CAST({drop} AS VARCHAR) IN ({listed})"
        if drop in cols:
            sql = f"SELECT * EXCLUDE ({drop}) FROM ({sql})"
        out.append(_compare(name, one, con, sql))
    return out


def queries(con, oracle):
    """Registry query outputs (one parquet dir each) vs their oracle."""
    return [_compare(o["name"], o["dir"], con, o["sql"]) for o in oracle]
