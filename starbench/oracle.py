"""Output checks against DuckDB.

A graft result (a directory of parquet files) matches its oracle SQL when
both have the same column names and the same rows as a multiset, values
compared exactly (NULLs equal to NULLs). Row order is not compared: the
warehouse tables carry none, and the gate queries' ORDER BY is a
presentation property that the gate itself checks.
"""
import glob
import os

import duckdb


def connect(data_dir):
    """A DuckDB connection with each input table as a view."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(con, result_dir, oracle_sql):
    """None when the parquet result under `result_dir` equals the oracle's
    rows, else a one-line reason."""
    files = [f for f in glob.glob(os.path.join(result_dir, "**", "*.parquet"), recursive=True)
             if not os.path.relpath(f, result_dir).startswith("_")]
    if not files:
        return f"no parquet output under {result_dir}"
    listed = ", ".join("'" + f.replace("'", "''") + "'" for f in sorted(files))
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet([{listed}], "
                "union_by_name=true, hive_partitioning=true)")
    con.execute(f"CREATE OR REPLACE TEMP VIEW want AS {oracle_sql}")
    got_cols = sorted(r[0] for r in con.execute("DESCRIBE got").fetchall())
    want_cols = sorted(r[0] for r in con.execute("DESCRIBE want").fetchall())
    if got_cols != want_cols:
        return f"columns differ: graft={got_cols} oracle={want_cols}"
    cols = ", ".join(f'"{c}"' for c in want_cols)
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
    if n_got != n_want:
        return f"row count differs: graft={n_got} oracle={n_want}"
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want)").fetchone()[0]
    if extra:
        return f"{extra} of {n_got} rows differ from the oracle"
    return None
