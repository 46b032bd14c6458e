"""The `catalog` workload's correctness check: each query's result against
its `SparkEntry.oracleSql`, run by DuckDB over the same generated tables.

The workload JVM writes each result to `<results>/<query>/*.parquet` and the
oracle SQL to `<results>/oracle_sql.json`. A result matches when it has the
oracle's columns and the same rows as a multiset (`EXCEPT ALL` both ways is
empty); values compare exactly, as the queries round their doubles.
"""
import json
import os

import duckdb


def check(data, results):
    """One `{"name", "ok", "why"}` check per query."""
    with open(os.path.join(results, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    try:
        for t in ("orders", "lineitem", "events"):
            path = os.path.join(data, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return [_check_one(con, q, sql, os.path.join(results, q)) for q, sql in sorted(sqls.items())]
    finally:
        con.close()


def _check_one(con, query, sql, result_dir):
    name = f"catalog.{query}"
    try:
        con.execute(f"CREATE OR REPLACE TABLE want AS {sql}")
        con.execute("CREATE OR REPLACE TABLE got AS SELECT * FROM "
                    f"read_parquet('{result_dir}/*.parquet')")
        want_cols = [r[0] for r in con.execute("DESCRIBE want").fetchall()]
        got_cols = [r[0] for r in con.execute("DESCRIBE got").fetchall()]
        if sorted(want_cols) != sorted(got_cols):
            return {"name": name, "ok": False, "why": f"columns {got_cols} vs oracle {want_cols}"}
        cols = ", ".join(f'"{c}"' for c in want_cols)
        n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
        n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
        extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL "
                            f"SELECT {cols} FROM want)").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL "
                              f"SELECT {cols} FROM got)").fetchone()[0]
        ok = n_want == n_got and extra == 0 and missing == 0
        return {"name": name, "ok": ok,
                "why": f"{n_got} rows vs oracle {n_want}; {extra} unexpected, {missing} missing"}
    except Exception as e:  # noqa: BLE001 -- any failure to compare is a failed check
        return {"name": name, "ok": False, "why": f"compare failed: {e}"}
