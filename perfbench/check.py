"""Output checks run after the engine process exits (untimed).

- Batch workloads: every oracle-backed key's result on the run's warm-up
  input is compared with its `SparkEntry.oracleSql` run in DuckDB over the
  same generated tables, with the normalisation of tools/compare.py.
- lake_ingest: every pass's operation log is replayed in DuckDB (appends of
  the landed files, merges of corrected values, deletes of one user) and the
  replayed totals must equal the final snapshot's.

Each function returns (attempted, failures).
"""
import json
import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import compare  # noqa: E402  (the repo's oracle comparison rules)


def batch(info):
    inp, out = info["check_input"], info["check_outputs"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    for t in compare.TABLES:
        p = os.path.join(inp, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    failures = []
    for name in sorted(oracles):
        try:
            got = compare.canon(pd.read_parquet(os.path.join(out, name)))
            exp = compare.canon(con.execute(oracles[name]).fetchdf())
        except Exception as e:  # a failing oracle or unreadable output
            failures.append(f"{name}: {str(e)[:200]}")
            continue
        if list(got.columns) != list(exp.columns):
            failures.append(f"{name}: columns {list(got.columns)} vs {list(exp.columns)}")
        elif len(got) != len(exp):
            failures.append(f"{name}: {len(got)} rows vs oracle {len(exp)}")
        elif compare.norm_df(got).values.tolist() != compare.norm_df(exp).values.tolist():
            failures.append(f"{name}: values differ from the oracle")
    return len(oracles), failures


def lake(info):
    failures = []
    for log in info["oplogs"]:
        ol = json.load(open(log))
        con = duckdb.connect()
        con.execute("CREATE TABLE t (event_id BIGINT, user_id BIGINT, cents BIGINT)")
        for op in ol["ops"]:
            if op["op"] == "append":
                con.execute("INSERT INTO t SELECT event_id, user_id, "
                            "CAST(round(value * 100) AS BIGINT) FROM read_parquet(?)",
                            [op["file"]])
            elif op["op"] == "merge":
                rows = pd.DataFrame(op["rows"], columns=["event_id", "cents"])
                con.register("m", rows)
                con.execute("UPDATE t SET cents = m.cents FROM m WHERE t.event_id = m.event_id")
                con.unregister("m")
            elif op["op"] == "delete":
                con.execute("DELETE FROM t WHERE user_id = ?", [op["user"]])
        got = con.execute("SELECT count(*), coalesce(sum(cents), 0), "
                          "coalesce(sum(event_id), 0), coalesce(sum(user_id), 0) FROM t"
                          ).fetchone()
        fin = ol["final"]
        want = (fin["rows"], fin["cents"], fin["sum_event_id"], fin["sum_user_id"])
        if tuple(int(x) for x in got) != want:
            failures.append(f"{log}: DuckDB replay {tuple(got)} vs snapshot {want}")
    return len(info["oplogs"]), failures
