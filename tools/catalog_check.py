#!/usr/bin/env python3
"""Check every catalog query's Spark answer against its DuckDB oracle.

Usage: python3 tools/catalog_check.py SF_DIR WORK_DIR [--self-test] [--reuse]

The script first runs, in the repository that holds it,
`sbt --batch "runMain graft.Verify SF_DIR WORK_DIR/verify"` with the JVM's
`java.io.tmpdir` set to WORK_DIR/tmp (passed through SPARK_GRAFT_JAVA_OPTS)
and SPARK_LOCAL_DIRS set to WORK_DIR/spark-local, so the catalog's index
roots, its auxiliary tables and Spark's local dirs are all written under
WORK_DIR. `--reuse` skips that run and compares the answers a previous run
left in WORK_DIR/verify.

Then it runs each query of WORK_DIR/verify/oracle_sql.json in DuckDB, with
the SF_DIR parquet tables as views under their file names, and compares it
with the Spark answer in WORK_DIR/verify/<query>:

- schema_match: the column names, in order;
- rows_match: the sorted multisets of rows. Before the comparison every
  floating-point or decimal value, nested ones included, is rounded to 9
  decimal places, timestamps are taken in UTC, and the rows of each side
  are sorted, so row order is never compared (ORDER BY clauses included).

It writes WORK_DIR/catalog_check.json, one object per query with the keys
rows_match, schema_match, spark_rows, oracle_rows and err (the shape of
CORRECTNESS_r06.json), and prints `N/M`, the queries whose rows and schema
both match out of all queries. CORRECTNESS_r06.json also holds a
hash_match column; the rule behind it is not in this repository, and this
script does not compute it.

`--self-test` adds 1e-6 to every q07_bm25_topk score on the Spark side
before comparing; a check that works then reports one query fewer.
Exits 0 when every query matches, 1 otherwise.
"""
import argparse
import datetime
import decimal
import json
import math
import os
import subprocess
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIGITS = 9
SELF_TEST_QUERY = "q07_bm25_topk"
SELF_TEST_COLUMN = "score"


def norm(v):
    """A value in the form both sides compare in."""
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else round(f, DIGITS)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    return v


def sort_key(v):
    """A total order over normalized values of mixed types."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        return (2, v)
    if isinstance(v, tuple):
        return (4, tuple(sort_key(x) for x in v))
    return (3, type(v).__name__, v)


def rows_of(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def multiset(rows):
    return sorted((tuple(norm(v) for v in r) for r in rows),
                  key=lambda r: tuple(sort_key(v) for v in r))


def run_verify(sf_dir, work_dir):
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_JAVA_OPTS"] = " ".join(
        filter(None, [env.get("SPARK_GRAFT_JAVA_OPTS", ""), f"-Djava.io.tmpdir={tmp}"]))
    env["SPARK_LOCAL_DIRS"] = local
    out = os.path.join(work_dir, "verify")
    subprocess.run(["sbt", "--batch", f"runMain graft.Verify {sf_dir} {out}"],
                   env=env, cwd=ROOT, check=True)


def check(sf_dir, work_dir, self_test):
    out = os.path.join(work_dir, "verify")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name).replace("'", "''")
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{path}')")
    report = {}
    for name in sorted(oracle_sql):
        entry = {"rows_match": False, "schema_match": False,
                 "spark_rows": None, "oracle_rows": None, "err": None}
        try:
            part = os.path.join(out, name, "*.parquet").replace("'", "''")
            s_cols, s_rows = rows_of(con, f"SELECT * FROM read_parquet('{part}')")
            if self_test and name == SELF_TEST_QUERY:
                i = s_cols.index(SELF_TEST_COLUMN)
                s_rows = [r[:i] + (r[i] + 1e-6,) + r[i + 1:] for r in s_rows]
            o_cols, o_rows = rows_of(con, oracle_sql[name])
            entry["spark_rows"], entry["oracle_rows"] = len(s_rows), len(o_rows)
            entry["schema_match"] = s_cols == o_cols
            entry["rows_match"] = multiset(s_rows) == multiset(o_rows)
            if not entry["schema_match"]:
                entry["err"] = f"columns {s_cols} != oracle {o_cols}"
        except Exception as e:  # a failed query is a mismatch, reported
            entry["err"] = f"{type(e).__name__}: {e}"
        report[name] = entry
    return report


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("work_dir")
    ap.add_argument("--self-test", action="store_true",
                    help=f"add 1e-6 to every {SELF_TEST_QUERY} score")
    ap.add_argument("--reuse", action="store_true",
                    help="compare the answers of a previous run in WORK_DIR")
    args = ap.parse_args()
    sf_dir, work_dir = os.path.abspath(args.sf_dir), os.path.abspath(args.work_dir)
    os.makedirs(work_dir, exist_ok=True)
    if not args.reuse:
        run_verify(sf_dir, work_dir)
    report = check(sf_dir, work_dir, args.self_test)
    with open(os.path.join(work_dir, "catalog_check.json"), "w") as f:
        json.dump(report, f, indent=2)
    bad = [n for n, e in report.items() if not (e["rows_match"] and e["schema_match"])]
    for n in bad:
        print(f"MISMATCH {n}: {report[n]}", file=sys.stderr)
    print(f"{len(report) - len(bad)}/{len(report)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
