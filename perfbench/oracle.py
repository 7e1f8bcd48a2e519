#!/usr/bin/env python3
"""Build query_suite's expected results with the DuckDB oracle.

    python3 perfbench/oracle.py

Takes each listed query's `SparkEntry.oracleSql` text from graft's
registry, runs it in DuckDB over the same scale-factor parquet tables the
workload reads, and stores the canonical summary (rows, columns, column
kinds, value hash; see checks.summary) in
perfbench/expected/query_suite.json.  The oracle's answer does not depend
on graft's engine, so the file is stored and only remade by this command.
"""
import glob
import json
import os
import subprocess
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import workloads  # noqa: E402


TIMEOUT_S = 300


def oracle_sql(classpath, names):
    with tempfile.TemporaryDirectory(dir=build.BENCH) as tmp:
        out = os.path.join(tmp, "sql.json")
        subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                        "-cp", ":".join(classpath), "perfbench.GraftBench",
                        "workload=oracle_sql", f"work={tmp}", "trace=0",
                        f"queries={','.join(names)}", f"out={out}"], check=True)
        return json.load(open(out))


def main():
    import duckdb
    classpath = build.build()
    sf = workloads.sf_dir()
    sql = oracle_sql(classpath, workloads.QUERIES)
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    queries = {}
    for name in workloads.QUERIES:
        if sql.get(name) is None:
            sys.exit(f"{name} has no oracle SQL; it cannot be in query_suite")
        t0 = time.time()
        timer = threading.Timer(TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            df = con.execute(sql[name]).df()
        except duckdb.InterruptException:
            sys.exit(f"{name}: the oracle ran past {TIMEOUT_S} s; it cannot be "
                     "in query_suite")
        finally:
            timer.cancel()
        queries[name] = dict(checks.summary(df), sql=sql[name])
        print(f"{name}: {queries[name]['rows']} rows in {time.time() - t0:.1f} s",
              file=sys.stderr, flush=True)
    os.makedirs(os.path.dirname(workloads.EXPECTED), exist_ok=True)
    with open(workloads.EXPECTED, "w") as fh:
        json.dump({"scale_factor_dir": os.path.basename(sf.rstrip("/")),
                   "duckdb": duckdb.__version__, "queries": queries},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
