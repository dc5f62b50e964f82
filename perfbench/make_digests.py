#!/usr/bin/env python3
"""Regenerates perfbench/digests.json, the reference the benchmark checks
every timed query against.

    python3 perfbench/make_digests.py

Run from the repository root. For each query of every workload it runs
the query's DuckDB oracle (SparkEntry.oracleSql) over the tables in
perfbench/data and stores the row count and the digest of the oracle's
result in the canonical form of tools/check_correctness.py. A query with
no oracle is checked by row count only; its count is taken from one
Spark run of the query. Needs the duckdb and pandas Python packages.
"""
import json
import os
import shutil
import subprocess
import sys

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    root = os.getcwd()
    classes = run.build(root)
    queries = sorted({q for w in run.WORKLOADS.values() for q in w["queries"]})
    work = os.path.join(root, run.BUILD_DIR, "digests")
    os.makedirs(work, exist_ok=True)
    sql_file = os.path.join(work, "oracles.json")
    subprocess.run(["java", "-XX:-UsePerfData",
                    "-cp", run.classpath(classes),
                    "graft.perfbench.OracleDump", sql_file] + queries,
                   check=True)
    with open(sql_file) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                    % (t, run.DATA_DIR, t))
    digests = {}
    no_oracle = [q for q in queries if not oracles.get(q)]
    for q in queries:
        if oracles.get(q):
            df = con.execute(oracles[q]).fetchdf()
            digests[q] = {"rows": len(df), "digest": run.digest(df)}
            print("oracle %s: %d rows" % (q, len(df)), file=sys.stderr)
    if no_oracle:
        rundir = os.path.join(work, "spark")
        result, check_dir = run.run_jvm(classes, rundir, no_oracle, 0, 0,
                                        False)
        for q in no_oracle:
            if result["checks"][q]:
                sys.exit("%s failed: %s" % (q, result["checks"][q]))
            n = len(run.read_result(os.path.join(check_dir, q)))
            digests[q] = {"rows": n, "digest": None}
            print("no oracle %s: %d rows (Spark)" % (q, n), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    with open(run.DIGESTS, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
