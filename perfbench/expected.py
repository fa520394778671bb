#!/usr/bin/env python3
"""Recompute perfbench/expected.json: DuckDB's answer to each query_suite
member's SparkEntry.oracleSql on the benchmark corpus.

Run from the repository root after a member's oracle SQL changes:

    python3 perfbench/expected.py

The answers are kept as row counts and digests of the canonical rows,
next to the digest of the SQL that produced them, so run.py can tell a
stale answer from a wrong one. Some answers take DuckDB minutes, which
is why they are not recomputed on every run.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import duckdb

import run


def main():
    jars = run.spark_jars()
    classes, _ = run.build(jars)
    os.makedirs(run.BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="expected-", dir=run.BUILD)
    try:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(run.java_cmd(classes, jars, tmp) + ["--oracle-sql", out],
                       check=True)
        with open(out) as f:
            oracle = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "lineitem"):
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s'"
                % (t, os.path.join(run.CORPUS, t + ".parquet")))
    expected = {}
    for name, sql in sorted(oracle.items()):
        rows, digest = run.answer_digest(con, sql)
        if rows == 0:
            sys.exit("%s: the oracle answer is empty" % name)
        expected[name] = {"sql_sha256": run.sha(sql), "rows": rows,
                          "sha256": digest}
        print(name, rows, digest[:12], file=sys.stderr)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
