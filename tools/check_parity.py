#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate.

Usage: python3 tools/check_parity.py <sfDir> <verifyOutDir> [names]

Reads each <verifyOutDir>/<query>/ parquet (Spark side) and runs the
matching SQL from <verifyOutDir>/oracle_sql.json in DuckDB with views
named after the testdata tables in <sfDir>. Sorts columns by name,
sorts rows, compares exactly. Dev tool only — never a library dep.

[names] is the comma-separated query filter that graft.Verify takes as
its third argument: only those queries are checked, and each of them
must still have its output dir. An unknown name is an error. Without
it, every query in oracle_sql.json is checked.

Each query's canonical oracle answer (its column names and `rows_key`
rows) is cached under .oracle_cache/ at the repository root (ignored by
git), keyed on the scale directory, a SHA-256 of the oracle SQL and the
path, size and mtime of every input table file. A miss, or any change
to the SQL or the tables, recomputes the answer in DuckDB; an oracle
error is never cached. Delete the directory to drop the cache.
"""
import gzip
import hashlib
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "b:%d" % v
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:%.10g" % v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "y:" + v.hex()
    return "%s:%s" % (type(v).__name__[0], v)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


CACHE_DIR = Path(__file__).resolve().parent.parent / ".oracle_cache"


def tables_signature(sf_dir):
    """(path, size, mtime_ns) of each input table file."""
    sig = []
    for t in TABLES:
        p = Path(sf_dir).resolve() / f"{t}.parquet"
        if p.exists():
            st = p.stat()
            sig.append([str(p), st.st_size, st.st_mtime_ns])
    return sig


def oracle_answer(con, sf_dir, tables_sig, sql):
    """(cols, rows_key rows) of `sql`, from the cache or from DuckDB."""
    key = hashlib.sha256(json.dumps({
        "scale": str(Path(sf_dir).resolve()),
        "sql_sha256": hashlib.sha256(sql.encode()).hexdigest(),
        "tables": tables_sig}).encode()).hexdigest()
    path = CACHE_DIR / f"{key}.json.gz"
    if path.exists():
        hit = json.loads(gzip.decompress(path.read_bytes()))
        return hit["cols"], hit["rows"]
    d = con.sql(sql)
    dcols, drows = [c.lower() for c in d.columns], d.fetchall()
    dk = rows_key(dcols, drows)
    CACHE_DIR.mkdir(exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_bytes(gzip.compress(json.dumps({"cols": dcols, "rows": dk}).encode()))
    tmp.replace(path)
    return dcols, dk


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    if only is not None:
        unknown = only - oracle.keys()
        if unknown:
            sys.exit("unknown query name(s) in filter: "
                     + ", ".join(sorted(unknown)))
        oracle = {k: v for k, v in oracle.items() if k in only}
    tables_sig = tables_signature(sf_dir)
    n_pass = n_fail = 0
    for name in sorted(oracle):
        qdir = Path(out_dir) / name
        if not qdir.exists():
            print(f"FAIL {name}: no spark output dir")
            n_fail += 1
            continue
        try:
            s = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
            scols, srows = [c.lower() for c in s.columns], s.fetchall()
            dcols, dk = oracle_answer(con, sf_dir, tables_sig, oracle[name])
        except Exception as e:
            print(f"FAIL {name}: {str(e)[:200]}")
            n_fail += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
            n_fail += 1
            continue
        sk = rows_key(scols, srows)
        if len(sk) != len(dk):
            print(f"FAIL {name}: rows spark={len(sk)} duck={len(dk)}")
            n_fail += 1
        elif sk != dk:
            bad = next(i for i, (a, b) in enumerate(zip(sk, dk)) if a != b)
            print(f"FAIL {name}: {len(sk)} rows, first diff @sorted[{bad}]:")
            print(f"  spark: {sk[bad][:220]}")
            print(f"  duck : {dk[bad][:220]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sk)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
