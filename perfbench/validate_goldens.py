#!/usr/bin/env python3
"""Regenerate perfbench/goldens.json and validate it against DuckDB.

    python3 perfbench/validate_goldens.py [--size bench|toy ...]

For `query_mix` at each size: generate the tables, run every query
once in Spark (writing its result as parquet, with the row count and
digest the benchmark checks), then run each query's oracle SQL
(`SparkEntry.oracleSql`) in DuckDB on the same tables and compare the two
results: column names, row counts and values (exact, or within 1e-9
relative for floats). Queries without oracle SQL are recorded with
"oracle": "none" and are checked by digest only. Writes goldens.json
only if every oracle comparison passes. Run from the repository root.
"""
import argparse
import json
import math
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-9 * max(abs(fa), abs(fb), 1.0)
    return a == b


def compare(con, sql, result_dir):
    """None if DuckDB's answer matches Spark's, else a reason."""
    s = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    s_cols = [d[0] for d in s.description]
    s_rows = s.fetchall()
    d = con.execute(sql)
    d_cols = [x[0] for x in d.description]
    d_rows = d.fetchall()
    sc, sr = canon(s_rows, s_cols)
    dc, dr = canon(d_rows, d_cols)
    if sc != dc:
        return f"columns spark={sc} duckdb={dc}"
    if len(sr) != len(dr):
        return f"rows spark={len(sr)} duckdb={len(dr)}"
    bad = sum(1 for rs, rd in zip(sr, dr) for a, b in zip(rs, rd) if not eq(a, b))
    return f"{bad} values differ" if bad else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--size", action="append", choices=tuple(bench.SIZES))
    a = ap.parse_args()
    classpath = bench.build()
    path = os.path.join(bench.BENCH, "goldens.json")
    goldens = json.load(open(path)) if os.path.exists(path) else {}
    failures = 0
    workload = "query_mix"
    for size in a.size or list(bench.SIZES):
        scale = bench.SIZES[size]["query_scale"]
        data = bench.tables(scale)
        run_dir = os.path.join(bench.BUILD, "run", f"goldens-{scale}")
        dump = os.path.join(run_dir, "dump")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(dump)
        code, out = bench.run_jvm(classpath, [
            "--workload", workload, "--data", data, "--seed", "0", "--seconds", "0",
            "--out", os.path.join(run_dir, "result.json"), "--dump", dump], run_dir)
        sys.stdout.write(out)
        if code != 0:
            bench.die(f"dump at scale {scale} failed")
        digests = json.load(open(os.path.join(dump, "digests.json")))
        oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        entry = {}
        for name, d in sorted(digests.items()):
            verdict = "none"
            if name in oracle:
                why = compare(con, oracle[name], os.path.join(dump, name))
                verdict = "pass" if why is None else "FAIL"
                if why:
                    failures += 1
                    print(f"FAIL scale={scale} {name}: {why}")
            entry[name] = dict(d, oracle=verdict)
            print(f"scale={scale} {name}: rows={d['rows']} oracle={verdict}")
        goldens.setdefault(workload, {})[str(scale)] = entry
        shutil.rmtree(run_dir, ignore_errors=True)
    if failures:
        bench.die(f"{failures} oracle mismatches; goldens.json not written")
    with open(path, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
