#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB correctness gate.

Usage: python3 scripts/check_oracle.py <verify_out_dir> [sf_dir]

Reads every <out>/<name>/ parquet result written by graft.Verify, replays the
matching SQL from <out>/oracle_sql.json in DuckDB against the sf parquet
tables, and diffs values (columns sorted by name, rows sorted by all columns,
exact equality — same as a hash compare would see). An oracle_sql.json key
with no result dir (its query threw in graft.Verify) is reported MISSING and
fails the run.
"""
import json
import sys
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    out = Path(sys.argv[1])
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    oracles = json.loads((out / "oracle_sql.json").read_text())
    results = {}
    for name in oracles:
        if not (out / name).is_dir():
            results[name] = "MISSING no result dir (the query failed in graft.Verify)"
    for qdir in sorted(p for p in out.iterdir() if p.is_dir()):
        name = qdir.name
        spark_rows = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").fetchall()
        spark_cols = [d[0] for d in con.description]
        if name not in oracles:
            results[name] = f"ROWS-ONLY rows={len(spark_rows)}"
            continue
        try:
            oracle_rows = con.execute(oracles[name]).fetchall()
            oracle_cols = [d[0] for d in con.description]
        except Exception as e:
            results[name] = f"ORACLE-ERROR {e}"
            continue
        # driver semantics: sort columns by name, then compare value sets
        def norm(rows, cols):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(tuple(r[i] for i in order) for r in rows), sorted(cols)
        s_rows, s_cols = norm(spark_rows, spark_cols)
        o_rows, o_cols = norm(oracle_rows, oracle_cols)
        if s_cols != o_cols:
            results[name] = f"SCHEMA-MISMATCH spark={s_cols} oracle={o_cols}"
        elif s_rows != o_rows:
            diff = []
            for a, b in zip(s_rows, o_rows):
                if a != b:
                    diff.append(f"spark={a} oracle={b}")
            if len(s_rows) != len(o_rows):
                diff.append(f"rowcount spark={len(s_rows)} oracle={len(o_rows)}")
            results[name] = "VALUE-MISMATCH " + "; ".join(diff[:3])
        else:
            results[name] = "OK"

    bad = 0
    for name in sorted(results):
        status = results[name]
        flag = "✓" if status == "OK" or status.startswith("ROWS-ONLY") else "✗"
        if flag == "✗":
            bad += 1
        print(f"{flag} {name}: {status}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
