#!/usr/bin/env python3
"""Regenerate pipeline_batch's expected digests and cross-check them
against graft's DuckDB oracle SQL.

Usage (from the repository root): python3 perfbench/oracle_check.py

Runs every pipeline_batch query once on the sf0.01 corpus, writes its
rows as parquet, and compares them with `graft.SparkEntry.oracleSql`
run in DuckDB over the same corpus: row count, column names and an
order-insensitive row hash (the comparison tools/check.py makes).
Queries without an oracle (graft's non-SQL operators) are checked for
a stable row count and digest only. When every comparison passes, the
row counts and digests are written to perfbench/expected_digests.json.
"""
import hashlib
import json
import shutil
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normhash(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(repr(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256()
    for r in canon:
        h.update("\x01".join(r).encode())
        h.update(b"\x02")
    return h.hexdigest()[:16]


def main():
    classpath = run.build(run.sources_stamp())
    corpus = run.corpus(0.01)
    out = run.HERE / ".out" / "oracle"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    # the oracle SQL of graft's sketch queries reads files the run
    # exports under its temp dir, so the run's work dir is kept
    code, _ = run.run_java(classpath, ["--emit-expected", str(corpus), str(out / "result")],
                           900, work=out / "work")
    if code != 0:
        run.fail(f"emitting the pipeline results failed (exit {code})")
    expected = json.loads((out / "result" / "expected.json").read_text())
    oracles = json.loads((out / "result" / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    bad = 0
    for name in expected["queries"]:
        spark = con.execute(f"SELECT * FROM '{out}/result/rows/{name}/*.parquet'")
        scols = [c[0] for c in spark.description]
        srows = spark.fetchall()
        if name not in oracles:
            print(f"rows-only {name}: rows={len(srows)}")
            continue
        orel = con.sql(oracles[name])
        ocols, orows = list(orel.columns), orel.fetchall()
        ok = (len(srows) == len(orows) and sorted(scols) == sorted(ocols)
              and normhash(srows, scols) == normhash(orows, ocols))
        bad += not ok
        print(f"{'OK  ' if ok else 'FAIL'} {name}: rows={len(srows)} oracle_rows={len(orows)}")
    if bad:
        run.fail(f"{bad} queries disagree with the DuckDB oracle; digests not written")
    (run.HERE / "expected_digests.json").write_text(json.dumps(
        {"corpus": "sf0.01", "queries": expected["queries"]}, indent=2) + "\n")
    print("wrote perfbench/expected_digests.json")


if __name__ == "__main__":
    sys.exit(main())
