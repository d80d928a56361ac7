#!/usr/bin/env python3
"""Cross-checks the committed fingerprints (expected/fingerprints.json)
against DuckDB.

For every query of a fixture that has oracle SQL (`SparkEntry.oracleSql`),
DuckDB runs the SQL over the same parquet tables and writes the result as
parquet; the harness then fingerprints those files with the same function
the benchmark uses on graft's output, and the two are compared. The record
goes to perfbench/results/duckdb_crosscheck.json.

Usage: python3 perfbench/crosscheck.py [--refresh]

--refresh first recomputes the reference fingerprints from the current
graft sources (one query at a time, each index group in build order) and
rewrites expected/fingerprints.json; do that only for a change that is
meant to alter query results, and commit the cross-check with it.
"""
import json
import os
import shutil
import sys

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def views(con, data_dir):
    """One view per table; raw epoch-nanosecond `events.ts` becomes a
    TIMESTAMP, as graft's Tables.normalizeEventTs does on the Spark side."""
    for t in TABLES:
        src = f"'{data_dir}/{t}.parquet'"
        if not os.path.exists(f"{data_dir}/{t}.parquet"):
            continue
        if t == "events":
            ty = con.execute(f"DESCRIBE SELECT ts FROM {src}").fetchone()[1]
            if ty in ("BIGINT", "HUGEINT", "UBIGINT"):
                con.execute(f"CREATE VIEW {t} AS SELECT * REPLACE "
                            f"(make_timestamp(ts // 1000) AS ts) FROM {src}")
                continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")


def refresh(cp, path):
    with open(path) as fh:
        expected = json.load(fh)
    for fixture, exp in expected.items():
        out = os.path.join(run.WORK, f"fingerprints-{fixture}.json")
        run.jvm(cp, ["fingerprint", "--data", run.ensure_fixture(cp, fixture),
                     "--queries", ",".join(exp["queries"]), "--result", out],
                f"fingerprint-{fixture}.log", timeout=3000)
        with open(out) as fh:
            fresh = json.load(fh)
        expected[fixture] = {"fixture": fresh["fixture"],
                             "queries": fresh["queries"]}
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=1)
        fh.write("\n")


def main():
    cp, source_sha = build.build()
    path = os.path.join(run.HERE, "expected", "fingerprints.json")
    if "--refresh" in sys.argv[1:]:
        refresh(cp, path)
    with open(path) as fh:
        expected = json.load(fh)
    record = {"duckdb_version": duckdb.__version__,
              "source_sha256": source_sha, "fixtures": {}}
    for fixture, exp in expected.items():
        data = run.ensure_fixture(cp, fixture)
        names = list(exp["queries"])
        sql_file = os.path.join(run.WORK, f"oracle-sql-{fixture}.json")
        run.jvm(cp, ["sql", "--queries", ",".join(names),
                     "--result", sql_file], f"sql-{fixture}.log")
        with open(sql_file) as fh:
            sqls = json.load(fh)
        out = os.path.join(run.WORK, f"oracle-{fixture}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        con = duckdb.connect()
        views(con, data)
        errors = {}
        for name, sql in sqls.items():
            os.makedirs(os.path.join(out, name))
            try:
                con.execute(f"COPY ({sql}) TO "
                            f"'{out}/{name}/part-0.parquet' (FORMAT PARQUET)")
            except Exception as e:  # recorded, not fatal
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                shutil.rmtree(os.path.join(out, name))
        fp_file = os.path.join(run.WORK, f"oracle-fp-{fixture}.json")
        run.jvm(cp, ["oracle", "--dir", out, "--result", fp_file],
                f"oracle-{fixture}.log", timeout=900)
        with open(fp_file) as fh:
            duck = json.load(fh)
        rows = {}
        for name in names:
            if name not in sqls:
                rows[name] = {"status": "no oracle SQL"}
            elif name in errors:
                rows[name] = {"status": "duckdb error", "error": errors[name]}
            else:
                same = duck.get(name) == exp["queries"][name]
                rows[name] = {"status": "match" if same else "MISMATCH",
                              "graft": exp["queries"][name],
                              "duckdb": duck.get(name)}
        count = {s: sum(1 for r in rows.values() if r["status"] == s)
                 for s in ("match", "MISMATCH", "duckdb error",
                           "no oracle SQL")}
        record["fixtures"][fixture] = {"fixture_content_md5":
                                       exp["fixture"]["content"]["md5"],
                                       "summary": count, "queries": rows}
        print(fixture, count)
    dest = os.path.join(run.HERE, "results", "duckdb_crosscheck.json")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
