#!/usr/bin/env python3
"""Write perfbench/expected/catalog.json: the row count and row hash of
each catalog query that has a DuckDB oracle, computed by DuckDB over the
fixed catalog tables the generator writes.

    python3 perfbench/expect.py

Run from the root of a checkout, after a change to the catalog tables or
to the queries' oracles. The oracle SQL comes from graft's own
`SparkEntry.oracleSql`; the hash is the one `Catalog.digest` computes
over the engine's rows (columns by name, tab-separated formatted values
per row, rows sorted, SHA-256).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

# the catalog queries checked by hash; the other two are law-checked
ORACLE_CHECKED = ["dedup_clusters", "dedup_ngram", "split_leak_safe", "export_plan",
                  "curation_funnel", "text_rarity", "tpch_q1", "asof_last_click_tol"]
TABLES = ["lineitem", "documents", "embeddings", "events"]


def fmt(v):
    """`Catalog.fmt`: integers exactly, fractions to 7 significant digits."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(fmt(x) for x in v) + "]"
    if isinstance(v, str):
        return v
    return "%.6e" % float(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(fmt(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


def main():
    checkout = os.getcwd()
    classes, _ = build.build(checkout)
    tmp = tempfile.mkdtemp(prefix="expect-", dir=os.path.join(checkout, ".bench_inputs")
                           if os.path.isdir(os.path.join(checkout, ".bench_inputs")) else checkout)
    try:
        gen.gen_catalog(tmp)
        sql_file = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-XX:-UsePerfData", "-cp",
                        classes + os.pathsep + build.SPARK_JARS + "/*", "graftbench.Main",
                        "oracle-sql", sql_file] + ORACLE_CHECKED, check=True)
        with open(sql_file) as f:
            oracles = json.load(f)
        missing = sorted(set(ORACLE_CHECKED) - set(oracles))
        if missing:
            raise SystemExit("no oracle for %s" % missing)
        con = duckdb.connect()
        for t in TABLES:
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, os.path.join(tmp, "catalog", t + ".parquet")))
        out = {}
        for q in ORACLE_CHECKED:
            cur = con.execute(oracles[q])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[q] = {"rows": len(rows), "sha256": digest(cols, rows)}
            print("%-24s %6d rows  %s" % (q, len(rows), out[q]["sha256"][:16]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", "catalog.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
