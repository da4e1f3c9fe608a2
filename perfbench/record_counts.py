#!/usr/bin/env python3
"""Chooses query_suite's queries and records their expected row counts.

Run from the repository root (needs the `duckdb` Python module):

    python3 perfbench/record_counts.py

Runs every q/x query once on perfbench/fixture, takes every STRIDE-th
query of each defining object in name order (at least one per object),
checks each chosen query's Spark row count against its DuckDB oracle
count on the same fixture, and writes
perfbench/src/main/resources/perfbench/expected_counts.tsv. A chosen
query without an oracle keeps the count recorded here. Exits non-zero if
any chosen query disagrees with its oracle.
"""
import collections
import json
import os
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

STRIDE = 8
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    root = os.getcwd()
    fixture = os.path.join(root, "perfbench", "fixture")
    build_dir = os.path.join(root, ".bench_build")
    cp = run.classpath(root, build_dir)
    work = os.path.join(build_dir, "work", "record-counts")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={work}"]
    for p in run.JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    out = subprocess.run(cmd + ["-cp", cp, "perfbench.RecordCounts",
                                fixture, work],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    shutil.rmtree(work, ignore_errors=True)
    rows = [json.loads(l) for l in out.splitlines() if l.startswith("{")]

    by_obj = collections.defaultdict(list)
    for r in rows:
        by_obj[r["object"]].append(r)
    chosen = []
    for obj in sorted(by_obj):
        qs = sorted(by_obj[obj], key=lambda r: r["query"])
        chosen += qs[::STRIDE]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(fixture, t)}.parquet'")
    lines = ["# query\texpected_rows\tsource\tobject\twall_s_when_recorded"]
    bad = 0
    for r in sorted(chosen, key=lambda r: r["query"]):
        if r["oracle"] is None:
            src = "recorded"
        else:
            n = con.sql(f"SELECT count(*) FROM ({r['oracle']})").fetchone()[0]
            src = "duckdb"
            if n != r["rows"]:
                print(f"{r['query']}: spark {r['rows']} rows, oracle {n}",
                      file=sys.stderr)
                bad += 1
        lines.append(f"{r['query']}\t{r['rows']}\t{src}\t{r['object']}\t"
                     f"{r['wall_s']:.3f}")
    path = os.path.join(root, "perfbench", "src", "main", "resources",
                        "perfbench", "expected_counts.tsv")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{len(chosen)} queries, "
          f"{sum(r['wall_s'] for r in chosen):.1f} s recorded wall, "
          f"{bad} oracle mismatches -> {path}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
