#!/usr/bin/env python3
"""Regenerates graftbench/expected.json: the fixture fingerprints and, for
every pipeline gate, the row count of its oracle SQL replayed in DuckDB over
the generated pipeline fixture. Run it from the repository root after a
change to the fixture generator or the gate list:

    python3 graftbench/freeze.py
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    state = os.path.join(run.ROOT, ".bench_build", "graftbench")
    os.makedirs(state, exist_ok=True)
    cp = run.build(state)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [a for p in run.OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(state, "freeze-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graftbench.Freeze",
            "--data", os.path.join(state, "data")]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True).stdout
    frozen = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{frozen['pipeline_dir']}/{t}.parquet/*.parquet')")
    rows = {}
    bad = []
    for gate, spark_rows in sorted(frozen["spark_rows"].items()):
        sql = frozen["oracle_sql"].get(gate)
        if sql is None:
            bad.append(f"{gate}: no oracle SQL")
            continue
        rows[gate] = con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
        print(f"{gate}: duckdb {rows[gate]} spark {spark_rows}", file=sys.stderr)
        if rows[gate] != spark_rows:
            bad.append(f"{gate}: duckdb {rows[gate]} rows, spark {spark_rows}")
    shutil.rmtree(tmp, ignore_errors=True)
    if bad:
        sys.exit("oracle and engine disagree, nothing frozen:\n" + "\n".join(bad))
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump({"fixture": frozen["fixture"], "gate_rows": rows}, fh, indent=2)
        fh.write("\n")


if __name__ == "__main__":
    main()
