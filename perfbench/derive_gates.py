"""Derives the gate references: each gate's row count and
order-insensitive hash, computed from its DuckDB oracle
(``SparkEntry.oracleSql``) over the base tables, written to
``perfbench/gates_expected.json``. Run it again only when a gate or the
base tables change:

    python3 perfbench/derive_gates.py
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem", "documents"]


def main():
    cp = build.build()
    with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
        out = os.path.join(tmp, "oracles.json")
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.OracleDump", out] + gen.GATES, check=True)
        with open(out) as f:
            oracles = json.load(f)
    con = checks.duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{gen.BASE_DIR}/{t}.parquet')")
    expected = {}
    for g in gen.GATES:
        rows = con.execute(oracles[g]).fetchall()
        n, h = checks.relation_hash([d[0] for d in con.description], rows)
        expected[g] = {"rows": n, "hash": h}
        print(g, n, h)
    with open(os.path.join(HERE, "gates_expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
