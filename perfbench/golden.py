#!/usr/bin/env python3
"""Regenerate golden/pack_digests.json: the digest of every query's
DuckDB-oracle result over the benchmark's data, under tools/check.py's
normalization (see run.py's frame_digest).

Usage (from the repository root): python3 perfbench/golden.py
"""
import json
import os
import subprocess
import tempfile

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    run.build()
    with tempfile.TemporaryDirectory(dir=run.BENCH) as work:
        os.makedirs(os.path.join(work, "tmp"))
        path = os.path.join(work, "oracle.json")
        cmd = run.java_cmd(work, ["--oracle-sql", path], heap="1g")
        subprocess.run(cmd, check=True, stdin=subprocess.DEVNULL)
        with open(path) as f:
            oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{run.DATA}/{t}.parquet'")
    digests = {name: run.frame_digest(con.execute(sql).fetchdf())
               for name, sql in sorted(oracle.items())}
    os.makedirs(os.path.dirname(run.GOLDEN), exist_ok=True)
    with open(run.GOLDEN, "w") as f:
        json.dump({"normalization": "tools/check.py: columns sorted by name, "
                   "repr of each value, rows in result order",
                   "digests": digests}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(digests)} digests -> {run.GOLDEN}")


if __name__ == "__main__":
    main()
