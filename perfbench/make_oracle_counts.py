#!/usr/bin/env python3
"""Write perfbench/oracle_counts.txt: the DuckDB oracle's row count for every
slot in perfbench/registry_slots.txt, over perfbench/data/sf0.1.

    python3 perfbench/make_oracle_counts.py <oracle_sql.json>

`oracle_sql.json` is the file `graft.Verify` writes next to its outputs. Some
oracles embed literals captured while their query runs, so produce it with a
Verify run over the same data and slots, e.g.

    sbt "runMain graft.Verify perfbench/data/sf0.1 <out dir> <comma-separated slots>"

The counts only change when the data, the slot list or a slot's oracle does.
"""
import json
import os
import sys

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH, "data", "sf0.1")


def main(oracle_path):
    with open(oracle_path) as f:
        oracles = json.load(f)
    with open(os.path.join(BENCH, "registry_slots.txt")) as f:
        slots = [l.strip() for l in f if l.strip() and not l.startswith("#")]
    con = duckdb.connect()
    for name in sorted(os.listdir(DATA)):
        if name.endswith(".parquet"):
            path = os.path.join(DATA, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    lines = []
    for s in slots:
        n = con.execute(f"SELECT count(*) FROM ({oracles[s]})").fetchone()[0]
        lines.append(f"{s} {n}")
        print(lines[-1], flush=True)
    with open(os.path.join(BENCH, "oracle_counts.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main(sys.argv[1])
