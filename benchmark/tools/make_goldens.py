#!/usr/bin/env python3
"""Regenerate benchmark/goldens.json, the expected output of every query
op of the query workloads.

    python3 benchmark/run.py --goldens <dump>
    python3 benchmark/tools/make_goldens.py <dump> > benchmark/goldens.json

The first step runs each listed query once on benchmark/data/sf0.1 and
writes its rows (parquet), its fingerprint and, for oracle-declared
queries, the oracle SQL into <dump>. This script answers each oracle SQL
with DuckDB on the same parquet files and compares it with the engine's
rows exactly as tools/compare.py does (columns sorted by name, values
canonicalized, row order kept). A query is written to the goldens only
if the two agree; queries without an oracle are recorded with the hash
of the engine's own output, to be compared against the seed tree's.
Exits non-zero if any oracle comparison fails.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from compare import TABLES, frame_rows  # noqa: E402  (the oracle gate's canonical form)

DATA = os.path.join(ROOT, "benchmark", "data", "sf0.1")


def digest(cols, rows):
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def main():
    dump = sys.argv[1]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    fps = json.load(open(os.path.join(dump, "fingerprints.json")))
    out, bad = {}, 0
    for q in sorted(fps):
        files = sorted(glob.glob(os.path.join(dump, q, "*.parquet")))
        scols, srows = frame_rows(con.execute(f"SELECT * FROM read_parquet({files})"))
        entry = {"fingerprint": fps[q], "rows": len(srows), "sha256": digest(scols, srows)}
        if q in oracle:
            ocols, orows = frame_rows(con.execute(oracle[q]))
            if (ocols, orows) != (scols, srows):
                print(f"FAIL {q}: engine output differs from the DuckDB oracle", file=sys.stderr)
                bad += 1
                continue
            entry["check"] = "duckdb"
        else:
            entry["check"] = "seed-output"
        out[q] = entry
        print(f"ok {q} ({entry['check']}, {len(srows)} rows)", file=sys.stderr)
    print(json.dumps(out, indent=1, sort_keys=True))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
