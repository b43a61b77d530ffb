#!/usr/bin/env python3
"""Compare two Verify output directories gate by gate (dev tool): each
gate's parquet output is normalized and hashed exactly as hashcheck.py does
(`norm` + `h`), so two commits' outputs can be checked for identity without
the oracle. Also reports whether the two oracle_sql.json files are
byte-identical.

Usage: python3 tools/hashdiff.py <outdir_a> <outdir_b>
"""
import filecmp
import glob
import os
import sys

import duckdb

from hashcheck import h, norm


def gate_hash(con, outdir, name):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        return None
    return h(norm(con.sql(f"SELECT * FROM read_parquet({files!r})").df()))


def main(a, b):
    con = duckdb.connect()
    names = sorted({os.path.basename(p) for d in (a, b)
                    for p in glob.glob(f"{d}/*") if os.path.isdir(p)})
    same = differ = 0
    for name in names:
        ha, hb = gate_hash(con, a, name), gate_hash(con, b, name)
        if ha is not None and ha == hb:
            print(f"SAME {name} {ha}")
            same += 1
        else:
            print(f"DIFF {name} {ha} {hb}")
            differ += 1
    oracle = filecmp.cmp(f"{a}/oracle_sql.json", f"{b}/oracle_sql.json",
                         shallow=False)
    print(f"oracle_sql.json byte-identical: {oracle}")
    print(f"== {same} same, {differ} differ ==")
    return 0 if differ == 0 and oracle else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
