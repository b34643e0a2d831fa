#!/usr/bin/env python3
"""Result parity between two `graft.Verify` output dirs: for each query
whose `<name>.parquet` result set is in either dir, report whether both
dirs hold the same rows (compared as check_oracle.py compares Spark with
DuckDB: columns sorted by name, values normalized, rows sorted).
Exits 1 when any result set differs or is missing on one side.
Usage: compare_results.py <outA> <outB>
"""
import os
import sys

import duckdb

from check_oracle import table_key


def results(out_dir):
    return {f.removesuffix(".parquet") for f in os.listdir(out_dir) if f.endswith(".parquet")}


def rows(con, out_dir, name):
    cur = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}.parquet/*.parquet')")
    cols = [d[0] for d in cur.description]
    return sorted(cols), table_key(cur.fetchall(), cols)


def main(a_dir, b_dir):
    con = duckdb.connect()
    a, b = results(a_dir), results(b_dir)
    n_same = 0
    for name in sorted(a | b):
        if name not in a or name not in b:
            print(f"DIFF {name}: only in {a_dir if name in a else b_dir}")
            continue
        (ca, ra), (cb, rb) = rows(con, a_dir, name), rows(con, b_dir, name)
        if ca != cb:
            print(f"DIFF {name}: columns {ca} vs {cb}")
        elif ra != rb:
            only_a = [r for r in ra if r not in set(rb)][:2]
            only_b = [r for r in rb if r not in set(ra)][:2]
            print(f"DIFF {name}: rows {len(ra)} vs {len(rb)}; only in A={only_a}; only in B={only_b}")
        else:
            n_same += 1
            print(f"SAME {name} ({len(ra)} rows)")
    print(f"\n{n_same}/{len(a | b)} result sets identical")
    return 0 if n_same == len(a | b) else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
