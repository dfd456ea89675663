#!/usr/bin/env python3
"""Prove an oracle-SQL refactor changes no oracle answer. Usage:

    python3 tools/diff_oracles.py <old oracle_sql.json> <new oracle_sql.json> <dataDir> [dataDir ...]

Both JSON files are `graft.Verify` artifacts (query name -> DuckDB SQL).
For every key in either file and every data dir, the old and the new SQL
run in DuckDB over views of <dataDir>/*.parquet, and the two answers are
compared the way `check_oracle.py` compares Spark with DuckDB: sorted
columns, lexsorted rows, str() cells. A key whose SQL text is
byte-identical on both sides is identical by construction and is not run.

Prints one line per key (`identical` / `DIFFERENT`, with the first
difference) and a summary; exits 1 if any key differs in any data dir,
is missing on one side, or fails to run.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import TABLES, canon  # noqa: E402


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def first_difference(old_df, new_df):
    """None when the two answers are equal under check_oracle's canonical form."""
    ocols, ncols = sorted(old_df.columns), sorted(new_df.columns)
    if ocols != ncols:
        return f"columns {ocols} vs {ncols}"
    if len(old_df) != len(new_df):
        return f"rows {len(old_df)} vs {len(new_df)}"
    a, b = canon(old_df), canon(new_df)
    if a.equals(b):
        return None
    i = int((a != b).any(axis=1).idxmax())
    return (f"first diff at sorted row {i}\n"
            f"  old={a.iloc[i].to_dict()}\n  new={b.iloc[i].to_dict()}")


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    old = json.load(open(sys.argv[1]))
    new = json.load(open(sys.argv[2]))
    data_dirs = sys.argv[3:]
    cons = {d: connect(d) for d in data_dirs}
    n_same_text = n_same = n_diff = 0
    for name in sorted(set(old) | set(new)):
        if name not in old or name not in new:
            print(f"DIFFERENT {name}: only in {'old' if name in old else 'new'}")
            n_diff += 1
            continue
        if old[name] == new[name]:
            print(f"identical {name} (same text)")
            n_same_text += 1
            continue
        problems = []
        for d, con in cons.items():
            try:
                problem = first_difference(con.sql(old[name]).df(), con.sql(new[name]).df())
            except Exception as e:  # noqa: BLE001
                problem = f"{type(e).__name__}: {e}"
            if problem:
                problems.append(f"{d}: {problem}")
        if problems:
            print(f"DIFFERENT {name}: " + "\n  ".join(problems))
            n_diff += 1
        else:
            print(f"identical {name} (text changed, answers equal on {len(data_dirs)} dirs)")
            n_same += 1
    print(f"== {n_same_text + n_same} identical ({n_same} with changed text), "
          f"{n_diff} different ==")
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
