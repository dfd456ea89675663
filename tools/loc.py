#!/usr/bin/env python3
"""Count main-code lines the way the change log reports them.

For every Scala file under src/main/scala of a checkout, and in total:

  code      non-blank, non-comment lines: a line is left out when it is
            blank or, once stripped, starts with "//", "/*" or "*" (the
            body and close of a scaladoc block);
  dup_sql   duplicated SQL lines: stripped lines that start with "|"
            (stripMargin SQL) and are longer than 30 characters, counting
            every copy after the first within the file. The total is the
            sum over files.

Usage: python3 tools/loc.py [checkout]   (default: this script's checkout)
"""
import collections
import os
import sys


def count(path):
    code = 0
    sql = collections.Counter()
    with open(path, encoding="utf-8") as f:
        for line in f:
            t = line.strip()
            if not t or t.startswith(("//", "/*", "*")):
                continue
            code += 1
            if t.startswith("|") and len(t) > 30:
                sql[t] += 1
    return code, sum(n - 1 for n in sql.values())


def main(argv):
    root = argv[1] if len(argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    main_dir = os.path.join(root, "src", "main", "scala")
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(main_dir) for f in fs if f.endswith(".scala"))
    if not files:
        sys.exit(f"no Scala files under {main_dir}")
    total_code = total_dup = 0
    print(f"{'code':>7} {'dup_sql':>7}  file")
    for path in files:
        code, dup = count(path)
        total_code += code
        total_dup += dup
        print(f"{code:7d} {dup:7d}  {os.path.relpath(path, main_dir)}")
    print(f"{total_code:7d} {total_dup:7d}  total ({len(files)} files)")


if __name__ == "__main__":
    main(sys.argv)
