#!/usr/bin/env python3
"""Compare two `oracle_sql.json` files (query name -> DuckDB SQL) by name.

Usage: python3 tools/oracle_diff.py A.json B.json

Two entries are equal when their SQL is equal after every whitespace run
outside single-quoted literals is collapsed to one space. Literals are
compared byte for byte ('' is an escaped quote inside a literal). Prints
each query whose SQL differs and each name present on one side only, and
exits 1 if there is any; otherwise prints the entry count and exits 0.
"""
import json
import sys


def normalize(sql):
    """`sql` with each whitespace run outside '...' literals made one space."""
    out = []
    i, n = 0, len(sql)
    in_lit = False
    while i < n:
        c = sql[i]
        if in_lit:
            out.append(c)
            if c == "'":
                if i + 1 < n and sql[i + 1] == "'":  # escaped quote
                    out.append("'")
                    i += 1
                else:
                    in_lit = False
            i += 1
        elif c.isspace():
            while i < n and sql[i].isspace():
                i += 1
            out.append(" ")
        else:
            if c == "'":
                in_lit = True
            out.append(c)
            i += 1
    return "".join(out)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    bad = False
    for name in sorted(a.keys() - b.keys()):
        print(f"only in {argv[1]}: {name}")
        bad = True
    for name in sorted(b.keys() - a.keys()):
        print(f"only in {argv[2]}: {name}")
        bad = True
    for name in sorted(a.keys() & b.keys()):
        if normalize(a[name]) != normalize(b[name]):
            print(f"differs: {name}")
            bad = True
    if not bad:
        print(f"oracle_diff: {len(a)} entries equal")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
