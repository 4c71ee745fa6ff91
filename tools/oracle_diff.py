#!/usr/bin/env python3
"""Diff two `oracle_sql.json` files (as `graft.Verify` writes them) token
by token, so a refactor of the oracle SQL's Scala source can prove that
the DuckDB text the gate runs did not change.

Each SQL string is split into the tokens `'[^']*'|\\w+|\\S`: whitespace
between tokens is ignored, string literals are kept whole (a space inside
a quoted literal is data, not layout). Re-indented or re-wrapped SQL
therefore compares equal; any other edit does not.

Usage:
  sbt "runMain graft.Verify <sfDir> /tmp/before"   # at the parent
  sbt "runMain graft.Verify <sfDir> /tmp/after"    # at the change
  python3 tools/oracle_diff.py /tmp/before/oracle_sql.json \\
    /tmp/after/oracle_sql.json

Reports names present in only one file and, per differing query, the
first differing token with a little context. Exits 1 on any difference,
0 when every name is present in both and every query is token-equal.
"""
import json
import re
import sys

TOKEN = re.compile(r"'[^']*'|\w+|\S")


def tokens(sql):
    return TOKEN.findall(sql)


def first_diff(a, b):
    """Index of the first differing token (len of the shorter on a
    prefix match)."""
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return i
    return min(len(a), len(b))


def context(toks, i, width=6):
    lo = max(0, i - width)
    pre = " ".join(toks[lo:i])
    at = toks[i] if i < len(toks) else "<end>"
    post = " ".join(toks[i + 1:i + 1 + width])
    return f"... {pre} [[{at}]] {post} ..."


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before = json.load(open(sys.argv[1]))
    after = json.load(open(sys.argv[2]))
    missing = sorted(set(before) - set(after))
    extra = sorted(set(after) - set(before))
    for n in missing:
        print(f"MISSING {n}: only in {sys.argv[1]}")
    for n in extra:
        print(f"EXTRA {n}: only in {sys.argv[2]}")
    common = sorted(set(before) & set(after))
    ndiff = 0
    for n in common:
        a, b = tokens(before[n]), tokens(after[n])
        if a == b:
            continue
        ndiff += 1
        i = first_diff(a, b)
        print(f"DIFF {n}: first differing token #{i}")
        print(f"  before: {context(a, i)}")
        print(f"  after:  {context(b, i)}")
    total = len(set(before) | set(after))
    print(f"{len(common) - ndiff}/{total} names token-identical, "
          f"{ndiff} token differences, {len(missing)} missing, "
          f"{len(extra)} extra")
    sys.exit(1 if missing or extra or ndiff else 0)


if __name__ == "__main__":
    main()
