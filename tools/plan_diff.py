#!/usr/bin/env python3
"""Diff two `graft.PlanDump` outputs after normalising what changes from
run to run without changing the plan: expression ids (`#123`), lambda
variable numbers (`x_17`), exchange plan ids, object hashes
(`MinKAgg@3c62183b`), Observation UUIDs, checkpoint RDD call sites
(`MapPartitionsRDD[178] at localCheckpoint at Foo.scala:662`), JVM lambda
class names, and the random suffix of scratch dirs under /tmp.

Usage:
  sbt "runMain graft.PlanDump <sfDir> [query ...]" > a.txt   # before
  sbt "runMain graft.PlanDump <sfDir> [query ...]" > b.txt   # after
  python3 tools/plan_diff.py a.txt b.txt [query ...]

With query names, only those sections are compared (each must be present
in both dumps). Prints a unified diff per differing query and a summary
line; exits 1 on any difference or missing query, 0 when every compared
plan is identical.
"""
import difflib
import re
import sys

SUBS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bx_\d+\b"), "x_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@HASH"),
    (re.compile(
        r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"),
     "UUID"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b\w+\.scala:\d+"), "FILE.scala:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(/tmp/\w+?)_\d{6,}"), r"\1_N"),
]


def normalise(line):
    for pat, rep in SUBS:
        line = pat.sub(rep, line)
    return line


def sections(path):
    """query name -> normalised plan lines, from one PlanDump output."""
    out, name = {}, None
    with open(path) as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("## "):
                name = line[3:].strip()
                out[name] = []
            elif name is not None:
                out[name].append(normalise(line))
    return out


def main():
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = sections(sys.argv[1]), sections(sys.argv[2])
    names = sys.argv[3:] or sorted(set(a) | set(b))
    bad = 0
    for n in names:
        if n not in a or n not in b:
            where = "first" if n in a else "second" if n in b else "no"
            print(f"MISSING {n}: present in {where} dump only")
            bad += 1
            continue
        if a[n] != b[n]:
            bad += 1
            print(f"DIFF {n}")
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    a[n], b[n], sys.argv[1], sys.argv[2], lineterm="", n=1))
    print(f"plan_diff: {len(names) - bad}/{len(names)} identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
