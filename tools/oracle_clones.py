#!/usr/bin/env python3
"""Report every run of >= 30 identical tokens that two oracle string
literals share, or that one literal holds twice, so a DuckDB twin typed
out at two call sites is found and moved into `graft.queries.OracleSql`
(one home per twin).

An oracle literal is a triple-quoted string in a Scala file under
`src/main/scala/graft/queries`. Its text is tokenized as
`oracle_diff.py` tokenizes the SQL the gate runs (`'[^']*'|\\w+|\\S`,
whitespace ignored), except that an interpolation (`${...}`, braces
balanced, or `$name`) is kept as one token: two sites that both
interpolate the same twin share that one token, not its text. The
margin of a `.stripMargin` literal is dropped first.

Usage:
  python3 tools/oracle_clones.py [dir]

Prints one line per shared run (length, the two literals as
`File.scala:label:line`, the run's first tokens) and a summary. A
literal's label is the query name, or the name of the object member
(`def`/`val`), nearest above it. Exits 1 if any run is not in ALLOWED,
0 otherwise.
"""
import os
import re
import sys
from collections import defaultdict

MIN_RUN = 30
ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                    "src", "main", "scala", "graft", "queries")

# Runs left typed out on purpose: the sorted pair of literal labels, line
# numbers dropped, e.g. ("DedupQueries.scala:q146_lsh_recall",
# "DedupQueries.scala:q52_lsh_pairs"), mapped to the reason. None today.
ALLOWED = {
}

TOKEN = re.compile(r"'[^']*'|\w+|\S")
LABEL = re.compile(r'"(q\d+_\w+)"|^ {0,4}(?:\S[^\n]*?)?\b(?:def|val) (\w+)',
                   re.M)
MARGIN = re.compile(r"^[ \t]*\|", re.M)


def literals(src):
    """(start offset, body, strip_margin) of each triple-quoted literal."""
    out, i = [], 0
    while True:
        i = src.find('"""', i)
        if i < 0:
            return out
        j = src.find('"""', i + 3)
        if j < 0:
            return out
        while src.startswith('"', j + 3):  # closing run of 4+ quotes
            j += 1
        out.append((i, src[i + 3:j], src.startswith(".stripMargin", j + 3)))
        i = j + 3


def tokenize(body):
    """Tokens of one literal body, an interpolation kept whole."""
    toks, plain, i = [], [], 0
    while i < len(body):
        c = body[i]
        if c == "$" and body.startswith("$$", i):
            plain.append("$")
            i += 2
        elif c == "$" and body.startswith("${", i):
            depth, j = 0, i + 1
            while j < len(body):
                depth += {"{": 1, "}": -1}.get(body[j], 0)
                j += 1
                if depth == 0:
                    break
            toks += TOKEN.findall("".join(plain))
            plain = []
            toks.append(re.sub(r"\s+", "", body[i:j]))
            i = j
        elif c == "$" and re.match(r"\$[A-Za-z_]", body[i:i + 2]):
            m = re.match(r"\$\w+", body[i:])
            toks += TOKEN.findall("".join(plain))
            plain = []
            toks.append(m.group(0))
            i += len(m.group(0))
        else:
            plain.append(c)
            i += 1
    return toks + TOKEN.findall("".join(plain))


def label_at(src, pos):
    name = None
    for m in LABEL.finditer(src, 0, pos):
        name = next(g for g in m.groups() if g)
    return name or "?"


def scan(files):
    """[(label, tokens)] of every literal in `files` ({name: source})."""
    lits = []
    for name in sorted(files):
        src = files[name]
        for start, body, strip in literals(src):
            if strip:
                body = MARGIN.sub("", body)
            line = src.count("\n", 0, start) + 1
            lits.append((f"{name}:{label_at(src, start)}:{line}",
                         tokenize(body)))
    return lits


def shared_runs(lits, k=MIN_RUN):
    """Maximal runs of >= k equal tokens in two literals, or twice without
    overlap in one, as (length, i, pos_i, j, pos_j): indices into `lits`
    with (i, pos_i) < (j, pos_j)."""
    grams = defaultdict(list)
    for li, (_, toks) in enumerate(lits):
        for p in range(len(toks) - k + 1):
            grams[tuple(toks[p:p + k])].append((li, p))
    diag = defaultdict(set)
    for occ in grams.values():
        for x in range(len(occ)):
            for y in range(x + 1, len(occ)):
                (a, pa), (b, pb) = occ[x], occ[y]  # in scan order
                diag[(a, b, pa - pb)].add(pa)
    runs = []
    for (a, b, d), ps in diag.items():
        ps = sorted(ps)
        lo = prev = ps[0]
        for p in ps[1:] + [None]:
            if p is not None and p == prev + 1:
                prev = p
                continue
            n = prev - lo + k
            if a != b or -d >= n:
                runs.append((n, a, lo, b, lo - d))
            if p is not None:
                lo = prev = p
    return sorted(runs, key=lambda r: (-r[0], r[1], r[2]))


def strip_line(label):
    return label.rsplit(":", 1)[0]


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else ROOT
    files = {}
    for f in sorted(os.listdir(root)):
        if f.endswith(".scala"):
            with open(os.path.join(root, f)) as h:
                files[f] = h.read()
    lits = scan(files)
    bad = 0
    runs = shared_runs(lits)
    for n, a, pa, b, pb in runs:
        la, lb = lits[a][0], lits[b][0]
        key = tuple(sorted((strip_line(la), strip_line(lb))))
        tag = "allowed" if key in ALLOWED else "CLONE"
        bad += key not in ALLOWED
        head = " ".join(lits[a][1][pa:pa + 8])
        print(f"{tag} {n} tokens: {la} @{pa} <-> {lb} @{pb}: {head} ...")
    print(f"{len(runs)} shared runs of >= {MIN_RUN} tokens in "
          f"{len(lits)} literals, {bad} not allowed")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
