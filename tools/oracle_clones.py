#!/usr/bin/env python3
"""Report every run of identical tokens that is typed out twice, in two
scans, so each shape is found and given one home.

Oracle scan: every run of >= 30 (`MIN_RUN`) identical tokens that two
oracle string literals share, or that one literal holds twice, so a
DuckDB twin typed out at two call sites is found and moved into
`graft.queries.OracleSql`.

An oracle literal is a triple-quoted string in a Scala file under
`src/main/scala/graft/queries`. Its text is tokenized as
`oracle_diff.py` tokenizes the SQL the gate runs (`'[^']*'|\\w+|\\S`,
whitespace ignored), except that an interpolation (`${...}`, braces
balanced, or `$name`) is kept as one token: two sites that both
interpolate the same twin share that one token, not its text. The
margin of a `.stripMargin` literal is dropped first.

Code scan: every run of >= 40 (`CODE_MIN_RUN`) identical tokens of
Scala code that two files under `src/main/scala/graft` share, or that
one file holds twice, so a Spark-side shape typed out at two sites is
found and folded into one helper (or a local `val` when both copies sit
in one query). Comments and `import`/`package` lines are dropped; a
qualified name counts from its first capitalised segment
(`org.apache.spark.sql.DataFrame` is `DataFrame`); a string literal is
one token and its interpolator (`$"id"`, `s"..."`) belongs to it; an
operator (`=!=`, `=>`) is one token; each triple-quoted literal is a
boundary token that matches nothing, so its text is the oracle scan's.

Usage:
  python3 tools/oracle_clones.py [dir]

With `dir`, the oracle scan reads the Scala files in `dir` and the code
scan every Scala file below it; without, `graft/queries` and `graft`.
Prints one line per shared run (length, the two sites as
`File.scala:label:line`, the run's first tokens) and a summary per scan.
A site's label is the query name, or the name of the member
(`def`/`val`, indented at most 4 in the oracle scan and 2 in the code
scan), nearest above it; a code file's name is its path below the
scanned directory. Exits 1 if any run of either
scan is not in ALLOWED, 0 otherwise.
"""
import itertools
import os
import re
import sys
from collections import defaultdict

MIN_RUN = 30
CODE_MIN_RUN = 40
GRAFT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                     "src", "main", "scala", "graft")
ROOT = os.path.join(GRAFT, "queries")

# Runs left typed out on purpose: the sorted pair of site labels, line
# numbers dropped, e.g. ("DedupQueries.scala:q146_lsh_recall",
# "DedupQueries.scala:q52_lsh_pairs"), mapped to the reason.
ALLOWED = {
    ("queries/EventQueries.scala:deletionAuditCore",
     "streaming/EventStreams.scala:deletionLedgerStream"):
        "q250's batch ledger front and its streaming twin stay two copies: "
        "StreamingSpec's \"deletionLedgerStream: folding the final "
        "per-(type,user) ledger state through q250's increment algebra "
        "equals the batch deletion audit exactly, under 3-slice split "
        "delivery\" compares them byte for byte, "
        "and one shared expression could carry a bug past both.",
}

TOKEN = re.compile(r"'[^']*'|\w+|\S")
LABEL = re.compile(r'"(q\d+_\w+)"|^ {0,4}(?:\S[^\n]*?)?\b(?:def|val) (\w+)',
                   re.M)
CODE_LABEL = re.compile(LABEL.pattern.replace("{0,4}", "{0,2}"), re.M)
MARGIN = re.compile(r"^[ \t]*\|", re.M)
CODE_TOKEN = re.compile(r'(?:[A-Za-z_$][\w$]*)?"(?:\\.|[^"\\\n])*"'
                        r"|'(?:\\.|[^'\\\n])'|[\w$]+"
                        r"|[!#%&*+\-/:<=>?@\\^|~]+|\S")
TRIPLE = re.compile(r'(?:[A-Za-z_$][\w$]*)?"""')
LOWER = re.compile(r"[a-z_]\w*")
BOUNDARY = itertools.count()
SKIPPED = re.compile(r"^[ \t]*(?:import|package)\b[^\n]*", re.M)


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


def label_at(src, pos, label=LABEL):
    name = None
    for m in label.finditer(src, 0, pos):
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


def code_tokens(src):
    """(tokens, offsets) of one Scala file's code, as the docstring says:
    comments and import/package lines blanked, each triple-quoted literal
    one boundary token unique to its offset, qualified names shortened."""
    src = SKIPPED.sub(lambda m: " " * len(m.group(0)), src)
    toks, offs, i = [], [], 0
    while i < len(src):
        if src.startswith("//", i):
            i = src.find("\n", i) if "\n" in src[i:] else len(src)
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while depth and i < len(src):
                step = {"/*": 1, "*/": -1}.get(src[i:i + 2], 0)
                depth += step
                i += 2 if step else 1
        elif src[i].isspace():
            i += 1
        else:
            m = TRIPLE.match(src, i)
            if m:
                j = src.find('"""', m.end())
                j = len(src) if j < 0 else j + 3
                while src.startswith('"', j):  # closing run of 4+ quotes
                    j += 1
                toks.append(f"\0{next(BOUNDARY)}")  # equals no other
            else:
                j = CODE_TOKEN.match(src, i).end()
                toks.append(src[i:j])
            offs.append(i)
            i = j
    out_t, out_o, p = [], [], 0
    while p < len(toks):  # a.b.C is C: drop `a.b.` before a capital
        q = p
        while q + 1 < len(toks) and LOWER.fullmatch(toks[q]) \
                and toks[q + 1] == ".":
            q += 2
        if p < q < len(toks) and toks[q][:1].isupper() \
                and (p == 0 or toks[p - 1] != "."):
            p = q
        out_t.append(toks[p])
        out_o.append(offs[p])
        p += 1
    return out_t, out_o


def code_scan(files):
    """[(name, tokens)] and [offsets] of every file in `files`."""
    units, offsets = [], []
    for name in sorted(files):
        toks, offs = code_tokens(files[name])
        units.append((name, toks))
        offsets.append(offs)
    return units, offsets


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


def read(root, walk):
    """{path below root: source} of the Scala files in `root`, or below it
    when `walk`."""
    dirs = os.walk(root) if walk else [(root, [], os.listdir(root))]
    files = {}
    for d, _, names in dirs:
        for f in sorted(names):
            if f.endswith(".scala"):
                path = os.path.join(d, f)
                with open(path) as h:
                    files[os.path.relpath(path, root)] = h.read()
    return files


def report(runs, site, units):
    """Print each run with its two sites; return how many are not in
    ALLOWED."""
    bad = 0
    for n, a, pa, b, pb in runs:
        la, lb = site(a, pa), site(b, pb)
        key = tuple(sorted((strip_line(la), strip_line(lb))))
        tag = "allowed" if key in ALLOWED else "CLONE"
        bad += key not in ALLOWED
        head = " ".join(units[a][1][pa:pa + 8])
        print(f"{tag} {n} tokens: {la} @{pa} <-> {lb} @{pb}: {head} ...")
    return bad


def main():
    given = sys.argv[1] if len(sys.argv) > 1 else None
    lits = scan(read(given or ROOT, walk=False))
    runs = shared_runs(lits)
    bad = report(runs, lambda i, p: lits[i][0], lits)
    print(f"{len(runs)} shared runs of >= {MIN_RUN} tokens in "
          f"{len(lits)} literals, {bad} not allowed")
    files = read(given or GRAFT, walk=True)
    units, offsets = code_scan(files)

    def site(i, p):
        name, off = units[i][0], offsets[i][p]
        line = files[name].count("\n", 0, off) + 1
        return f"{name}:{label_at(files[name], off, CODE_LABEL)}:{line}"
    code_runs = shared_runs(units, CODE_MIN_RUN)
    code_bad = report(code_runs, site, units)
    print(f"{len(code_runs)} shared code runs of >= {CODE_MIN_RUN} tokens "
          f"in {len(units)} files, {code_bad} not allowed")
    sys.exit(1 if bad or code_bad else 0)


if __name__ == "__main__":
    main()
