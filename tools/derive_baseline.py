#!/usr/bin/env python3
"""Derive a committed bench baseline from N (>= 3) full Bench runs —
the MEDIAN-of-3 protocol (VERDICT r11 item 5).

Why median, not min: baselines recorded as session-mins from quiet-box
sessions sit 1.1-1.6x BELOW what the very next box phase measures, so
the 2x judging band (and Bench's own max(2x, +1 s) re-run trigger) kept
tripping on baseline tightness rather than code. The per-run median is
the box's typical speed that session; the per-query median across runs
absorbs one-off stalls without recording an unreachable best case.
bench_guard.py additionally normalizes by the run's median ratio vs
baseline (its "box-speed factor", capped at 2x), so a slow-box day
lifts every limit together — the two mechanisms compose: median-of-3
keeps the baseline honest, the box factor keeps the comparison fair.

Usage:
    for i in 1 2 3; do
      SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        sbt -batch "runMain graft.Bench" 2>/tmp/b$i.err >/dev/null
    done
    python3 tools/derive_baseline.py tools/bench_baseline_sf0.1.json \
      "<note>" /tmp/b1.err /tmp/b2.err /tmp/b3.err

Reads the full-name 3-decimal metric line each Bench run prints to
STDERR (the stdout line is centisecond-positional for the driver's
2000-byte tail). Writes {cpus, note, queries, total} with per-query
medians and total = sum of medians.

Bench logs `[bench] <name> failed: ...` for a query that threw and still
records its elapsed time, so a crash would enter the baseline as a fast
query. Any such line in any input file is an error: the script names the
query and the file, writes nothing, and exits 1.
"""
import json
import re
import statistics
import sys

FAILED = re.compile(r"\[bench\] (\S+) failed:")


def failures(path):
    """(query, path) for every `[bench] <name> failed:` line of one
    stderr file."""
    return [(m.group(1), path) for m in map(FAILED.search, open(path)) if m]


def metric(path):
    line = [l for l in open(path)
            if '"metric"' in l and '"queries"' in l and '"qn"' not in l][-1]
    m = json.loads(line[line.index("{"):])
    assert isinstance(m["queries"], dict), f"{path}: want full-name dict"
    return m["queries"]


def main():
    out, note, runs = sys.argv[1], sys.argv[2], sys.argv[3:]
    assert len(runs) >= 3, "median protocol needs >= 3 runs"
    failed = [f for p in runs for f in failures(p)]
    for name, path in failed:
        print(f"error: {name} failed in {path}; its time is not a "
              f"measurement", file=sys.stderr)
    if failed:
        sys.exit(1)
    qs = [metric(p) for p in runs]
    names = set(qs[0])
    for q in qs[1:]:
        assert set(q) == names, "runs cover different query sets"
    med = {n: round(statistics.median(q[n] for q in qs), 3)
           for n in sorted(names)}
    json.dump({"cpus": 32, "note": note, "queries": med,
               "total": round(sum(med.values()), 3)},
              open(out, "w"), indent=1)
    spreads = sorted(((max(q[n] for q in qs) / max(min(q[n] for q in qs),
                                                   1e-9), n)
                      for n in names), reverse=True)[:5]
    print(f"wrote {out}: {len(med)} queries, total {sum(med.values()):.1f}s")
    print("widest max/min spreads:",
          ", ".join(f"{n} {r:.2f}x" for r, n in spreads))


if __name__ == "__main__":
    main()
